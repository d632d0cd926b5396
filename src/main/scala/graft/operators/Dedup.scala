package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{HashMode, StableHash, TextFunctions, VectorFunctions}

/** Document deduplication family for training-data pipelines: exact
  * (fingerprint hash), n-gram Jaccard (inverted-index join), MinHash+LSH
  * (signature banding), SimHash (bit-majority + chunk banding), embedding
  * cosine.
  *
  * Scale posture (100TB): no operator forms the O(n²) pair space —
  * candidates come from inverted-index joins on shingles, LSH band buckets,
  * or simhash chunk buckets (pigeonhole-complete for the Hamming radius);
  * exact verification runs only on candidates.
  */
object Dedup {

  /** Exact dedup groups by content fingerprint: (fingerprint, canonical_id,
    * multiplicity), canonical = lowest id.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("multiplicity"))

  /** Paragraph-level exact dedup (the CCNet recipe's first pass): split
    * each document on `delim`, fingerprint every paragraph with the
    * [[TextFunctions.fingerprint]] normalization, and keep only the
    * globally FIRST occurrence of each fingerprint — first = lowest
    * (id, position). Surviving paragraphs reassemble in original order;
    * documents whose every paragraph was seen earlier emit empty text.
    * Output: (idCol, textCol deduped, n_kept, n_dropped).
    *
    * Scale shape: the EXPLODED paragraph relation — the big one — never
    * shuffles text. Its (fingerprint, id, pos) triples feed the winner
    * aggregate; kept positions collapse to one int array per doc; the
    * final doc-keyed join re-derives paragraphs map-side with an
    * index-filtered lambda. Document text crosses exactly one exchange
    * (the reassembly join, once per doc) — versus twice per PARAGRAPH for
    * the naive explode → dedup → collect_list reassembly.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "lineDedup delim must be non-empty")
    // split() takes a regex — quote the delimiter so "." or "|" mean bytes
    val splitParts = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val parts = docs.select(col(idCol), posexplode(splitParts).as(Seq("pos", "para")))
      .select(col(idCol), col("pos"),
        TextFunctions.fingerprint(col("para")).as("fp"))
    val winners = parts.groupBy("fp")
      .agg(min(struct(col(idCol), col("pos"))).as("w"))
      .select(col("w")(idCol).as(idCol), col("w")("pos").as("pos"))
    val keptPerDoc = winners.groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("_kept"))
    val kept = coalesce(col("_kept"), lit(Array.empty[Int]))
    docs.join(keptPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(delim,
          filter(splitParts, (_, i) => array_contains(kept, i))).as(textCol),
        size(kept).cast("long").as("n_kept"),
        (size(splitParts) - size(kept)).cast("long").as("n_dropped"))
  }

  /** Distinct shingle sets reduced to 64-bit hashes: every downstream
    * join/intersection runs over 8-byte keys instead of ~n·8-char strings
    * (collision probability ~|shingles|²/2⁶⁴ — ignorable at any corpus
    * size that fits a cluster).
    */
  def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        val out = new java.util.LinkedHashSet[Long]()
        var i = 0
        while (i + n <= toks.length) {
          out.add(StableHash.fnv64(toks.slice(i, i + n).mkString(" ")))
          i += 1
        }
        (id, out.toArray(Array.empty[java.lang.Long]).map(_.longValue))
      }
      .filter(_._2.nonEmpty)
      .toDF("id", "shingles")
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle,
    * thresholded. Inverted-index join: |pairs| is bounded by co-occurrence,
    * never n². Output: (id_a, id_b, jaccard) with id_a < id_b.
    *
    * `dfCap > 0` enables the skew guard for real corpora: shingles whose
    * document frequency exceeds the cap (license boilerplate, headers) are
    * dropped from CANDIDATE GENERATION only — a hot shingle's posting list
    * makes its bucket quadratic, and a shingle shared by >dfCap documents
    * carries ~zero Jaccard discrimination. Verification then computes the
    * EXACT Jaccard from the full shingle sets, so any emitted pair has its
    * true similarity; only pairs whose overlap consists exclusively of
    * over-cap shingles can be missed (at threshold>=0.5 that requires the
    * docs to be built almost entirely of corpus-wide boilerplate).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, dfCap: Int = 0): DataFrame = {
    if (dfCap <= 0) {
      // exact path: sizes derived from the posting list itself (shingles are
      // already distinct per doc), so the shingle pipeline runs once, no cache
      // materialized ONCE: the posting list feeds the size aggregate and
      // BOTH sides of the inverted-index self-join; Catalyst has no
      // cross-join-leg subplan dedup, so unmaterialized each leg re-runs
      // the corpus tokenize+shingle kernel (q45's plan carried 8 corpus
      // scans before this)
      val posting = Materialize.view(hashedShingleSets(docs, idCol, textCol, n)
        .select(col("id"), explode(col("shingles")).as("shingle")))
      val sizes = posting.groupBy("id").agg(count(lit(1)).as("sz"))
      val inter = posting.as("a").join(posting.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.toDF("id_a", "sz_a"), "id_a")
        .join(sizes.toDF("id_b", "sz_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      // capped path (production): candidate pairs from sub-cap shingles only,
      // exact verify on the full sets (same shape as minhashLshPairs verify).
      // cache(): `sets` feeds df-counting, candidate generation AND both
      // verification joins — uncached, the tokenize+hash kernel would rerun
      // up to 4× per action. The block pins executor storage until LRU
      // eviction; long-lived sessions running repeated dedup passes should
      // build the shingle table once (`hashedShingleSets`), persist it, call
      // `cappedJaccardPairsFromSets`, and unpersist after materializing —
      // the CLI dedup subcommand does exactly that.
      cappedJaccardPairsFromSets(
        hashedShingleSets(docs, idCol, textCol, n).cache(), threshold, dfCap)
    }
  }

  /** Edit-distance-VERIFIED near-duplicate pairs: recall-oriented n-gram
    * Jaccard candidates (inverted-index join — never an all-pairs space),
    * then a banded Levenshtein verify over the raw text. This is the
    * fuzzy-dedup certificate shingle overlap alone can't give: Jaccard is
    * order-insensitive (a fully permuted doc scores 1.0), while edit
    * distance certifies the pair really is within `maxDist` single-
    * character edits. Output: `(id_a, id_b, jaccard, edit_dist)` with
    * id_a < id_b, jaccard round-6.
    *
    * Scale shape: the pair space is the candidate generator's (posting-
    * list co-occurrence; lower `candidateThreshold` = higher recall,
    * more verify work). Text crosses two doc-keyed hash joins into the
    * verify; the kernel is Spark's banded `levenshtein(l, r, threshold)`
    * — O(len·maxDist) per pair, not O(len²), codegen'd. Distance units
    * are Spark-native (UTF-16-char edits); the oracle pins the ASCII
    * slice, where every engine's unit coincides.
    */
  def editVerifiedNearDupPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, candidateThreshold: Double = 0.3,
      maxDist: Int = 50): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(textCol), lit("")).as("t"))
    ngramJaccardPairs(docs, idCol, textCol, n, candidateThreshold)
      .join(base.select(col("id").as("id_a"), col("t").as("_ta")), "id_a")
      .join(base.select(col("id").as("id_b"), col("t").as("_tb")), "id_b")
      .withColumn("_d", levenshtein(col("_ta"), col("_tb"), maxDist))
      .filter(col("_d") >= 0) // banded form returns -1 past the threshold
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        col("_d").cast("long").as("edit_dist"))
  }

  /** Capped-Jaccard pairs from a precomputed `(id, shingles)` table (the
    * output shape of [[hashedShingleSets]]). Persistence of `sets` is the
    * CALLER's responsibility — it feeds the posting list and the per-doc
    * size projection, so persist it first and unpersist once the returned
    * frame is materialized.
    *
    * Exact-Jaccard decomposition instead of full-set verification joins:
    * |A∩B| = (shared sub-cap shingles) + (shared over-cap shingles). The
    * first term falls out of the SAME pair shuffle that finds candidates
    * (groupBy(id_a,id_b).count — no separate dropDuplicates pass); the
    * second comes from each doc's over-cap shingle list, which is tiny by
    * construction (over-cap shingles are the handful of corpus-wide
    * boilerplate n-grams), so the per-side joins carry a few hashes, never
    * the full shingle arrays. Only pairs whose overlap is EXCLUSIVELY
    * over-cap shingles are missed — the documented cap trade.
    */
  def cappedJaccardPairsFromSets(sets: DataFrame, threshold: Double,
      dfCap: Int): DataFrame = {
    require(dfCap > 0, s"dfCap must be positive, got $dfCap")
    val posting = sets.select(col("id"), explode(col("shingles")).as("shingle"))
    // anti-join against the HOT set, not inner-join against the cool set:
    // over-cap shingles are by construction a tiny fraction of the distinct
    // shingle space (boilerplate), so the anti-join broadcasts (AQE) and the
    // posting list keeps its partitioning — joining with the cool list would
    // shuffle the near-complete shingle dictionary instead
    val hot = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
    val capped = posting.join(hot, Seq("shingle"), "left_anti")
    val interCool = capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter_cool"))
    val sizes = sets.select(col("id"), size(col("shingles")).as("sz"))
    // per-doc over-cap shingle lists (rows exist only for docs that contain
    // at least one hot shingle; coalesce to empty below)
    val hotSets = posting.join(hot, "shingle")
      .groupBy("id").agg(collect_list(col("shingle")).as("hot_sh"))
    val empty = typedLit(Seq.empty[Long])
    interCool
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .join(hotSets.toDF("id_a", "hot_a"), Seq("id_a"), "left")
      .join(hotSets.toDF("id_b", "hot_b"), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (col("inter_cool") +
          size(array_intersect(coalesce(col("hot_a"), empty),
            coalesce(col("hot_b"), empty)))).as("inter"),
        col("sz_a"), col("sz_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The composed training-data dedup cascade: cheap exact dedup first,
    * near-dup detection only over the exact survivors — the shape a real
    * corpus pipeline runs (each stage shrinks the input of the costlier
    * next stage). Output: one row per input doc,
    * (id, status ∈ kept|exact_dup|near_dup, canonical_id):
    *
    *  - exact_dup: same fingerprint as a lower id → canonical = that
    *    group's min id;
    *  - near_dup: an exact-SURVIVOR with a ≥threshold Jaccard pair against
    *    a lower-id survivor → canonical = its lowest such partner. The
    *    drop rule is the deterministic one-hop greedy (any higher-id
    *    member of a pair drops); chains are NOT pursued transitively —
    *    `connectedComponents` over the pair set is the clustering form
    *    when full transitive closure is wanted (q59).
    *  - kept: everything else; canonical = id.
    *
    * `dfCap` passes through to the candidate generator (hot-shingle skew
    * guard at scale).
    */
  def dedupPipeline(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, dfCap: Int = 0): DataFrame = {
    // NULL text fingerprints as the empty string: null-text docs are exact
    // duplicates of each other (and of empty docs) rather than silently
    // vanishing through a null-keyed equi-join — every input id gets a row
    val fp = Materialize.view(docs.select(col(idCol).cast("long").as("id"),
      TextFunctions.fingerprint(coalesce(col(textCol), lit(""))).as("fingerprint"))
    ) // feeds canon + the canon join: one fingerprint scan
    val canon = fp.groupBy("fingerprint").agg(min("id").as("exact_canonical"))
    val withCanon = Materialize.view(fp.join(canon, "fingerprint")
      .select(col("id"), col("exact_canonical"))
    ) // feeds the survivor filter + the final status join
    val survivors = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .join(withCanon.filter(col("id") === col("exact_canonical")).select("id"), "id")
    val pairs = ngramJaccardPairs(survivors, "id", "text", n, threshold, dfCap)
    val nearDropped = pairs.groupBy(col("id_b").as("id"))
      .agg(min("id_a").as("near_canonical"))
    withCanon.join(nearDropped, Seq("id"), "left")
      .select(col("id"),
        when(col("id") =!= col("exact_canonical"), lit("exact_dup"))
          .when(col("near_canonical").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("status"),
        when(col("id") =!= col("exact_canonical"), col("exact_canonical"))
          .when(col("near_canonical").isNotNull, col("near_canonical"))
          .otherwise(col("id")).as("canonical_id"))
  }

  private def permParams(numPerms: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerms)((rnd.nextLong(), rnd.nextLong()))
  }

  /** JVM-loop signature kernel: min_{h in hashes} mix(h, a_i, b_i) per perm. */
  private def signatureKernel(hashes: Array[Long], params: Array[(Long, Long)]): Array[Long] = {
    val sig = new Array[Long](params.length)
    var i = 0
    while (i < params.length) {
      val (a, b) = params(i)
      var m = Long.MaxValue
      var j = 0
      while (j < hashes.length) {
        val v = StableHash.mix(hashes(j) ^ a) + b match {
          case x => x & Long.MaxValue // fold to non-negative
        }
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  /** MinHash+LSH near-duplicate pairs: signatures → band buckets → candidate
    * pairs → exact Jaccard verification >= threshold. With r rows/band and b
    * bands, a pair at similarity s is caught with p = 1-(1-s^r)^b (defaults
    * 128 perms = 32 bands × 4: s=0.8 → miss ~5e-8).
    * Output: (id_a, id_b, jaccard), id_a < id_b.
    *
    * Scale shape: the band self-join shuffles ONLY `(id, band, bucket)` —
    * 24 bytes × bands per doc — never the shingle arrays. Candidate id
    * pairs are deduped first and only then rehydrated from the cached
    * shingle table (two hash joins) for exact verification, so shuffle
    * volume is O(bands·|docs| + |candidate pairs|·|avg set|), not
    * O(bands·|docs|·|avg set|). The `sets` cache feeds the signature pass
    * and both rehydration joins; callers doing repeated passes should
    * persist [[hashedShingleSets]] themselves and unpersist after
    * materializing (the CLI dedup subcommand's pattern).
    *
    * `bucketCap > 0` adds the hot-bucket skew guard every banded family
    * carries (dfCap / [[simhashNearDupPairs]] contract): a (band, bucket)
    * key holding more than `bucketCap` docs — EXACT duplicates and
    * boilerplate clusters collide on every band — is dropped from
    * candidate generation, whose cost is per-bucket quadratic. Run exact
    * dedup first; a pair is missed only when ALL its collision buckets
    * are over-cap, i.e. it sits inside a mass-duplicate cluster.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, seed: Long = 42L,
      bucketCap: Int = 0): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    val spark = docs.sparkSession
    import spark.implicits._
    val sets = hashedShingleSets(docs, idCol, textCol, n).cache()
    val params = permParams(numPerms, seed).toArray
    val sigs = sets.as[(Long, Array[Long])]
      .map { case (id, hs) => (id, signatureKernel(hs, params)) }
      .toDF("id", "sig")

    val banded0 = sigs.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bucket"))))
          .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val banded = if (bucketCap > 0)
      banded0.join(banded0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("n")).filter(col("n") > bucketCap)
          .select("band", "bucket"),
        Seq("band", "bucket"), "left_anti")
    else banded0

    val idPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    idPairs
      .join(sets.toDF("id_a", "sh_a"), "id_a")
      .join(sets.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Persistable MinHash index over a corpus: one row per doc,
    * `(id, shingles, sig)` — the artifact an INCREMENTAL dedup pipeline
    * writes once (parquet) and probes on every ingest batch instead of
    * re-signaturing the corpus. Band buckets are NOT materialized (they
    * re-derive from `sig` with a slice+hash projection at probe time —
    * cheaper to recompute than to store ×bands). Same shingle/signature
    * kernels as [[minhashLshPairs]], so an index built at `(n, numPerms,
    * seed)` is bit-compatible with the batch operator.
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 128, seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = permParams(numPerms, seed).toArray
    hashedShingleSets(docs, idCol, textCol, n).as[(Long, Array[Long])]
      .map { case (id, hs) => (id, hs, signatureKernel(hs, params)) }
      .toDF("id", "shingles", "sig")
  }

  /** Verified near-dup pairs derived from an ALREADY-BUILT
    * [[minhashIndex]] frame — the batch twin of
    * [[minhashLshPairsIncremental]]'s probe: band buckets re-derive from
    * `sig` (slice+hash projection), candidates self-join, exact Jaccard
    * verifies from the index's own `shingles`. Signatures, banding and
    * the verification expression are the [[minhashLshPairs]] kernels, so
    * the emitted pair SET is identical to the batch operator's on the
    * same corpus — but the corpus text is never re-scanned: callers that
    * already hold the index (the [[Release]] artifact build, any
    * persisted-index pipeline) pay zero additional shingle/signature
    * passes. Pass the index MATERIALIZED (checkpoint/parquet); the band
    * projection and verification each read it once.
    */
  def minhashPairsFromIndex(index: DataFrame, numPerms: Int = 128,
      bands: Int = 32, threshold: Double = 0.8,
      bucketCap: Int = 0): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    val banded0 = bandBuckets(index, bands, r)
    val banded = if (bucketCap > 0)
      banded0.join(banded0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("n")).filter(col("n") > bucketCap)
          .select("band", "bucket"),
        Seq("band", "bucket"), "left_anti")
    else banded0
    val idPairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = index.select("id", "shingles")
    idPairs
      .join(sets.toDF("id_a", "sh_a"), "id_a")
      .join(sets.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[containmentScores]] from an already-built doc shingle relation
    * (a [[minhashIndex]] frame's (id, shingles)) instead of re-scanning
    * the corpus text. `allIds` anchors the output exactly like the text
    * form: docs with < n tokens have no index row but must still score 0.
    * Same aggregation expressions — identical scores.
    */
  def containmentFromIndex(allIds: DataFrame, index: DataFrame,
      bench: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val docShingles = index.select(col("id"), explode(col("shingles")).as("shingle"))
    val benchSet = hashedShingleSets(bench, idCol, textCol, n)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val sizes = docShingles.groupBy("id").agg(count(lit(1)).as("sz"))
    val hits = docShingles.join(benchSet, Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("hits"))
    allIds.select(col(idCol).cast("long").as("id"))
      .join(sizes, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("sz"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("hits"), lit(0L)).cast("double") / col("sz").cast("double"))
          .as("containment"))
  }

  /** `(id, band, bucket)` LSH projection of a [[minhashIndex]] frame. */
  private def bandBuckets(index: DataFrame, bands: Int, r: Int): DataFrame =
    index.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bucket"))))
          .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

  /** INCREMENTAL MinHash-LSH near-dup pairs: every verified pair touching
    * the NEW batch — (new × indexed) and (new × new), never re-examining
    * (indexed × indexed), which the index build already emitted. With
    * disjoint id spaces, `minhashLshPairs(old ∪ new)` ≡
    * `minhashLshPairs(old) ∪ thisOperator(oldIndex, newIndex)` (spec-pinned)
    * — the progressive-ingest dedup contract. Output `(id_a, id_b,
    * jaccard)`, id_a < id_b, same verification threshold semantics as the
    * batch form.
    *
    * Scale shape: the candidate join streams the SMALL new batch's band
    * tuples against the corpus index's — band/bucket-keyed equi-join (AQE
    * can broadcast the new side when the batch is small); shingle arrays
    * move only for verified-candidate rehydration, exactly like the batch
    * operator. Ids must be disjoint across the two indices.
    */
  def minhashLshPairsIncremental(oldIndex: DataFrame, newIndex: DataFrame,
      numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, bucketCap: Int = 0): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    val bOld = bandBuckets(oldIndex, bands, r).withColumn("is_new", lit(false))
    val bNew0 = bandBuckets(newIndex, bands, r).withColumn("is_new", lit(true))
    // hot-bucket guard over the WHOLE corpus (old ∪ new): a mass-duplicate
    // bucket costs |new ∩ bucket| × |bucket| per batch — the same
    // per-bucket quadratic the batch form caps ([[minhashLshPairs]])
    val all0 = bOld.unionByName(bNew0)
    val (bNew, all) = if (bucketCap > 0) {
      val hot = all0.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .filter(col("n") > bucketCap).select("band", "bucket")
      (bNew0.join(hot, Seq("band", "bucket"), "left_anti"),
        all0.join(hot, Seq("band", "bucket"), "left_anti"))
    } else (bNew0, all0)
    val idPairs = bNew.as("a")
      .join(all.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          // new×new once (a.id < b.id); new×old always from the new side
          (!col("b.is_new") && col("a.id") =!= col("b.id") ||
            col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val sets = oldIndex.select("id", "shingles")
      .unionByName(newIndex.select("id", "shingles"))
    idPairs
      .join(sets.toDF("id_a", "sh_a"), "id_a")
      .join(sets.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 60-bit token hash in the given [[HashMode]]. The md5 default is the
    * engine-neutral oracle-parity form (`('0x' ||
    * substr(md5(tok),1,15))::BIGINT` in DuckDB); production deployments
    * free of the replay contract pass [[HashMode.Xx64]] — every consumer's
    * plan shape is mode-agnostic.
    */
  def tokenHash60(tok: Column, mode: HashMode = HashMode.Md5): Column =
    mode.col60(tok)

  /** SimHash (60-bit, md5-derived) per doc over lowercased whitespace tokens
    * with multiplicity: bit b is set iff Σ_tokens (2·bit_b(h(tok)) - 1) > 0.
    * Output: (id, simhash).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 60,
      mode: HashMode = HashMode.Md5): DataFrame = {
    // typed kernel: one pass over tokens, vote array in a JVM loop. The
    // default md5-derived token hash is identical to the SQL form
    // `conv(substr(md5(tok),1,15),16,10)` so oracles reproduce it exactly.
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // per-task token→hash memo (the hashedEmbedding discipline):
        // Zipf vocabularies re-hash the same token ~tf times; one md5
        // per distinct token per task, identical hash values. Bounded.
        val memo = new java.util.HashMap[String, java.lang.Long]()
        val memoCap = 1 << 16
        def h60(tok: String): Long = {
          var h = memo.get(tok)
          if (h == null) {
            h = java.lang.Long.valueOf(mode.hash60(tok))
            if (memo.size < memoCap) memo.put(tok, h)
          }
          h.longValue
        }
        rows.map { case (id, text) =>
          val votes = new Array[Int](bits)
          text.split(" ").foreach { tok =>
            if (tok.nonEmpty) {
              val h = h60(tok)
              var b = 0
              while (b < bits) {
                votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
                b += 1
              }
            }
          }
          var hash = 0L
          var b = 0
          while (b < bits) {
            if (votes(b) > 0) hash |= (1L << b)
            b += 1
          }
          (id, hash)
        }
      }
      .toDF("id", "simhash")
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming`, via chunk
    * banding: split the hash into `chunks` equal bit ranges; any pair with
    * <= maxHamming differing bits must agree exactly on >= chunks-maxHamming
    * chunks, so with chunks > maxHamming it shares at least one chunk
    * (pigeonhole) — candidates are bucket joins, verified by bit_count.
    * Input: (id, simhash). Output: (id_a, id_b, hamming).
    *
    * Selectivity is `chunks`-vs-key-width: each candidate bucket is a
    * (chunk position, chunk value) pair, so `chunks` over `bits` gives
    * `bits/chunks`-bit keys — 4 chunks over 64 bits = 16-bit keys (65,536
    * buckets per position), while 8 chunks = 8-bit keys (256 buckets) and
    * expected candidates ~n²·chunks/2^(bits/chunks) even on UNIFORM
    * hashes. Perceptual hashes are not uniform (flat images, silence,
    * boilerplate all concentrate on a few hash values), so production
    * corpora also need `bucketCap`: buckets holding more than `bucketCap`
    * banded rows are excluded from CANDIDATE GENERATION — the same skew
    * contract as the Jaccard path's dfCap ([[ngramJaccardPairs]]): one hot
    * bucket otherwise goes quadratic, and a chunk value shared by
    * thousands of hashes carries ~zero discriminating signal. The miss
    * trade is identical: a pair is lost only when EVERY chunk it agrees
    * on is over-cap — at that bucket mass the pair is a cluster member,
    * not a discovery (run exact-hash dedup, `groupBy(simhash)`, FIRST;
    * the cap never affects it). `bucketCap <= 0` disables the guard
    * (fixture-size corpora; the oracle-pinned exact mode).
    */
  def simhashNearDupPairs(sims: DataFrame, maxHamming: Int = 3, chunks: Int = 4,
      bits: Int = 60, bucketCap: Int = 0): DataFrame = {
    require(chunks > maxHamming, "need more chunks than allowed bit flips")
    val w = bits / chunks
    val mask = (1L << w) - 1
    // cache: the self-join would otherwise recompute the full upstream
    // simhash pipeline (explode-by-bit aggregation) once per join side
    val banded0 = sims.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .select(col("id"), col("simhash"), col("chunk"),
        expr(s"shiftright(simhash, cast(chunk * $w as int)) & $mask").as("ck"))
      .cache()
    // hot-bucket guard: anti-join against the (tiny by construction) set of
    // over-cap buckets, mirroring cappedJaccardPairsFromSets — the hot list
    // broadcasts, the banded frame keeps its partitioning
    val banded = if (bucketCap > 0)
      banded0.join(simhashHotBuckets(banded0, bucketCap),
        Seq("chunk", "ck"), "left_anti")
    else banded0
    // filter on hamming BEFORE the pair dedup: the chunk join can produce a
    // large candidate multiset on clustered data, and bit_count is a single
    // instruction — dedup then only shuffles the survivors
    banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Over-cap candidate buckets of a banded frame — (chunk, ck, n) rows
    * with n > bucketCap. Exposed so a pipeline can AUDIT what the
    * [[simhashNearDupPairs]] skew guard excluded (the no-silent-caps
    * discipline): a nonempty result names exactly which chunk values were
    * too hot to join on.
    */
  private[graft] def simhashHotBuckets(banded: DataFrame,
      bucketCap: Int): DataFrame = {
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    banded.groupBy("chunk", "ck").agg(count(lit(1)).as("n"))
      .filter(col("n") > bucketCap).select("chunk", "ck")
  }

  /** Public audit twin: the over-cap buckets a [[simhashNearDupPairs]]
    * call at (`chunks`, `bits`, `bucketCap`) would drop, with their sizes
    * — report these next to the pair output at production scale.
    */
  def simhashHotBucketReport(sims: DataFrame, chunks: Int, bits: Int,
      bucketCap: Int): DataFrame = {
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    val w = bits / chunks
    val mask = (1L << w) - 1
    sims.select(col("id"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"),
        col("simhash"))
      .select(col("chunk"),
        expr(s"shiftright(simhash, cast(chunk * $w as int)) & $mask").as("ck"))
      .groupBy("chunk", "ck").agg(count(lit(1)).as("n"))
      .filter(col("n") > bucketCap)
  }

  /** Dedup cluster formation: connected components over a near-dup pair
    * graph by iterative min-label propagation (converges in O(diameter)
    * rounds; near-dup clusters are shallow, so a handful of join rounds —
    * the driver loop checks a changed-count fixpoint). Input: (id_a, id_b)
    * edges. Output: (id, cluster_id = min id reachable).
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20,
      driverEdgeThreshold: Long = 200000): DataFrame = {
    val edges = pairs.select(col("id_a").as("s"), col("id_b").as("t"))
      .unionByName(pairs.select(col("id_b").as("s"), col("id_a").as("t")))
      .cache()
    // adaptive execution: near-dup pair sets are usually TINY relative to
    // the corpus (pairs, not rows). Below the threshold a driver union-find
    // answers in one collect instead of O(diameter) join rounds whose cost
    // is pure job overhead at this size; above it, the distributed
    // label-propagation loop below is the scale path. The differential
    // union-find spec pins both paths to identical output. The driver path
    // emits LONG columns, so it only engages when the ids already ARE
    // longs — any other id type takes the type-generic propagation loop
    // unconditionally (otherwise the output schema would depend on input
    // SIZE, and ANSI mode would throw on non-numeric ids).
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val nEdges = edges.count()
    if (longIds && nEdges <= 2L * driverEdgeThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = edges.select(col("s").cast("long"), col("t").cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (s, t) =>
        parent.getOrElseUpdate(s, s)
        parent.getOrElseUpdate(t, t)
        val (rs, rt) = (find(s), find(t))
        if (rs != rt) parent(rs) = rt
      }
      val ids = parent.keys.toArray
      val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
      ids.foreach { id =>
        val r = find(id)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), id)
      }
      edges.unpersist()
      return ids.sorted.map(id => (id, minOfRoot(find(id)))).toSeq.toDF("id", "cluster")
    }
    val (labels, rounds, converged) =
      propagateMinLabels(edges, maxIterations)
    edges.unpersist()
    // FAIL LOUDLY on non-convergence: a still-changing loop that returns
    // anyway hands back SPLIT clusters (wrong dedup groups) with no error —
    // exactly the silent-truncation hazard on high-diameter components
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: label propagation still changing after $rounds " +
        s"rounds (maxIterations=$maxIterations) — component structure exceeds " +
        "the round budget; raise maxIterations")
    labels
  }

  /** The distributed label-propagation loop: min-label over neighbors PLUS
    * pointer jumping (each node also adopts its current label's label —
    * `L(L(v))`), so label distance to the component minimum HALVES per
    * round on top of the one-hop neighbor move: O(log diameter) rounds
    * instead of O(diameter). Every label is always some node id in the
    * relation (least of node ids), so the self-join lookup is total.
    * Returns (labels, rounds, converged) — [[ConnectedComponentsSpec]]
    * asserts the logarithmic round count on a planted 1,000-node chain.
    * Rounds run through [[GraphLoop.until]]; the change probe is the
    * witness.
    */
  private[operators] def propagateMinLabels(edges: DataFrame,
      maxIterations: Int): (DataFrame, Int, Boolean) =
    GraphLoop.until(edges.select(col("s").as("id")).distinct()
        .select(col("id"), col("id").as("cluster")), maxIterations,
      Materialize.policy(edges.sparkSession, eager = false)) { labels =>
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "t").withColumnRenamed("cluster", "nc"), "t")
        .groupBy(col("s").as("id"))
        .agg(min("nc").as("nc"))
      // pointer jump: L(L(v)) — the doubling step that makes convergence
      // structural for chain-shaped components
      val viaLabel = labels.as("a")
        .join(labels.as("b"), col("a.cluster") === col("b.id"))
        .select(col("a.id").as("id"), col("b.cluster").as("lc"))
      labels.join(viaNeighbors, Seq("id"), "left")
        .join(viaLabel, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nc"), col("cluster")),
            coalesce(col("lc"), col("cluster"))).as("cluster"))
    } { (prev, next) =>
      // the Scc-style decimal sum witness does NOT fit here — this loop is
      // the type-GENERIC path (string ids included), so the change probe
      // stays a join (any partition its limit short-circuits past is
      // filled in by Spark's checkpoint completion at job end)
      next.join(prev.withColumnRenamed("cluster", "old"), "id")
        .filter(col("cluster") =!= col("old")).limit(1).count() == 0
    }

  /** Benchmark decontamination: per-document n-gram containment against an
    * evaluation set — |shingles(doc) ∩ shingles(bench)| / |shingles(doc)|.
    * The bench shingle set is small (eval sets are) → the join broadcasts;
    * the corpus side streams. Docs with no shingles score 0.
    * Output: (id, containment).
    */
  def containmentScores(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val docShingles = hashedShingleSets(docs, idCol, textCol, n)
      .select(col("id"), explode(col("shingles")).as("shingle"))
    val benchSet = hashedShingleSets(bench, idCol, textCol, n)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val sizes = docShingles.groupBy("id").agg(count(lit(1)).as("sz"))
    val hits = docShingles.join(benchSet, Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("hits"))
    // anchor on ALL input ids: hashedShingleSets drops docs with < n tokens,
    // and those must still surface with containment 0, not vanish
    docs.select(col(idCol).cast("long").as("id"))
      .join(sizes, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("sz"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("hits"), lit(0L)).cast("double") / col("sz").cast("double"))
          .as("containment"))
  }

  /** Semantic decontamination: per-document MAXIMUM cosine similarity
    * against a benchmark embedding set — the embedding-space complement of
    * the n-gram [[containmentScores]] (paraphrased eval leakage carries no
    * shared shingles but lights up here). The benchmark is small (eval sets
    * are) → it broadcasts and the corpus streams through one
    * max-aggregation; no shuffle of the corpus embeddings. Output:
    * `(id, max_cosine)`; docs score against every bench row, so an empty
    * bench yields an empty frame.
    *
    * A bench too large for one broadcast does NOT force a corpus shuffle:
    * pass `benchChunks > 1` and the bench is hash-split into that many
    * broadcastable slices, each scanned against the corpus independently
    * (the [[Knn.knnChunked]] trade — `benchChunks` corpus scans for a
    * `|bench|/benchChunks`-sized broadcast), with per-chunk maxima merged
    * by a final id-keyed max. Results are EXACTLY the single-broadcast
    * form's: max is insensitive to how the bench rows are partitioned.
    */
  def semanticContamination(embs: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, benchChunks: Int = 1): DataFrame = {
    require(benchChunks > 0, s"benchChunks must be positive, got $benchChunks")
    val e = embs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val b = bench.select(col(vecCol).as("bv"))
    def chunkMax(bc: DataFrame): DataFrame =
      e.crossJoin(broadcast(bc))
        .groupBy("id")
        .agg(max(lit(1.0) -
          VectorFunctions.cosineDistance(col("v"), col("bv"))).as("mc"))
    val merged =
      if (benchChunks == 1) chunkMax(b)
      else (0 until benchChunks).map { i =>
          chunkMax(b.filter(pmod(xxhash64(col("bv")), lit(benchChunks)) === i))
        }.reduce(_ unionByName _)
        .groupBy("id").agg(max(col("mc")).as("mc"))
    merged.select(col("id"), round(col("mc"), 6).as("max_cosine"))
  }

  /** Embedding-cosine near-duplicate pairs (ground-truth form): all pairs
    * with cosine similarity >= threshold. Exact — the scalable candidate
    * generator for this is Ann.ivf/bucketed search; this form is the
    * verifier and the small-side oracle.
    */
  def embeddingNearDupPairs(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = embs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (lit(1.0) - VectorFunctions.cosineDistance(col("a.v"), col("b.v"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs, BUCKETED (production form):
    * random-hyperplane LSH candidates → exact cosine verify. Candidate
    * generation is `nTables` independent sign-hash tables of `nBits` bits
    * each (kernel-computed; ~2 rows/bucket at 8 bits per 500 rows), so the
    * pair space is bounded by bucket co-occupancy, never n². A pair at
    * cosine s collides in one table with p=(1-θ/π)^nBits (θ=acos s); near
    * dups (s>=0.95, θ<=18°) are caught with miss probability
    * (1-0.9^8)^8 ≈ 2e-5 at the 8×8 default — the oracled query proves
    * recall=1 against the all-pairs form on planted near-dups.
    *
    * SIZE nBits TO THE CORPUS: expected bucket occupancy is n/2^nBits per
    * table, and candidate volume grows with occupancy² — aim for single-
    * digit occupancy (nBits ≈ log2(n) + 2; e.g. 1M rows → 22 bits,
    * compensating recall with more tables). The 8-bit default fits the
    * driver testdata (~500 rows); it is NOT a 1M-row setting.
    *
    * `bucketCap > 0` adds the hot-bucket guard (the dfCap contract):
    * sizing nBits bounds the EXPECTED occupancy, but embedding corpora
    * are not uniform — exact-duplicate vectors and collapsed/zero
    * embeddings stack one (tbl, bucket) key arbitrarily high regardless
    * of nBits. Over-cap buckets drop from candidate generation; run
    * exact-vector dedup first.
    */
  def embeddingNearDupPairsBucketed(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8, nTables: Int = 8, seed: Long = 42L,
      bucketCap: Int = 0): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    require(nBits <= 60, "bucket id packs into a long")
    // typed kernel: interpreted HOF lambdas cost ~100ns/element-op and this
    // is dim×nBits×nTables ops/row — the JVM loop keeps the scan codegen-hot
    val e = embs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v"))
    val buckets = e.as[(Long, Array[Float])].flatMap { case (id, v) =>
      (0 until nTables).map { t =>
        var bucket = 0L
        var b = 0
        while (b < nBits) {
          // deterministic pseudo-hyperplane component for (table, bit, dim):
          // splitmix-mixed uniform mapped to [-1, 1)
          var dot = 0.0
          var j = 0
          while (j < v.length) {
            val h = graft.functions.StableHash.mix(
              seed ^ (t.toLong << 40) ^ (b.toLong << 20) ^ j.toLong)
            dot += v(j) * ((h >>> 12).toDouble / (1L << 52).toDouble * 2.0 - 1.0)
            j += 1
          }
          if (dot >= 0) bucket |= (1L << b)
          b += 1
        }
        (id, t, bucket)
      }
    }.toDF("id", "tbl", "bucket")
    val capped = if (bucketCap > 0)
      buckets.join(buckets.groupBy("tbl", "bucket")
          .agg(count(lit(1)).as("n")).filter(col("n") > bucketCap)
          .select("tbl", "bucket"),
        Seq("tbl", "bucket"), "left_anti")
    else buckets
    val candidates = capped.as("a").join(capped.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(e.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (lit(1.0) - VectorFunctions.cosineDistance(col("va"), col("vb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Duplicated-span detection (exact-substring dedup at token-w-gram
    * granularity, the Lee et al. "Deduplicating Training Data" signal): a
    * token position is DUPLICATED iff its w-gram occurs more than once in
    * the whole corpus (another document or another position of the same
    * one). Output per document: `(id, n_positions, n_dup, dup_fraction)` —
    * the per-doc fraction of duplicated w-gram starts, the number filters
    * threshold on to drop or trim boilerplate-heavy documents. Documents
    * with fewer than w tokens have 0 positions and fraction 0.
    *
    * Scale shape: positional postings are O(total tokens) rows of 8-byte
    * md5-60 hashes from a typed JVM kernel (interpreted HOF lambdas cost
    * ~100ns/element and the naive transform+concat_ws+md5 column form ran
    * 10× slower); the kernel runs twice (global counts, then membership)
    * rather than caching O(tokens) rows. Totals are a pure projection
    * (max(0, tokens−w+1)) — no gram pass at all. The global count is a
    * map-side-combinable groupBy and membership comes back via a LEFT SEMI
    * join — no pair space anywhere; hot grams cost a skewed-bucket
    * semi-join (AQE territory), never a quadratic blowup.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, mode: HashMode = HashMode.Md5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"),
      lower(coalesce(col(textCol), lit(""))).as("t"))
    // materialized ONCE (r16, replacing the r15 run-twice choice): the
    // posting feeds the dup-hash aggregate AND the semi-join — measured
    // at 4× sf0.1, materializing beats re-running the token-gram hash
    // kernel per leg; size-conditional like the char path (the posting is
    // O(corpus tokens) — ~4× the text bytes as (id, hash60) rows)
    val grams = Materialize.view(base.as[(Long, String)].flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.length < w) Iterator.empty
      else (0 to toks.length - w).iterator
        .map(i => (id, mode.hash60(toks.slice(i, i + w).mkString(" "))))
    }.toDF("id", "h"),
      estBytes = tokenPostingBytes(base))
    val dupHashes = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val dups = grams.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    val totals = base.select(col("id"),
      greatest(lit(0L),
        (TextFunctions.tokenCount(col("t")) - (w - 1)).cast("long")).as("n_positions"))
    totals.join(dups, Seq("id"), "left")
      .select(col("id"), col("n_positions"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_positions") === 0L, lit(0.0))
          .otherwise(coalesce(col("n_dup"), lit(0L)).cast("double")
            / col("n_positions").cast("double"))
          .as("dup_fraction"))
  }

  /** ExactSubstr REMOVAL (the transform behind [[duplicatedSpans]]' signal,
    * Lee et al. 2022): delete from every document each token covered by at
    * least one w-gram that occurs more than once corpus-wide, and return
    * the surviving token stream — `(id, text, n_removed)` for EVERY input
    * id (text is the lowercased space-joined survivors; a fully-duplicated
    * doc comes back empty, docs under w tokens come back whole).
    *
    * Scale shape: the positional gram pass and global count are exactly
    * [[duplicatedSpans]]' (8-byte hash postings, map-side-combined count,
    * LEFT SEMI membership — no pair space). The only additions are a
    * per-doc `collect_list` of duplicated window STARTS (ints, bounded by
    * the doc's token count — the lineDedup kept-positions shape) and ONE
    * doc-keyed join carrying the text to the excision kernel; document
    * text never crosses more than that one exchange.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8, mode: HashMode = HashMode.Md5): DataFrame = {
    require(w > 0, s"w must be positive, got $w")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"),
      lower(coalesce(col(textCol), lit(""))).as("t"))
    val grams = base.as[(Long, String)].flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.length < w) Iterator.empty
      else (0 to toks.length - w).iterator
        .map(i => (id, i, mode.hash60(toks.slice(i, i + w).mkString(" "))))
    }.toDF("id", "pos", "h")
    val dupHashes = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val starts = grams.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("id").agg(collect_list(col("pos")).as("starts"))
    base.join(starts, Seq("id"), "left")
      .as[(Long, String, Option[Seq[Int]])]
      .map { case (id, text, st) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        val covered = new java.util.BitSet(toks.length)
        st.getOrElse(Nil).foreach { s =>
          covered.set(s, math.min(s + w, toks.length))
        }
        val kept = new StringBuilder
        var i = 0
        var nKept = 0
        while (i < toks.length) {
          if (!covered.get(i)) {
            if (nKept > 0) kept.append(' ')
            kept.append(toks(i))
            nKept += 1
          }
          i += 1
        }
        (id, kept.toString, (toks.length - nKept).toLong)
      }
      .toDF(idCol, textCol, "n_removed")
  }

  /** CHARACTER-level ExactSubstr removal — the suffix-array-true semantics
    * of Lee et al. 2022: excise every code point covered by SOME duplicated
    * substring of length ≥ `minLen` code points, at ANY alignment. This is
    * exact, not a gram approximation, by a window identity: a substring of
    * length m ≥ L is duplicated iff the length-L window at each of its
    * offsets is duplicated, so {covered positions} = ∪ [p, p+L) over
    * duplicated length-L window starts p — the same position set a suffix
    * array's duplicated-prefix scan yields, without the O(log L) rounds of
    * distributed prefix-doubling rank construction (each a corpus-wide
    * shuffle; the window form shuffles ONCE).
    *
    * Token-window [[removeDuplicatedSpans]] misses two classes this form
    * catches: duplicates long in characters but short in tokens (< w
    * tokens), and duplicates not aligned on token boundaries.
    *
    * Scale shape: identical to [[removeDuplicatedSpans]] — positional
    * window hashes (one per code point, 8-byte keys from the typed
    * kernel), a map-side-combinable duplicate count, LEFT SEMI membership,
    * one doc-keyed `collect_list` of starts (ints, ≤ doc length), one
    * doc-keyed join into the excision kernel; text crosses exactly one
    * exchange. Hash work is O(len·L) per doc under Md5/Xx64 (the
    * oracle-parity tax measured in PLANS.md); [[HashMode.Poly]]'s rolling
    * recurrence makes it O(len) — the production mode for this operator. Output: `(id, text, n_removed)` for EVERY input id —
    * docs under `minLen` code points come back whole.
    */
  def removeExactSubstrChar(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, mode: HashMode = HashMode.Md5): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(textCol), lit("")).as("t"))
    exciseCovered(base, exactSubstrDupStarts(base, minLen, mode), minLen,
      idCol, textCol)
  }

  /** [[removeExactSubstrChar]] with a KEEP-FIRST contract: for every
    * duplicated window, the lowest-(id, pos) occurrence is canonical and
    * its characters survive; every other occurrence excises. The
    * remove-all form deletes corpus-wide boilerplate from ALL documents
    * including the canonical copy — legitimate shared text (licenses,
    * canonical definitions) vanishes entirely; this form keeps exactly
    * one copy. Excised positions are a SUBSET of the remove-all form's
    * ([[PipelineOpsSpec]]), and a character of the canonical occurrence
    * is removed only if some OTHER duplicated window it sits in is
    * non-canonical there.
    *
    * Scale shape: identical to the remove-all form (one shuffle of
    * (id, pos, hash60) postings) plus a struct-min per window hash inside
    * the SAME aggregate pass — the canonical pick is min(struct(id, pos)),
    * deterministic in any engine, so q231's oracle replays it VALUE-keyed.
    */
  def removeExactSubstrCharKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int = 40,
      mode: HashMode = HashMode.Md5): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(textCol), lit("")).as("t"))
    // materialized ONCE: the posting feeds the canonical-pick aggregate
    // AND the non-canonical join — unmaterialized, the per-character
    // window-hash kernel (the md5-bound pass in oracle mode) runs twice.
    // SIZE-CONDITIONAL: the posting is O(total characters) rows — larger
    // than the corpus itself at 100 TB — so past the policy ceiling the
    // frame stays lazy and the kernel's second pass is the cheaper cost
    val wins = Materialize.view(charWindowHashes(base, minLen, mode),
      estBytes = charPostingBytes(base))
    // one pass: occurrence count AND the canonical (lowest id, pos)
    // occurrence per window hash
    val firsts = wins.groupBy("h")
      .agg(count(lit(1)).as("c"),
        min(struct(col("id"), col("pos"))).as("first"))
      .filter(col("c") > 1)
      .select(col("h"), col("first"))
    val nonCanonical = wins.join(firsts, Seq("h"))
      .filter(!(col("id") === col("first.id") && col("pos") === col("first.pos")))
      .select("id", "pos")
    exciseCovered(base, nonCanonical, minLen, idCol, textCol)
  }

  /** Shared excision kernel: drop every code point covered by a start in
    * `starts` (id, pos), reassemble, count. One doc-keyed join, map-side
    * rebuild.
    */
  private def exciseCovered(base: DataFrame, starts: DataFrame, l: Int,
      idCol: String, textCol: String): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val perDoc = starts.groupBy("id").agg(collect_list(col("pos")).as("starts"))
    base.join(perDoc, Seq("id"), "left")
      .as[(Long, String, Option[Seq[Int]])]
      .map { case (id, text, st) =>
        val cps = text.codePoints().toArray
        val covered = new java.util.BitSet(cps.length)
        st.getOrElse(Nil).foreach { s =>
          covered.set(s, math.min(s + l, cps.length))
        }
        val kept = new java.lang.StringBuilder
        var i = 0
        var nRemoved = 0L
        while (i < cps.length) {
          if (covered.get(i)) nRemoved += 1
          else kept.appendCodePoint(cps(i))
          i += 1
        }
        (id, kept.toString, nRemoved)
      }
      .toDF(idCol, textCol, "n_removed")
  }

  /** `(id, pos)` of every duplicated length-`l` code-point window (0-based
    * start; corpus-wide count > 1, same-doc repeats included). The
    * candidate kernel shared by [[removeExactSubstrChar]].
    */
  private def exactSubstrDupStarts(base: DataFrame, l: Int,
      mode: HashMode): DataFrame = {
    // materialized ONCE (see removeExactSubstrCharKeepFirst): the dup-
    // hash aggregate and the semi-join would each re-run the window
    // kernel; size-conditional for the same O(total chars) reason
    val wins = Materialize.view(charWindowHashes(base, l, mode),
      estBytes = charPostingBytes(base))
    val dupHashes = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    wins.join(dupHashes, Seq("h"), "left_semi").select("id", "pos")
  }

  /** Estimated bytes of the per-character window posting over `base`
    * (id, text): one (long, int, long) row per character ≈ 16× the
    * optimizer's text-size estimate — the size hint that gates the
    * posting materialization (Materialize.view's 100 TB guard).
    */
  private def charPostingBytes(base: DataFrame): Long = {
    val s = base.queryExecution.optimizedPlan.stats.sizeInBytes * 16
    if (s > BigInt(Long.MaxValue)) Long.MaxValue else s.toLong
  }

  /** Token-gram posting estimate: one (long, long) row per token position
    * ≈ 4× the optimizer's text-size estimate ([[duplicatedSpans]]).
    */
  private def tokenPostingBytes(base: DataFrame): Long = {
    val s = base.queryExecution.optimizedPlan.stats.sizeInBytes * 4
    if (s > BigInt(Long.MaxValue)) Long.MaxValue else s.toLong
  }

  /** (id, pos, hash60) posting per length-`l` char window — the kernel
    * shared by the remove-all and keep-first ExactSubstr forms.
    */
  private def charWindowHashes(base: DataFrame, l: Int,
      mode: HashMode): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.as[(Long, String)].flatMap { case (id, text) =>
      val cps = text.codePoints().toArray
      // mode.windowHash60: O(len·l) hash work under Md5/Xx64, O(len)
      // under Poly's rolling recurrence — the production mode here.
      val hs = mode.windowHash60(cps, l)
      hs.indices.iterator.map(i => (id, i, hs(i)))
    }.toDF("id", "pos", "h")
  }

  /** Semantic deduplication (SemDeDup-style): embedding near-duplicate
    * pairs above `threshold` cosine → connected components → keep the
    * minimum id per component. Output for EVERY input id:
    * `(id, cluster_id, keep)` — singletons cluster with themselves and are
    * kept. Composes the bucketed LSH candidate path (the 100TB scan shape)
    * with the same component formation q59 oracles; the oracled query
    * proves the whole composition against an all-pairs + recursive-CTE
    * recompute.
    */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8, nTables: Int = 8,
      seed: Long = 42L): DataFrame = {
    val pairs = embeddingNearDupPairsBucketed(
      embs, idCol, vecCol, threshold, nBits, nTables, seed)
    semanticClusters(embs, idCol, pairs)
  }

  /** Near-duplicate pairs within k-means cells only — SemDeDup's actual
    * paper shape (Abbas et al. 2023: cluster the embedding space, compare
    * within clusters). Unlike the hyperplane-LSH candidate path, the cells
    * bound the candidate space STRUCTURALLY — there is no nBits/nTables
    * recall knob to mis-size for the corpus geometry; the approximation is
    * the paper's own: cross-cell near-duplicates are invisible by design
    * (tighter centroids → smaller cells → cheaper and blinder).
    *
    * Scale shape: assignment is the zero-shuffle broadcast-argmin kernel
    * (`Clustering.assign`); the pair stage shuffles the corpus ONCE keyed
    * on cell — the self-join's two sides share one exchange — and the
    * per-cell pair space is Σ n_c², sized by the centroid count the caller
    * picks (the paper runs ~corpus/k of 10k–100k per cell). A skewed cell
    * is AQE skew-join territory, never a global blowup. Centroids come in
    * as a `(cell, centroid)` frame so callers can pass `Clustering.lloyd`
    * output (the trained form) or any fixed quantizer.
    */
  def embeddingNearDupPairsSharded(embs: DataFrame, idCol: String,
      vecCol: String, threshold: Double, centroids: DataFrame): DataFrame = {
    val assigned = Clustering.assign(embs, centroids,
      metric = "EUCLIDEAN", idCol = idCol, vecCol = vecCol)
      .select(col("id"), col("vec"), col("cell"))
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("vec").as("_va"))
    val b = assigned.select(col("cell"), col("id").as("id_b"), col("vec").as("_vb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (lit(1.0) - VectorFunctions.cosineDistance(col("_va"), col("_vb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** `semanticDedup` with the k-means-sharded candidate generator: assign →
    * within-cell near-dup pairs → connected components → keep-min. Same
    * output contract as `semanticDedup` (`(id, cluster_id, keep)` for every
    * input id, singletons keep themselves).
    */
  def semanticDedupSharded(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: DataFrame): DataFrame =
    semanticClusters(embs, idCol,
      embeddingNearDupPairsSharded(embs, idCol, vecCol, threshold, centroids))

  /** Shared tail of the semantic-dedup family: components over the pair
    * set, keep-min labeling, singletons kept.
    */
  private def semanticClusters(embs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs.select("id_a", "id_b"))
    embs.select(col(idCol).cast("long").as("id"))
      .join(clusters.withColumnRenamed("cluster", "_c"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_c"), col("id")).as("cluster_id"),
        (coalesce(col("_c"), col("id")) === col("id")).as("keep"))
  }

  /** Per-document novelty: `1 − max Jaccard` against any OTHER document
    * (1.0 when nothing co-occurs above `threshold`) — the inverse-dup
    * signal data-selection recipes weight by (keep what the corpus hasn't
    * already said). Same inverted-index pair generation as
    * [[ngramJaccardPairs]]; the per-doc rollup is a max over the PAIR
    * relation (small), then one left join of bare ids.
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.0): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, threshold)
    // explode instead of union-of-two-projections: the union form runs
    // the whole pair pipeline once per leg (no cross-leg subplan dedup);
    // the explode emits the same two (id, jaccard) rows per pair in ONE
    // pass over it
    val m = pairs.select(
        explode(array(col("id_a"), col("id_b"))).as("id"), col("jaccard"))
      .groupBy("id").agg(max(col("jaccard")).as("_mx"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(m, Seq("id"), "left")
      .select(col("id"),
        round(lit(1.0) - coalesce(col("_mx"), lit(0.0)), 6).as("novelty"))
  }

  /** Quality-aware representative selection over near-dup clusters: instead
    * of the keep-min-id rule, each connected component keeps its HIGHEST-
    * `scoreCol` member (ties → lowest id) — the curation-grade rule
    * (SemDeDup/CCNet pipelines keep the best-quality copy, not an arbitrary
    * one). Output: every doc as (idCol, cluster_id, kept); singletons
    * cluster to themselves and are kept.
    *
    * Scale shape: `pairs`/components are the near-dup SUBSET (pairs, not
    * corpus rows); the score join and the per-cluster argmax run on that
    * subset only, and the corpus-wide labeling is one left join of ids
    * against the (small) membership — corpus text never moves.
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs.select("id_a", "id_b"))
    val members = cc.join(
      docs.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("double").as("_s")), "id")
    // per-cluster argmax by (score, -id): lexicographic struct max gives
    // highest score, ties to the LOWEST id
    val rep = members.groupBy("cluster")
      .agg(max(struct(col("_s").as("s"), (-col("id")).as("ni"))).as("b"))
      .select(col("cluster"), (-col("b.ni")).as("rep_id"))
    val labeled = members.join(rep, "cluster")
      .select(col("id"), col("cluster").as("_c"),
        (col("id") === col("rep_id")).as("_k"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_c"), col("id")).as("cluster_id"),
        coalesce(col("_k"), lit(true)).as("kept"))
  }

  /** LSH S-CURVE CALIBRATION CARD: measured band-collision detection
    * probability vs exact Jaccard similarity, per (bands, rowsPerBand)
    * config — the instrument that picks the banding geometry for a target
    * similarity threshold BEFORE committing a 100 TB dedup run to it. For
    * every co-occurring pair (shares ≥ 1 shingle — the same inverted-index
    * candidate stream the dedup itself uses) the card buckets its exact
    * Jaccard and reports, per (config, bucket): pair count, the EMPIRICAL
    * detected fraction (≥ 1 fully-agreeing band on the real signatures),
    * and the THEORETICAL mean 1-(1-s^r)^b. Empirical vs theory agreement
    * validates the signature kernel; the curve's position picks (b, r).
    *
    * Signatures are min-over-shingles of `mode.hash60(shingle + ":" + p)`
    * (one hash namespace per permutation) — [[HashMode.Md5]] replays in
    * DuckDB so the whole card oracles; production calibration can run
    * [[HashMode.Xx64]] (same statistics, cheaper hash).
    *
    * Scale shape: run on a deterministic doc SAMPLE — the card is a
    * statistical instrument, not a corpus pass. Candidate pairs are the
    * inverted-index join (bounded by shingle co-occurrence); signatures
    * are one kernel map over the sample; each config is a Column-side
    * band comparison on the joined pair stream, no extra shuffle.
    */
  def lshCalibrationCard(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numPerms: Int, configs: Seq[(Int, Int)], nBuckets: Int = 5,
      mode: HashMode = HashMode.Md5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(configs.nonEmpty, "lshCalibrationCard: no (bands, r) configs")
    configs.foreach { case (b, r) =>
      require(b > 0 && r > 0 && b * r <= numPerms,
        s"config ($b, $r) needs b*r <= numPerms ($numPerms)")
    }
    require(nBuckets > 0, "nBuckets must be positive")

    // distinct n-gram shingle STRINGS per doc (order-free set semantics).
    // Token array materialized FIRST: captured inside the transform lambda
    // it would re-evaluate the split per element (the q313 lambda-CSE
    // lesson, PLANS.md) — bounded here by the fixed sample, fixed anyway.
    val base = Materialize.view(docs.select(col(idCol).cast("long").as("id"),
        filter(split(lower(coalesce(col(textCol), lit(""))), " "),
          t => t =!= "").as("toks")))
    val shingleArr = when(size(col("toks")) >= n,
      array_distinct(transform(sequence(lit(0), size(col("toks")) - n),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
    val docSh = Materialize.view(base.select(col("id"), shingleArr.as("shs"))
      .filter(size(col("shs")) > 0))
    Materialize.free(base)

    // exact Jaccard over co-occurring pairs (the inverted-index stream)
    val sh = docSh.select(col("id"), explode(col("shs")).as("shingle"))
    val sizes = docSh.select(col("id"), size(col("shs")).cast("long").as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sa")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter"))).as("s"))

    // real minhash signatures: one kernel map over the sample
    val perms = numPerms
    val hm = mode
    val sigs = docSh.as[(Long, Seq[String])].map { case (id, shs) =>
      val sig = Array.tabulate(perms) { p =>
        var m = Long.MaxValue
        shs.foreach { x =>
          val v = hm.hash60(x + ":" + p)
          if (v < m) m = v
        }
        m
      }
      (id, sig)
    }.toDF("id", "sig")

    val joined = Materialize.view(pairs // shared by every config's band comparison
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("bucket",
        least(floor(col("s") * nBuckets), lit(nBuckets - 1L)).cast("long")))
    Materialize.free(docSh)

    configs.map { case (b, r) =>
      val detected = exists(sequence(lit(0), lit(b - 1)),
        bi => slice(col("sig_a"), bi * r + 1, lit(r)) ===
          slice(col("sig_b"), bi * r + 1, lit(r)))
      joined
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(detected.cast("double")), 6).as("detected_frac"),
          round(avg(lit(1.0) -
            pow(lit(1.0) - pow(col("s"), r), b)), 6).as("theory_p"))
        .select(lit(s"b=$b,r=$r").as("config"), lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"), col("bucket"), col("n_pairs"),
          col("detected_frac"), col("theory_p"))
    }.reduce(_ unionAll _)
  }
}
