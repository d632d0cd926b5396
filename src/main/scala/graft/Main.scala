package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.layout.GraftDataset
import graft.operators.{AsofJoin, Describe, Knn, ProfileStats, Sampling}
import graft.sources.slab.SlabTable
import graft.sources.xvec.XvecIO

/** X2: the thin CLI over the engine — the `nbvectors <command>` surface
  * (reference README.md:34-110; services/BundledCommand.java dispatch) with
  * each subcommand delegating to an existing operator; see [[usage]] for the
  * full 67-command inventory (dataset description, KNN/ground truth, PQ,
  * slab I/O, dedup/decontamination — n-gram and embedding-space — as-of
  * join, sampling/splits, chunking, quality rules, PII redaction, sequence
  * packing, duplicated spans, semantic dedup, BM25, mixture
  * materialization, unigram surprisal, tokenizers, sketches, selection,
  * release, and the hybrid/maintained-ANN serving family).
  *
  * Vector PATHs accept .fvec/.ivec/.bvec/.dvec/.svec/.mvec or .parquet
  * (columns ordinal/vector or vec_id/embedding).
  */
object Main {

  private def parseFlags(args: Seq[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --flag, got: $a")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(a.stripPrefix("--")) = args(i + 1); i += 2
      } else { m(a.stripPrefix("--")) = "true"; i += 1 }
    }
    m.toMap
  }

  private def readVectors(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".parquet") || new java.io.File(path, "_SUCCESS").exists()) {
      val df = spark.read.parquet(path)
      if (df.columns.contains("ordinal")) df.select("ordinal", "vector")
      else df.select(col("vec_id").as("ordinal"), col("embedding").as("vector"))
    } else XvecIO.read(spark, path)

  /** Dispatch one command; returns the result frame (printed by main). */
  def run(spark: SparkSession, args: Seq[String]): DataFrame = {
    require(args.nonEmpty, usage)
    val cmd0 = args.head
    val sub = args.lift(1).filterNot(_.startsWith("--"))
    // `generate ivec-shuffle` (reference README.md:63) is its own verb
    val cmd = if (cmd0 == "generate" && sub.contains("ivec-shuffle"))
      "ivec-shuffle" else cmd0
    // reference verbs whose first token is a subcommand, not a flag
    val subVerbs: Map[String, Set[String]] = Map(
      "huggingface" -> Set("dl"), "convert" -> Set("file"),
      "cleanup" -> Set("cleanfvec"), "generate" -> Set("ivec-shuffle"),
      "merkle" -> Set("create", "verify", "diff"),
      "datasets" -> Set("list", "download", "info"))
    // jjq takes POSITIONAL operands (`jjq '<expr>' [file]`, the reference
    // form) — peel them off before flag parsing
    val positionals =
      if (cmd0 == "jjq") args.tail.takeWhile(!_.startsWith("--")) else Seq.empty
    val flagArgs =
      if (cmd0 == "jjq") args.tail.drop(positionals.length)
      else if (sub.exists(s => subVerbs.getOrElse(cmd0, Set.empty).contains(s)))
        args.drop(2)
      else args.tail
    // the consumed subcommand steers multi-mode verbs (merkle/datasets)
    val subMode = sub.filter(s => subVerbs.getOrElse(cmd0, Set.empty).contains(s))
    val flags = parseFlags(flagArgs)
    def need(k: String): String =
      flags.getOrElse(k, throw new IllegalArgumentException(s"$cmd requires --$k\n$usage"))
    // sketch/bucketing hash: xx64 (Spark's xxhash64, codegen'd) is the
    // production default; --hash md5 selects the engine-neutral
    // oracle-parity form the CORRECTNESS oracles replay
    val hashMode = graft.functions.HashMode.parse(flags.getOrElse("hash", "xx64"))

    cmd match {
      case "describe" =>
        val ds = GraftDataset.load(spark, need("dataset"))
        Describe.dataset(spark, ds, flags.getOrElse("profile", "default"),
          detailed = flags.contains("detailed"))

      case "knn" =>
        val base = readVectors(spark, need("base"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val query = readVectors(spark, need("query"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val k = flags.getOrElse("k", "10").toInt
        val metric = flags.getOrElse("metric", "COSINE")
        // --strategy auto sizes broadcast/chunked/partitioned from the
        // query count + dim (and base plan stats) so the caller never has
        // to know the broadcast budget or the heap-fallback cliff
        flags.getOrElse("strategy", "broadcast") match {
          case "auto" =>
            val (chosen, df) = Knn.autoPlan(query, base, k, metric)
            println(s"[knn] --strategy auto chose: $chosen")
            df
          case "chunked" =>
            Knn.knnChunked(query, base, k,
              nChunks = flags.getOrElse("chunks", "4").toInt, metric)
          case "partitioned" =>
            Knn.knnPartitioned(query, base, k,
              nQBlocks = flags.getOrElse("q-blocks", "8").toInt,
              nBBlocks = flags.getOrElse("b-blocks", "4").toInt, metric)
          case "broadcast" => Knn.knn(query, base, k, metric)
          case other => throw new IllegalArgumentException(
            s"unknown --strategy $other (auto|broadcast|chunked|partitioned)")
        }

      case "verify_knn" =>
        // recall of metric A's top-k against metric B's (the reference's
        // verify_knn checks packaged answer keys; here both sides recompute)
        val base = readVectors(spark, need("base"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val query = readVectors(spark, need("query"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val k = flags.getOrElse("k", "10").toInt
        // split with -1: a trailing comma must be an error, not a silent
        // self-check (split's default drops trailing empty strings)
        val (mA, mB) = flags.getOrElse("metric", "COSINE,COSINE").split(",", -1) match {
          case Array(one) if one.nonEmpty => (one, one) // self-check (recall 1)
          case Array(a2, b2) if a2.nonEmpty && b2.nonEmpty => (a2, b2)
          case other => throw new IllegalArgumentException(
            s"verify_knn --metric takes A or A,B, got: '${other.mkString(",")}'\n$usage")
        }
        val a = Knn.knn(query, base, k, metric = mA)
        val b = Knn.knn(query, base, k, metric = mB)
        Knn.avgRecall(a, b, k)

      case "analyze-profile" =>
        val df = readVectors(spark, need("input"))
        ProfileStats.perDimStats(df, "vector")
          .orderBy("dim")

      case "generate" =>
        val out = need("out")
        val df = operators.Generators.gaussianVectors(spark,
          count = need("count").toLong, dim = need("dim").toInt,
          seed = flags.getOrElse("seed", "42").toLong)
        XvecIO.write(df, out)
        df.agg(count(lit(1)).as("written")).withColumn("path", lit(out))

      case "slab-import" =>
        val slab = new SlabTable(spark, need("slab"))
        val ns = need("ns")
        slab.importText(ns, need("file"))
        slab.stats().filter(col("namespace") === ns)

      case "slab-export" =>
        val slab = new SlabTable(spark, need("slab"))
        val ns = need("ns")
        slab.exportText(ns, need("out"))
        slab.stats().filter(col("namespace") === ns)

      case "slab-analyze" =>
        new SlabTable(spark, need("slab")).stats()

      case "slab-delete" =>
        // tombstone ordinals (comma list); live reads hide them at once
        val slab = new SlabTable(spark, need("slab"))
        val ns = need("ns")
        import spark.implicits._
        slab.delete(ns, need("ordinals").split(",").map(_.trim.toLong).toSeq
          .toDF("ordinal"))
        slab.stats().filter(col("namespace") === ns)

      case "slab-compact" =>
        // dead-page GC: rewrite live rows, keep the watermark (q216)
        val slab = new SlabTable(spark, need("slab"))
        val ns = need("ns")
        slab.compact(ns)
        slab.stats().filter(col("namespace") === ns)

      case "linededup" =>
        // CCNet paragraph dedup: keep only each normalized paragraph's
        // globally-first (id, position) occurrence, reassemble docs
        operators.Dedup.lineDedup(spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"),
          flags.getOrElse("delim", "\n"))

      case "dsir" =>
        // DSIR importance weights of --input docs against a --target corpus
        operators.Dsir.importanceWeights(
          spark.read.parquet(need("input")),
          spark.read.parquet(need("target")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"),
          flags.getOrElse("buckets", "4096").toInt, mode = hashMode)

      case "dedup" =>
        // near-duplicate pairs over a (id, text) parquet/csv corpus
        val docs = spark.read.parquet(need("input"))
        val idC = flags.getOrElse("id-col", "doc_id")
        val txtC = flags.getOrElse("text-col", "text")
        flags.getOrElse("method", "minhash") match {
          case "exact"   => operators.Dedup.exactGroups(docs, idC, txtC)
            .filter(col("multiplicity") > 1)
          case "minhash" => operators.Dedup.minhashLshPairs(docs, idC, txtC,
            threshold = flags.getOrElse("threshold", "0.8").toDouble,
            bucketCap = flags.getOrElse("bucket-cap", "0").toInt)
          case "jaccard" =>
            val threshold = flags.getOrElse("threshold", "0.5").toDouble
            val dfCap = flags.getOrElse("df-cap", "0").toInt
            if (dfCap > 0) {
              // long-lived-session hygiene: own the shingle-table persistence
              // here — materialize the pairs (which truncates the lineage
              // back into `sets`), then release the cached table so
              // repeated CLI invocations don't accumulate pinned storage
              val sets = operators.Dedup.hashedShingleSets(docs, idC, txtC, 3).cache()
              try operators.Materialize.view(
                operators.Dedup.cappedJaccardPairsFromSets(sets, threshold, dfCap))
              finally sets.unpersist()
            } else operators.Dedup.ngramJaccardPairs(docs, idC, txtC,
              threshold = threshold)
          case "simhash" => operators.Dedup.simhashNearDupPairs(
            operators.Dedup.simhash(docs, idC, txtC, mode = hashMode),
            bucketCap = flags.getOrElse("bucket-cap", "0").toInt)
          case m => throw new IllegalArgumentException(
            s"unknown dedup method: $m (exact|minhash|jaccard|simhash)\n$usage")
        }

      case "shard" =>
        // rendezvous (HRW) doc->shard layout; --to N emits the reshard
        // stability card (HRW vs modulo) instead of assignments
        val sDocs = spark.read.parquet(need("input"))
        val sId = flags.getOrElse("id-col", "doc_id")
        val sN = flags.getOrElse("shards", "16").toInt
        flags.get("to") match {
          case Some(m) if flags.contains("jump") =>
            // jump-hash stability card — the regime HRW's guard refuses
            graft.layout.Sharding.jumpStabilityCard(sDocs, sId, sN, m.toInt)
          case Some(m) => graft.layout.Sharding.reshardStabilityCard(
            sDocs, sId, sN, m.toInt, hashMode)
          case None if flags.contains("jump") =>
            // O(log n)/key jump hashing — the path past HRW's per-row cost;
            // carries the input columns through, same contract as HRW
            graft.layout.Sharding.jumpAssign(sDocs, sId, sN)
          case None =>
            graft.layout.Sharding.rendezvousAssign(sDocs, sId, sN, hashMode)
        }

      case "lsh-calibrate" =>
        // S-curve calibration card: empirical vs analytic band-collision
        // detection per (bands, rowsPerBand) config × Jaccard bucket, on a
        // (sampled) corpus — picks banding geometry before a dedup run
        val cDocs = spark.read.parquet(need("input"))
        val cConfigs = need("configs").split(",", -1).map(_.trim).filter(_.nonEmpty)
          .map { s =>
            val Array(b, r) = s.split("x", 2)
            (b.toInt, r.toInt)
          }.toSeq
        operators.Dedup.lshCalibrationCard(cDocs,
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"),
          n = flags.getOrElse("n", "3").toInt,
          numPerms = flags.getOrElse("perms", "24").toInt,
          configs = cConfigs,
          nBuckets = flags.getOrElse("buckets", "5").toInt,
          mode = hashMode)

      case "decontaminate" =>
        // per-doc n-gram containment of --input against --benchmark
        val docs = spark.read.parquet(need("input"))
        val bench = spark.read.parquet(need("benchmark"))
        val idC = flags.getOrElse("id-col", "doc_id")
        val txtC = flags.getOrElse("text-col", "text")
        if (flags.contains("bloom")) {
          // approximate screening: bench folds into a fixed-size bitset,
          // corpus scores map-side (no false negatives)
          val k = flags.getOrElse("k-probes", "4").toInt
          val bits = operators.Bloom.build(bench, txtC,
            mBits = flags.getOrElse("m-bits", (1 << 20).toString).toInt,
            kProbes = k, mode = hashMode)
          operators.Bloom.containmentScores(docs, bits, idC, txtC,
            kProbes = k, mode = hashMode)
            .filter(col("bloom_containment") >=
              flags.getOrElse("threshold", "0.0").toDouble)
        } else
          operators.Dedup.containmentScores(docs, bench, idC, txtC)
            .filter(col("containment") >= flags.getOrElse("threshold", "0.0").toDouble)

      case "compute-knn" =>
        // the reference's headline workflow: ground truth -> packaged dataset
        val base = readVectors(spark, need("base"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val query = readVectors(spark, need("query"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        graft.layout.GroundTruthDataset.build(spark, base, query,
          k = flags.getOrElse("k", "10").toInt,
          metric = flags.getOrElse("metric", "COSINE"),
          outDir = need("out"))

      case "release" =>
        // corpus release: dedup -> decontaminate -> score -> budget select.
        // --incremental reuses the previous corpus's artifacts and
        // re-processes only the snapshot diff's added+changed slice
        // (output provably equals the from-scratch run, q233).
        val newC = spark.read.parquet(need("new"))
        val bench = spark.read.parquet(need("bench"))
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val p = graft.operators.Release.Params(
          threshold = flags.getOrElse("threshold", "0.8").toDouble,
          contamMax = flags.getOrElse("contam-max", "0.5").toDouble,
          budget = flags.getOrElse("budget", "10000").toLong)
        val sel =
          if (flags.contains("takedown")) {
            // right-to-be-forgotten sweep: prune --takedown ids from the
            // corpus's artifacts (zero text rescans) and re-select;
            // --takedown-audit emits the completeness card instead
            val rm = spark.read.parquet(need("takedown")).select(idCol)
            val art = graft.operators.Release.materialized(
              graft.operators.Release.artifacts(newC, bench, idCol, textCol, p))
            val (nsel, pruned) =
              graft.operators.Release.takedown(newC, art, rm, idCol, p)
            if (flags.contains("takedown-audit"))
              graft.operators.Release.takedownAudit(
                graft.operators.Release.fromArtifacts(newC, art, idCol, p),
                nsel, art, pruned, rm, idCol)
            else nsel
          } else if (flags.contains("incremental")) {
            val oldC = spark.read.parquet(need("old"))
            val art = graft.operators.Release.artifacts(oldC, bench, idCol, textCol, p)
            graft.operators.Release.incremental(oldC, art, newC, bench, idCol, textCol, p)
          } else graft.operators.Release.fromScratch(newC, bench, idCol, textCol, p)
        // --index-out: also ship the selection's serving index as a
        // SELF-CONTAINED bundle (cell-partitioned rows + the bench-seeded
        // quantizer) — servable by `ivf-search --index PATH` alone
        flags.get("index-out").foreach { out =>
          graft.operators.Ann.writeIndexBundle(
            graft.operators.Release.selectionIndex(newC, sel, bench,
              idCol, textCol),
            graft.operators.Release.selectionQuantizer(bench, idCol, textCol),
            out)
        }
        sel

      case "hybrid-ann" =>
        // FILTERED approximate search: --predicate (PNode JSON) restricts
        // every query's candidate set BEFORE the distance kernel (the
        // per-query-blob form is the programmatic API; the CLI applies one
        // predicate to all queries). --probes N,N,... switches to the
        // recall-vs-selectivity card against the filtered exact truth.
        val base = spark.read.parquet(need("base"))
        val metaCols = need("meta").split(",", -1).map(_.trim).filter(_.nonEmpty).toSeq
        require(metaCols.nonEmpty, "hybrid-ann: --meta needs at least one column")
        val nList = flags.getOrElse("n-list", "16").toInt
        val centroids = base.filter(col("vec_id") < nList)
        val tree = graft.predicates.PNodeJson.parse(need("predicate"))
        val blob = graft.predicates.PNodeCodec.encodeFramed(
          tree, graft.predicates.PNodeCodec.Mode.NamedTyped)
        val queries = spark.read.parquet(need("query"))
          .withColumn("predicate", udf(() => blob).apply())
        val k = flags.getOrElse("k", "10").toInt
        val exclSelf = flags.contains("exclude-self")
        flags.get("probes") match {
          case Some(ps) =>
            val widths = ps.split(",", -1).map(_.trim.toInt).toSeq
            graft.operators.Ann.filteredRecallCurve(
              queries.withColumn("tier", lit("all")), base, centroids, k,
              widths, tierCol = "tier", metadataCols = metaCols,
              excludeSelf = exclSelf)
          case None =>
            val index = graft.operators.Ann.ivfIndexWithMeta(
              base, centroids, metaCols = metaCols)
            val np = flags.getOrElse("n-probe", "4").toInt
            if (flags.contains("routed")) {
              // selectivity-routed dispatch: exact / planned / wide per
              // query from the global eligible estimate (routes on the
              // FIRST --meta column); --routed-card reports per-route recall
              val stats = graft.operators.Ann.cellSelectivityStats(
                index, metaCols.head)
              val exactMax = flags.getOrElse("exact-max", (10L * k).toString).toLong
              val wideFrac = flags.getOrElse("wide-frac", "0.4").toDouble
              val safety = flags.getOrElse("safety", "2.0").toDouble
              if (flags.contains("routed-card"))
                graft.operators.Ann.routerReportCard(queries, index,
                  centroids, stats, metaCols.head, k, exactMax, wideFrac,
                  nProbeWide = np, safety = safety, minProbe = 1,
                  maxProbe = nList min (2 * np), metadataCols = metaCols,
                  excludeSelf = exclSelf)
              else
                graft.operators.Ann.hybridSearchRouted(queries, index,
                  centroids, stats, metaCols.head, k, exactMax, wideFrac,
                  nProbeWide = np, safety = safety, minProbe = 1,
                  maxProbe = nList min (2 * np), metadataCols = metaCols,
                  excludeSelf = exclSelf)
            } else if (flags.contains("adaptive")) {
              // stats-planned per-query widths (safety × k expected
              // eligible); plans on the FIRST --meta column
              val stats = graft.operators.Ann.cellSelectivityStats(
                index, metaCols.head)
              graft.operators.Ann.ivfSearchFilteredAdaptive(queries, index,
                centroids, stats, metaCols.head, k,
                safety = flags.getOrElse("safety", "2.0").toDouble,
                minProbe = 1, maxProbe = np,
                metadataCols = metaCols, excludeSelf = exclSelf)
            } else if (flags.contains("guaranteed"))
              // count-based escalation: starved queries re-run exhaustive
              graft.operators.Ann.ivfSearchFilteredGuaranteed(queries, index,
                centroids, k, np, metadataCols = metaCols,
                excludeSelf = exclSelf)
            else
              graft.operators.Ann.ivfSearchFiltered(queries, index, centroids,
                k, nProbe = np, metadataCols = metaCols, excludeSelf = exclSelf)
        }

      case "ivf-maintain" =>
        // maintained IVF index: build on --base against a frozen quantizer,
        // optionally ivfAppend --add and ivfDelete --delete slices;
        // --occupancy reports per-cell counts instead of the index rows
        val mBase = spark.read.parquet(need("base"))
        val mNList = flags.getOrElse("n-list", "16").toInt
        val mCents = mBase.filter(col("vec_id") < mNList)
        val mMeta = flags.get("meta").toSeq
          .flatMap(_.split(",", -1).map(_.trim).filter(_.nonEmpty))
        var mIndex = graft.operators.Ann.ivfIndexWithMeta(
          mBase, mCents, metaCols = mMeta)
        flags.get("add").foreach { p =>
          mIndex = graft.operators.Ann.ivfAppend(
            mIndex, spark.read.parquet(p), mCents, metaCols = mMeta)
        }
        flags.get("delete").foreach { p =>
          mIndex = graft.operators.Ann.ivfDelete(mIndex, spark.read.parquet(p))
        }
        // --out persists the maintained result as a servable bundle
        // (cells + the frozen quantizer)
        flags.get("out").foreach { out =>
          graft.operators.Ann.writeIndexBundle(mIndex, mCents, out)
        }
        if (flags.contains("occupancy")) graft.operators.Ann.cellOccupancy(mIndex)
        else mIndex

      case "ivf-search" =>
        // serve a self-contained index bundle (writeIndexBundle /
        // release --index-out): quantizer comes from the bundle, the scan
        // reads only the probed cell partitions. --predicate (PNode JSON)
        // + --meta switch to filtered serving over the bundle's metadata
        // columns; --guaranteed escalates starved lists.
        val isQ = spark.read.parquet(need("query"))
        val isK = flags.getOrElse("k", "10").toInt
        val isNp = flags.getOrElse("n-probe", "4").toInt
        val isM = flags.getOrElse("metric", "EUCLIDEAN")
        val isXs = flags.contains("exclude-self")
        flags.get("predicate") match {
          case Some(pj) =>
            val pb = graft.predicates.PNodeCodec.encodeFramed(
              graft.predicates.PNodeJson.parse(pj),
              graft.predicates.PNodeCodec.Mode.NamedTyped)
            val mc = need("meta").split(",", -1).map(_.trim).filter(_.nonEmpty).toSeq
            graft.operators.Ann.searchBundleFiltered(
              isQ.withColumn("predicate", udf(() => pb).apply()),
              need("index"), isK, isNp, metadataCols = mc, metric = isM,
              excludeSelf = isXs, guaranteed = flags.contains("guaranteed"))
          case None =>
            graft.operators.Ann.searchBundle(isQ, need("index"), isK, isNp,
              isM, excludeSelf = isXs)
        }

      case "rankeval" =>
        // MRR@k + nDCG@k of a ranked parquet (query_id, neighbor_id, rank)
        // against a relevance parquet (query_id, neighbor_id)
        graft.operators.Eval.mrrNdcgAtK(
          spark.read.parquet(need("ranked")),
          spark.read.parquet(need("truth")),
          k = flags.getOrElse("k", "10").toInt)

      case "ivf-staleness" =>
        // quantizer-staleness card: stale = Lloyd on --old, retrained =
        // Lloyd on --new; measures recall@k at --n-probe plus occupancy
        // skew over the CURRENT corpus for both
        val sOld = spark.read.parquet(need("old"))
        val sNew = spark.read.parquet(need("new"))
        val sQ = spark.read.parquet(need("queries"))
        val cells = flags.getOrElse("cells", "8").toInt
        val iters = flags.getOrElse("iters", "1").toInt
        val stale = graft.operators.Ann.lloydCentroids(
          graft.operators.Clustering.lloyd(sOld, cells, iters)
            .filter(col("n_points") > 0))
        val fresh = graft.operators.Ann.lloydCentroids(
          graft.operators.Clustering.lloyd(sNew, cells, iters)
            .filter(col("n_points") > 0))
        graft.operators.Ann.ivfStalenessCard(sQ, sNew,
          Seq("stale" -> stale, "retrained" -> fresh),
          k = flags.getOrElse("k", "5").toInt,
          nProbe = flags.getOrElse("n-probe", "2").toInt,
          metric = "EUCLIDEAN", excludeSelf = flags.contains("exclude-self"))

      case "rrf" =>
        // reciprocal-rank fusion of ranking parquets (q215)
        val lists = need("inputs").split(",").toSeq.map(spark.read.parquet(_))
        operators.Fusion.rrf(lists,
          k = flags.getOrElse("k", "10").toInt,
          c = flags.getOrElse("c", "60").toInt)

      case "binary-topk" =>
        // sign-quantized Hamming shortlist over parquet vectors (q213)
        val bIn = spark.read.parquet(need("input"))
        val idC = flags.getOrElse("id-col", "vec_id")
        val vC = flags.getOrElse("vec-col", "embedding")
        operators.Sq.binaryTopK(
          bIn.filter(col(idC) < flags.getOrElse("queries", "20").toLong),
          bIn, k = flags.getOrElse("k", "10").toInt,
          idCol = idC, vecCol = vC, excludeSelf = true)

      case "pq-encode" =>
        // train sampled codebooks, encode, persist codes + codebooks
        val base = readVectors(spark, need("input"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val out = need("out")
        val mm = flags.getOrElse("m", "8").toInt
        val kk = flags.getOrElse("ksub", "256").toInt
        val cbs = operators.Pq.trainCodebooks(base, mm, kk,
          seed = flags.getOrElse("seed", "42").toLong)
        cbs.write.mode("overwrite").parquet(s"$out/codebooks")
        operators.Pq.encode(base, cbs)
          .write.mode("overwrite").parquet(s"$out/codes")
        spark.read.parquet(s"$out/codes")
          .agg(count(lit(1)).as("encoded")).withColumn("path", lit(out))

      case "pq-search" =>
        // ADC top-k of --query against a pq-encode output directory.
        // --chunks N splits the query set (bounded driver LUT state);
        // --strategy auto sizes the split from |Q| × m·ksub·8B vs a 256 MB
        // LUT budget (1 chunk = the plain single-pass search).
        val idx = need("index")
        val codes = spark.read.parquet(s"$idx/codes")
        val cbs = spark.read.parquet(s"$idx/codebooks")
        val query = readVectors(spark, need("query"))
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        val k = flags.getOrElse("k", "10").toInt
        val nChunks = flags.get("chunks").map(_.toInt).orElse {
          if (flags.get("strategy").contains("auto")) {
            val geom = cbs.agg((max(col("subspace")) + 1).cast("long"),
              (max(col("code")) + 1).cast("long")).head()
            val lutBytes = query.count() * geom.getLong(0) * geom.getLong(1) * 8
            Some(math.max(1L, (lutBytes + (256L << 20) - 1) / (256L << 20)).toInt)
          } else None
        }.getOrElse(1)
        if (nChunks > 1) {
          println(s"[pq-search] chunked query split: $nChunks chunks")
          operators.Pq.adcSearchChunked(query, codes, cbs, k, nChunks)
        } else operators.Pq.adcSearch(query, codes, cbs, k)

      case "asof" =>
        // point-in-time join: latest --right row per --left row at-or-before
        // its timestamp, matched on --key, --payload columns carried over
        AsofJoin.asof(
          spark.read.parquet(need("left")), spark.read.parquet(need("right")),
          keyCol = need("key"), timeCol = need("time"), tieCol = need("tie"),
          payloadCols = need("payload").split(",").toSeq)

      case "sample" =>
        if (flags.contains("group-col")) {
          // deterministic k hash-random rows per group (q179)
          Sampling.perGroupSample(spark.read.parquet(need("input")),
            groupCol = need("group-col"), keyCol = need("key-col"),
            k = need("n").toInt)
        } else if (flags.contains("weight-col")) {
          // Efraimidis-Spirakis weighted sample without replacement
          Sampling.weightedSample(spark.read.parquet(need("input")),
            keyCol = need("key-col"), weightCol = need("weight-col"),
            n = need("n").toInt)
        } else {
        // deterministic stratified keep-fractions: --fractions en=0.5,zh=1.0
        val fracs = need("fractions").split(",").map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k -> v.toDouble
            case _ => throw new IllegalArgumentException(
              s"--fractions wants name=frac pairs, got: '$kv'\n$usage")
          }
        }.toMap
        Sampling.stratifiedSample(spark.read.parquet(need("input")),
          strataCol = need("strata-col"), keyCol = need("key-col"),
          fractions = fracs,
          default = flags.getOrElse("default", "0.0").toDouble)
        }

      case "split" =>
        // deterministic split labels: --splits train=0.8,val=0.1,test=0.1
        val splits = need("splits").split(",").toSeq.map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k -> v.toDouble
            case _ => throw new IllegalArgumentException(
              s"--splits wants name=weight pairs, got: '$kv'\n$usage")
          }
        }
        Sampling.assignSplit(spark.read.parquet(need("input")),
          keyCol = need("key-col"), splits = splits,
          outCol = flags.getOrElse("out-col", "split"))

      case "chunk" =>
        // token-window chunks for training-sequence prep
        graft.functions.TextFunctions.chunkByTokens(
          spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"),
          maxTokens = flags.getOrElse("max-tokens", "512").toInt,
          overlap = flags.getOrElse("overlap", "64").toInt)

      case "quality" =>
        // Gopher-style quality flags per document
        graft.functions.TextFunctions.gopherFlags(
          spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"))

      case "redact" =>
        // PII redaction (emails / IPv4 / phone runs -> typed placeholders)
        val idC = flags.getOrElse("id-col", "doc_id")
        val txtC = flags.getOrElse("text-col", "text")
        spark.read.parquet(need("input")).select(col(idC),
          graft.functions.TextFunctions.redactPii(col(txtC)).as(txtC))

      case "blocklist" =>
        // Aho-Corasick multi-term tagging: per-(doc, term) overlapping hit
        // counts; --gate N emits the per-doc rollup with a blocked verdict
        val bDocs = spark.read.parquet(need("input"))
        val bId = flags.getOrElse("id-col", "doc_id")
        val bTxt = flags.getOrElse("text-col", "text")
        val bTerms = need("terms").split(",", -1).map(_.trim).filter(_.nonEmpty).toSeq
        flags.get("gate") match {
          case Some(g) =>
            operators.Blocklist.hitCounts(bDocs, bId, bTxt, bTerms)
              .withColumn("blocked", col("total_hits") >= g.toLong)
          case None => operators.Blocklist.tagMatches(bDocs, bId, bTxt, bTerms)
        }

      case "pack" =>
        // training-sequence packing: --manifest emits per-(sequence, slice)
        // loader rows, --sequences emits content-hashed materialized
        // sequences, default emits per-doc coordinates
        val docs = spark.read.parquet(need("input"))
        val idC = flags.getOrElse("id-col", "doc_id")
        val txtC = flags.getOrElse("text-col", "text")
        val seqLen = flags.getOrElse("seq-len", "2048").toInt
        if (flags.contains("sequences"))
          operators.Packing.materializeSequences(docs, idC, txtC, seqLen)
        else {
          val withCounts = docs.select(col(idC),
            graft.functions.TextFunctions.tokenCount(col(txtC)).as("_n_tok"))
          if (flags.contains("whole")) {
            // no-truncation bin packing (next-fit decreasing) within
            // --group-col shards; whole docs, padded bins
            val g = flags.getOrElse("group-col", "lang")
            val withG = docs.select(col(idC), col(g),
              graft.functions.TextFunctions.tokenCount(col(txtC)).as("_n_tok"))
            if (flags.contains("report"))
              operators.Packing.binPackReport(
                operators.Packing.nextFitDecreasing(withG, g, idC, "_n_tok",
                  seqLen), g, seqLen)
            else operators.Packing.nextFitDecreasing(withG, g, idC, "_n_tok",
              seqLen)
          } else if (flags.contains("manifest"))
            operators.Packing.packManifest(withCounts, idC, "_n_tok", seqLen)
          else if (flags.contains("batches"))
            // length-ordered token-budget batches (padding minimizer);
            // --seq-len doubles as the per-batch token budget
            operators.Packing.lengthBatches(withCounts, idC, "_n_tok", seqLen)
          else if (flags.contains("report"))
            // one-row shard-sizing summary (fill rate / padding / straddles)
            operators.Packing.packReport(withCounts, idC, "_n_tok", seqLen)
          else operators.Packing.packCoordinates(withCounts, idC, "_n_tok", seqLen)
        }

      case "dupspans" =>
        // duplicated token-w-gram span fractions per document; --remove
        // excises the covered tokens instead (ExactSubstr removal)
        val dsIn = spark.read.parquet(need("input"))
        val dsId = flags.getOrElse("id-col", "doc_id")
        val dsTxt = flags.getOrElse("text-col", "text")
        val dsW = flags.getOrElse("width", "8").toInt
        if (flags.contains("char"))
          // suffix-array-true form: duplicated substrings of >= --min-len
          // CODE POINTS at any alignment (Lee et al. 2022 semantics)
          operators.Dedup.removeExactSubstrChar(dsIn, dsId, dsTxt,
            flags.getOrElse("min-len", "40").toInt, mode = hashMode)
        else if (flags.contains("remove"))
          operators.Dedup.removeDuplicatedSpans(dsIn, dsId, dsTxt, dsW,
            mode = hashMode)
        else operators.Dedup.duplicatedSpans(dsIn, dsId, dsTxt, dsW,
          mode = hashMode)

      case "semdedup" =>
        // embedding-space semantic dedup: cluster ids + keep decisions.
        // Default path = LSH candidates; recall is probabilistic — size
        // --n-bits to the corpus (≈ log2(n)+2) and raise --n-tables to
        // compensate, a missed near-dup pair silently keeps a true
        // duplicate. --cells K switches to the k-means-sharded paper shape
        // (lloyd-trained cells bound candidates structurally; the
        // approximation becomes cell boundaries instead of hash recall).
        val sdIn = spark.read.parquet(need("input"))
        val sdId = flags.getOrElse("id-col", "vec_id")
        val sdVec = flags.getOrElse("vec-col", "embedding")
        val sdThr = flags.getOrElse("threshold", "0.95").toDouble
        flags.get("cells") match {
          case Some(k) =>
            val cents = operators.Clustering.lloyd(sdIn, k.toInt,
                iters = flags.getOrElse("iters", "3").toInt,
                idCol = sdId, vecCol = sdVec)
              .select(col("cell"), col("centroid"))
            operators.Dedup.semanticDedupSharded(sdIn, sdId, sdVec, sdThr, cents)
          case None =>
            operators.Dedup.semanticDedup(sdIn, sdId, sdVec, sdThr,
              nBits = flags.getOrElse("n-bits", "8").toInt,
              nTables = flags.getOrElse("n-tables", "8").toInt)
        }

      case "bm25" =>
        // sparse keyword top-k retrieval; terms are trimmed so
        // `--terms "a, b"` matches the space-split tokens. --ranker ql
        // switches to Dirichlet query likelihood (--mu).
        val terms = need("terms").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (terms.isEmpty) throw new IllegalArgumentException(
          s"--terms must contain at least one non-empty term\n$usage")
        val bmIn = spark.read.parquet(need("input"))
        val bmId = flags.getOrElse("id-col", "doc_id")
        val bmTxt = flags.getOrElse("text-col", "text")
        val bmK = flags.getOrElse("k", "10").toInt
        flags.getOrElse("ranker", "bm25") match {
          case "ql" => operators.Bm25.queryLikelihood(bmIn, bmId, bmTxt,
            terms, bmK, mu = flags.getOrElse("mu", "300.0").toDouble)
          case "bm25" => operators.Bm25.bm25(bmIn, bmId, bmTxt, terms, bmK)
          case r => throw new IllegalArgumentException(
            s"unknown ranker: $r (bm25|ql)\n$usage")
        }

      case "surprisal" =>
        // unigram (default), --bigram MLE, or --kn interpolated Kneser-Ney
        // bigram (the KenLM-style smoothing; --discount tunes d)
        val sIn = spark.read.parquet(need("input"))
        val sId = flags.getOrElse("id-col", "doc_id")
        val sTxt = flags.getOrElse("text-col", "text")
        if (flags.contains("kn"))
          operators.UnigramLm.kneserNeySurprisal(sIn, sId, sTxt,
            discount = flags.getOrElse("discount", "0.75").toDouble)
        else if (flags.contains("bigram"))
          operators.UnigramLm.bigramSurprisal(sIn, sId, sTxt)
        else operators.UnigramLm.surprisal(sIn, sId, sTxt)

      case "normalize" =>
        // Unicode NFC canonicalization (run before any hash-keyed dedup)
        operators.TextNormalize.nfc(spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"))

      case "pca" =>
        // embedding-space second-order stats: --covariance, --standardize,
        // --components, or (default) top-k projection
        val input = spark.read.parquet(need("input"))
        val idC = flags.getOrElse("id-col", "vec_id")
        val vecC = flags.getOrElse("vec-col", "embedding")
        if (flags.contains("covariance")) operators.Pca.covariance(input, vecC)
        else if (flags.contains("standardize")) operators.Pca.standardize(input, idC, vecC)
        else if (flags.contains("components"))
          operators.Pca.principalComponents(input, vecC, flags.getOrElse("k", "8").toInt)
        else if (flags.contains("random"))
          operators.Pca.randomProject(input, idC, vecC, flags.getOrElse("k", "8").toInt)
        else operators.Pca.project(input, idC, vecC, flags.getOrElse("k", "8").toInt)

      case "bpe" =>
        // BPE tokenizer training (merge table), count encoding, or token-id
        // encoding (--ids: per-doc id sequences from the trained model)
        val input = spark.read.parquet(need("input"))
        val txtC = flags.getOrElse("text-col", "text")
        val m = flags.getOrElse("merges", "100").toInt
        // training is one driver-coordinated job round-trip PER MERGE
        // (~0.2 s floor each, independent of cluster size) — refuse
        // vocabulary-scale merge counts unless the caller raises the
        // ceiling explicitly and owns the hours-long driver loop
        val maxM = flags.getOrElse("max-merges", "50000").toInt
        require(m <= maxM,
          s"--merges $m exceeds --max-merges $maxM: each merge is a driver " +
            s"round-trip (~0.2 s floor, cluster-size independent; $m merges " +
            s"≈ ${m / 300} min of job overhead). Pass --max-merges $m to proceed.")
        val byteLevel = flags.contains("bytes")
        if (flags.contains("ids")) {
          val idC = flags.getOrElse("id-col", "doc_id")
          if (byteLevel) operators.Bpe.encodeBytes(input, idC, txtC,
            operators.Bpe.fitBytes(input, txtC, m))
          else operators.Bpe.encode(input, idC, txtC,
            operators.Bpe.fit(input, txtC, m))
        } else if (flags.contains("decode")) {
          // round trip: encode then decode back. Char level reproduces the
          // space-stripped lowered corpus; byte level (--bytes) is EXACT
          val idC = flags.getOrElse("id-col", "doc_id")
          if (byteLevel) {
            val model = operators.Bpe.fitBytes(input, txtC, m)
            operators.Bpe.decodeBytes(
              operators.Bpe.encodeBytes(input, idC, txtC, model),
              idC, "tok_ids", model)
          } else {
            val model = operators.Bpe.fit(input, txtC, m)
            operators.Bpe.decode(
              operators.Bpe.encode(input, idC, txtC, model),
              idC, "tok_ids", model)
          }
        } else if (flags.contains("encode"))
          operators.Bpe.encodeCounts(input,
            flags.getOrElse("id-col", "doc_id"), txtC, m)
        else if (byteLevel) operators.Bpe.trainBytes(input, txtC, m)
        else operators.Bpe.train(input, txtC, m)

      case "cluster" =>
        // deterministic k-means: lloyd training + final assignment; with
        // --per-cell, emit the cluster-balanced subsample instead
        val pts = spark.read.parquet(need("input"))
        val idC = flags.getOrElse("id-col", "vec_id")
        val vecC = flags.getOrElse("vec-col", "embedding")
        val cents = operators.Clustering.lloyd(pts,
          k = flags.getOrElse("k", "16").toInt,
          iters = flags.getOrElse("iters", "5").toInt,
          metric = flags.getOrElse("metric", "EUCLIDEAN"),
          idCol = idC, vecCol = vecC)
        val assigned = operators.Clustering.assign(pts, cents,
          metric = flags.getOrElse("metric", "EUCLIDEAN"),
          idCol = idC, vecCol = vecC)
        (flags.get("per-cell"), flags.get("drop-proto")) match {
          case (Some(m), _) => operators.Clustering.clusterSample(assigned, m.toInt)
          case (None, Some(f)) => // D4 prototypicality prune against the trained centroids
            operators.Clustering.prototypicalityPrune(pts, cents, f.toDouble,
              metric = flags.getOrElse("metric", "EUCLIDEAN"),
              idCol = idC, vecCol = vecC)
          case _ => assigned.select(col("id").as(idC), col("cell"))
        }

      case "buckets" =>
        // CCNet-style quantile bucketing by unigram surprisal: ntile(k)
        // without the single-partition window (Ranking two-pass rank).
        // --thresholds emits the k-1 VALUE cut points instead (the
        // broadcastable form a streaming pipeline applies via bucketize;
        // --approx uses the mergeable GK-family sketch)
        val scores = operators.UnigramLm.surprisal(
          spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"))
        val kB = flags.getOrElse("k", "10").toInt
        if (flags.contains("thresholds"))
          operators.Ranking.bucketThresholds(scores, "surprisal", kB,
            exact = !flags.contains("approx"))
        else operators.Ranking.ntileBuckets(scores, Seq("surprisal", "id"), kB)

      case "hardneg" =>
        // contrastive hard-negative mining: per anchor, the k nearest
        // neighbors with a DIFFERENT label (q23's hybrid plan, inverted
        // predicate). --anchors N limits the anchor set to ids < N.
        val hIn = spark.read.parquet(need("input"))
        val hId = flags.getOrElse("id-col", "vec_id")
        val hVec = flags.getOrElse("vec-col", "embedding")
        val hLab = flags.getOrElse("label-col", "label")
        val anchors = flags.get("anchors").map(n => hIn.filter(col(hId) < n.toLong))
          .getOrElse(hIn)
        Knn.knn(anchors, hIn, k = flags.getOrElse("k", "10").toInt,
          metric = flags.getOrElse("metric", "COSINE"),
          idCol = hId, vecCol = hVec,
          queryExtra = Seq(hLab), baseExtra = Seq(hLab),
          pairPredicate = Some(col(s"b_$hLab") =!= col(s"q_$hLab")),
          excludeSelf = true)

      case "logreg" =>
        // model-based quality classifier: deterministic full-batch GD
        // logistic regression (one treeAggregate per step). Default emits
        // the (idx, weight) model table; --score emits per-row sigmoid
        // scores of the just-trained model instead.
        val lrIn = spark.read.parquet(need("input"))
        val lrFeats = need("features").split(",").toSeq
        val lrLabel = need("label-col")
        val lrSteps = flags.getOrElse("steps", "10").toInt
        val lrRate = flags.getOrElse("lr", "1.0").toDouble
        if (flags.contains("score")) {
          val w = operators.LogReg.train(lrIn, lrFeats, lrLabel, lrSteps, lrRate)
          operators.LogReg.score(lrIn,
            flags.getOrElse("id-col", "doc_id"), lrFeats, w)
        } else operators.LogReg.trainDf(lrIn, lrFeats, lrLabel, lrSteps, lrRate)

      case "semdecontaminate" =>
        // embedding-space decontamination vs a benchmark embedding set;
        // --bench-chunks splits a bench too big for one broadcast
        operators.Dedup.semanticContamination(
          spark.read.parquet(need("input")),
          spark.read.parquet(need("benchmark")),
          idCol = flags.getOrElse("id-col", "vec_id"),
          vecCol = flags.getOrElse("vec-col", "embedding"),
          benchChunks = flags.getOrElse("bench-chunks", "1").toInt)

      case "mix" =>
        // mixture materialization: --factors books=2.25,web=0.5, or
        // --balance to solve uniform-rebalance factors from --weight-col
        val input = spark.read.parquet(need("input"))
        val domainC = need("domain-col")
        val factors =
          if (flags.contains("balance")) {
            val wC = flags.getOrElse("weight-col", "n_tokens")
            operators.Mixture.balanceFactors(input, domainC, wC)
              .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          } else if (flags.contains("temperature")) {
            val wC = flags.getOrElse("weight-col", "n_tokens")
            operators.Mixture.temperatureFactors(input, domainC, wC,
                flags("temperature").toDouble)
              .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
          } else need("factors").split(",").map { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => k -> v.toDouble
              case _ => throw new IllegalArgumentException(
                s"--factors wants name=factor pairs, got: '$kv'\n$usage")
            }
          }.toMap
        operators.Mixture.materialize(input,
          domainCol = domainC, keyCol = need("key-col"),
          factors = factors,
          default = flags.getOrElse("default",
            if (flags.contains("balance")) "0.0" else "1.0").toDouble)

      case "datasheet" =>
        // one-row corpus release card (q222)
        operators.Describe.corpusDatasheet(
          spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"),
          flags.getOrElse("lang-col", "lang"))

      case "heaps" =>
        // Heaps'-law vocabulary-growth fit over doc-id order (q212)
        operators.Heaps.heapsFit(spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"))

      case "wordpiece" =>
        // greedy WordPiece segmentation of the corpus's distinct words (q209)
        val docs = spark.read.parquet(need("input"))
        val txtC = flags.getOrElse("text-col", "text")
        val v = operators.WordPiece.vocabFromCorpus(docs, txtC,
          maxLen = flags.getOrElse("max-len", "2").toInt,
          minCount = flags.getOrElse("min-count", "2").toLong)
        operators.WordPiece.encodeWords(docs, txtC, v,
          maxLen = flags.getOrElse("max-len", "2").toInt)

      case "budget-select" =>
        // greedy token-budget selection by score density (q208);
        // --group-col runs an independent budget per group (q220)
        val bsIn = spark.read.parquet(need("input"))
        val bsId = flags.getOrElse("id-col", "doc_id")
        flags.get("group-col") match {
          case Some(g) =>
            operators.Sampling.budgetSelectPerGroup(bsIn, g, bsId,
              need("score-col"), need("cost-col"), need("budget").toLong)
          case None =>
            operators.Sampling.budgetSelect(bsIn, bsId,
              need("score-col"), need("cost-col"), need("budget").toLong)
        }

      case "snapdiff" =>
        // corpus snapshot diff: per-id status, or --card for the summary
        val o = spark.read.parquet(need("old"))
        val n = spark.read.parquet(need("new"))
        val idC = flags.getOrElse("id-col", "doc_id")
        val txtC = flags.getOrElse("text-col", "text")
        if (flags.contains("card")) operators.Snapshot.diffCard(o, n, idC, txtC)
        else operators.Snapshot.diff(o, n, idC, txtC)

      case "kcenter" =>
        // k-center greedy coreset selection over a vector column (q204);
        // --group-col runs the per-domain grouped form (q211)
        val kcIn = spark.read.parquet(need("input"))
        val kcId = flags.getOrElse("id-col", "vec_id")
        val kcVec = flags.getOrElse("vec-col", "embedding")
        val kcK = flags.getOrElse("k", "16").toInt
        val kcM = flags.getOrElse("metric", "EUCLIDEAN")
        flags.get("group-col") match {
          case Some(g) =>
            operators.Coreset.kCenterPerGroup(kcIn, g, kcId, kcVec, kcK, kcM)
          case None =>
            operators.Coreset.kCenterGreedy(kcIn, kcId, kcVec, kcK, kcM)
        }

      case "mmr" =>
        // greedy diversified top-k over per-query candidate sets (q201)
        operators.Mmr.mmrSelect(
          spark.read.parquet(need("input")),
          queryCol = flags.getOrElse("query-col", "query_id"),
          idCol = flags.getOrElse("id-col", "doc_id"),
          relCol = flags.getOrElse("rel-col", "rel"),
          vecCol = flags.getOrElse("vec-col", "embedding"),
          lambda = flags.getOrElse("lambda", "0.7").toDouble,
          k = flags.getOrElse("k", "10").toInt)

      case "doremi" =>
        // excess-loss multiplicative-weights domain reweighting (q200)
        operators.Mixture.doremiFactors(
          spark.read.parquet(need("input")),
          need("domain-col"), need("loss-col"),
          eta = flags.getOrElse("eta", "1.0").toDouble,
          smoothing = flags.getOrElse("smoothing", "0.1").toDouble,
          steps = flags.getOrElse("steps", "3").toInt,
          refCol = flags.get("ref-col"))

      case "tfidf" =>
        // sparse TF-IDF document vectors (df-pruned smoothed idf)
        operators.TfIdf.tfidf(spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"),
          minDf = flags.getOrElse("min-df", "1").toInt)

      case "hashembed" =>
        // model-free signed feature-hashing doc embedding (q225)
        operators.TfIdf.hashedEmbedding(
          spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"),
          dim = flags.getOrElse("dim", "64").toInt,
          mode = hashMode)

      case "hashtf" =>
        // hashing-trick term counts (no vocabulary pass)
        operators.TfIdf.hashedTf(spark.read.parquet(need("input")),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"),
          nBuckets = flags.getOrElse("n-buckets", (1 << 18).toString).toInt,
          mode = hashMode)

      case "vocab" =>
        // exact top-k vocabulary (tokenizer-training precursor): map-side-
        // combined count per token + deterministic (count desc, token asc)
        // TakeOrdered — the q127 composition
        val txtC = flags.getOrElse("text-col", "text")
        spark.read.parquet(need("input"))
          .select(explode(graft.functions.TextFunctions.tokens(lower(col(txtC)))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= flags.getOrElse("min-count", "1").toLong)
          .orderBy(col("cnt").desc, col("tok"))
          .limit(flags.getOrElse("k", "100").toInt)

      case "curriculum" =>
        // easy-to-hard stage assignment + seeded within-stage shuffle
        // (q171); --salt is the epoch reshuffle knob
        operators.Sampling.curriculumSchedule(
          spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          need("difficulty-col"),
          k = flags.getOrElse("k", "4").toInt,
          salt = flags.getOrElse("salt", "curriculum"))

      case "winsorize" =>
        // outlier-robust clipping to median ± c·MAD (q172); --group-col
        // fences per group instead (q181)
        val win = spark.read.parquet(need("input"))
        val vc = flags.getOrElse("value-col", "value")
        val cf = flags.getOrElse("c", "3.0").toDouble
        flags.get("group-col") match {
          case Some(g) => operators.ProfileStats.groupedMadWinsorize(win, g, vc, cf)
          case None => operators.ProfileStats.madWinsorize(win, vc, cf)
        }

      case "novelty" =>
        // 1 - max Jaccard vs any other doc (q183)
        operators.Dedup.noveltyScores(
          spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("text-col", "text"),
          n = flags.getOrElse("n", "3").toInt,
          threshold = flags.getOrElse("threshold", "0.3").toDouble)

      case "entropy" =>
        // per-doc character-entropy quality signal (q182)
        spark.read.parquet(need("input")).select(
          col(flags.getOrElse("id-col", "doc_id")),
          graft.functions.TextFunctions.charEntropy(
            col(flags.getOrElse("text-col", "text"))).as("entropy"))

      case "ensemble" =>
        // rank-average quality blend over --signals columns (q168)
        operators.Ranking.rankEnsemble(
          spark.read.parquet(need("input")),
          need("signals").split(",").toSeq,
          flags.getOrElse("id-col", "doc_id"))

      case "keepbest" =>
        // near-dup clusters keep the highest --score-col member (q169)
        val docs = spark.read.parquet(need("input"))
        val idC = flags.getOrElse("id-col", "doc_id")
        val pairs = operators.Dedup.ngramJaccardPairs(docs, idC,
          flags.getOrElse("text-col", "text"),
          n = flags.getOrElse("n", "3").toInt,
          threshold = flags.getOrElse("threshold", "0.8").toDouble)
        operators.Dedup.keepBestPerCluster(docs, idC, need("score-col"), pairs)

      case "cms" =>
        // Count-Min frequency sketch: --score emits the per-doc
        // heavy-hitter token fraction (q177), default emits the heavy
        // hitters themselves (q166) — constant depth×width grid either way
        val docs = spark.read.parquet(need("input"))
        val txtC = flags.getOrElse("text-col", "text")
        val depth = flags.getOrElse("depth", "4").toInt
        val width = flags.getOrElse("width", "65536").toInt
        val threshold = flags.getOrElse("threshold", "100").toLong
        if (flags.contains("score")) {
          val toks = docs.select(explode(split(lower(col(txtC)), " ")).as("term"))
            .filter(col("term") =!= "")
          val grid = operators.Cms.build(toks, "term", depth, width, hashMode)
          operators.Cms.commonTokenFraction(docs, grid, depth,
            flags.getOrElse("id-col", "doc_id"), txtC, threshold,
            mode = hashMode)
        } else operators.Cms.heavyHitters(docs, txtC, depth, width, threshold,
          hashMode)

      case "mg-heavy" =>
        // Misra-Gries guaranteed heavy hitters: k-counter sketch pass +
        // exact count restricted to the surviving candidates (q199)
        operators.Freq.guaranteedHeavyTokens(
          spark.read.parquet(need("input")),
          flags.getOrElse("text-col", "text"),
          flags.getOrElse("k", "100").toInt)

      case "gquantiles" =>
        // exact per-group quantiles without per-group windows (q178)
        operators.Ranking.groupedQuantiles(
          spark.read.parquet(need("input")),
          need("group-col"), need("value-col"),
          flags.getOrElse("ps", "0.25,0.5,0.75").split(",").toSeq.map(_.toDouble))

      case "viterbi" =>
        // optimal unigram-LM segmentation scores per vocabulary word
        // (q176); --em runs one hard-EM re-estimation instead (q224)
        val vIn = spark.read.parquet(need("input"))
        val vTxt = flags.getOrElse("text-col", "text")
        val vMax = flags.getOrElse("max-piece-len", "2").toInt
        if (flags.contains("em"))
          operators.UnigramSeg.hardEm(vIn, vTxt,
            iters = flags.getOrElse("iters", "1").toInt, maxPieceLen = vMax)
        else operators.UnigramSeg.wordBestScores(vIn, vTxt, vMax)

      case "pagerank" =>
        // damped power iteration over an edge parquet (src, dst); --eps
        // switches to the convergence-stopped form, --weight-col to the
        // weighted walk (contrib = r·w/Σ_out w)
        val prEdges = spark.read.parquet(need("edges"))
        val prW = flags.get("weight-col")
        val prD = flags.getOrElse("damping", "0.85").toDouble
        val prSrc = flags.getOrElse("src-col", "src")
        val prDst = flags.getOrElse("dst-col", "dst")
        flags.get("eps") match {
          case Some(eps) =>
            val (ranks, t, converged) = operators.PageRank.pageRankUntil(
              prEdges, eps.toDouble,
              maxIters = flags.getOrElse("iters", "50").toInt,
              damping = prD, srcCol = prSrc, dstCol = prDst, weightCol = prW)
            ranks.withColumn("iters_run", lit(t))
              .withColumn("converged", lit(converged))
          case None =>
            operators.PageRank.pageRank(prEdges,
              iters = flags.getOrElse("iters", "10").toInt,
              damping = prD, srcCol = prSrc, dstCol = prDst, weightCol = prW)
        }

      case "coreness" =>
        // full k-core decomposition: (id, coreness) by incremental peeling
        operators.KCore.coreness(spark.read.parquet(need("edges")),
          maxRounds = flags.getOrElse("max-rounds", "200").toInt,
          srcCol = flags.getOrElse("src-col", "src"),
          dstCol = flags.getOrElse("dst-col", "dst"))

      case "hnsw-build" =>
        // per-cell navigable-graph bundle: KMeans coarse quantizer routes,
        // each cell carries its own NSW graph; servable by `hnsw-search
        // --index PATH` alone
        val hbBase = spark.read.parquet(need("input"))
        val hbId = flags.getOrElse("id-col", "vec_id")
        val hbVec = flags.getOrElse("vec-col", "embedding")
        val hbMetric = flags.getOrElse("metric", "COSINE")
        val hbCents = operators.Ann.trainCentroids(spark, hbBase,
          flags.getOrElse("n-list", "16").toInt, hbId, hbVec)
        val hbIndex = operators.Hnsw.hnswIndex(hbBase, hbCents,
          m = flags.getOrElse("m", "8").toInt,
          efConstruction = flags.getOrElse("ef-construction", "32").toInt,
          metric = hbMetric, idCol = hbId, vecCol = hbVec)
        operators.Hnsw.writeBundle(hbIndex, hbCents, need("out"), hbId, hbVec)
        operators.Ann.cellOccupancy(
          spark.read.parquet(s"${need("out")}/cells"))

      case "hnsw-search" =>
        // serve a hnsw-build bundle: probed-cell pruning + per-cell beam
        operators.Hnsw.searchBundle(spark.read.parquet(need("query")),
          need("index"),
          k = flags.getOrElse("k", "10").toInt,
          nProbe = flags.getOrElse("n-probe", "4").toInt,
          ef = flags.getOrElse("ef", "64").toInt,
          metric = flags.getOrElse("metric", "COSINE"),
          idCol = flags.getOrElse("id-col", "vec_id"),
          vecCol = flags.getOrElse("vec-col", "embedding"),
          excludeSelf = flags.contains("exclude-self"))

      case "convert" =>
        // `convert [file] --input --output` (reference README.md:50,
        // 03-cli-reference.md:245-251): format from each path's extension.
        // Readers: xvec family / parquet (readVectors) / csv-json-array /
        // json; sinks: xvec family / parquet / csv / json / yaml.
        val cvIn = need("input")
        val cvOut = need("output")
        val rows =
          if (cvIn.endsWith(".csv")) sources.CsvJsonArray.read(spark, cvIn)
            .select(col("_c0").cast("long").as("ordinal"), col("vector"))
          else if (cvIn.endsWith(".json"))
            spark.read.json(cvIn).select(col("ordinal").cast("long"),
              col("vector").cast("array<float>"))
          else readVectors(spark, cvIn)
        val n =
          if (cvOut.endsWith(".csv")) {
            sources.VectorSinks.writeCsv(rows, cvOut); rows.count()
          } else if (cvOut.endsWith(".json")) {
            sources.VectorSinks.writeJson(rows, cvOut); rows.count()
          } else if (cvOut.endsWith(".yaml")) {
            sources.VectorSinks.writeYaml(rows, cvOut); rows.count()
          } else if (cvOut.endsWith(".parquet")) {
            rows.write.mode("overwrite").parquet(cvOut); rows.count()
          } else XvecIO.write(rows, cvOut)
        import spark.implicits._
        Seq((cvIn, cvOut, n)).toDF("input", "output", "records")

      case "hnsw-maintain" =>
        // takedown discipline for a hnsw-build bundle: --tombstone hides
        // ids immediately (no graph file touched; search treats them as
        // beam-ineligible), --compact rebuilds affected cells and swaps
        // generations crash-atomically. Report: live/tombstone counts.
        val hmBundle = need("bundle")
        flags.get("tombstone").foreach { p =>
          operators.Hnsw.tombstoneFromBundle(spark.read.parquet(p), hmBundle,
            flags.getOrElse("id-col", "vec_id"))
        }
        if (flags.contains("compact"))
          operators.Hnsw.compactBundle(spark, hmBundle,
            m = flags.getOrElse("m", "8").toInt,
            efConstruction = flags.getOrElse("ef-construction", "32").toInt,
            metric = flags.getOrElse("metric", "COSINE"))
        val hmTomb = new java.io.File(s"$hmBundle/tombstones")
        val hmTn = if (hmTomb.exists())
          spark.read.parquet(hmTomb.toString).count() else 0L
        spark.read.parquet(s"$hmBundle/cells")
          .agg(count(lit(1)).as("rows"))
          .select(col("rows"), lit(hmTn).as("tombstones"))

      case "phrase" =>
        // exact positional phrase match; --terms is the space-free CSV form
        val pIn = spark.read.parquet(need("input"))
        val post = operators.PhraseSearch.positionalPostings(pIn,
          flags.getOrElse("id-col", "doc_id"), flags.getOrElse("text-col", "text"))
        operators.PhraseSearch.phraseOccurrences(post,
          need("terms").split(",").toSeq)

      case "proximity" =>
        // anchored slop search: all terms within --window of the first
        val xIn = spark.read.parquet(need("input"))
        val post = operators.PhraseSearch.positionalPostings(xIn,
          flags.getOrElse("id-col", "doc_id"), flags.getOrElse("text-col", "text"))
        operators.PhraseSearch.proximityDocs(post,
          need("terms").split(",").toSeq,
          window = flags.getOrElse("window", "5").toInt)

      case "wand" =>
        // block-max pruned exact BM25 top-k; --card reports the saving
        val wIn = spark.read.parquet(need("input"))
        val (post, bm) = operators.Wand.impactIndex(wIn,
          flags.getOrElse("id-col", "doc_id"), flags.getOrElse("text-col", "text"),
          blockSize = flags.getOrElse("block-size", "64").toLong)
        val wTerms = need("terms").split(",").toSeq
        val wK = flags.getOrElse("k", "10").toInt
        if (flags.contains("card")) operators.Wand.pruningCard(post, bm, wTerms, wK)
        else operators.Wand.topK(post, bm, wTerms, wK)

      case "rvq-encode" =>
        // residual VQ codes (learned sequential-KMeans stages)
        val rIn = spark.read.parquet(need("input"))
        val rCbs = operators.Rvq.trainStageCodebooks(rIn,
          stages = flags.getOrElse("stages", "2").toInt,
          k = flags.getOrElse("k", "16").toInt,
          vecCol = flags.getOrElse("vec-col", "embedding"),
          seed = flags.getOrElse("seed", "42").toLong)
        if (flags.contains("error-card"))
          operators.Rvq.errorCard(rIn, rCbs,
            idCol = flags.getOrElse("id-col", "vec_id"),
            vecCol = flags.getOrElse("vec-col", "embedding"))
        else operators.Rvq.encode(rIn, rCbs,
          idCol = flags.getOrElse("id-col", "vec_id"),
          vecCol = flags.getOrElse("vec-col", "embedding"))

      case "url-canon" =>
        // canonicalize a URL column; --dedup-card groups the collapses
        val uIn = spark.read.parquet(need("input"))
        val uCol = flags.getOrElse("url-col", "url")
        val uId = flags.getOrElse("id-col", "doc_id")
        val canon = uIn.select(col(uId),
          graft.functions.UrlFunctions.canonicalizeUrl(col(uCol)).as("canon_url"))
        if (flags.contains("dedup-card"))
          canon.groupBy("canon_url")
            .agg(min(col(uId)).as("keeper"), count(lit(1)).as("n_docs"))
            .filter(col("n_docs") > 1)
        else canon

      case "hits" =>
        // hub/authority mutual power iteration over an edge parquet
        operators.Hits.hits(spark.read.parquet(need("edges")),
          iters = flags.getOrElse("iters", "8").toInt,
          srcCol = flags.getOrElse("src-col", "src"),
          dstCol = flags.getOrElse("dst-col", "dst"))

      case "scc" =>
        // strongly connected components; --condense emits the DAG,
        // --bowtie the core/in/out/other macro-structure classes
        val sccEdges = spark.read.parquet(need("edges"))
        val sccSrc = flags.getOrElse("src-col", "src")
        val sccDst = flags.getOrElse("dst-col", "dst")
        val sccW = flags.getOrElse("max-waves", "50").toInt
        if (flags.contains("bowtie"))
          operators.Scc.bowTie(sccEdges, sccSrc, sccDst, maxWaves = sccW)
        else {
          val assign = operators.Scc.scc(sccEdges, sccSrc, sccDst, maxWaves = sccW)
          if (flags.contains("condense"))
            operators.Scc.condense(sccEdges, assign, sccSrc, sccDst)
          else assign
        }

      case "katz" =>
        operators.Katz.katz(spark.read.parquet(need("edges")),
          iters = flags.getOrElse("iters", "10").toInt,
          alpha = flags.getOrElse("alpha", "0.2").toDouble,
          srcCol = flags.getOrElse("src-col", "src"),
          dstCol = flags.getOrElse("dst-col", "dst"))

      case "harmonic" =>
        // bounded-radius centrality; --nf emits the shell/ball curve
        val hEdges = spark.read.parquet(need("edges"))
        val hR = flags.getOrElse("radius", "3").toInt
        val hSrc = flags.getOrElse("src-col", "src")
        val hDst = flags.getOrElse("dst-col", "dst")
        if (flags.contains("nf"))
          operators.Neighborhoods.neighborhoodFunction(hEdges, hR, hSrc, hDst)
        else if (flags.contains("hyperball"))
          operators.Neighborhoods.hyperBall(hEdges, hR, hSrc, hDst,
            lgK = flags.getOrElse("lg-k", "12").toInt)
        else operators.Neighborhoods.harmonicCentrality(hEdges, hR, hSrc, hDst)

      case "sssp" =>
        // bounded-hop weighted shortest paths from a seed parquet
        operators.Neighborhoods.boundedWeightedDistances(
          spark.read.parquet(need("edges")), spark.read.parquet(need("seeds")),
          rounds = flags.getOrElse("rounds", "4").toInt,
          srcCol = flags.getOrElse("src-col", "src"),
          dstCol = flags.getOrElse("dst-col", "dst"),
          weightCol = flags.getOrElse("weight-col", "w"),
          seedIdCol = flags.getOrElse("id-col", "id"))

      case "walks" =>
        // deterministic truncated walks; --pairs emits skip-gram pairs
        val wEdges = spark.read.parquet(need("edges"))
        val wStarts = spark.read.parquet(need("starts"))
        val wk = operators.RandomWalks.walks(wEdges, wStarts,
          length = flags.getOrElse("length", "5").toInt,
          idCol = flags.getOrElse("id-col", "id"),
          srcCol = flags.getOrElse("src-col", "src"),
          dstCol = flags.getOrElse("dst-col", "dst"),
          seed = flags.getOrElse("seed", "0").toLong)
        if (flags.contains("pairs"))
          operators.RandomWalks.skipGramPairs(wk,
            window = flags.getOrElse("window", "2").toInt)
        else wk

      case "textrank" =>
        operators.TextRank.keywords(spark.read.parquet(need("input")),
          flags.getOrElse("text-col", "text"),
          topK = flags.getOrElse("k", "20").toInt,
          window = flags.getOrElse("window", "2").toInt,
          minCount = flags.getOrElse("min-count", "5").toLong,
          iters = flags.getOrElse("iters", "10").toInt)

      case "funnel" =>
        operators.Funnel.funnel(spark.read.parquet(need("events")),
          need("steps").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          maxGapSeconds = flags.get("max-gap-seconds").map(_.toLong))

      case "transitions" =>
        operators.Funnel.transitionMatrix(spark.read.parquet(need("events")))

      case "matryoshka" =>
        // readVectors normalizes any vector source to (ordinal, vector)
        operators.Matryoshka.recallCurve(
          readVectors(spark, need("query")), readVectors(spark, need("base")),
          dims = need("dims").split(",").map(_.trim.toInt).toSeq,
          k = flags.getOrElse("k", "10").toInt,
          metric = flags.getOrElse("metric", "COSINE"),
          idCol = "ordinal", vecCol = "vector")

      case "huggingface" =>
        // S17 (reference 03-cli-reference.md:437-455): --list prints the
        // repo inventory; otherwise download --file into --output via
        // distributed ranged GETs, optional --sha256 whole-file verify.
        // --endpoint overrides the hub base URL (loopback fixture in the
        // zero-egress sandbox).
        val hfEndpoint = flags.getOrElse("endpoint", sources.HfFetch.DefaultEndpoint)
        val hfRev = flags.getOrElse("revision", "main")
        if (flags.contains("list"))
          sources.HfFetch.listFiles(spark, need("repo"), hfRev, hfEndpoint)
        else {
          val (path, report) = sources.HfFetch.download(spark, need("repo"),
            need("file"), need("output"), hfRev, hfEndpoint,
            sha256 = flags.get("sha256"))
          System.err.println(s"[huggingface] downloaded to $path")
          report
        }

      case "warc-read" =>
        // ISO 28500 crawl container → (file, warc_type, url, content_type,
        // content_length, warc_date, offset, length, payload BINARY, text);
        // one task per warc file, HTTP envelopes stripped, charset-aware
        sources.WarcIO.read(spark, need("input"))

      case "link-extract" =>
        // crawled page → link-graph edges (href resolved RFC 3986 against
        // the page url, anchor text kept) — the PageRank-family input
        operators.LinkExtract.extract(spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("html-col", "html"),
          flags.getOrElse("url-col", "url"))

      case "image-hash" =>
        // perceptual dHash per image (null = undecodable); --pairs runs
        // the pigeonhole near-dup join over the hashes
        val ihHashes = operators.ImageHash.dHashDf(
          spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("payload-col", "payload"))
        if (flags.contains("pairs"))
          operators.ImageHash.nearDupPairs(ihHashes,
            flags.getOrElse("max-hamming", "3").toInt,
            flags.getOrElse("chunks", "4").toInt,
            flags.getOrElse("bucket-cap", "0").toInt)
        else ihHashes

      case "frontier" =>
        // next crawl wave: candidates deduped, minus seen, per-host
        // politeness cap (tightened by --delays crawl-delay rates over
        // --wave-seconds), global budget (TakeOrdered bounded heap);
        // --recrawl-after + --now re-admit stale fetches (seen needs a
        // fetched_at column then)
        val frCand = spark.read.parquet(need("candidates"))
        val frSeen = spark.read.parquet(need("seen"))
        val frPerHost = flags.getOrElse("per-host", "10").toInt
        val frTotal = flags.getOrElse("total", "1000").toInt
        val frUrl = flags.getOrElse("url-col", "url")
        val frScore = flags.getOrElse("score-col", "score")
        val frDelays = flags.get("delays").map(spark.read.parquet(_))
        val frWave = flags.getOrElse("wave-seconds", "0").toDouble
        flags.get("recrawl-after") match {
          case Some(after) => operators.Frontier.selectWithRecrawl(
            frCand, frSeen, frPerHost, frTotal,
            nowSeconds = need("now").toLong,
            recrawlAfterSeconds = after.toLong,
            urlCol = frUrl, scoreCol = frScore,
            fetchedAtCol = flags.getOrElse("fetched-at-col", "fetched_at"),
            hostDelays = frDelays, waveSeconds = frWave)
          case None => operators.Frontier.select(frCand, frSeen,
            frPerHost, frTotal, frUrl, frScore, frDelays, frWave)
        }

      case "warc-write-dedup" =>
        // cross-crawl payload dedup: digest-matched pages persist as
        // zero-payload revisit records against the prior crawl's index
        val prevIdx = sources.CdxIO.readCdxj(spark, need("prev-index"))
        sources.WarcIO.writeShardsWithRevisits(
          spark.read.parquet(need("input")), need("output"), prevIdx,
          urlCol = flags.getOrElse("url-col", "url"),
          payloadCol = flags.getOrElse("payload-col", "payload"),
          contentTypeCol = flags.get("content-type-col"),
          gzip = flags.contains("gzip"))

      case "audio-hash" =>
        // energy-delta fingerprint per WAV clip (null = undecodable or
        // too short); --pairs runs the pigeonhole near-dup join
        val ahHashes = operators.AudioHash.aHashDf(
          spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("payload-col", "payload"))
        if (flags.contains("pairs"))
          operators.AudioHash.nearDupPairs(ahHashes,
            flags.getOrElse("max-hamming", "3").toInt,
            flags.getOrElse("chunks", "4").toInt,
            flags.getOrElse("bucket-cap", "0").toInt)
        else ahHashes

      case "sitemap-extract" =>
        // sitemaps.org urlset documents → (id, loc, lastmod) page rows
        operators.Sitemaps.extract(spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "host"),
          flags.getOrElse("xml-col", "xml"))

      case "robots-filter" =>
        // RFC 9309 compliance verdicts: rules compile once per host,
        // pages join on the host key (never a per-page re-parse)
        val rfCompiled = operators.RobotsTxt.compileRules(
          spark.read.parquet(need("robots")), flags.getOrElse("agent", "*"),
          flags.getOrElse("host-col", "host"),
          flags.getOrElse("txt-col", "robots_txt"))
        operators.RobotsTxt.filterAllowed(
          spark.read.parquet(need("pages")), rfCompiled,
          flags.getOrElse("url-col", "url"),
          flags.getOrElse("host-col", "host"))

      case "wet-export" =>
        // extracted text → WET conversion records (.gz = per-record
        // members, randomly addressable via cdx-index); --shards N writes
        // one shard per partition (the corpus-scale form)
        import spark.implicits._
        val wetIn = spark.read.parquet(need("input"))
        val wetOut = need("output")
        flags.get("shards") match {
          case Some(n) =>
            sources.WarcIO.writeWetShards(wetIn.repartition(n.toInt), wetOut,
              flags.getOrElse("url-col", "url"),
              flags.getOrElse("text-col", "text"))
          case None =>
            val wetN = sources.WarcIO.writeWet(wetIn, wetOut,
              flags.getOrElse("url-col", "url"),
              flags.getOrElse("text-col", "text"))
            Seq((wetOut, wetN)).toDF("output", "records")
        }

      case "cdx-index" =>
        // sorted CDXJ index over a WARC shard/directory (urlkey timestamp
        // {json(offset,length,digest,…)}) — the random-access map a 100 TB
        // crawl is read through; --output writes the sorted text artifact
        val cdxIdx = sources.CdxIO.index(spark, need("input"))
        (flags.get("output"), flags.get("shards")) match {
          case (Some(dir), Some(n)) =>
            // Common Crawl layout: sorted range-partitioned shards +
            // cluster.idx; returns the receipt frame
            sources.CdxIO.writeCdxjShards(cdxIdx, dir, n.toInt)
          case (Some(p), None) =>
            val n = sources.CdxIO.writeCdxj(cdxIdx, p)
            System.err.println(s"[cdx-index] $n records -> $p")
            sources.CdxIO.readCdxj(spark, p)
          case _ => cdxIdx
        }

      case "cdx-fetch" =>
        // index-driven random access: read a CDXJ file, optionally narrow
        // by urlkey prefix (the sorted-index probe), seek directly to the
        // selected records — the shard is never scanned
        val cdxAll = sources.CdxIO.readCdxj(spark, need("index"))
        val cdxSel = flags.get("urlkey-prefix")
          .map(p => cdxAll.filter(col("urlkey").startsWith(p)))
          .getOrElse(cdxAll)
        sources.CdxIO.fetchRecords(cdxSel).drop("payload")

      case "cdx-lookup" =>
        // shard-pruned point reads: probe cluster.idx, read only covering
        // shards, filter to the keys; --fetch chases the hits into the
        // WARC via coalesced byte-range reads
        val hits = sources.CdxIO.lookupKeys(spark, need("dir"),
          need("urlkeys").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        if (flags.contains("fetch"))
          sources.CdxIO.fetchRecords(hits).drop("payload")
        else hits

      case "media-probe" =>
        // container-metadata probe: MP3 frame-header walk / MP4 box walk
        // (header-only — decode stays stubbed) + WAV/PPM/BMP; null
        // container = unprobeable (quarantine)
        operators.Multimodal.mediaProbe(spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "media_id"),
          flags.getOrElse("payload-col", "bytes"))

      case "html-extract" =>
        // boilerplate removal: block-scored main text from an html column
        operators.HtmlExtract.extract(spark.read.parquet(need("input")),
          flags.getOrElse("id-col", "doc_id"),
          flags.getOrElse("html-col", "html"),
          minChars = flags.getOrElse("min-chars", "25").toInt,
          maxLinkDensity = flags.getOrElse("max-link-density", "0.34").toDouble)

      case "check-endian" =>
        // endianness sanity check over xvec files (reference README.md:45)
        sources.xvec.CheckEndian.check(spark,
          need("input").split(",").map(_.trim).filter(_.nonEmpty).toSeq)

      case "merkle" =>
        // A12/A13 (reference README.md:88-97, MerkleTreeCLI.java; docs
        // 03-cli-reference.md:363-392): create builds the flat tree for a
        // file (--output saves it as parquet), verify re-hashes a file
        // against a stored tree, diff lists mismatched chunks of two files.
        import spark.implicits._
        def treeOf(path: String) = {
          val (shape, chunks) = operators.Merkle.chunkFile(spark, path)
          (shape, operators.Merkle.buildTree(chunks, shape))
        }
        subMode.getOrElse("create") match {
          case "create" =>
            val (shape, tree) = treeOf(need("file"))
            val df = tree.zipWithIndex
              .map { case (h, i) => (i.toLong, h) }.toDF("node_idx", "hash")
            flags.get("output").foreach(df.write.mode("overwrite").parquet(_))
            System.err.println(s"[merkle] root ${tree.head} " +
              s"(${shape.chunkCount} chunks × ${shape.chunkSize} B)")
            df
          case "verify" =>
            // re-hash the file's leaves and compare against the stored
            // tree's leaf band — mismatched chunk rows are the verify/
            // re-fetch work queue; empty = verified
            val vFile = need("file")
            val (shape, chunks) = operators.Merkle.chunkFile(spark, vFile)
            val fresh = operators.Merkle.leafHashes(chunks)
            val stored = spark.read.parquet(need("reference"))
              .filter(col("node_idx") >= shape.offset &&
                col("node_idx") < shape.offset + shape.chunkCount)
              .select((col("node_idx") - shape.offset).cast("int").as("chunk_idx"),
                col("hash"))
            val bad = operators.Merkle.diffLeaves(fresh, stored)
            System.err.println(s"[merkle] verify $vFile: " +
              (if (bad.isEmpty) "OK" else "MISMATCH"))
            bad
          case "diff" =>
            val (_, ca) = operators.Merkle.chunkFile(spark, need("a"))
            val (_, cb) = operators.Merkle.chunkFile(spark, need("b"))
            operators.Merkle.diffLeaves(
              operators.Merkle.leafHashes(ca), operators.Merkle.leafHashes(cb))
          case other => throw new IllegalArgumentException(
            s"merkle subcommand must be create|verify|diff, got $other\n$usage")
        }

      case "jjq" =>
        // jq-like JSON extraction (reference 03-cli-reference.md:421-434):
        // one input JSON document per line (the streaming convention),
        // `.a.b[0]` paths mapped onto Spark's JsonPath (`[]` → `[*]`).
        val expr = flags.get("expr").orElse(positionals.headOption).getOrElse(
          throw new IllegalArgumentException(s"jjq requires an expression\n$usage"))
        val input = flags.get("input").orElse(positionals.lift(1)).getOrElse(
          throw new IllegalArgumentException(s"jjq requires an input file\n$usage"))
        val path = "$" + expr.replace("[]", "[*]")
        spark.read.textFile(input).toDF("json")
          .filter(length(trim(col("json"))) > 0)
          .select(get_json_object(col("json"), path).as("value"))

      case "datasets" =>
        // catalog operations (reference README.md:66-71, 03-cli-reference
        // .md:266-333): list/info browse a catalog yaml; download resolves
        // a `dataset[:profile]` spec and pulls its url via the distributed
        // ranged fetch (S13-S15 transport: file/http schemes alike).
        val catPath = need("at")
        val entries = layout.Catalog.parseCatalog(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(catPath)), "UTF-8"))
        import spark.implicits._
        subMode.getOrElse("list") match {
          case "list" =>
            val matched = flags.get("filter")
              .map(layout.Catalog.matchGlob(entries, _)).getOrElse(entries)
            matched.map(e => (e.name, e.url)).toDF("name", "url")
          case "info" =>
            val e = layout.Catalog.matchOne(entries, need("name"))
            e.attributes.toSeq.sortBy(_._1)
              .map { case (k, v) => (e.name, e.url, k, v) }
              .toDF("name", "url", "attribute", "value")
          case "download" =>
            val (entry, profile) = layout.Catalog.select(entries, need("spec"))
            val outDir = need("output")
            val fname = entry.url.split("/").last
            val out = java.nio.file.Paths.get(outDir, fname).toString
            val report = sources.HfFetch.fetchUrl(spark, entry.url, out)
            System.err.println(s"[datasets] ${entry.name}:$profile -> $out")
            report
          case other => throw new IllegalArgumentException(
            s"datasets subcommand must be list|download|info, got $other\n$usage")
        }

      case "fetch" =>
        // generic ranged-GET acquisition (reference 03-cli-reference.md:
        // 333-358 `fetch --url --output`): executor-parallel disjoint
        // chunks, optional whole-file sha256; shared-FS preflight inside
        sources.HfFetch.fetchUrl(spark, need("url"), need("output"),
          sha256 = flags.get("sha256"))

      case "cleanup" =>
        // `cleanup cleanfvec` (reference README.md:99): drop all-zero and
        // duplicate vectors, write the cleaned file; summary row back
        val clIn = need("input")
        val clRows = readVectors(spark, clIn)
        val cleaned = operators.Cleanup.clean(clRows, "ordinal", "vector")
        val clOut = flags.get("output")
        val kept = clOut match {
          case Some(p) => XvecIO.write(cleaned.orderBy("ordinal"), p)
          case None => cleaned.count()
        }
        import spark.implicits._
        Seq((clIn, clRows.count(), kept, clOut.getOrElse("")))
          .toDF("input", "in_rows", "kept_rows", "output")

      case "ivec-shuffle" =>
        // `generate ivec-shuffle` (reference README.md:63): seeded
        // DETERMINISTIC permutation — Knuth multiplicative hash of
        // (ordinal + seed) as the sort key (the q14 arithmetic), ordinals
        // renumbered 0..n-1 in shuffled order so the output is a valid
        // ordinal-ordered xvec file
        val shIn = need("input")
        val seed = flags.getOrElse("seed", "0").toLong
        val h = ((col("ordinal") + lit(seed)) * lit(2654435761L)) % lit(4294967296L)
        val shuffled = readVectors(spark, shIn)
          .select(col("ordinal").as("src_ordinal"), col("vector"),
            row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(h, col("ordinal")))
              .cast("long").as("ordinal"))
          .select(col("ordinal") - 1 as "ordinal", col("vector"), col("src_ordinal"))
        flags.get("output") match {
          case Some(p) =>
            XvecIO.write(shuffled.select("ordinal", "vector").orderBy("ordinal"), p)
            shuffled.select("ordinal", "src_ordinal")
          case None => shuffled.select("ordinal", "src_ordinal", "vector")
        }

      case other =>
        throw new IllegalArgumentException(s"unknown command: $other\n$usage")
    }
  }

  val usage: String =
    """usage: graft <command> [--flag value ...]
      |  describe --dataset DIR [--profile P] [--detailed]
      |  knn --base PATH --query PATH [--k N] [--metric COSINE|EUCLIDEAN|L1|DOT_PRODUCT] [--strategy auto|broadcast|chunked|partitioned] [--chunks N] [--q-blocks N] [--b-blocks N]
      |  verify_knn --base PATH --query PATH [--k N] [--metric A,B]
      |  analyze-profile --input PATH
      |  generate --count N --dim D [--seed S] --out PATH
      |  slab-import --slab DIR --ns NS --file PATH
      |  slab-export --slab DIR --ns NS --out PATH
      |  slab-analyze --slab DIR
      |  slab-delete --slab DIR --ns NS --ordinals O1,O2,...
      |  slab-compact --slab DIR --ns NS
      |  dedup --input PARQUET [--method exact|minhash|jaccard|simhash] [--threshold T] [--df-cap N] [--bucket-cap N]
      |  lsh-calibrate --input PARQUET --configs BxR,BxR,... [--perms N] [--n N] [--buckets N] [--hash md5|xx64] [--id-col C] [--text-col C]
      |  shard --input PARQUET [--shards N] [--to M] [--jump] [--hash md5|xx64] [--id-col C]
      |  linededup --input PARQUET [--id-col C] [--text-col C] [--delim D]
      |  dsir --input PARQUET --target PARQUET [--id-col C] [--text-col C] [--buckets N]
      |  decontaminate --input PARQUET --benchmark PARQUET [--threshold T] [--bloom [--m-bits N] [--k-probes N]]
      |  compute-knn --base PATH --query PATH --out DIR [--k N] [--metric M]
      |  binary-topk --input PARQUET [--queries N] [--k N] [--id-col C] [--vec-col V]
      |  rrf --inputs A.parquet,B.parquet,... [--k N] [--c N]
      |  pq-encode --input PATH --out DIR [--m N] [--ksub N] [--seed S]
      |  pq-search --index DIR --query PATH [--k N] [--chunks N | --strategy auto]
      |  hybrid-ann --base PARQUET --query PARQUET --meta C1,C2 --predicate JSON [--k N] [--n-list N] [--n-probe N [--guaranteed | --adaptive [--safety S] | --routed [--exact-max N] [--wide-frac F] [--routed-card]]] [--probes N,N,...] [--exclude-self]
      |  ivf-maintain --base PARQUET [--add PARQUET] [--delete PARQUET] [--meta C1,C2] [--n-list N] [--out BUNDLE] [--occupancy]
      |  ivf-staleness --old PARQUET --new PARQUET --queries PARQUET [--cells N] [--iters N] [--k N] [--n-probe N] [--exclude-self]
      |  rankeval --ranked PARQUET --truth PARQUET [--k N]
      |  ivf-search --index BUNDLE --query PARQUET [--k N] [--n-probe N] [--metric M] [--predicate JSON --meta C1,C2 [--guaranteed]] [--exclude-self]
      |  release --new PARQUET --bench PARQUET [--incremental --old PARQUET | --takedown PARQUET [--takedown-audit]] [--index-out PATH] [--budget N] [--threshold T] [--contam-max T] [--id-col C] [--text-col C]
      |  asof --left PARQUET --right PARQUET --key K --time T --tie C --payload a,b
      |  sample --input PARQUET --key-col K (--strata-col S --fractions n=F,... [--default F] | --weight-col W --n N | --group-col G --n N)
      |  split --input PARQUET --key-col K --splits n=W,... [--out-col C]
      |  chunk --input PARQUET [--max-tokens N] [--overlap N]
      |  quality --input PARQUET [--id-col C] [--text-col C]
      |  redact --input PARQUET [--id-col C] [--text-col C]
      |  blocklist --input PARQUET --terms T1,T2,... [--gate N] [--id-col C] [--text-col C]
      |  pack --input PARQUET [--seq-len N] [--manifest | --sequences | --batches | --report | --whole [--group-col C] [--report]] [--id-col C] [--text-col C]
      |  dupspans --input PARQUET [--width N] [--remove | --char [--min-len N]] [--id-col C] [--text-col C]
      |  semdedup --input PARQUET [--threshold T] [--n-bits N] [--n-tables N] [--cells K] [--iters N] [--id-col C] [--vec-col C]
      |  bm25 --input PARQUET --terms a,b,c [--k N] [--ranker bm25|ql [--mu M]] [--id-col C] [--text-col C]
      |  mix --input PARQUET --domain-col D --key-col K (--factors n=F,... | --balance | --temperature A [--weight-col W]) [--default F]
      |  doremi --input PARQUET --domain-col D --loss-col L [--eta F] [--smoothing F] [--steps N] [--ref-col R]
      |  mmr --input PARQUET [--query-col Q] [--id-col C] [--rel-col R] [--vec-col V] [--lambda F] [--k N]
      |  kcenter --input PARQUET [--group-col G] [--id-col C] [--vec-col V] [--k N] [--metric M]
      |  snapdiff --old PARQUET --new PARQUET [--card] [--id-col C] [--text-col C]
      |  budget-select --input PARQUET --score-col S --cost-col C --budget N [--group-col G] [--id-col C]
      |  wordpiece --input PARQUET [--max-len N] [--min-count N] [--text-col C]
      |  heaps --input PARQUET [--id-col C] [--text-col C]
      |  datasheet --input PARQUET [--id-col C] [--text-col C] [--lang-col C]
      |  surprisal --input PARQUET [--bigram | --kn [--discount D]] [--id-col C] [--text-col C]
      |  buckets --input PARQUET [--k N] [--thresholds [--approx]] [--id-col C] [--text-col C]
      |  logreg --input PARQUET --features C1,C2 --label-col C [--steps N] [--lr F] [--score [--id-col C]]
      |  hardneg --input PARQUET [--k N] [--anchors N] [--metric M] [--id-col C] [--vec-col C] [--label-col C]
      |  cluster --input PARQUET [--k N] [--iters N] [--metric M] [--per-cell M | --drop-proto F] [--id-col C] [--vec-col C]
      |  bpe --input PARQUET [--merges N] [--bytes] [--encode | --ids | --decode] [--id-col C] [--text-col C] [--max-merges N]
      |  pca --input PARQUET [--k N] [--covariance | --standardize | --components | --random] [--id-col C] [--vec-col C]
      |  normalize --input PARQUET [--id-col C] [--text-col C]
      |  semdecontaminate --input PARQUET --benchmark PARQUET [--bench-chunks N] [--id-col C] [--vec-col C]
      |  vocab --input PARQUET [--k N] [--min-count N] [--id-col C] [--text-col C]
      |  tfidf --input PARQUET [--min-df N] [--id-col C] [--text-col C]
      |  hashtf --input PARQUET [--n-buckets N] [--id-col C] [--text-col C]
      |  hashembed --input PARQUET [--dim N] [--id-col C] [--text-col C]
      |  cms --input PARQUET [--depth N] [--width N] [--threshold N] [--score [--id-col C]] [--text-col C]
      |  mg-heavy --input PARQUET [--k N] [--text-col C]
      |  (sketch/bucketing commands take [--hash md5|xx64|poly]: xx64 is the
      |   fast production default, md5 the engine-neutral oracle-parity mode,
      |   poly the rolling-window mode for char-level exactsubstr)
      |  viterbi --input PARQUET [--em [--iters N]] [--max-piece-len N] [--text-col C]
      |  pagerank --edges PARQUET [--iters N] [--damping D] [--eps E] [--weight-col W] [--src-col C] [--dst-col C]
      |  coreness --edges PARQUET [--max-rounds N] [--src-col C] [--dst-col C]
      |  hnsw-build --input PARQUET --out BUNDLE [--n-list N] [--m N] [--ef-construction N] [--metric M] [--id-col C] [--vec-col C]
      |  hnsw-search --index BUNDLE --query PARQUET [--k N] [--n-probe N] [--ef N] [--metric M] [--exclude-self]
      |  phrase --input PARQUET --terms w1,w2,... [--id-col C] [--text-col C]
      |  proximity --input PARQUET --terms w1,w2,... [--window N] [--id-col C] [--text-col C]
      |  wand --input PARQUET --terms w1,w2,... [--k N] [--block-size N] [--card]
      |  rvq-encode --input PARQUET [--stages N] [--k N] [--seed S] [--error-card] [--id-col C] [--vec-col C]
      |  url-canon --input PARQUET [--url-col C] [--id-col C] [--dedup-card]
      |  gquantiles --input PARQUET --group-col G --value-col C [--ps P1,P2,...]
      |  curriculum --input PARQUET --difficulty-col C [--k N] [--salt S] [--id-col C]
      |  winsorize --input PARQUET [--value-col C] [--c F] [--group-col G]
      |  novelty --input PARQUET [--n N] [--threshold T] [--id-col C] [--text-col C]
      |  entropy --input PARQUET [--id-col C] [--text-col C]
      |  ensemble --input PARQUET --signals C1,C2 [--id-col C]
      |  keepbest --input PARQUET --score-col C [--threshold T] [--n N] [--id-col C] [--text-col C]
      |  hits --edges PARQUET [--iters N] [--src-col C] [--dst-col C]
      |  scc --edges PARQUET [--max-waves N] [--condense | --bowtie] [--src-col C] [--dst-col C]
      |  katz --edges PARQUET [--iters N] [--alpha A] [--src-col C] [--dst-col C]
      |  harmonic --edges PARQUET [--radius N] [--nf | --hyperball [--lg-k N]] [--src-col C] [--dst-col C]
      |  sssp --edges PARQUET --seeds PARQUET [--rounds N] [--weight-col C] [--src-col C] [--dst-col C] [--id-col C]
      |  walks --edges PARQUET --starts PARQUET [--length N] [--seed S] [--pairs [--window N]] [--id-col C]
      |  textrank --input PARQUET [--k N] [--window N] [--min-count N] [--iters N] [--text-col C]
      |  funnel --events PARQUET --steps a,b,c [--max-gap-seconds N]
      |  transitions --events PARQUET
      |  matryoshka --query PATH --base PATH --dims d1,d2,... [--k N] [--metric M]
      |  huggingface [dl] --repo ORG/NAME (--file F --output DIR [--sha256 H] | --list) [--revision R] [--endpoint URL]
      |  check-endian --input XVEC[,XVEC...]
      |  convert [file] --input PATH --output PATH   (xvec/parquet/csv/json in; xvec/parquet/csv/json/yaml out)
      |  html-extract --input PARQUET [--id-col C] [--html-col C] [--min-chars N] [--max-link-density D]
      |  warc-read --input WARC|WARC.GZ|DIR
      |  link-extract --input PARQUET [--id-col C] [--html-col C] [--url-col C]
      |  robots-filter --pages PARQUET --robots PARQUET [--agent A] [--url-col C] [--host-col C] [--txt-col C]
      |  sitemap-extract --input PARQUET [--id-col C] [--xml-col C]
      |  image-hash --input PARQUET [--id-col C] [--payload-col C] [--pairs [--max-hamming N] [--chunks N] [--bucket-cap N]]
      |  audio-hash --input PARQUET [--id-col C] [--payload-col C] [--pairs [--max-hamming N] [--chunks N] [--bucket-cap N]]
      |  frontier --candidates PARQUET --seen PARQUET [--per-host N] [--total N] [--url-col C] [--score-col C] [--delays PARQUET --wave-seconds S] [--recrawl-after S --now EPOCH [--fetched-at-col C]]
      |  warc-write-dedup --input PARQUET --prev-index CDXJ --output DIR [--url-col C] [--payload-col C] [--content-type-col C] [--gzip]
      |  wet-export --input PARQUET --output WET[.warc.gz]|DIR [--url-col C] [--text-col C] [--shards N]
      |  cdx-index --input WARC|DIR [--output CDXJ|DIR [--shards N]]
      |  media-probe --input PARQUET [--id-col C] [--payload-col C]
      |  cdx-fetch --index CDXJ [--urlkey-prefix P]
      |  cdx-lookup --dir CDXDIR --urlkeys K1,K2,... [--fetch]
      |  hnsw-maintain --bundle DIR [--tombstone PARQUET] [--compact] [--id-col C] [--m N] [--ef-construction N] [--metric M]
      |  merkle create --file PATH [--output PARQUET] | merkle verify --file PATH --reference PARQUET | merkle diff --a PATH --b PATH
      |  jjq '<expr>' FILE   (or --expr E --input FILE; one JSON doc per line)
      |  datasets list --at CATALOG.yaml [--filter GLOB] | datasets info --at C --name N | datasets download --at C --spec NAME[:PROFILE] --output DIR
      |  fetch --url URL --output FILE [--sha256 H]
      |  cleanup [cleanfvec] --input PATH [--output PATH]
      |  generate ivec-shuffle --input PATH [--seed S] [--output PATH]""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = run(spark, args.toSeq)
      val out = args.toSeq.sliding(2).collectFirst {
        case Seq("--result-out", p) => p
      }
      out match {
        case Some(p) => result.write.mode("overwrite").parquet(p)
        case None    => result.show(100, truncate = false)
      }
    } finally spark.stop()
  }
}
