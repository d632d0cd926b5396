package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashMode, TextFunctions}

/** Sparse document vectorization — TF-IDF scores and hashing-trick feature
  * counts, the two standard text→vector precursors (BM25's scoring siblings;
  * `Bm25.bm25` is the query-time form, these are the corpus-wide forms a
  * classifier / clustering / near-dup stage consumes).
  *
  * Scale shape: tokenize+explode is a pure projection; term frequencies are
  * ONE (doc, term) shuffle with map-side combine; document frequencies
  * aggregate the ALREADY-DISTINCT (doc, term) rows (vocab-sized output);
  * the tf⋈df join re-keys tf by term (AQE broadcasts df when the pruned
  * vocabulary fits). `minDf` prunes the hapax tail — on web corpora most of
  * the vocabulary is singleton typos/ids whose idf is noise; pruning them
  * in df (inner join) bounds the join's build side. Feature hashing needs
  * no vocabulary at all: bucket = md5-60(term) mod nBuckets, a pure
  * projection + one (doc, bucket) aggregate, engine-replayable by any SQL
  * dialect (the q131 oracle recomputes the buckets byte-for-byte).
  */
object TfIdf {

  /** (doc_id, term, tf, tfidf) for every term with document frequency >=
    * `minDf`, where `tfidf = tf * (ln((1+N)/(1+df)) + 1)` — the smoothed
    * idf (sklearn's formulation), rounded to 6 so any engine replays it.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 1): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(TextFunctions.tokens(lower(coalesce(col(textCol), lit(""))))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * (log((lit(1) + col("n_docs")).cast("double") /
          (lit(1) + col("df")).cast("double")) + lit(1.0)), 6).as("tfidf"))
  }

  /** Hashing-trick term counts: (doc_id, bucket, cnt) with
    * `bucket = md5-60(term) mod nBuckets` — fixed dimensionality with no
    * vocabulary pass, the standard collision-tolerant vectorizer for
    * corpora whose vocab would not fit a dictionary. The md5-60 hash is
    * the engine-neutral `conv(substr(md5(term),1,15),16,10)` used across
    * the dedup family, so the bucketing reproduces in any SQL engine.
    */
  def hashedTf(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 1 << 18, mode: HashMode = HashMode.Md5): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.tokens(lower(coalesce(col(textCol), lit(""))))).as("term"))
      .select(col("doc_id"),
        pmod(Dedup.tokenHash60(col("term"), mode),
          lit(nBuckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Signed feature-hashing document embedding — a MODEL-FREE doc vector
    * (the hashing-trick / signed-random-projection of the bag of words:
    * dim j accumulates ±1 per token occurrence, sign = the low bit of
    * hash(token:j)). Integer-exact, so any engine replays every
    * coordinate; cosine between two such vectors approximates BoW
    * similarity, which makes it the cheap embedding for dedup/retrieval
    * BEFORE any model exists — it feeds the whole ANN family (KNN, IVF,
    * binary Hamming) unchanged.
    *
    * Scale shape: a typed kernel computes all `dim` coordinates per doc
    * in one pass (no token×dim explode); zero shuffle. `Md5` replays in
    * oracles (q225); `Xx64` is the fast path (the [[HashMode]] contract).
    * Docs with no tokens emit nothing (documented).
    */
  def hashedEmbedding(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64, mode: HashMode = HashMode.Md5): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"),
        coalesce(lower(col(textCol)), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // Per-TASK sign-vector memo: token vocabulary is Zipf-shaped, so
        // the same token re-hashes across (and within) documents ~tf
        // times; computing its dim signs ONCE per task turns the kernel
        // from O(tokens·dim) hashes into O(task vocab·dim) — identical
        // ±1 values, bit-identical sums. BYTE-bounded (64 MiB of sign
        // vectors per task — cap scales inversely with dim so total memo
        // memory is independent of the embedding width) so a pathological
        // vocabulary cannot OOM the task; over-cap tokens hash directly.
        val memo = new java.util.HashMap[String, Array[Byte]]()
        val memoCap = math.max(1, (64 << 20) / dim)
        def signs(t: String): Array[Byte] = {
          var s = memo.get(t)
          if (s == null) {
            s = new Array[Byte](dim)
            var j = 0
            while (j < dim) {
              s(j) = (if ((mode.hash60(t + ":" + j) & 1L) == 1L) 1 else -1).toByte
              j += 1
            }
            if (memo.size < memoCap) memo.put(t, s)
          }
          s
        }
        rows.flatMap { case (id, text) =>
          val toks = text.split(" ").filter(_.nonEmpty)
          if (toks.isEmpty) Iterator.empty
          else {
            val v = new Array[Long](dim)
            toks.foreach { t =>
              val s = signs(t)
              var j = 0
              while (j < dim) {
                v(j) += s(j)
                j += 1
              }
            }
            Iterator((id, v))
          }
        }
      }
      .toDF(idCol, "hvec")
  }

  /** PMI collocations: adjacent-token bigrams scored by pointwise mutual
    * information, PMI = ln((c_ab·Nu²) / (Nb·c_a·c_b)) — the corpus-health
    * instrument that surfaces boilerplate/templated phrase mass (high-PMI
    * high-count pairs are glued phrases, not language). Every count is an
    * exact integer aggregate; the PMI is ONE fixed double expression tree
    * of those integers (engine-replayable — no fp summation anywhere).
    * `minCount` bounds the pair relation before scoring; output is the
    * top-`topK` by PMI (a bounded TakeOrdered, never a global sort of the
    * vocabulary).
    */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"need minCount/topK >= 1, got $minCount/$topK")
    val toks = filter(split(lower(coalesce(col(textCol), lit(""))), " "),
      t => t =!= "")
    val tokRel = Materialize.view(docs.select(explode(toks).as("t")))
    val bigrams = Materialize.view(docs.select(toks.as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(0), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i + 1).as("w1"),
            element_at(col("ts"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val uni = tokRel.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nu = tokRel.agg(count(lit(1)).as("nu"))
    val nb = bigrams.agg(count(lit(1)).as("nb"))
    val bi = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("t").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("_pmi",
        log((col("c_ab").cast("double") * col("nu") * col("nu")) /
          (col("nb").cast("double") * col("c_a") * col("c_b"))))
      .orderBy(col("_pmi").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c_ab"), round(col("_pmi"), 6).as("pmi"))
  }
}
