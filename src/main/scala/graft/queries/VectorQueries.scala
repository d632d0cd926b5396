package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions
import graft.operators.Knn

/** KNN ground truth, hybrid (predicate-filtered) KNN, recall verification and
  * scalar vector kernels over the embeddings table (SURVEY.md J2/J3/J4, W1,
  * A14, F1). Oracle SQL computes the same distances from first principles in
  * f64 so Spark and DuckDB agree to ~1e-15 — integer outputs (ids/ranks) keep
  * the hash compare exact.
  */
object VectorQueries {

  /** DuckDB lower-is-better distance over q.qe / b.embedding, f64. */
  private def duckDist(metric: String): String = metric match {
    case "COSINE" =>
      """1.0 - list_sum(list_transform(range(1, len(q.qe)+1),
        |          i -> q.qe[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE*x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE*x::DOUBLE))))""".stripMargin
    case "EUCLIDEAN" =>
      """sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
        |     i -> (q.qe[i]::DOUBLE - b.embedding[i]::DOUBLE)
        |        * (q.qe[i]::DOUBLE - b.embedding[i]::DOUBLE))))""".stripMargin
    case "DOT_PRODUCT" =>
      """-list_sum(list_transform(range(1, len(q.qe)+1),
        |   i -> q.qe[i]::DOUBLE * b.embedding[i]::DOUBLE))""".stripMargin
    case "L1" =>
      """list_sum(list_transform(range(1, len(q.qe)+1),
        |   i -> abs(q.qe[i]::DOUBLE - b.embedding[i]::DOUBLE)))""".stripMargin
  }

  /** Ranked-KNN CTE body: yields qid, nid, rank columns. */
  private def duckKnnSql(metric: String, k: Int, nQueries: Int, extraPred: String = ""): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
       |           FROM embeddings WHERE vec_id < $nQueries),
       |d AS (
       |  SELECT q.qid, b.vec_id AS nid, ${duckDist(metric)} AS dist
       |  FROM q CROSS JOIN embeddings b
       |  WHERE b.vec_id <> q.qid $extraPred)
       |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       |  FROM d)
       |WHERE rank <= $k""".stripMargin

  private def knnQuery(name: String, metric: String, k: Int, nQueries: Int): GQuery =
    GQuery(name, duckKnnSql(metric, k, nQueries)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.knn(
          emb.filter(col("vec_id") < nQueries), emb,
          k = k, metric = metric, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }

  val all: Seq[GQuery] = Seq(
    knnQuery("q20_knn_cosine", "COSINE", 10, 20),

    // Chunked KNN (the bounded-broadcast form for query sets past the
    // broadcast budget): 3 deterministic hash chunks of the query set, each
    // a broadcast+heap plan, unioned. The oracle is the plain exact ranking
    // — green only if the chunk split/union is lossless.
    GQuery(
      "q122_knn_chunked",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id < 20),
         |d AS (
         |  SELECT q.qid, b.vec_id AS nid, ${duckDist("COSINE")} AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding FROM embeddings
         |                     WHERE vec_id >= 20) b)
         |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
         |  FROM d)
         |WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.knnChunked(emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") >= 20), k = 10, nChunks = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    },
    // Shuffle-partitioned exact KNN (no broadcast, no base re-scans): a
    // 3×2 block grid meets on shuffle keys, per-cell bounded heaps merge in
    // the aggregate. Oracle = the plain exact ranking — green only if the
    // grid covers every (query, base) pair exactly once.
    GQuery(
      "q129_knn_partitioned",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id < 20),
         |d AS (
         |  SELECT q.qid, b.vec_id AS nid, ${duckDist("COSINE")} AS dist
         |  FROM q CROSS JOIN (SELECT vec_id, embedding FROM embeddings
         |                     WHERE vec_id >= 20) b)
         |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
         |  FROM d)
         |WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.knnPartitioned(emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") >= 20), k = 10, nQBlocks = 3, nBBlocks = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    },
    knnQuery("q21_knn_euclidean", "EUCLIDEAN", 10, 20),
    knnQuery("q22_knn_negdot", "DOT_PRODUCT", 10, 20),
    knnQuery("q26_knn_l1", "L1", 10, 20),

    // J2: hybrid ground truth — neighbors restricted by the query's
    // non-vector predicate (here: label equality), the reference's filtered
    // facet discipline (ordinal_predicate_writers_v1.md:23-26).
    GQuery(
      "q23_hybrid_knn_label",
      duckKnnSql("COSINE", 5, 50, extraPred = "AND b.label = q.qlabel")) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.knn(
          emb.filter(col("vec_id") < 50), emb,
          k = 5, metric = "COSINE",
          queryExtra = Seq("label"), baseExtra = Seq("label"),
          pairPredicate = Some(col("b_label") === col("q_label")),
          excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    },

    // Hard-negative mining for contrastive training: each anchor's top-k
    // NEAREST neighbors with a DIFFERENT label — the batch-building recipe
    // for embedding-model training (high-similarity cross-class pairs are
    // the gradient-rich negatives). The inverse predicate of q23's hybrid
    // restriction over the same broadcast-heap plan: the pair stream is
    // filtered BEFORE the bounded heaps, so the exchange still carries
    // only k-heaps.
    GQuery(
      "q154_hard_negatives",
      duckKnnSql("COSINE", 5, 50, extraPred = "AND b.label <> q.qlabel")) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Knn.knn(
          emb.filter(col("vec_id") < 50), emb,
          k = 5, metric = "COSINE",
          queryExtra = Seq("label"), baseExtra = Seq("label"),
          pairPredicate = Some(col("b_label") =!= col("q_label")),
          excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    },

    // J4/A14: recall@k of the -dot ranking against cosine ground truth.
    GQuery(
      "q24_recall_dot_vs_cosine",
      s"""WITH truth AS (${duckKnnSql("COSINE", 10, 20)}),
         |pred AS (${duckKnnSql("DOT_PRODUCT", 10, 20)}),
         |hits AS (
         |  SELECT t.query_id, count(p.neighbor_id) AS h
         |  FROM truth t LEFT JOIN pred p
         |    ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
         |  GROUP BY t.query_id)
         |SELECT round(avg(h / 10.0), 4) AS avg_recall FROM hits""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
      val truth = Knn.knn(queries, emb, k = 10, metric = "COSINE", excludeSelf = true)
      val pred = Knn.knn(queries, emb, k = 10, metric = "DOT_PRODUCT", excludeSelf = true)
      Knn.avgRecall(pred, truth, k = 10)
    },

    // F1-family scalar kernel exposed standalone.
    GQuery(
      "q25_vector_norm",
      """SELECT vec_id,
        |       round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE*x::DOUBLE))), 6)
        |         AS norm
        |FROM embeddings WHERE vec_id < 100""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("vec_id") < 100)
        .select(col("vec_id"), round(VectorFunctions.vectorNorm(col("embedding")), 6).as("norm"))
    },

    // The reference's flagship end-to-end workflow: compute KNN ground
    // truth, PACKAGE it (base/query fvec + neighbors ivec + distances fvec
    // + dataset.yaml), re-open through the dataset loader, and emit the
    // answer key AS RE-READ FROM DISK. The oracle recomputes the same
    // ranking from first principles — a mismatch anywhere in compute,
    // xvec encode, manifest binding or windowed re-read fails the row.
    // The packaged distances are f32, so the ORACLE replays the f32
    // roundtrip (::FLOAT::DOUBLE) before rounding — both engines compute
    // the f64 distance identically (sequential sum), so the f32 values are
    // bit-equal and round(3) can never straddle a midpoint. query_id is
    // the POSITIONAL ordinal within the packaged query facet (xvec answer
    // keys are positional: row i answers query vector i), hence qid-100.
    GQuery(
      "q96_ground_truth_package",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |           WHERE vec_id >= 100 AND vec_id < 120),
        |d AS (
        |  SELECT q.qid, b.vec_id AS nid,
        |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
        |              i -> (q.qe[i]::DOUBLE - b.embedding[i]::DOUBLE)
        |                 * (q.qe[i]::DOUBLE - b.embedding[i]::DOUBLE)))) AS dist
        |  FROM q CROSS JOIN embeddings b)
        |SELECT qid - 100 AS query_id, rank, nid AS neighbor_id,
        |       round(dist::FLOAT::DOUBLE, 3) AS dist
        |FROM (SELECT qid, nid, dist,
        |             row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
        |      FROM d)
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // fixed name in the per-process scratch dir (facet writes truncate):
      // repeated runs in one JVM overwrite a single package instead of
      // accumulating temp copies
      val out = s"${tmpDir()}/gtpkg"
      graft.layout.GroundTruthDataset.build(s, emb,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        k = 5, metric = "EUCLIDEAN", outDir = out)
      val p = graft.layout.GraftDataset.load(s, out).profile("default")
      val neighbors = p.facet("indices")
        .select(col("ordinal").as("query_id"),
          posexplode(col("vector")).as(Seq("pos", "neighbor_id")))
      val dists = p.facet("distances")
        .select(col("ordinal").as("query_id"),
          posexplode(col("vector")).as(Seq("pos", "d")))
      neighbors.join(dists, Seq("query_id", "pos"))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          round(col("d").cast("double"), 3).as("dist"))
    },

    // X3/X5 as a SQL surface: the session-extension registration makes the
    // codegen'd distance kernel callable from spark.sql TEXT; the oracle
    // recomputes the same cosine distances in f64.
    GQuery(
      "q98_sql_surface",
      """SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(1.0 - list_sum(list_transform(range(1, len(a.embedding)+1),
        |          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE*x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE*x::DOUBLE)))), 6) AS d
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 10 AND b.vec_id < 10""".stripMargin) { (s, dir) =>
      graft.GraftExtensions.register(s)
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .createOrReplaceTempView("sql_emb")
      s.sql(
        """SELECT a.vec_id AS qid, b.vec_id AS nid,
          |       round(vector_distance(a.embedding, b.embedding, 'COSINE'), 6) AS d
          |FROM sql_emb a JOIN sql_emb b ON a.vec_id < b.vec_id""".stripMargin)
    },

    // MMR diversified top-3: greedy maximal-marginal-relevance selection
    // over per-query candidate sets (8 queries × ~19 residue-class
    // candidates). One query-keyed shuffle, then the O(n·k·d) greedy runs
    // in-task per group; relevance/sims/scores round to 6 BEFORE every
    // argmax and ties break by id, so the oracle — the three steps
    // unrolled as CTEs over a rounded pairwise-sim relation — walks the
    // identical selection chain, redundancy penalties included.
    GQuery(
      "q201_mmr_diversify",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |cand AS (
        |  SELECT q.qid, b.vec_id AS id, b.embedding AS ce,
        |    round(list_sum(list_transform(range(1, len(q.qe)+1),
        |            i -> q.qe[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE*x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE*x::DOUBLE)))), 6)
        |      AS rel
        |  FROM q JOIN embeddings b ON b.vec_id % 25 = q.qid AND b.vec_id != q.qid),
        |sim AS (
        |  SELECT a.qid, a.id AS ia, b.id AS ib,
        |    round(list_sum(list_transform(range(1, len(a.ce)+1),
        |            i -> a.ce[i]::DOUBLE * b.ce[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.ce, x -> x::DOUBLE*x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.ce, x -> x::DOUBLE*x::DOUBLE)))), 6) AS s
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.id != b.id),
        |s1 AS (SELECT qid, id, round(0.7 * rel, 6) AS score,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(0.7 * rel, 6) DESC, id) AS rn
        |       FROM cand),
        |p1 AS (SELECT qid, id, score FROM s1 WHERE rn = 1),
        |s2 AS (SELECT c.qid, c.id, round(0.7 * c.rel - 0.3 * sim.s, 6) AS score,
        |         row_number() OVER (PARTITION BY c.qid
        |           ORDER BY round(0.7 * c.rel - 0.3 * sim.s, 6) DESC, c.id) AS rn
        |       FROM cand c
        |       JOIN p1 ON c.qid = p1.qid AND c.id != p1.id
        |       JOIN sim ON sim.qid = c.qid AND sim.ia = c.id AND sim.ib = p1.id),
        |p2 AS (SELECT qid, id, score FROM s2 WHERE rn = 1),
        |s3 AS (SELECT c.qid, c.id,
        |         round(0.7 * c.rel - 0.3 * greatest(sa.s, sb.s), 6) AS score,
        |         row_number() OVER (PARTITION BY c.qid
        |           ORDER BY round(0.7 * c.rel - 0.3 * greatest(sa.s, sb.s), 6) DESC,
        |                    c.id) AS rn
        |       FROM cand c
        |       JOIN p1 ON c.qid = p1.qid AND c.id != p1.id
        |       JOIN p2 ON c.qid = p2.qid AND c.id != p2.id
        |       JOIN sim sa ON sa.qid = c.qid AND sa.ia = c.id AND sa.ib = p1.id
        |       JOIN sim sb ON sb.qid = c.qid AND sb.ia = c.id AND sb.ib = p2.id),
        |p3 AS (SELECT qid, id, score FROM s3 WHERE rn = 1)
        |SELECT qid AS query_id, id AS doc_id, rank, score AS mmr_score FROM (
        |  SELECT qid, id, 1::BIGINT AS rank, score FROM p1
        |  UNION ALL SELECT qid, id, 2::BIGINT, score FROM p2
        |  UNION ALL SELECT qid, id, 3::BIGINT, score FROM p3)""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val cand = q.join(
          emb.select(col("vec_id").as("id"), col("embedding").as("ce")),
          col("id") % 25 === col("qid") && col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (lit(1.0) - VectorFunctions.cosineDistance(col("qe"), col("ce"))).as("rel"),
          col("ce"))
      graft.operators.Mmr.mmrSelect(cand, "qid", "id", "rel", "ce",
          lambda = 0.7, k = 3)
        .select(col("qid").as("query_id"), col("id").as("doc_id"),
          col("rank").cast("long").as("rank"), col("mmr_score"))
    },

    // Matryoshka truncation recall card: exact top-10 over the FIRST
    // d ∈ {8,16,32} dims vs the full-64-dim truth — the "how many dims
    // can the index drop" eval of an MRL-style deployment. Truth is one
    // KNN pass; each width is one KNN pass over sliced vectors + a
    // semi-join. The oracle replays all four rankings and the per-query
    // recall mean (zero-hit queries included).
    GQuery(
      "q210_matryoshka_recall", {
        def cosDistD(d: Int) =
          s"""1.0 - list_sum(list_transform(range(1, $d + 1),
             |          i -> q.qe[i]::DOUBLE * b.be[i]::DOUBLE))
             |      / (sqrt(list_sum(list_transform(list_slice(q.qe, 1, $d),
             |            x -> x::DOUBLE*x::DOUBLE))) *
             |         sqrt(list_sum(list_transform(list_slice(b.be, 1, $d),
             |            x -> x::DOUBLE*x::DOUBLE))))""".stripMargin
        def block(d: Int) =
          s"""t$d AS (SELECT qid, nid FROM (
             |  SELECT q.qid, b.nid,
             |         row_number() OVER (PARTITION BY q.qid
             |           ORDER BY ${cosDistD(d)}, b.nid) AS rk
             |  FROM q CROSS JOIN b WHERE b.nid != q.qid) WHERE rk <= 10),
             |h$d AS (SELECT f.qid, count(*) AS h
             |        FROM t$d JOIN fullr f ON f.qid = t$d.qid AND f.nid = t$d.nid
             |        GROUP BY f.qid),
             |r$d AS (SELECT round(avg(coalesce(h, 0) / 10.0), 4) AS avg_recall
             |        FROM q LEFT JOIN h$d ON h$d.qid = q.qid)""".stripMargin
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
           |           FROM embeddings WHERE vec_id < 20),
           |b AS (SELECT vec_id AS nid, embedding AS be FROM embeddings),
           |fullr AS (SELECT qid, nid FROM (
           |  SELECT q.qid, b.nid,
           |         row_number() OVER (PARTITION BY q.qid
           |           ORDER BY ${cosDistD(64)}, b.nid) AS rk
           |  FROM q CROSS JOIN b WHERE b.nid != q.qid) WHERE rk <= 10),
           |${block(8)},
           |${block(16)},
           |${block(32)}
           |SELECT 8::BIGINT AS dim, avg_recall FROM r8
           |UNION ALL SELECT 16::BIGINT, avg_recall FROM r16
           |UNION ALL SELECT 32::BIGINT, avg_recall FROM r32""".stripMargin
      }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.operators.Ann.matryoshkaRecall(
        emb.filter(col("vec_id") < 20), emb,
        dims = Seq(8, 16, 32), k = 10, excludeSelf = true)
    },

    // Reciprocal-rank fusion of two heterogeneous retrievers (cosine and
    // raw dot-product rankings genuinely disagree on unnormalized
    // vectors): score = sum of 1/(60 + rank) over the lists a candidate
    // appears in, re-ranked. One union + one (query,id)-keyed aggregate +
    // the bounded top-k heap — no window, no calibration. Scores round
    // to 6 before the final ranking; the oracle replays both retriever
    // rankings, the fusion sum and the re-rank.
    GQuery(
      "q215_rrf_fusion",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |b AS (SELECT vec_id AS nid, embedding AS be FROM embeddings),
         |cosr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY
         |    1.0 - list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> q.qe[i]::DOUBLE * b.be[i]::DOUBLE))
         |        / (sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE*x::DOUBLE))) *
         |           sqrt(list_sum(list_transform(b.be, x -> x::DOUBLE*x::DOUBLE)))),
         |    nid) AS rk
         |  FROM q CROSS JOIN b WHERE b.nid != q.qid),
         |dotr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY
         |    -list_sum(list_transform(range(1, len(q.qe)+1),
         |        i -> q.qe[i]::DOUBLE * b.be[i]::DOUBLE)), nid) AS rk
         |  FROM q CROSS JOIN b WHERE b.nid != q.qid),
         |u AS (SELECT qid, nid, rk FROM cosr WHERE rk <= 20
         |      UNION ALL SELECT qid, nid, rk FROM dotr WHERE rk <= 20),
         |f AS (SELECT qid, nid, round(sum(1.0 / (60 + rk)), 6) AS s
         |      FROM u GROUP BY qid, nid)
         |SELECT qid AS query_id, nid AS neighbor_id, rank, s AS rrf_score FROM (
         |  SELECT qid, nid, s,
         |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
         |  FROM f)
         |WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val cosR = Knn.knn(queries, emb, k = 20, excludeSelf = true)
      val dotR = Knn.knn(queries, emb, k = 20, metric = "DOT_PRODUCT",
        excludeSelf = true)
      graft.operators.Fusion.rrf(Seq(cosR, dotR), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), col("rrf_score"))
    },
  )
}
