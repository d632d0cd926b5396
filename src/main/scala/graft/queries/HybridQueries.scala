package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{HybridGroundTruth, Materialize}
import graft.predicates._

/** Per-query predicate ground truth (the reference's real hybrid-query
  * discipline — each query ordinal carries its own predicate tree,
  * ordinal_predicate_writers_v1.md:23-30). Three predicate shapes cycle by
  * query id; each is a wire-encoded framed PNode, decoded once on the
  * driver and evaluated against base metadata inside the pair stream. The oracle replays the
  * cycle with a CASE filter.
  */
object HybridQueries {
  import Comparand._

  // query_id % 3 == 0 -> label IN (0,1,2,3); == 1 -> label >= 5; == 2 -> all
  private def treeFor(mod: Long): PNode = mod match {
    case 0 => PredicateNode.namedTyped("label", OpType.IN,
      IntVal(0), IntVal(1), IntVal(2), IntVal(3))
    case 1 => PredicateNode.namedTyped("label", OpType.GE, IntVal(5))
    case _ => ConjugateNode.and() // empty AND = true
  }

  private def blobFor(mod: Long): Array[Byte] =
    PNodeCodec.encodeFramed(treeFor(mod), PNodeCodec.Mode.NamedTyped)

  // selectivity tiers for the filtered-ANN recall card: ~10% / ~1% / ~50%
  // of the 500-row sf0.01 corpus (absolute thresholds, like q56's cycle)
  private def tierTreeFor(mod: Long): PNode = mod match {
    case 0 => PredicateNode.namedTyped("ord", OpType.LT, IntVal(50))
    case 1 => PredicateNode.namedTyped("ord", OpType.LT, IntVal(5))
    case _ => PredicateNode.namedTyped("label", OpType.GE, IntVal(5))
  }

  private def tierBlobFor(mod: Long): Array[Byte] =
    PNodeCodec.encodeFramed(tierTreeFor(mod), PNodeCodec.Mode.NamedTyped)

  // label-only cycle for the stats-planned adaptive path (q240/q241):
  // ~10% / ~50% / ~20% of the corpus — widths must come out different
  private def statsBlobFor(mod: Long): Array[Byte] = {
    val tree: PNode = mod match {
      case 0 => PredicateNode.namedTyped("label", OpType.IN, IntVal(0))
      case 1 => PredicateNode.namedTyped("label", OpType.GE, IntVal(5))
      case _ => PredicateNode.namedTyped("label", OpType.IN, IntVal(0), IntVal(1))
    }
    PNodeCodec.encodeFramed(tree, PNodeCodec.Mode.NamedTyped)
  }

  /** DuckDB cosine distance between two float-list refs (the q50 form). */
  private def cosDist(a: String, b: String): String =
    s"""(1.0 - list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       | / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE*x::DOUBLE)))
       |  * sqrt(list_sum(list_transform($b, x -> x::DOUBLE*x::DOUBLE)))))""".stripMargin

  /** From-first-principles replay of the filtered IVF search (q50 IVF ×
    * q56 predicate CASE) — shared by q228 (in-memory index) and q263
    * (the identical search served from a persisted bundle).
    */
  private lazy val ivfFilteredOracleSql: String =
    s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
    |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
    |assignr AS (
    |  SELECT base.id, base.v, base.label, c.cell,
    |         row_number() OVER (PARTITION BY base.id
    |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
    |  FROM base CROSS JOIN c),
    |assign AS (SELECT id, v, label, cell FROM assignr WHERE rn = 1),
    |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
    |      WHERE vec_id >= 100 AND vec_id < 120),
    |probr AS (
    |  SELECT q.qid, q.qv, c.cell,
    |         row_number() OVER (PARTITION BY q.qid
    |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
    |  FROM q CROSS JOIN c),
    |probes AS (SELECT qid, qv, cell FROM probr WHERE rn <= 4),
    |cand AS (
    |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
    |  FROM probes p JOIN assign a ON a.cell = p.cell
    |  WHERE a.id <> p.qid
    |    AND CASE p.qid % 3
    |          WHEN 0 THEN a.label IN (0, 1, 2, 3)
    |          WHEN 1 THEN a.label >= 5
    |          ELSE TRUE END)
    |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
    |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
    |  FROM cand)
    |WHERE rank <= 5""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery(
      "q56_hybrid_per_query_pred",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 30),
        |d AS (
        |  SELECT q.qid, b.vec_id AS nid,
        |    1.0 - list_sum(list_transform(range(1, len(q.qe)+1),
        |            i -> q.qe[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |        / (sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE*x::DOUBLE))) *
        |           sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE*x::DOUBLE)))) AS dist
        |  FROM q CROSS JOIN embeddings b
        |  WHERE b.vec_id <> q.qid
        |    AND CASE q.qid % 3
        |          WHEN 0 THEN b.label IN (0, 1, 2, 3)
        |          WHEN 1 THEN b.label >= 5
        |          ELSE TRUE END)
        |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
        |  FROM d)
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val blobUdf = udf((qid: Long) => blobFor(qid % 3))
      val queries = emb.filter(col("vec_id") < 30)
        .withColumn("predicate", blobUdf(col("vec_id")))
      HybridGroundTruth.knnWithPerQueryPredicates(
          queries, emb, k = 5, metric = "COSINE",
          metadataCols = Seq("label"), excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    },

    // FILTERED IVF: the q56 per-query wire-predicate cycle pushed through
    // the APPROXIMATE path — candidates from the probed cells are
    // predicate-filtered BEFORE the distance kernel (pre-filter). The
    // oracle replays q50's from-first-principles IVF with the q56 CASE
    // applied to the candidate set, so assignment, probe selection,
    // predicate semantics and ranking are all checked together.
    // (The same oracle also pins q263 — the identical search served from a
    // PERSISTED bundle, where round-tripping the index through the
    // cell-partitioned parquet must change nothing.)
    GQuery(
      "q228_ivf_filtered",
      ivfFilteredOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => blobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = graft.operators.Ann.ivfIndexWithMeta(
        emb, centroids, metaCols = Seq("label"))
      graft.operators.Ann.ivfSearchFiltered(queries, index, centroids,
          k = 5, nProbe = 4, metadataCols = Seq("label"), excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    },

    // FILTERED serving from a PERSISTED bundle: q228's search with the
    // index round-tripped through writeIndexBundle (cell-partitioned
    // parquet + frozen quantizer) and served from the path alone — static
    // probed-cell pruning, tombstone anti-join (empty here) and the
    // per-query pre-filter composed in one call. The oracle is q228's:
    // persistence must change NOTHING.
    GQuery(
      "q263_bundle_filtered_search",
      ivfFilteredOracleSql) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => blobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label"))
      val path = s"${tmpDir()}/bundle-flt-${System.nanoTime()}"
      Ann.writeIndexBundle(index, centroids, path)
      Ann.searchBundleFiltered(queries, path, k = 5, nProbe = 4,
          metadataCols = Seq("label"), excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    },


    // Recall-vs-selectivity card for filtered IVF: three selectivity tiers
    // (~10% / ~1% / ~50% of the corpus) × four probe widths, recall
    // micro-averaged against the FILTERED exact truth (q56's hybrid
    // ground-truth discipline). nProbe = nList = 16 probes everything, so
    // its rows anchor at recall 1.0; the 1%-tier rows at small nProbe are
    // the "filtering starves the probed cells" signal the card exists to
    // expose. The oracle replays assignment, probes, both predicate-
    // filtered searches and the micro-average from first principles.
    GQuery(
      "q229_filtered_recall_card",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label, vec_id AS ord FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, base.ord, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, ord, cell FROM assignr WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv,
         |        CASE vec_id % 3 WHEN 0 THEN 'sel_10pct'
         |                        WHEN 1 THEN 'sel_1pct'
         |                        ELSE 'sel_50pct' END AS tier
         |      FROM embeddings WHERE vec_id >= 100 AND vec_id < 130),
         |elig AS (
         |  SELECT q.qid, b.id, ${cosDist("q.qv", "b.v")} AS d
         |  FROM q CROSS JOIN base b
         |  WHERE b.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN b.ord < 50
         |                       WHEN 1 THEN b.ord < 5
         |                       ELSE b.label >= 5 END),
         |truth AS (SELECT qid, id FROM (
         |            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rn
         |            FROM elig) WHERE rn <= 5),
         |tn AS (SELECT qid, count(*) AS truth_n FROM truth GROUP BY qid),
         |np AS (SELECT unnest([1, 2, 4, 16]) AS n_probe),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT np.n_probe, pr.qid, pr.qv, pr.cell
         |           FROM probr pr JOIN np ON pr.rn <= np.n_probe),
         |cand AS (
         |  SELECT p.n_probe, p.qid, a.id, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.ord < 50
         |                       WHEN 1 THEN a.ord < 5
         |                       ELSE a.label >= 5 END),
         |pred AS (SELECT n_probe, qid, id FROM (
         |           SELECT n_probe, qid, id,
         |                  row_number() OVER (PARTITION BY n_probe, qid ORDER BY d, id) AS rn
         |           FROM cand) WHERE rn <= 5),
         |hits AS (SELECT p.n_probe, p.qid, count(*) AS h
         |         FROM pred p JOIN truth t ON t.qid = p.qid AND t.id = p.id
         |         GROUP BY 1, 2),
         |qn AS (SELECT q.qid, q.tier, np.n_probe, tn.truth_n
         |       FROM q JOIN tn ON tn.qid = q.qid CROSS JOIN np)
         |SELECT qn.tier, qn.n_probe::BIGINT AS n_probe,
         |       count(*) AS n_queries,
         |       round(sum(coalesce(h.h, 0))::DOUBLE / sum(qn.truth_n), 6) AS recall
         |FROM qn LEFT JOIN hits h ON h.qid = qn.qid AND h.n_probe = qn.n_probe
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).withColumn("ord", col("vec_id"))
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => tierBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
        .withColumn("tier",
          when(pmod(col("vec_id"), lit(3)) === 0, "sel_10pct")
            .when(pmod(col("vec_id"), lit(3)) === 1, "sel_1pct")
            .otherwise("sel_50pct"))
      graft.operators.Ann.filteredRecallCurve(queries, emb, centroids,
        k = 5, nProbes = Seq(1, 2, 4, 16), tierCol = "tier",
        metadataCols = Seq("label", "ord"), excludeSelf = true)
    },

    // FILTERED IVF-PQ: the same per-query predicate cycle through the
    // COMPRESSED path — index rows are predicate-eliminated before the ADC
    // distance (metadata rides the codes table). Oracle = q93's full
    // IVF-PQ replay (assignment, residual codes, probes, residual LUTs)
    // with the q56 CASE applied before ranking.
    GQuery(
      "q230_ivfpq_filtered",
      s"""WITH sub AS (SELECT unnest(range(8))::INT AS s),
         |cb AS (
         |  SELECT s.s AS sub, e.vec_id::INT AS code,
         |         list_slice(e.embedding, s.s*8 + 1, s.s*8 + 8) AS cw
         |  FROM embeddings e, sub s WHERE e.vec_id < 16),
         |cent AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |ar AS (
         |  SELECT b.vec_id AS id, b.embedding AS v, b.label, c.cell, c.ce,
         |         row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |           list_sum(list_transform(range(1, 65),
         |             i -> (b.embedding[i]::DOUBLE - c.ce[i]::DOUBLE)
         |                * (b.embedding[i]::DOUBLE - c.ce[i]::DOUBLE))), c.cell) AS rn
         |  FROM embeddings b CROSS JOIN cent c),
         |asg AS (SELECT id, v, label, cell, ce FROM ar WHERE rn = 1),
         |rdd AS (
         |  SELECT a.id, a.label, a.cell, cb.sub, cb.code,
         |         list_sum(list_transform(range(1, 9),
         |           i -> ((a.v[cb.sub*8 + i]::DOUBLE - a.ce[cb.sub*8 + i]::DOUBLE)::FLOAT::DOUBLE
         |                   - cb.cw[i]::DOUBLE)
         |              * ((a.v[cb.sub*8 + i]::DOUBLE - a.ce[cb.sub*8 + i]::DOUBLE)::FLOAT::DOUBLE
         |                   - cb.cw[i]::DOUBLE))) AS d
         |  FROM asg a, cb),
         |codes AS (
         |  SELECT id, label, cell, sub, code FROM (
         |    SELECT id, label, cell, sub, code,
         |           row_number() OVER (PARTITION BY id, sub ORDER BY d, code) AS rn
         |    FROM rdd) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 120),
         |pr0 AS (
         |  SELECT q.qid, q.qv, c.cell, c.ce,
         |         row_number() OVER (PARTITION BY q.qid ORDER BY
         |           list_sum(list_transform(range(1, 65),
         |             i -> (q.qv[i]::DOUBLE - c.ce[i]::DOUBLE)
         |                * (q.qv[i]::DOUBLE - c.ce[i]::DOUBLE))), c.cell) AS rn
         |  FROM q CROSS JOIN cent c),
         |pr AS (SELECT qid, qv, cell, ce FROM pr0 WHERE rn <= 4),
         |lut AS (
         |  SELECT p.qid, p.cell, cb.sub, cb.code,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (p.qv[cb.sub*8 + i]::DOUBLE - p.ce[cb.sub*8 + i]::DOUBLE
         |                   - cb.cw[i]::DOUBLE)
         |              * (p.qv[cb.sub*8 + i]::DOUBLE - p.ce[cb.sub*8 + i]::DOUBLE
         |                   - cb.cw[i]::DOUBLE))) AS d
         |  FROM pr p, cb),
         |adc AS (
         |  SELECT l.qid, c.id AS nid, sqrt(sum(l.d)) AS d
         |  FROM codes c JOIN lut l ON l.cell = c.cell AND l.sub = c.sub AND l.code = c.code
         |  WHERE c.id <> l.qid
         |    AND CASE l.qid % 3
         |          WHEN 0 THEN c.label IN (0, 1, 2, 3)
         |          WHEN 1 THEN c.label >= 5
         |          ELSE TRUE END
         |  GROUP BY 1, 2)
         |SELECT qid AS query_id, nid AS neighbor_id, rank, round(d, 4) AS adc_dist
         |FROM (SELECT qid, nid, d,
         |             row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |      FROM adc)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      import graft.operators.Pq
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val cbs = Pq.subsetCodebooks(emb.filter(col("vec_id") < 16), 8)
      val blobUdf = udf((qid: Long) => blobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Pq.ivfPqIndex(emb, centroids, cbs)
        .join(emb.select(col("vec_id").as("id"), col("label")), Seq("id"))
      Pq.ivfPqSearchFiltered(queries, index, centroids, cbs,
          k = 5, nProbe = 4, metadataCols = Seq("label"), excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("adc_dist"), 4).as("adc_dist"))
    },

    // MAINTAINED-index parity: build the IVF index on an old corpus slice,
    // ivfAppend a late-arriving slice, ivfDelete a tombstoned prefix, and
    // search the result — the oracle replays a FROM-SCRATCH IVF build over
    // the final corpus. Equality is the maintenance invariant (cell
    // assignment is a per-vector function of the frozen quantizer, so
    // append/delete commute with rebuild) that makes a 100 TB index
    // evolvable without reindexing. The deleted prefix includes the rows
    // the quantizer was seeded from — centroids are frozen independently
    // of index membership.
    GQuery(
      "q235_ivf_maintained_parity",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id >= 30),
         |assignr AS (
         |  SELECT base.id, base.v, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, cell FROM assignr WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 120),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell FROM probr WHERE rn <= 4),
         |cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid)
         |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |  FROM cand)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val index1 = Ann.ivfIndexWithMeta(emb.filter(col("vec_id") < 480), centroids)
      val appended = Ann.ivfAppend(index1, emb.filter(col("vec_id") >= 480), centroids)
      val maintained = Ann.ivfDelete(appended, emb.filter(col("vec_id") < 30))
      Ann.ivfSearch(emb.filter(col("vec_id") >= 100 && col("vec_id") < 120),
          maintained, centroids, k = 5, nProbe = 4, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    },

    // GUARANTEED-k filtered search: q229's card shows a selective predicate
    // starves the probed cells (short lists at small nProbe) — this is the
    // serving-side policy that heals it. Queries whose pass-1 filtered
    // list is short escalate to an exhaustive probe (an exact filtered
    // scan of the index, never a base rejoin), so every query returns
    // min(k, |eligible|) rows; `escalated` marks which path answered. The
    // oracle replays the starvation count at nProbe=2 and ranks escalated
    // queries over ALL eligible candidates, the rest over the probed set.
    GQuery(
      "q237_filtered_guaranteed_k",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label, vec_id AS ord FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, base.ord, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, ord, cell FROM assignr WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 130),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell FROM probr WHERE rn <= 2),
         |cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.ord < 50
         |                       WHEN 1 THEN a.ord < 5
         |                       ELSE a.label >= 5 END),
         |cnt AS (SELECT qid, count(*) AS n FROM cand GROUP BY qid),
         |esc AS (SELECT q.qid FROM q LEFT JOIN cnt USING (qid)
         |        WHERE coalesce(cnt.n, 0) < 5),
         |elig AS (
         |  SELECT q.qid, b.id AS nid, ${cosDist("q.qv", "b.v")} AS d
         |  FROM q JOIN esc USING (qid) CROSS JOIN base b
         |  WHERE b.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN b.ord < 50
         |                       WHEN 1 THEN b.ord < 5
         |                       ELSE b.label >= 5 END),
         |exact AS (
         |  SELECT qid, nid, rank, TRUE AS escalated FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |    FROM elig) WHERE rank <= 5),
         |approx AS (
         |  SELECT qid, nid, rank, FALSE AS escalated FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |    FROM cand WHERE qid NOT IN (SELECT qid FROM esc)) WHERE rank <= 5)
         |SELECT qid AS query_id, nid AS neighbor_id, rank, escalated
         |FROM (SELECT * FROM exact UNION ALL SELECT * FROM approx)""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir).withColumn("ord", col("vec_id"))
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => tierBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Ann.ivfIndexWithMeta(emb, centroids,
        metaCols = Seq("label", "ord"))
      Ann.ivfSearchFilteredGuaranteed(queries, index, centroids,
          k = 5, nProbe = 2, metadataCols = Seq("label", "ord"),
          excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), col("escalated"))
    },

    // PREDICATE-AWARE probe planning: per query, walk its nearest-cell
    // order accumulating per-cell eligible counts (cellSelectivityStats ×
    // the query's predicate over the stats values) until the expected mass
    // reaches ceil(safety·k) — the upfront alternative to q237's
    // react-after-starving escalation. The oracle replays the stats
    // rollup, the full 8-deep ranked probe list, the predicate-gated
    // cumulative walk, and the clamped width pick.
    GQuery(
      "q240_adaptive_probe_widths",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.label, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, label, cell FROM assignr WHERE rn = 1),
         |stats AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 130),
         |probr AS (
         |  SELECT q.qid, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, cell, rn FROM probr WHERE rn <= 8),
         |percell AS (
         |  SELECT p.qid, p.cell, p.rn,
         |         sum(CASE WHEN s.n IS NOT NULL AND
         |                       CASE p.qid % 3 WHEN 0 THEN s.label IN (0)
         |                                      WHEN 1 THEN s.label >= 5
         |                                      ELSE s.label IN (0, 1) END
         |                  THEN s.n ELSE 0 END) AS elig
         |  FROM probes p LEFT JOIN stats s ON s.cell = p.cell
         |  GROUP BY p.qid, p.cell, p.rn),
         |cumt AS (SELECT qid, rn, elig,
         |                sum(elig) OVER (PARTITION BY qid ORDER BY rn) AS cum
         |         FROM percell)
         |SELECT qid AS query_id,
         |       greatest(coalesce(min(CASE WHEN cum >= 10 THEN rn END), 8), 1)::BIGINT
         |         AS n_probe,
         |       max(cum)::BIGINT AS est_eligible
         |FROM cumt GROUP BY qid""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => statsBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label"))
      val stats = Ann.cellSelectivityStats(index, "label")
      Ann.adaptiveProbeWidths(queries, centroids, stats, "label",
          k = 5, safety = 2.0, minProbe = 1, maxProbe = 8)
        .select(col("query_id"), col("n_probe").cast("long").as("n_probe"),
          col("est_eligible").cast("long").as("est_eligible"))
    },

    // The adaptive-width filtered SEARCH: each query probes exactly its
    // planned width (q240's pick) and the standard pre-filter candidate
    // join + heap runs once — selective queries widen upfront instead of
    // escalating after. The oracle chains the q240 width replay into the
    // q228-style filtered ranking with a per-query rn <= n_probe cut.
    GQuery(
      "q241_adaptive_filtered_search",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, cell FROM assignr WHERE rn = 1),
         |stats AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 130),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell, rn FROM probr WHERE rn <= 8),
         |percell AS (
         |  SELECT p.qid, p.rn,
         |         sum(CASE WHEN s.n IS NOT NULL AND
         |                       CASE p.qid % 3 WHEN 0 THEN s.label IN (0)
         |                                      WHEN 1 THEN s.label >= 5
         |                                      ELSE s.label IN (0, 1) END
         |                  THEN s.n ELSE 0 END) AS elig
         |  FROM probes p LEFT JOIN stats s ON s.cell = p.cell
         |  GROUP BY p.qid, p.rn),
         |cumt AS (SELECT qid, rn,
         |                sum(elig) OVER (PARTITION BY qid ORDER BY rn) AS cum
         |         FROM percell),
         |widths AS (
         |  SELECT qid,
         |         greatest(coalesce(min(CASE WHEN cum >= 10 THEN rn END), 8), 1)
         |           AS n_probe
         |  FROM cumt GROUP BY qid),
         |cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN widths w ON w.qid = p.qid AND p.rn <= w.n_probe
         |       JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END)
         |SELECT qid AS query_id, nid AS neighbor_id, rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |  FROM cand)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => statsBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label"))
      val stats = Ann.cellSelectivityStats(index, "label")
      Ann.ivfSearchFilteredAdaptive(queries, index, centroids, stats, "label",
          k = 5, safety = 2.0, minProbe = 1, maxProbe = 8,
          metadataCols = Seq("label"), excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
    },

    // The planner's REPORT CARD: per selectivity tier, the mean planned
    // width and the recall the adaptive search actually achieved against
    // the filtered exact truth — the artifact that says whether
    // stats-planned widths hit target quality with fewer probes than a
    // fixed worst-case nProbe. The oracle replays widths, the adaptive
    // ranking, the exact filtered truth and both rollups.
    GQuery(
      "q246_adaptive_report_card",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, cell FROM assignr WHERE rn = 1),
         |stats AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label),
         |q AS (SELECT vec_id AS qid, embedding AS qv,
         |        CASE vec_id % 3 WHEN 0 THEN 'sel_10pct'
         |                        WHEN 1 THEN 'sel_50pct'
         |                        ELSE 'sel_20pct' END AS tier
         |      FROM embeddings WHERE vec_id >= 100 AND vec_id < 130),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell, rn FROM probr WHERE rn <= 8),
         |percell AS (
         |  SELECT p.qid, p.rn,
         |         sum(CASE WHEN s.n IS NOT NULL AND
         |                       CASE p.qid % 3 WHEN 0 THEN s.label IN (0)
         |                                      WHEN 1 THEN s.label >= 5
         |                                      ELSE s.label IN (0, 1) END
         |                  THEN s.n ELSE 0 END) AS elig
         |  FROM probes p LEFT JOIN stats s ON s.cell = p.cell
         |  GROUP BY p.qid, p.rn),
         |cumt AS (SELECT qid, rn,
         |                sum(elig) OVER (PARTITION BY qid ORDER BY rn) AS cum
         |         FROM percell),
         |widths AS (
         |  SELECT qid,
         |         greatest(coalesce(min(CASE WHEN cum >= 10 THEN rn END), 8), 1)
         |           AS n_probe
         |  FROM cumt GROUP BY qid),
         |cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN widths w ON w.qid = p.qid AND p.rn <= w.n_probe
         |       JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |pred AS (SELECT qid, nid FROM (
         |           SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |           FROM cand) WHERE rk <= 5),
         |elig2 AS (
         |  SELECT q.qid, b.id, ${cosDist("q.qv", "b.v")} AS d
         |  FROM q CROSS JOIN base b
         |  WHERE b.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN b.label IN (0)
         |                       WHEN 1 THEN b.label >= 5
         |                       ELSE b.label IN (0, 1) END),
         |truth AS (SELECT qid, id AS nid FROM (
         |            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rk
         |            FROM elig2) WHERE rk <= 5),
         |tn AS (SELECT qid, count(*) AS truth_n FROM truth GROUP BY qid),
         |hits AS (SELECT p.qid, count(*) AS h FROM pred p
         |         JOIN truth t ON t.qid = p.qid AND t.nid = p.nid GROUP BY p.qid)
         |SELECT q.tier, round(avg(w.n_probe), 4) AS avg_n_probe,
         |       count(*) AS n_queries,
         |       round(sum(coalesce(h.h, 0))::DOUBLE / sum(tn.truth_n), 6) AS recall
         |FROM q JOIN widths w ON w.qid = q.qid
         |       JOIN tn ON tn.qid = q.qid
         |       LEFT JOIN hits h ON h.qid = q.qid
         |GROUP BY q.tier""".stripMargin) { (s, dir) =>
      import graft.operators.{Ann, HybridGroundTruth}
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => statsBlobFor(qid % 3))
      // materialize the expensive shared leg once (results unchanged —
      // Catalyst has no cross-leg subplan dedup, so the lazy index would
      // re-run its full assignment per consumer below; queries/stats are
      // broadcast-scale and re-derive cheaply)
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
        .withColumn("tier",
          when(pmod(col("vec_id"), lit(3)) === 0, "sel_10pct")
            .when(pmod(col("vec_id"), lit(3)) === 1, "sel_50pct")
            .otherwise("sel_20pct"))
      val index = Materialize.view(
        Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label")))
      val stats = Ann.cellSelectivityStats(index, "label")
      val widths = Ann.adaptiveProbeWidths(queries, centroids, stats, "label",
        k = 5, safety = 2.0, minProbe = 1, maxProbe = 8)
      val pred = Ann.ivfSearchFilteredAdaptive(queries, index, centroids,
        stats, "label", k = 5, safety = 2.0, minProbe = 1, maxProbe = 8,
        metadataCols = Seq("label"), excludeSelf = true)
      val truth = Materialize.view(HybridGroundTruth.knnWithPerQueryPredicates(
          queries, emb, k = 5, metadataCols = Seq("label"), excludeSelf = true))
      val truthN = truth.groupBy("query_id").agg(count(lit(1)).as("truth_n"))
      val hits = pred.select("query_id", "neighbor_id")
        .join(truth.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      queries.select(col("vec_id").as("query_id"), col("tier"))
        .join(widths.select("query_id", "n_probe"), Seq("query_id"))
        .join(truthN, Seq("query_id"))
        .join(hits, Seq("query_id"), "left")
        .groupBy("tier")
        .agg(round(avg("n_probe"), 4).as("avg_n_probe"),
          count(lit(1)).as("n_queries"),
          round(sum(coalesce(col("h"), lit(0L))).cast("double") /
            sum("truth_n"), 6).as("recall"))
    },

    // SAFETY CALIBRATION — q246's finding closed: sweep the safety factor
    // (1/2/6), measure per-tier width + recall across the grid, and mark
    // per tier the SMALLEST safety reaching the 0.5 recall target (none
    // marked = escalate via q237 instead). One truth pass shared by the
    // grid. The oracle replays the whole sweep: per-safety targets, the
    // gated cumulative walks, each adaptive ranking, the shared truth,
    // the per-(tier, safety) rollups and the argmin-safety choice.
    GQuery(
      "q247_safety_calibration",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, cell FROM assignr WHERE rn = 1),
         |stats AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label),
         |q AS (SELECT vec_id AS qid, embedding AS qv,
         |        CASE vec_id % 3 WHEN 0 THEN 'sel_10pct'
         |                        WHEN 1 THEN 'sel_50pct'
         |                        ELSE 'sel_20pct' END AS tier
         |      FROM embeddings WHERE vec_id >= 100 AND vec_id < 130),
         |sf AS (SELECT unnest([1.0, 2.0, 6.0]) AS s),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell, rn FROM probr WHERE rn <= 8),
         |percell AS (
         |  SELECT p.qid, p.rn,
         |         sum(CASE WHEN s.n IS NOT NULL AND
         |                       CASE p.qid % 3 WHEN 0 THEN s.label IN (0)
         |                                      WHEN 1 THEN s.label >= 5
         |                                      ELSE s.label IN (0, 1) END
         |                  THEN s.n ELSE 0 END) AS elig
         |  FROM probes p LEFT JOIN stats s ON s.cell = p.cell
         |  GROUP BY p.qid, p.rn),
         |cumt AS (SELECT qid, rn,
         |                sum(elig) OVER (PARTITION BY qid ORDER BY rn) AS cum
         |         FROM percell),
         |widths AS (
         |  SELECT sf.s, qid,
         |         greatest(coalesce(min(CASE WHEN cum >= ceil(sf.s * 5) THEN rn END), 8), 1)
         |           AS n_probe
         |  FROM cumt CROSS JOIN sf GROUP BY sf.s, qid),
         |cand AS (
         |  SELECT w.s, p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN widths w ON w.qid = p.qid AND p.rn <= w.n_probe
         |       JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |pred AS (SELECT s, qid, nid FROM (
         |           SELECT s, qid, nid,
         |                  row_number() OVER (PARTITION BY s, qid ORDER BY d, nid) AS rk
         |           FROM cand) WHERE rk <= 5),
         |elig2 AS (
         |  SELECT q.qid, b.id, ${cosDist("q.qv", "b.v")} AS d
         |  FROM q CROSS JOIN base b
         |  WHERE b.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN b.label IN (0)
         |                       WHEN 1 THEN b.label >= 5
         |                       ELSE b.label IN (0, 1) END),
         |truth AS (SELECT qid, id AS nid FROM (
         |            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rk
         |            FROM elig2) WHERE rk <= 5),
         |tn AS (SELECT qid, count(*) AS truth_n FROM truth GROUP BY qid),
         |hits AS (SELECT p.s, p.qid, count(*) AS h FROM pred p
         |         JOIN truth t ON t.qid = p.qid AND t.nid = p.nid GROUP BY p.s, p.qid),
         |grid AS (
         |  SELECT q.tier, w.s AS safety, round(avg(w.n_probe), 4) AS avg_n_probe,
         |         round(sum(coalesce(h.h, 0))::DOUBLE / sum(tn.truth_n), 6) AS recall
         |  FROM q JOIN widths w ON w.qid = q.qid
         |         JOIN tn ON tn.qid = q.qid
         |         LEFT JOIN hits h ON h.qid = q.qid AND h.s = w.s
         |  GROUP BY q.tier, w.s),
         |ch AS (SELECT tier, min(safety) AS cs FROM grid WHERE recall >= 0.5 GROUP BY tier)
         |SELECT g.tier, g.safety, g.avg_n_probe, g.recall,
         |       coalesce(g.safety = ch.cs, FALSE) AS chosen
         |FROM grid g LEFT JOIN ch ON ch.tier = g.tier""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => statsBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
        .withColumn("tier",
          when(pmod(col("vec_id"), lit(3)) === 0, "sel_10pct")
            .when(pmod(col("vec_id"), lit(3)) === 1, "sel_50pct")
            .otherwise("sel_20pct"))
      val index = Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label"))
      val stats = Ann.cellSelectivityStats(index, "label")
      Ann.safetyCalibrationCard(queries, index, centroids, stats, "label",
        k = 5, safeties = Seq(1.0, 2.0, 6.0), minProbe = 1, maxProbe = 8,
        tierCol = "tier", targetRecall = 0.5,
        metadataCols = Seq("label"), excludeSelf = true)
    },

    // ROUTED filtered search — the dispatcher the q247 sweep showed is
    // needed: per query, the GLOBAL eligible-mass estimate (predicate over
    // the broadcast per-value stats rollup) picks the policy. Narrow
    // (est ≤ 60) → exhaustive filtered scan (recall 1.0, cost = the tiny
    // eligible set); wide (est ≥ 0.4·N) → fixed nProbe=4 pre-filter (width
    // planning saturates there); between → stats-planned adaptive widths.
    // The oracle replays the stats rollups, the route CASE, and all three
    // search policies (exact ranking / q241's gated walk / q228's fixed
    // probe cut) from first principles.
    GQuery(
      "q248_routed_filtered_search",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, cell FROM assignr WHERE rn = 1),
         |stats AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label),
         |gstats AS (SELECT label, sum(n) AS n FROM stats GROUP BY label),
         |tot AS (SELECT sum(n) AS total FROM gstats),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 130),
         |est AS (
         |  SELECT q.qid,
         |         sum(CASE WHEN CASE q.qid % 3 WHEN 0 THEN g.label IN (0)
         |                                      WHEN 1 THEN g.label >= 5
         |                                      ELSE g.label IN (0, 1) END
         |                  THEN g.n ELSE 0 END) AS est
         |  FROM q CROSS JOIN gstats g GROUP BY q.qid),
         |routes AS (
         |  SELECT est.qid, est.est,
         |         CASE WHEN est.est <= 60 THEN 'exact'
         |              WHEN est.est >= 0.4 * (SELECT total FROM tot) THEN 'wide'
         |              ELSE 'planned' END AS route
         |  FROM est),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell, rn FROM probr WHERE rn <= 8),
         |percell AS (
         |  SELECT p.qid, p.rn,
         |         sum(CASE WHEN s.n IS NOT NULL AND
         |                       CASE p.qid % 3 WHEN 0 THEN s.label IN (0)
         |                                      WHEN 1 THEN s.label >= 5
         |                                      ELSE s.label IN (0, 1) END
         |                  THEN s.n ELSE 0 END) AS elig
         |  FROM probes p LEFT JOIN stats s ON s.cell = p.cell
         |  GROUP BY p.qid, p.rn),
         |cumt AS (SELECT qid, rn,
         |                sum(elig) OVER (PARTITION BY qid ORDER BY rn) AS cum
         |         FROM percell),
         |widths AS (
         |  SELECT qid,
         |         greatest(coalesce(min(CASE WHEN cum >= 10 THEN rn END), 8), 1)
         |           AS n_probe
         |  FROM cumt GROUP BY qid),
         |ex_cand AS (
         |  SELECT q.qid, a.id AS nid, ${cosDist("q.qv", "a.v")} AS d
         |  FROM q JOIN routes r ON r.qid = q.qid AND r.route = 'exact'
         |       CROSS JOIN assign a
         |  WHERE a.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |pl_cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN routes r ON r.qid = p.qid AND r.route = 'planned'
         |       JOIN widths w ON w.qid = p.qid AND p.rn <= w.n_probe
         |       JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |wd_cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN routes r ON r.qid = p.qid AND r.route = 'wide'
         |       JOIN assign a ON a.cell = p.cell AND p.rn <= 4
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |ex_rank AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank,
         |                   'exact' AS route FROM ex_cand),
         |pl_rank AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank,
         |                   'planned' AS route FROM pl_cand),
         |wd_rank AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank,
         |                   'wide' AS route FROM wd_cand)
         |SELECT qid AS query_id, nid AS neighbor_id, rank, route
         |FROM (SELECT * FROM ex_rank UNION ALL SELECT * FROM pl_rank
         |      UNION ALL SELECT * FROM wd_rank)
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => statsBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label"))
      val stats = Ann.cellSelectivityStats(index, "label")
      Ann.hybridSearchRouted(queries, index, centroids, stats, "label",
          k = 5, exactMax = 60L, wideFraction = 0.4, nProbeWide = 4,
          safety = 2.0, minProbe = 1, maxProbe = 8,
          metadataCols = Seq("label"), excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), col("route"))
    },

    // The router's REPORT CARD: per route — query count, mean estimated
    // eligible mass, recall vs the filtered exact truth. The exact row is
    // structurally 1.0 (its scan IS the truth); the planned/wide rows are
    // the dispatcher-attributed versions of the q246/q247 tier measurements.
    // The oracle replays routes, all three policies, the shared truth and
    // the per-route rollup.
    GQuery(
      "q249_router_report_card",
      s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |base AS (SELECT vec_id AS id, embedding AS v, label FROM embeddings),
         |assignr AS (
         |  SELECT base.id, base.v, base.label, c.cell,
         |         row_number() OVER (PARTITION BY base.id
         |                            ORDER BY ${cosDist("base.v", "c.ce")}, c.cell) AS rn
         |  FROM base CROSS JOIN c),
         |assign AS (SELECT id, v, label, cell FROM assignr WHERE rn = 1),
         |stats AS (SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label),
         |gstats AS (SELECT label, sum(n) AS n FROM stats GROUP BY label),
         |tot AS (SELECT sum(n) AS total FROM gstats),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id >= 100 AND vec_id < 130),
         |est AS (
         |  SELECT q.qid,
         |         sum(CASE WHEN CASE q.qid % 3 WHEN 0 THEN g.label IN (0)
         |                                      WHEN 1 THEN g.label >= 5
         |                                      ELSE g.label IN (0, 1) END
         |                  THEN g.n ELSE 0 END) AS est
         |  FROM q CROSS JOIN gstats g GROUP BY q.qid),
         |routes AS (
         |  SELECT est.qid, est.est,
         |         CASE WHEN est.est <= 60 THEN 'exact'
         |              WHEN est.est >= 0.4 * (SELECT total FROM tot) THEN 'wide'
         |              ELSE 'planned' END AS route
         |  FROM est),
         |probr AS (
         |  SELECT q.qid, q.qv, c.cell,
         |         row_number() OVER (PARTITION BY q.qid
         |                            ORDER BY ${cosDist("q.qv", "c.ce")}, c.cell) AS rn
         |  FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qv, cell, rn FROM probr WHERE rn <= 8),
         |percell AS (
         |  SELECT p.qid, p.rn,
         |         sum(CASE WHEN s.n IS NOT NULL AND
         |                       CASE p.qid % 3 WHEN 0 THEN s.label IN (0)
         |                                      WHEN 1 THEN s.label >= 5
         |                                      ELSE s.label IN (0, 1) END
         |                  THEN s.n ELSE 0 END) AS elig
         |  FROM probes p LEFT JOIN stats s ON s.cell = p.cell
         |  GROUP BY p.qid, p.rn),
         |cumt AS (SELECT qid, rn,
         |                sum(elig) OVER (PARTITION BY qid ORDER BY rn) AS cum
         |         FROM percell),
         |widths AS (
         |  SELECT qid,
         |         greatest(coalesce(min(CASE WHEN cum >= 10 THEN rn END), 8), 1)
         |           AS n_probe
         |  FROM cumt GROUP BY qid),
         |ex_cand AS (
         |  SELECT q.qid, a.id AS nid, ${cosDist("q.qv", "a.v")} AS d
         |  FROM q JOIN routes r ON r.qid = q.qid AND r.route = 'exact'
         |       CROSS JOIN assign a
         |  WHERE a.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |pl_cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN routes r ON r.qid = p.qid AND r.route = 'planned'
         |       JOIN widths w ON w.qid = p.qid AND p.rn <= w.n_probe
         |       JOIN assign a ON a.cell = p.cell
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |wd_cand AS (
         |  SELECT p.qid, a.id AS nid, ${cosDist("p.qv", "a.v")} AS d
         |  FROM probes p JOIN routes r ON r.qid = p.qid AND r.route = 'wide'
         |       JOIN assign a ON a.cell = p.cell AND p.rn <= 4
         |  WHERE a.id <> p.qid
         |    AND CASE p.qid % 3 WHEN 0 THEN a.label IN (0)
         |                       WHEN 1 THEN a.label >= 5
         |                       ELSE a.label IN (0, 1) END),
         |ex_rank AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank FROM ex_cand),
         |pl_rank AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank FROM pl_cand),
         |wd_rank AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank FROM wd_cand),
         |pred AS (SELECT qid, nid FROM (
         |           SELECT * FROM ex_rank UNION ALL SELECT * FROM pl_rank
         |           UNION ALL SELECT * FROM wd_rank) WHERE rank <= 5),
         |elig2 AS (
         |  SELECT q.qid, b.id, ${cosDist("q.qv", "b.v")} AS d
         |  FROM q CROSS JOIN base b
         |  WHERE b.id <> q.qid
         |    AND CASE q.qid % 3 WHEN 0 THEN b.label IN (0)
         |                       WHEN 1 THEN b.label >= 5
         |                       ELSE b.label IN (0, 1) END),
         |truth AS (SELECT qid, id AS nid FROM (
         |            SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rk
         |            FROM elig2) WHERE rk <= 5),
         |tn AS (SELECT qid, count(*) AS truth_n FROM truth GROUP BY qid),
         |hits AS (SELECT p.qid, count(*) AS h FROM pred p
         |         JOIN truth t ON t.qid = p.qid AND t.nid = p.nid GROUP BY p.qid)
         |SELECT r.route, count(*) AS n_queries,
         |       round(avg(r.est), 4) AS avg_est_eligible,
         |       round(sum(coalesce(h.h, 0))::DOUBLE / sum(tn.truth_n), 6) AS recall
         |FROM routes r JOIN tn ON tn.qid = r.qid
         |     LEFT JOIN hits h ON h.qid = r.qid
         |GROUP BY r.route""".stripMargin) { (s, dir) =>
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") < 16)
      val blobUdf = udf((qid: Long) => statsBlobFor(qid % 3))
      val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val index = Ann.ivfIndexWithMeta(emb, centroids, metaCols = Seq("label"))
      val stats = Ann.cellSelectivityStats(index, "label")
      Ann.routerReportCard(queries, index, centroids, stats, "label",
        k = 5, exactMax = 60L, wideFraction = 0.4, nProbeWide = 4,
        safety = 2.0, minProbe = 1, maxProbe = 8,
        metadataCols = Seq("label"), excludeSelf = true)
    },
  )
}
