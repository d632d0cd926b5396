package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.predicates._

/** Filtered (hybrid) approximate search: per-query wire predicates through
  * IVF and IVF-PQ with PRE-FILTER semantics. Pins:
  *  - exhaustive-probe filtered IVF == the exact hybrid ground truth
  *    (predicate semantics identical to the exact path's evaluator)
  *  - ivfIndexWithMeta assigns cells bit-identically to ivfIndex
  *  - null-predicate filtered searches == their unfiltered counterparts
  *  - every returned neighbor satisfies its query's predicate
  *  - a predicate naming a missing metadata column fails LOUDLY, when the
  *    frame is built, at every hybrid entry point
  */
class FilteredAnnSpec extends SparkSpec {
  import spark.implicits._
  import Comparand._

  private val dim = 16
  private def vec(i: Long): Array[Float] =
    Array.tabulate(dim)(j =>
      ((graft.functions.StableHash.fnv64(s"f:$i:$j") >>> 12).toDouble / (1L << 52) * 2 - 1).toFloat)
  private lazy val base = (0L until 200L).map(i => (i, vec(i).toSeq, i % 10))
    .toDF("vec_id", "embedding", "label")
  private lazy val centroids = base.filter(col("vec_id") < 8)

  private def blobFor(mod: Long): Array[Byte] = {
    val tree: PNode = mod match {
      case 0 => PredicateNode.namedTyped("label", OpType.IN,
        IntVal(0), IntVal(1), IntVal(2))
      case 1 => PredicateNode.namedTyped("label", OpType.GE, IntVal(7))
      case _ => null
    }
    if (tree == null) null else PNodeCodec.encodeFramed(tree, PNodeCodec.Mode.NamedTyped)
  }
  private lazy val blobUdf = udf((qid: Long) => blobFor(qid % 3))
  private lazy val queries = base.filter(col("vec_id") >= 150)
    .withColumn("predicate", blobUdf(col("vec_id")))

  private def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select(col("query_id"), col("neighbor_id"), col("rank").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("exhaustive-probe filtered IVF equals the exact hybrid ground truth") {
    val want = key(HybridGroundTruth.knnWithPerQueryPredicates(
      queries, base, k = 5, metadataCols = Seq("label"), excludeSelf = true))
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val got = key(Ann.ivfSearchFiltered(queries, index, centroids,
      k = 5, nProbe = 8, metadataCols = Seq("label"), excludeSelf = true))
    assert(got == want)
  }

  test("ivfIndexWithMeta cell assignment is identical to ivfIndex") {
    val plain = Ann.ivfIndex(base, centroids)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val withMeta = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toMap
    assert(withMeta == plain)
  }

  test("null predicates: filtered IVF == unfiltered IVF at every probe width") {
    val nullQ = base.filter(col("vec_id") >= 150)
      .withColumn("predicate", lit(null).cast("binary"))
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val plainIndex = Ann.ivfIndex(base, centroids)
    for (np <- Seq(1, 3, 8)) {
      val got = key(Ann.ivfSearchFiltered(nullQ, index, centroids,
        k = 4, nProbe = np, metadataCols = Seq("label"), excludeSelf = true))
      val want = key(Ann.ivfSearch(base.filter(col("vec_id") >= 150), plainIndex,
        centroids, k = 4, nProbe = np, excludeSelf = true))
      assert(got == want, s"nProbe=$np")
    }
  }

  test("every filtered-IVF neighbor satisfies its query's predicate") {
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val out = Ann.ivfSearchFiltered(queries, index, centroids,
        k = 5, nProbe = 3, metadataCols = Seq("label"), excludeSelf = true)
      .join(base.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .select(col("query_id"), col("label")).as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (qid, lab) =>
      qid % 3 match {
        case 0 => assert(Set(0L, 1L, 2L).contains(lab), s"q$qid -> label $lab")
        case 1 => assert(lab >= 7L, s"q$qid -> label $lab")
        case _ =>
      }
    }
  }

  test("filtered IVF-PQ: null predicates == unfiltered; predicates respected") {
    val cbs = Pq.subsetCodebooks(base.filter(col("vec_id") < 16), m = 4)
    val index = Pq.ivfPqIndex(base, centroids, cbs)
      .join(base.select(col("vec_id").as("id"), col("label")), Seq("id"))
    val nullQ = base.filter(col("vec_id") >= 150)
      .withColumn("predicate", lit(null).cast("binary"))
    val got = key(Pq.ivfPqSearchFiltered(nullQ, index, centroids, cbs,
      k = 4, nProbe = 3, metadataCols = Seq("label"), excludeSelf = true)
      .withColumnRenamed("adc_dist", "dist"))
    val want = key(Pq.ivfPqSearch(base.filter(col("vec_id") >= 150),
      index.drop("label"), centroids, cbs, k = 4, nProbe = 3, excludeSelf = true))
    assert(got == want)

    val filtered = Pq.ivfPqSearchFiltered(queries, index, centroids, cbs,
        k = 4, nProbe = 3, metadataCols = Seq("label"), excludeSelf = true)
      .join(base.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .select(col("query_id"), col("label")).as[(Long, Long)].collect()
    assert(filtered.nonEmpty)
    filtered.foreach { case (qid, lab) =>
      qid % 3 match {
        case 0 => assert(Set(0L, 1L, 2L).contains(lab))
        case 1 => assert(lab >= 7L)
        case _ =>
      }
    }
  }

  test("maintained index (build -> append -> delete) equals a from-scratch rebuild") {
    val idx1 = Ann.ivfIndexWithMeta(base.filter(col("vec_id") < 150), centroids,
      metaCols = Seq("label"))
    val appended = Ann.ivfAppend(idx1, base.filter(col("vec_id") >= 150),
      centroids, metaCols = Seq("label"))
    val maintained = Ann.ivfDelete(appended, base.filter(col("vec_id") % 5 === 0))
    val rebuilt = Ann.ivfIndexWithMeta(base.filter(col("vec_id") % 5 =!= 0),
      centroids, metaCols = Seq("label"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell"), col("label")).as[(Long, Long, Long)]
        .collect().toSet
    val m = rows(maintained)
    assert(m == rows(rebuilt))
    assert(m.size == 160)
  }

  test("guaranteed-k: every query gets min(k, |eligible|) rows; escalated rows are exact") {
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val k = 5
    val out = Ann.ivfSearchFilteredGuaranteed(queries, index, centroids,
      k = k, nProbe = 1, metadataCols = Seq("label"), excludeSelf = true)
      .localCheckpoint()

    // row-count guarantee: min(k, |eligible|) per query
    val eligible = queries.select(col("vec_id").as("query_id"))
      .join(base.select(col("vec_id").as("nid"), col("label").as("nlab")),
        col("query_id") =!= col("nid"))
      .filter(
        when(pmod(col("query_id"), lit(3)) === 0, col("nlab").isin(0, 1, 2))
          .when(pmod(col("query_id"), lit(3)) === 1, col("nlab") >= 7)
          .otherwise(lit(true)))
      .groupBy("query_id").agg(count(lit(1)).as("n_elig"))
    val got = out.groupBy("query_id").agg(count(lit(1)).as("n_got"))
    val joined = queries.select(col("vec_id").as("query_id"))
      .join(eligible, Seq("query_id"), "left")
      .join(got, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_elig"), lit(0L)),
        coalesce(col("n_got"), lit(0L)))
      .as[(Long, Long, Long)].collect()
    joined.foreach { case (qid, nElig, nGot) =>
      assert(nGot == math.min(k.toLong, nElig), s"query $qid: $nGot of $nElig")
    }

    // escalated rows match the exact hybrid truth for those queries
    val escalatedIds = out.filter(col("escalated")).select("query_id").distinct()
    assert(escalatedIds.count() > 0, "the nProbe=1 run should starve someone")
    val truth = HybridGroundTruth.knnWithPerQueryPredicates(
        queries, base, k = k, metadataCols = Seq("label"), excludeSelf = true)
      .join(escalatedIds, Seq("query_id"), "left_semi")
    assert(key(out.filter(col("escalated"))) == key(truth))

    // non-escalated rows are exactly the plain filtered-search rows
    val plain = Ann.ivfSearchFiltered(queries, index, centroids,
        k = k, nProbe = 1, metadataCols = Seq("label"), excludeSelf = true)
      .join(escalatedIds, Seq("query_id"), "left_anti")
    assert(key(out.filter(!col("escalated"))) == key(plain))
  }

  test("staleness card: planted drift degrades stale-centroid recall; retrain recovers") {
    // drifted slice = the mirrored 3x-scaled shell (every component * -3):
    // spread out like the original mass but far outside it, so v1-trained
    // centroids both crowd it (occupancy skew) and cut arbitrary Voronoi
    // boundaries through it (recall loss at small nProbe); a one-blob
    // shift would NOT lose recall — queries and their neighbors would
    // co-locate in the same crowded cell
    val v1 = base.select("vec_id", "embedding")
    val drift = (200L until 280L).map { i =>
      (i, vec(i - 200L).map(x => x * -3.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val v2 = v1.unionByName(drift)
    val stale = Ann.lloydCentroids(
      Clustering.lloyd(v1, k = 8, iters = 2).filter(col("n_points") > 0))
    val fresh = Ann.lloydCentroids(
      Clustering.lloyd(v2, k = 8, iters = 2).filter(col("n_points") > 0))
    val card = Ann.ivfStalenessCard(drift.filter(col("vec_id") < 240), v2,
        Seq("stale" -> stale, "retrained" -> fresh),
        k = 5, nProbe = 2, metric = "EUCLIDEAN", excludeSelf = true)
      .select(col("config"), col("recall"), col("max_cell_frac"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(card.keySet == Set("stale", "retrained"))
    val (staleRec, staleSkew) = card("stale")
    val (freshRec, freshSkew) = card("retrained")
    assert(staleRec < freshRec,
      s"stale recall $staleRec should trail retrained $freshRec")
    // max_cell_frac is the COST diagnostic (it spikes under concentrated
    // one-blob drift, which does NOT lose recall); under this spread-shell
    // drift it stays a sane fraction for both configs
    Seq(staleSkew, freshSkew).foreach(s => assert(s > 0.0 && s <= 1.0))
  }

  test("guaranteed-k on the filtered IVF-PQ path: lists fill; escalated == exhaustive-probe") {
    val cbs = Pq.subsetCodebooks(base.filter(col("vec_id") < 16), m = 4)
    val index = Pq.ivfPqIndex(base, centroids, cbs)
      .join(base.select(col("vec_id").as("id"), col("label")), Seq("id"))
    val k = 5
    val out = Pq.ivfPqSearchFilteredGuaranteed(queries, index, centroids, cbs,
      k = k, nProbe = 1, metadataCols = Seq("label"), excludeSelf = true)
      .localCheckpoint()
    val escalatedIds = out.filter(col("escalated")).select("query_id").distinct()
    assert(escalatedIds.count() > 0, "nProbe=1 should starve someone")
    // escalated rows equal the exhaustive-probe filtered run
    def keyPq(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exhaustive = Pq.ivfPqSearchFiltered(queries, index, centroids, cbs,
        k = k, nProbe = 8, metadataCols = Seq("label"), excludeSelf = true)
      .join(escalatedIds, Seq("query_id"), "left_semi")
    assert(keyPq(out.filter(col("escalated"))) == keyPq(exhaustive))
    // row-count guarantee: min(k, |eligible|) per query
    val nElig = queries.select(col("vec_id").as("query_id"))
      .join(base.select(col("vec_id").as("nid"), col("label").as("nlab")),
        col("query_id") =!= col("nid"))
      .filter(
        when(pmod(col("query_id"), lit(3)) === 0, col("nlab").isin(0, 1, 2))
          .when(pmod(col("query_id"), lit(3)) === 1, col("nlab") >= 7)
          .otherwise(lit(true)))
      .groupBy("query_id").agg(count(lit(1)).as("n_elig"))
    queries.select(col("vec_id").as("query_id")).join(nElig, Seq("query_id"), "left")
      .join(out.groupBy("query_id").agg(count(lit(1)).as("n_got")),
        Seq("query_id"), "left")
      .select(coalesce(col("n_elig"), lit(0L)), coalesce(col("n_got"), lit(0L)))
      .as[(Long, Long)].collect()
      .foreach { case (ne, ng) => assert(ng == math.min(k.toLong, ne)) }
  }

  test("adaptive probe planning: widths hit the eligible target; search matches fixed-width runs") {
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val stats = Ann.cellSelectivityStats(index, "label")
    val k = 3
    val widths = Ann.adaptiveProbeWidths(queries, centroids, stats, "label",
        k = k, safety = 2.0, minProbe = 1, maxProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(widths.map(_._1).toSet ==
      queries.select("vec_id").collect().map(_.getLong(0)).toSet)
    val target = math.ceil(2.0 * k).toLong
    widths.foreach { case (qid, np, est) =>
      assert(np >= 1 && np <= 8, s"q$qid width $np")
      // a width below max must only be planned once the target is reachable
      if (np < 8) assert(est >= target, s"q$qid stopped early at est=$est")
    }
    // selective (mod 1: label>=7, 20%) queries must plan wider than
    // unfiltered (mod 2) ones on aggregate
    def avg(mod: Long) = { val s = widths.filter(_._1 % 3 == mod); s.map(_._2).sum.toDouble / s.length }
    assert(avg(1) > avg(2), s"selective ${avg(1)} vs unfiltered ${avg(2)}")

    // the adaptive search equals per-query fixed-width filtered searches
    val got = key(Ann.ivfSearchFilteredAdaptive(queries, index, centroids,
      stats, "label", k = k, safety = 2.0, minProbe = 1, maxProbe = 8,
      metadataCols = Seq("label"), excludeSelf = true))
    val want = widths.groupBy(_._2).flatMap { case (np, qs) =>
      val ids = qs.map(_._1).toSet
      val sub = queries.filter(col("vec_id").isInCollection(ids))
      key(Ann.ivfSearchFiltered(sub, index, centroids, k = k,
        nProbe = np.toInt, metadataCols = Seq("label"), excludeSelf = true))
    }.toSet
    assert(got == want)

    // a predicate matching NOTHING plans maxProbe and returns no rows —
    // but still appears in the width plan
    val noneBlob = PNodeCodec.encodeFramed(
      PredicateNode.namedTyped("label", OpType.GE, Comparand.IntVal(99)),
      PNodeCodec.Mode.NamedTyped)
    val qNone = base.filter(col("vec_id") >= 198)
      .withColumn("predicate", udf(() => noneBlob).apply())
    val wNone = Ann.adaptiveProbeWidths(qNone, centroids, stats, "label",
      k = k, safety = 2.0, minProbe = 1, maxProbe = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(wNone.length == 2 && wNone.forall(_ == (8L, 0L)))
  }

  test("safety calibration: widths nondecreasing in safety; chosen = min safety at target") {
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val stats = Ann.cellSelectivityStats(index, "label")
    val tq = queries.withColumn("tier",
      when(pmod(col("vec_id"), lit(3)) === 0, "a")
        .when(pmod(col("vec_id"), lit(3)) === 1, "b").otherwise("c"))
    val card = Ann.safetyCalibrationCard(tq, index, centroids, stats, "label",
        k = 3, safeties = Seq(1.0, 3.0, 8.0), minProbe = 1, maxProbe = 8,
        tierCol = "tier", targetRecall = 0.5,
        metadataCols = Seq("label"), excludeSelf = true)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(card.length == 9)
    card.groupBy(_._1).foreach { case (tier, rows) =>
      val bySafety = rows.sortBy(_._2)
      // wider safety targets more candidates -> never narrower plans
      bySafety.sliding(2).foreach { case Array(lo, hi) =>
        assert(lo._3 <= hi._3, s"$tier: width shrank ${lo._3} -> ${hi._3}")
      }
      val reaching = bySafety.filter(_._4 >= 0.5).map(_._2)
      val chosen = bySafety.filter(_._5).map(_._2)
      if (reaching.nonEmpty) assert(chosen.toSeq == Seq(reaching.min),
        s"$tier: chosen $chosen vs min reaching ${reaching.min}")
      else assert(chosen.isEmpty, s"$tier: chose $chosen with nothing at target")
    }
  }

  test("staleness card mechanics: identical configs tie; clean split is exact") {
    // identical centroid sets must produce identical measurements
    val cents = base.filter(col("vec_id") < 8).select("vec_id", "embedding")
    val tie = Ann.ivfStalenessCard(base.filter(col("vec_id") >= 190),
        base.select("vec_id", "embedding"),
        Seq("a" -> cents, "b" -> cents), k = 3, nProbe = 2,
        metric = "EUCLIDEAN", excludeSelf = true)
      .select(col("config"), col("recall"), col("max_cell_frac"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(tie("a") == tie("b"))

    // hand-computable case: two far blobs, one centroid in each -> probing
    // both cells at nProbe=2 is exhaustive (recall 1.0) and the fuller
    // blob's share is the max occupancy
    val blobs = ((0L until 30L).map(i => (i, Array.fill(dim)(0.0f).updated(0, i * 0.01f).toSeq)) ++
      (30L until 40L).map(i => (i, Array.fill(dim)(50.0f).updated(0, 50f + i * 0.01f).toSeq)))
      .toDF("vec_id", "embedding")
    val twoCents = blobs.filter(col("vec_id").isin(0L, 30L))
    val card = Ann.ivfStalenessCard(blobs.filter(col("vec_id") < 5), blobs,
        Seq("two" -> twoCents), k = 2, nProbe = 2,
        metric = "EUCLIDEAN", excludeSelf = true)
      .select(col("recall"), col("max_cell_frac"))
      .as[(Double, Double)].collect().head
    assert(card._1 == 1.0)
    assert(card._2 == 0.75) // 30 of 40 in the origin blob's cell
  }

  test("routed search: routes match the eligible estimate; exact slice is the truth; all neighbors eligible") {
    // labels are 0..9 × 20 rows: IN(0) → est 20, GE 5 → est 100, IN(0,1) → 40
    def rBlob(mod: Long): Array[Byte] = PNodeCodec.encodeFramed(mod match {
      case 0 => PredicateNode.namedTyped("label", OpType.IN, IntVal(0))
      case 1 => PredicateNode.namedTyped("label", OpType.GE, IntVal(5))
      case _ => PredicateNode.namedTyped("label", OpType.IN, IntVal(0), IntVal(1))
    }, PNodeCodec.Mode.NamedTyped)
    val rUdf = udf((qid: Long) => rBlob(qid % 3))
    val q = base.filter(col("vec_id") >= 150).withColumn("predicate", rUdf(col("vec_id")))
    val index = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
    val stats = Ann.cellSelectivityStats(index, "label")

    // exactMax 25 → IN(0) exact; wideFraction 0.4 (80 of 200) → GE 5 wide;
    // IN(0,1) in between → planned
    val routes = Ann.routePlan(q, stats, "label", exactMax = 25L,
        wideFraction = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(routes.length == 50)
    routes.foreach { case (qid, est, route) =>
      val (wantEst, wantRoute) = (qid % 3) match {
        case 0 => (20L, "exact")
        case 1 => (100L, "wide")
        case _ => (40L, "planned")
      }
      assert(est == wantEst && route == wantRoute, s"q$qid: ($est, $route)")
    }

    val got = Ann.hybridSearchRouted(q, index, centroids, stats, "label",
      k = 5, exactMax = 25L, wideFraction = 0.4, nProbeWide = 4,
      safety = 2.0, minProbe = 1, maxProbe = 8,
      metadataCols = Seq("label"), excludeSelf = true)
    val rows = got.collect()
    // route column agrees with the plan, for every returned row
    val routeOf = routes.map(r => r._1 -> r._3).toMap
    rows.foreach { r =>
      assert(r.getString(r.fieldIndex("route")) == routeOf(r.getLong(0)))
    }
    // every neighbor satisfies its query's predicate
    val labelOf = base.select(col("vec_id"), col("label"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(r.fieldIndex("neighbor_id")))
      val ok = (qid % 3) match {
        case 0 => labelOf(nid) == 0L
        case 1 => labelOf(nid) >= 5L
        case _ => labelOf(nid) <= 1L
      }
      assert(ok, s"q$qid neighbor $nid label ${labelOf(nid)}")
    }
    // the exact slice equals the filtered exact ground truth
    val want = key(HybridGroundTruth.knnWithPerQueryPredicates(
      q.filter(pmod(col("vec_id"), lit(3)) === 0), base, k = 5,
      metadataCols = Seq("label"), excludeSelf = true))
    val gotExact = key(got.filter(col("route") === "exact"))
    assert(gotExact == want)

    // report card: one row per route, exact recall structurally 1.0,
    // query counts sum to the load
    val card = Ann.routerReportCard(q, index, centroids, stats, "label",
        k = 5, exactMax = 25L, wideFraction = 0.4, nProbeWide = 4,
        safety = 2.0, minProbe = 1, maxProbe = 8,
        metadataCols = Seq("label"), excludeSelf = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    assert(card.keySet == Set("exact", "planned", "wide"))
    assert(card("exact")._2 == 1.0, s"exact route must be the truth: $card")
    assert(card.values.map(_._1).sum == 50L)
  }

  // every hybrid entry point takes its trees from HybridGroundTruth.perQuery:
  // a tree naming a field the caller's metadata lacks throws while the frame
  // is built, before the caller runs any action
  private lazy val missingField = {
    val badBlob = PNodeCodec.encodeFramed(ConjugateNode.and(
        PredicateNode.namedTyped("label", OpType.GE, IntVal(1)),
        PredicateNode.namedTyped("nope", OpType.GE, IntVal(1))),
      PNodeCodec.Mode.NamedTyped)
    base.filter(col("vec_id") >= 195).withColumn("predicate", lit(badBlob))
  }
  private lazy val metaIndex = Ann.ivfIndexWithMeta(base, centroids, metaCols = Seq("label"))
  private lazy val metaStats = Ann.cellSelectivityStats(metaIndex, "label")
  private lazy val pqCodebooks = Pq.subsetCodebooks(base.filter(col("vec_id") < 16), m = 4)
  private val entryPoints: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "HybridGroundTruth.knnWithPerQueryPredicates" -> (() =>
      HybridGroundTruth.knnWithPerQueryPredicates(missingField, base, k = 3,
        metadataCols = Seq("label"))),
    "Ann.ivfSearchFiltered" -> (() =>
      Ann.ivfSearchFiltered(missingField, metaIndex, centroids, k = 3, nProbe = 2,
        metadataCols = Seq("label"))),
    "Ann.adaptiveProbeWidths" -> (() =>
      Ann.adaptiveProbeWidths(missingField, centroids, metaStats, "label", k = 3,
        safety = 2.0, minProbe = 1, maxProbe = 4)),
    "Ann.ivfSearchFilteredAdaptive" -> (() =>
      Ann.ivfSearchFilteredAdaptive(missingField, metaIndex, centroids, metaStats,
        "label", k = 3, safety = 2.0, minProbe = 1, maxProbe = 4,
        metadataCols = Seq("label"))),
    "Ann.routePlan" -> (() =>
      Ann.routePlan(missingField, metaStats, "label", exactMax = 10L, wideFraction = 0.5)),
    "Sq.binaryTopKFiltered" -> (() =>
      Sq.binaryTopKFiltered(missingField, base, k = 3, dim = dim,
        metadataCols = Seq("label"))),
    "Hnsw.hnswSearchFiltered" -> (() =>
      Hnsw.hnswSearchFiltered(missingField,
        Hnsw.hnswIndexWithMeta(base, centroids, metaCols = Seq("label")),
        centroids, k = 3, nProbe = 2, ef = 4)),
    "Pq.ivfPqSearchFiltered" -> (() =>
      Pq.ivfPqSearchFiltered(missingField,
        Pq.ivfPqIndex(base, centroids, pqCodebooks)
          .join(base.select(col("vec_id").as("id"), col("label")), Seq("id")),
        centroids, pqCodebooks, k = 3, nProbe = 2, metadataCols = Seq("label"))))

  entryPoints.foreach { case (name, build) =>
    test(s"$name: a predicate naming a missing field fails when the frame is built") {
      val ex = intercept[IllegalArgumentException](build())
      assert(ex.getMessage.contains("fields nope not present"), ex.getMessage)
    }
  }
}
