package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, AsofJoin, Bm25, Dedup, Knn, Materialize, Mixture, Packing,
  Sampling}

/** Scaling soak (dev tool, not part of the driver contract): measures the
  * flagship scale paths at 100-1000× the driver testdata sizes so the
  * "would this survive 100×?" question has measured local answers.
  * Prints one timing line per stage.
  */
object ScaleSoak {

  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[soak] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nBase = sys.env.getOrElse("SOAK_BASE", "1000000").toLong
    val dim = 64
    val nQueries = 100

    // --- curation ops (SOAK_EVENTS=0 skips): skewed as-of + wide split
    val nEvents = sys.env.getOrElse("SOAK_EVENTS", "10000000").toLong
    if (nEvents > 0) {
      // 90% of state updates land on ONE key — the documented worst case
      // for the union+window plan (single hot partition, external sort)
      val right = spark.range(nEvents).select(
        when(col("id") % 10 < 9, 0L).otherwise(col("id") % 100).as("k"),
        col("id").as("t"), col("id").as("rid"),
        (col("id") % 1000).cast("double").as("v"))
      val left = spark.range(nEvents / 10).select(
        (col("id") % 100).as("k"), (col("id") * 7 % nEvents).as("t"))
      timed(s"as-of join ${nEvents / 10} probes vs $nEvents states (90% one key)") {
        AsofJoin.asof(left, right, keyCol = "k", timeCol = "t",
          tieCol = "rid", payloadCols = Seq("v")).count()
      }
      timed(s"split assignment over ${nEvents * 10} keys (pure projection)") {
        Sampling.assignSplit(spark.range(nEvents * 10).toDF(), "id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split").count().collect()
      }
    }
    // --- shuffle-partitioned exact KNN at the scale it exists for: a query
    // set past any broadcast budget, no base re-scans (SOAK_KNNPART_Q=0
    // skips). Exactness is checked on a 50-query sample against the
    // broadcast plan — the full-size run proves the plan executes, the
    // sample proves the grid loses/duplicates nothing.
    val nPartQ = sys.env.getOrElse("SOAK_KNNPART_Q", "10000").toInt
    if (nPartQ > 0) {
      val pBase = timed("knnPartitioned: generate 200k x 16 base") {
        val d = operators.Generators.gaussianVectors(spark, 200000, 16, seed = 21)
          .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
        d.cache(); d.count(); d
      }
      val pQ = pBase.filter(col("vec_id") < nPartQ)
      val part = timed(s"knnPartitioned 200k x $nPartQ k=10 grid 8x4") {
        val r = Knn.knnPartitioned(pQ, pBase, k = 10, nQBlocks = 8, nBBlocks = 4)
        r.cache(); r.count(); r
      }
      // max(1, .): nPartQ in 1..49 would make the modulus 0 and pmod(x, 0)
      // null, silently emptying the sample and passing the check vacuously
      val sample = pBase.filter(
        pmod(col("vec_id"), lit(math.max(1, nPartQ / 50))) === 0 &&
          col("vec_id") < nPartQ)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val refRows = canon(Knn.knn(sample, pBase, k = 10))
      val gotRows = canon(part.join(
        sample.select(col("vec_id").as("query_id")), Seq("query_id")))
      println(s"[soak] knnPartitioned sampled-exactness vs broadcast knn: " +
        s"${gotRows == refRows} (${refRows.size} rows)")
      require(gotRows == refRows, "knnPartitioned sample diverged from knn")
      part.unpersist(); pBase.unpersist()
    }

    // --- five-stage curation pipeline end-to-end (SOAK_PIPE=0 skips): the
    // q125 composition — quality gate → exact dedup → decontamination →
    // split → packing — at 100x the driver corpus, each stage materialized
    // for a clean per-stage time. ~5% planted exact dups; the 20-doc bench
    // is drawn FROM the corpus so decontamination provably removes leaks.
    val nPipe = sys.env.getOrElse("SOAK_PIPE", "1000000").toLong
    if (nPipe > 0) {
      import graft.functions.TextFunctions
      val pdocs = timed(s"pipeline: synthesize $nPipe docs (60 words, 5% exact dups)") {
        val d = spark.range(nPipe).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 60).map(w =>
            concat(lit("w"), pmod(xxhash64(
              when(col("id") % 20 === 0 && col("id") > 0, col("id") - 1)
                .otherwise(col("id")), lit(w)), lit(5000)))): _*).as("text"))
        d.cache(); d.count(); d
      }
      val bench = pdocs.filter(col("doc_id") < 20).select("doc_id", "text")
      val quality = timed("pipeline: quality gate (gopher flags)") {
        val q = TextFunctions.gopherFlags(pdocs, "doc_id", "text")
          .filter(col("word_count_ok")).select("doc_id")
        val j = pdocs.join(q, Seq("doc_id")); j.cache(); j.count(); j
      }
      val deduped = timed("pipeline: exact dedup keep-min") {
        val fp = quality.select(col("doc_id"), col("text"),
          TextFunctions.fingerprint(col("text")).as("f"))
        val keep = fp.groupBy("f").agg(min("doc_id").as("doc_id"))
        val d = fp.join(keep, Seq("f", "doc_id")).select("doc_id", "text")
        d.cache(); d.count(); d
      }
      val clean = timed("pipeline: 3-gram decontamination vs 20-doc bench") {
        val ids = Dedup.containmentScores(deduped, bench, "doc_id", "text", n = 3)
          .filter(col("containment") < 0.5).select(col("id").as("doc_id"))
        val c = deduped.join(ids, Seq("doc_id")); c.cache(); c.count(); c
      }
      val train = timed("pipeline: split assignment (train 90%)") {
        val t = Sampling.assignSplit(clean, "doc_id",
            Seq("train" -> 0.9, "val" -> 0.1))
          .filter(col("split") === "train")
        t.cache(); t.count(); t
      }
      timed("pipeline: packing coordinates of the train split") {
        Packing.packCoordinates(
          train.select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tok")),
          "doc_id", "n_tok", seqLen = 2048).agg(max("seq_last")).collect()
      }
      println(s"[soak] pipeline row counts: corpus=${pdocs.count()} " +
        s"quality=${quality.count()} deduped=${deduped.count()} " +
        s"clean=${clean.count()} train=${train.count()}")
      Seq(pdocs, quality, deduped, clean, train).foreach(_.unpersist())
    }

    if (nBase == 0) { spark.stop(); return }

    // --- vectors: generate once, reuse across stages
    val base = timed(s"generate $nBase x $dim vectors") {
      val df = operators.Generators.gaussianVectors(spark, nBase, dim)
        .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
      df.cache(); df.count(); df
    }
    val queries = base.filter(col("vec_id") < nQueries)

    // --- the grid form PAST the broadcast-impossible line (opt-in:
    // SOAK_KNNPART_BIG=100000): 1M x 64 base against a 100k query set —
    // 1e11 exact pairs, a query side nothing should broadcast per task at
    // production dims. Sizing per PLANS.md: queries-per-block under the
    // (raised) sort-based-fallback threshold -> nQBlocks = ceil(100k/32k)
    // = 4; base at ~64 MB of replicated vectors per block -> nBBlocks = 4.
    // A listener totals shuffle-write bytes so the heap-exchange volume is
    // MEASURED against the 1e11-pair space that never materializes.
    val nBigQ = sys.env.getOrElse("SOAK_KNNPART_BIG", "0").toInt
    if (nBigQ > 0) {
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      val bigQ = base.filter(col("vec_id") < nBigQ)
      val grid = timed(s"knnPartitioned $nBase x $nBigQ k=10 grid 4x4") {
        val r = Knn.knnPartitioned(bigQ, base, k = 10, nQBlocks = 4, nBBlocks = 4)
        r.cache(); r.count(); r
      }
      spark.sparkContext.removeSparkListener(listener)
      val pairSpace = nBase * nBigQ.toLong
      println(f"[soak] knnPartitioned grid shuffle-write ${shuffleBytes.get / 1e9}%.2f GB " +
        f"vs pair space $pairSpace%,d pairs (~${pairSpace * 24 / 1e12}%.1f TB if materialized)")
      // sampled exactness vs the broadcast plan (the grid must lose nothing)
      val bigSample = base.filter(
        pmod(col("vec_id"), lit(math.max(1, nBigQ / 50))) === 0 &&
          col("vec_id") < nBigQ)
      def canonB(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val wantB = canonB(Knn.knn(bigSample, base, k = 10))
      val gotB = canonB(grid.join(
        bigSample.select(col("vec_id").as("query_id")), Seq("query_id")))
      println(s"[soak] knnPartitioned 1Mx100k sampled-exactness: ${gotB == wantB} " +
        s"(${wantB.size} rows)")
      require(gotB == wantB, "big-grid knnPartitioned diverged from broadcast knn")
      grid.unpersist()
    }

    // --- exact-KNN / IVF / PQ block (SOAK_ANN=0 skips)
    if (sys.env.getOrElse("SOAK_ANN", "1") != "0") {
    val brute = timed(s"brute KNN $nQueries x $nBase k=10") {
      val r = Knn.knn(queries, base, k = 10)
      r.cache(); r.count(); r
    }

    val centroids = timed("IVF train (sampled KMeans, nList=256)") {
      Ann.trainCentroids(spark, base, nList = 256)
    }
    val index = timed("IVF index assignment") {
      val idx = Ann.ivfIndex(base, centroids)
      idx.cache(); idx.count(); idx
    }
    val ivf = timed("IVF search nProbe=16") {
      val r = Ann.ivfSearch(queries, index, centroids, k = 10, nProbe = 16)
      r.cache(); r.count(); r
    }
    val recall = Knn.avgRecall(ivf, brute, 10).collect()(0).getDouble(0)
    println(f"[soak] IVF recall@10 vs brute (nProbe=16/256): $recall%.4f")
    // lloyd-trained quantizer + the recall@nProbe eval card (q192's shape
    // at scale): one assignment, four probe widths, exact truth reused
    locally {
      val lloydCents = timed("IVF lloyd train (k=256, 3 iters)") {
        operators.Ann.lloydCentroids(
          operators.Clustering.lloyd(base, k = 256, iters = 3)
            .filter(col("n_points") > 0))
      }
      val curve = timed("IVF recall curve nProbe=4/16/64 (lloyd centroids)") {
        operators.Ann.recallCurve(queries, base, lloydCents, k = 10,
          nProbes = Seq(4, 16, 64)).collect()
      }
      curve.sortBy(_.getLong(0)).foreach(r =>
        println(f"[soak] IVF lloyd recall@10 nProbe=${r.getLong(0)}: ${r.getDouble(1)}%.4f"))
    }

    // --- filtered ANN + index maintenance at 1M (SOAK_FILTERED=0 skips)
    if (sys.env.getOrElse("SOAK_FILTERED", "1") != "0") {
      import graft.predicates._
      val metaBase = base.withColumn("lab", pmod(col("vec_id"), lit(100000)))
      val fIndex = timed(s"filtered IVF index with metadata ($nBase rows)") {
        val i = operators.Ann.ivfIndexWithMeta(metaBase, centroids,
          metaCols = Seq("lab"))
        i.cache(); i.count(); i
      }
      def blob(lt: Long): Array[Byte] = PNodeCodec.encodeFramed(
        PredicateNode.namedTyped("lab", OpType.LT, Comparand.IntVal(lt)),
        PNodeCodec.Mode.NamedTyped)
      // the 0.001% tier leaves ~nBase/1e5·10 eligible rows corpus-WIDE —
      // nProbe=16/256 sees ~1/16 of them, well under k: the escalation
      // path MUST engage for that tier
      val blobUdf = udf((qid: Long) => (qid % 3) match {
        case 0 => blob(10000) // 10% selectivity
        case 1 => blob(100)   // 0.1%
        case _ => blob(10)    // 0.001%
      })
      val fq = metaBase.filter(col("vec_id") < nQueries)
        .withColumn("predicate", blobUdf(col("vec_id")))
      val filtered = timed("filtered IVF search nProbe=16 (10%/0.1%/0.001% tiers)") {
        val r = operators.Ann.ivfSearchFiltered(fq, fIndex, centroids,
          k = 10, nProbe = 16, metadataCols = Seq("lab"))
        r.cache(); r.count(); r
      }
      val full = filtered.groupBy("query_id").count()
        .filter(col("count") === 10).count()
      println(s"[soak] filtered IVF starved queries at nProbe=16: " +
        s"${nQueries - full} of $nQueries")
      val guaranteed = timed("guaranteed-k filtered search (pass1 + escalation)") {
        val g = operators.Ann.ivfSearchFilteredGuaranteed(fq, fIndex, centroids,
          k = 10, nProbe = 16, metadataCols = Seq("lab"))
        g.cache(); g.count(); g
      }
      val esc = guaranteed.filter(col("escalated"))
        .select("query_id").distinct().count()
      val minRows = guaranteed.groupBy("query_id").count()
        .agg(min("count")).collect()(0).getLong(0)
      println(s"[soak] guaranteed-k: $esc of $nQueries queries escalated; " +
        s"min per-query rows = $minRows (k=10; 0.001% tier has ~${nBase / 10000} eligible)")
      filtered.unpersist(); guaranteed.unpersist()

      // maintenance: the append path assigns ONLY the 5% slice — measured
      // against the full-rebuild assignment it replaces; search parity on
      // the soak queries proves the maintained index loses nothing
      val cut = (nBase * 95 / 100).toLong
      val oldIndex = timed("maintenance: index the 95% old corpus") {
        val i = operators.Ann.ivfIndexWithMeta(
          metaBase.filter(col("vec_id") < cut), centroids, metaCols = Seq("lab"))
        i.cache(); i.count(); i
      }
      val maintained = timed(s"maintenance: append 5% slice + delete ids%20==0") {
        val m = operators.Ann.ivfDelete(
          operators.Ann.ivfAppend(oldIndex,
            metaBase.filter(col("vec_id") >= cut), centroids,
            metaCols = Seq("lab")),
          metaBase.filter(col("vec_id") % 20 === 0))
        m.cache(); m.count(); m
      }
      val rebuilt = timed("maintenance: full rebuild over the final corpus") {
        val r = operators.Ann.ivfIndexWithMeta(
          metaBase.filter(col("vec_id") % 20 =!= 0), centroids,
          metaCols = Seq("lab"))
        r.cache(); r.count(); r
      }
      def srch(ix: org.apache.spark.sql.DataFrame) =
        operators.Ann.ivfSearch(queries, ix, centroids, k = 10, nProbe = 16)
          .select("query_id", "neighbor_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val parity = srch(maintained) == srch(rebuilt)
      println(s"[soak] maintained-index search parity vs rebuild: $parity")
      require(parity, "maintained IVF index diverged from rebuild")

      // persisted-bundle lifecycle at 1M: write, tombstone 5%, compact
      // (the rewrite IS the operation — one pass over live rows), serve
      val bPath = java.nio.file.Files.createTempDirectory("soak-bundle")
        .toString + "/ix"
      timed(s"bundle write ($nBase rows, cell-partitioned + quantizer)") {
        operators.Ann.writeIndexBundle(fIndex, centroids, bPath)
      }
      timed("bundle tombstone 5% + compact (rewrite live generation)") {
        operators.Ann.deleteFromBundle(
          metaBase.filter(col("vec_id") % 20 === 0), bPath)
        operators.Ann.compactBundle(spark, bPath)
      }
      val served = timed("bundle serve (static-pruned probe over compacted cells)") {
        operators.Ann.searchBundle(queries, bPath, k = 10, nProbe = 16).count()
      }
      println(s"[soak] bundle serve rows: $served")
      Seq(fIndex, oldIndex, maintained, rebuilt).foreach(_.unpersist())
    }

    // --- PQ: trained codebooks, full-corpus encode, ADC shortlist scan
    val codebooks = timed("PQ train (m=8, ksub=256, sampled)") {
      // ~250 training samples per codeword is the standard PQ regime
      operators.Pq.trainCodebooks(base, m = 8, ksub = 256,
        sampleFraction = math.min(1.0, 64000.0 / nBase))
    }
    val codes = timed(s"PQ encode $nBase vectors") {
      val c = operators.Pq.encode(base, codebooks)
      c.cache(); c.count(); c
    }
    val pqTop = timed(s"PQ ADC top-100 shortlist, $nQueries queries x $nBase codes") {
      val r = operators.Pq.adcSearch(queries, codes, codebooks, k = 100)
      r.cache(); r.count(); r
    }
    val pqShort = pqTop.select(col("query_id"), col("neighbor_id"))
    val pqHits = pqShort.join(brute.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id")).count()
    println(f"[soak] PQ shortlist-100 recall@10 vs brute: ${pqHits.toDouble / (nQueries * 10)}%.4f")
    pqTop.unpersist()
    codes.unpersist()
    }

    // --- round-10 session-3 surface at scale (SOAK_R10S3=0 skips): routed
    // filtered serving at 1M, blocklist |terms|-independence at 200k docs,
    // takedown cost vs from-scratch re-selection at 100k docs, HRW reshard
    // at 10M ids.
    if (sys.env.getOrElse("SOAK_R10S3", "1") != "0") {
      import graft.predicates._
      import graft.functions.HashMode

      // routed dispatch at 1M x 64: three selectivity tiers through ONE
      // load; the route column attributes cost per policy. lab has 1,000
      // distinct values — the categorical broadcast-stats contract.
      locally {
        val metaBase = base.withColumn("lab", pmod(col("vec_id"), lit(1000)))
        val cents = metaBase.filter(col("vec_id") < 256)
          .select("vec_id", "embedding")
        val rIndex = timed(s"routed: metadata index ($nBase x $dim, 256 cells)") {
          val i = operators.Ann.ivfIndexWithMeta(metaBase, cents, metaCols = Seq("lab"))
          i.cache(); i.count(); i
        }
        val stats = Materialize.view(operators.Ann.cellSelectivityStats(rIndex, "lab"))
        def blob(lt: Long): Array[Byte] = PNodeCodec.encodeFramed(
          PredicateNode.namedTyped("lab", OpType.LT, Comparand.IntVal(lt)),
          PNodeCodec.Mode.NamedTyped)
        val rUdf = udf((qid: Long) => (qid % 3) match {
          case 0 => blob(1)   // ~0.1% eligible -> exact route
          case 1 => blob(600) // ~60% -> wide
          case _ => blob(50)  // ~5% -> planned
        })
        val rq = metaBase.filter(col("vec_id") < nQueries)
          .withColumn("predicate", rUdf(col("vec_id")))
        val routed = timed("routed filtered search (0.1%/5%/60% tiers, k=10)") {
          val r = operators.Ann.hybridSearchRouted(rq, rIndex, cents, stats,
            "lab", k = 10, exactMax = 2000L, wideFraction = 0.5,
            nProbeWide = 16, safety = 2.0, minProbe = 4, maxProbe = 64,
            metadataCols = Seq("lab"))
          r.cache(); r.count(); r
        }
        routed.groupBy("route").agg(count_distinct(col("query_id")).as("q"))
          .collect().sortBy(_.getString(0)).foreach(r =>
            println(s"[soak] routed: route=${r.getString(0)} queries=${r.getLong(1)}"))
        routed.unpersist(); rIndex.unpersist()
      }

      // blocklist: the SAME 200k-doc scan at 100 vs 5,000 distinct terms —
      // Aho-Corasick cost is O(len + hits) per doc, so wall time must stay
      // ~flat while a per-term scan would grow 50x
      locally {
        val bDocs = spark.range(200000).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 50).map(j =>
            concat(lit("w"), pmod(col("id") * 31 + j, lit(5000)))): _*).as("text"))
        bDocs.cache(); bDocs.count()
        def run(n: Int): Long = timed(s"blocklist AC scan 200k docs x $n terms") {
          operators.Blocklist.hitCounts(bDocs, "doc_id", "text",
              (0 until n).map(i => "w" + (i * 7 % 5000)))
            .agg(sum("total_hits")).collect()(0).getLong(0)
        }
        val h1 = run(100)
        val h2 = run(5000)
        println(s"[soak] blocklist total hits: 100-term=$h1 5000-term=$h2")
        bDocs.unpersist()
      }

      // takedown at 100k docs: the sweep is artifact anti-joins + one
      // scalar re-selection — measured against the from-scratch pipeline
      // it replaces (which re-signatures the whole corpus)
      locally {
        val nRel = 100000L
        val tDocs = spark.range(nRel).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 40).map(j =>
            concat(lit("t"), pmod(col("id") * 13 + j * j, lit(20000)))): _*).as("text"))
        tDocs.cache(); tDocs.count()
        val bench = tDocs.filter(col("doc_id") % 97 === 0)
        val p = operators.Release.Params(budget = nRel * 10)
        val art = timed(s"takedown: build release artifacts ($nRel docs)") {
          operators.Release.materialized(
            operators.Release.artifacts(tDocs, bench, "doc_id", "text", p))
        }
        val scratch = timed("takedown baseline: from-scratch re-selection") {
          operators.Release.fromScratch(
            tDocs.filter(col("doc_id") % 11 =!= 3), bench, "doc_id", "text", p).count()
        }
        val swept = timed("takedown sweep: prune artifacts + re-select (9% removed)") {
          operators.Release.takedown(tDocs, art,
            tDocs.filter(col("doc_id") % 11 === 3).select("doc_id"),
            "doc_id", p)._1.count()
        }
        require(swept == scratch,
          s"takedown selection diverged: $swept vs $scratch")
        println(s"[soak] takedown == from-scratch on reduced corpus: " +
          s"$swept selected")
        tDocs.unpersist()
      }

      // NFD whole-doc packing at 1M docs across 256 HRW shards: the walk
      // is per-shard (flatMapGroups state = the shard's (id, len) pairs,
      // ~4k docs each), so the 1M-doc corpus packs in parallel
      locally {
        val lens = spark.range(1000000).select(col("id").as("doc_id"),
          (pmod(xxhash64(col("id")), lit(2000)) + 50).as("n_tok"))
        val sharded = graft.layout.Sharding.rendezvousAssign(
          lens, "doc_id", 256, graft.functions.HashMode.Xx64)
        val packed = timed("NFD whole-doc packing: 1M docs, 256 shards, seqLen 4096") {
          val pk = operators.Packing.nextFitDecreasing(
            sharded, "shard", "doc_id", "n_tok", seqLen = 4096L)
          pk.cache(); pk.count(); pk
        }
        val rep = operators.Packing.binPackReport(packed, "shard", 4096L)
          .agg(sum("n_bins").as("bins"), sum("n_tokens").as("toks")).collect()(0)
        println(f"[soak] NFD: ${rep.getLong(0)}%,d bins, fill " +
          f"${rep.getLong(1).toDouble / (rep.getLong(0) * 4096L)}%.4f")
        packed.unpersist()
      }

      // HRW sharding at 10M ids: pure projection assign + the reshard card
      locally {
        val ids = spark.range(10000000).toDF("doc_id")
        timed("HRW assign 10M ids x 16 shards (xx64)") {
          graft.layout.Sharding.rendezvousAssign(ids, "doc_id", 16, HashMode.Xx64)
            .groupBy("shard").count().count()
        }
        val card = timed("HRW reshard card 16 -> 20 at 10M ids") {
          graft.layout.Sharding.reshardStabilityCard(
            ids, "doc_id", 16, 20, HashMode.Xx64).collect()
        }
        card.sortBy(_.getString(0)).foreach(r => println(
          f"[soak] reshard ${r.getString(0)}: moved_frac=${r.getDouble(3)}%.4f"))
      }
    }
    // --- docs: synthetic corpus with planted near-dups (SOAK_DOCS=0 skips)
    val nDocs = sys.env.getOrElse("SOAK_DOCS", "50000").toLong
    if (nDocs == 0) { spark.stop(); return }
    val docs = timed(s"synthesize $nDocs docs") {
      val d = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(w =>
          // ~5k-word vocabulary, content seeded per (doc-family, position):
          // every 10th doc is a near-dup of its family head (one word differs)
          concat(lit("w"), pmod(xxhash64(
            when(col("id") % 10 === 0, col("id") - lit(10)).otherwise(col("id") - col("id") % 10),
            lit(w), when(lit(w) === 39, col("id") % 10).otherwise(lit(0))), lit(5000))
          )): _*).as("text"))
      d.cache(); d.count(); d
    }
    timed(s"MinHash+LSH near-dup pairs over $nDocs docs") {
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
        numPerms = 128, bands = 32, threshold = 0.8).count()
    }
    timed(s"capped Jaccard (dfCap=500) over $nDocs docs") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.8, dfCap = 500).count()
    }
    timed(s"bucketed embedding near-dup over $nBase vectors") {
      // bits sized to corpus (log2(1M)+2 = 22): single-digit bucket occupancy
      Dedup.embeddingNearDupPairsBucketed(base, "vec_id", "embedding",
        threshold = 0.999, nBits = 22, nTables = 8).count()
    }
    timed(s"duplicated-span fractions (w=8) over $nDocs docs") {
      Dedup.duplicatedSpans(docs, "doc_id", "text", w = 8)
        .agg(sum("n_dup")).collect()
    }
    timed(s"BM25 top-100 over $nDocs docs") {
      Bm25.bm25(docs, "doc_id", "text",
        terms = Seq("w0", "w17", "w4999"), k = 100).count()
    }
    timed(s"semantic dedup over $nBase embeddings") {
      Dedup.semanticDedup(base, "vec_id", "embedding",
        threshold = 0.999, nBits = 22, nTables = 8)
        .filter(!col("keep")).count()
    }
    // k-means-sharded SemDeDup at the same scale: candidate volume is
    // STRUCTURAL (Σ n_c² over cells) vs the LSH path's bucket co-occupancy
    // — print both so the knob trade (cells vs nBits) is measured, then run
    // the full sharded dedup
    val sdCells = sys.env.getOrElse("SOAK_SEMDEDUP_CELLS", "2048").toInt
    if (sdCells > 0) {
      val sdCents = timed(s"sharded semdedup: lloyd $sdCells cells x 2 iters") {
        // our own deterministic Lloyd (one treeAggregate per iteration) —
        // the ML-KMeans trainer at k=2048 spends minutes on k-means|| init
        val c = operators.Clustering.lloyd(base, k = sdCells, iters = 2)
          .select(col("cell"), col("centroid"))
        c.cache(); c.count(); c
      }
      val hist = operators.Clustering.assign(base, sdCents, metric = "EUCLIDEAN")
        .groupBy("cell").count().select(col("count").as("c"))
      // `div`: Spark's `/` is double division and would overflow getLong
      val shardedCand = hist.agg(sum(expr("c * (c - 1) div 2"))).collect()(0).getLong(0)
      val lshCand = timed("LSH candidate volume (threshold=-1 passes all)") {
        Dedup.embeddingNearDupPairsBucketed(base, "vec_id", "embedding",
          threshold = -1.0, nBits = 22, nTables = 8).count()
      }
      println(s"[soak] semdedup candidates: sharded($sdCells cells)=$shardedCand " +
        s"vs LSH(22x8)=$lshCand over $nBase embeddings")
      timed(s"sharded semantic dedup ($sdCells cells) over $nBase embeddings") {
        Dedup.semanticDedupSharded(base, "vec_id", "embedding",
          threshold = 0.999, centroids = sdCents)
          .filter(!col("keep")).count()
      }
    }
    // --- packing / mixture: counts-only frames, 20x the doc corpus
    val nPack = nDocs * 20
    timed(s"sequence packing coordinates over $nPack docs") {
      Packing.packCoordinates(
        spark.range(nPack).select(col("id"), (col("id") % 900 + 100).as("n_tok")),
        "id", "n_tok", seqLen = 2048)
        .agg(max("seq_last")).collect()
    }
    timed(s"pack manifest explode over $nPack docs") {
      Packing.packManifest(
        spark.range(nPack).select(col("id"), (col("id") % 900 + 100).as("n_tok")),
        "id", "n_tok", seqLen = 2048).count()
    }
    timed(s"mixture materialization over $nPack rows") {
      Mixture.materialize(
        spark.range(nPack).select(col("id"),
          concat(lit("d"), pmod(col("id"), lit(7))).as("domain")),
        "domain", "id",
        factors = Map("d0" -> 2.5, "d1" -> 0.3, "d2" -> 0.0), default = 1.0)
        .count()
    }
    // --- round-7 additions: clustering / PCA / ranking / BPE
    timed(s"k-means lloyd k=256 x 3 iters over $nBase x $dim") {
      graft.operators.Clustering.lloyd(base, k = 256, iters = 3).count()
    }
    timed(s"PCA covariance + top-16 projection over $nBase x $dim") {
      graft.operators.Pca.project(base, "vec_id", "embedding", k = 16)
        .agg(max(element_at(col("proj"), 1))).collect()
    }
    timed(s"global rank + ntile(100) over ${nBase * 10} rows") {
      graft.operators.Ranking.ntileBuckets(
        spark.range(nBase * 10).select(col("id"),
          (col("id") * 2654435761L % 1000000007L).as("score")),
        Seq("score", "id"), k = 100)
        .groupBy("bucket").count().count()
    }
    timed(s"BPE 20 merges over the $nDocs-doc corpus vocabulary") {
      graft.operators.Bpe.train(docs, "text", numMerges = 20).count()
    }
    timed(s"bigram surprisal over $nDocs docs") {
      graft.operators.UnigramLm.bigramSurprisal(docs, "doc_id", "text")
        .agg(max("bigram_surprisal")).collect()
    }
    // --- round-8 additions: D4 prune / bloom / weighted sample / excision
    timed(s"prototypicality prune (drop 30%) over $nBase x $dim, 256 cells") {
      val init = base.orderBy("vec_id").limit(256)
        .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
      graft.operators.Clustering.prototypicalityPrune(base, init, 0.3,
        metric = "EUCLIDEAN").count()
    }
    timed(s"bloom build (2^24 bits) from 5k bench docs + score $nDocs docs") {
      val bits = graft.operators.Bloom.build(
        docs.filter(col("doc_id") < 5000), "text", n = 3,
        mBits = 1 << 24, kProbes = 4)
      graft.operators.Bloom.containmentScores(docs, bits, "doc_id", "text",
        n = 3, kProbes = 4).agg(avg("bloom_containment")).collect()
    }
    timed(s"weighted sample 1000 of ${nBase * 10} rows (TakeOrdered heap)") {
      graft.operators.Sampling.weightedSample(
        spark.range(nBase * 10).select(col("id"),
          (pmod(col("id") * 2654435761L, lit(97L)) + 1).cast("double").as("w")),
        "id", "w", n = 1000).count()
    }
    timed(s"exactsubstr removal (w=8) over $nDocs docs") {
      graft.operators.Dedup.removeDuplicatedSpans(docs, "doc_id", "text", w = 8)
        .agg(sum("n_removed")).collect()
    }
    // char-level (suffix-array-true) form: window hashing is the dominant
    // kernel — O(len·L) under md5/xx64, O(len) under poly's rolling
    // recurrence. Report bytes/sec in all three modes; the md5→xx64 delta
    // is the hash-cost tax, the xx64→poly delta is the rolling win.
    locally {
      val corpusChars = docs.agg(sum(length(col("text")))).collect()(0).getLong(0)
      for (m <- Seq(graft.functions.HashMode.Md5, graft.functions.HashMode.Xx64,
          graft.functions.HashMode.Poly)) {
        val t0 = System.nanoTime()
        graft.operators.Dedup.removeExactSubstrChar(docs, "doc_id", "text",
          minLen = 40, mode = m).agg(sum("n_removed")).collect()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[soak] exactsubstr CHAR (L=40) over $nDocs docs [${m.name}]: " +
          f"$secs%.2f s (${corpusChars / secs / 1e6}%.1f MB/s)")
      }
    }
    // --- round-8 session 2: CMS / grouped rank / interval join / Viterbi
    // both hash modes: the md5-vs-xx64 delta IS the oracle-parity tax
    // this soak exists to measure (4 probes/token on the build)
    for (m <- Seq(graft.functions.HashMode.Md5, graft.functions.HashMode.Xx64)) {
      timed(s"CMS build 4x2^20 + heavy hitters over $nDocs docs [${m.name}]") {
        val toks = docs.select(explode(split(col("text"), " ")).as("term"))
        val grid = graft.operators.Cms.build(toks, "term",
          depth = 4, width = 1 << 20, mode = m)
        graft.operators.Cms.estimates(toks, grid, depth = 4, termCol = "term",
          mode = m).filter(col("cms_count") >= 1000).count()
      }
    }
    for (m <- Seq(graft.functions.HashMode.Md5, graft.functions.HashMode.Xx64)) {
      timed(s"DSIR weights (4096 buckets) over $nDocs docs [${m.name}]") {
        graft.operators.Dsir.importanceWeights(docs,
          docs.filter(col("doc_id") < 2000), "doc_id", "text",
          nBuckets = 4096, mode = m).agg(sum("log_weight")).collect()
      }
    }
    timed(s"grouped percent rank over ${nBase * 10} rows, skewed 7 groups") {
      // group g0 owns ~80% of rows — the per-group-window killer case
      graft.operators.Ranking.groupedPercentRank(
        spark.range(nBase * 10).select(col("id"),
          when(pmod(col("id"), lit(10L)) < 8, "g0")
            .otherwise(concat(lit("g"), pmod(col("id"), lit(7L)))).as("grp"),
          (col("id") * 2654435761L % 1000000007L).as("score")),
        "grp", Seq("score", "id"))
        .groupBy("grp").agg(max("pr")).count()
    }
    timed(s"grouped quantiles (3 ps, skewed groups) over ${nBase * 10} rows") {
      graft.operators.Ranking.groupedQuantiles(
        spark.range(nBase * 10).select(col("id"),
          when(pmod(col("id"), lit(10L)) < 8, "g0")
            .otherwise(concat(lit("g"), pmod(col("id"), lit(7L)))).as("grp"),
          (col("id") * 2654435761L % 1000000007L).cast("double").as("score")),
        "grp", "score", Seq(0.25, 0.5, 0.75)).count()
    }
    timed(s"interval join: ${nBase * 10} points vs ${nBase / 10} intervals") {
      val pts = spark.range(nBase * 10).select(
        pmod(col("id"), lit(64L)).as("k"),
        (col("id") * 37L % (nBase * 100L)).as("p"))
      val ivs = spark.range(nBase / 10).select(col("id").as("iid"),
        pmod(col("id"), lit(64L)).as("k"),
        (col("id") * 3700L % (nBase * 100L)).as("s"))
        .withColumn("e", col("s") + 5000L)
      graft.operators.IntervalJoin.pointInInterval(
        pts, ivs, "p", "s", "e", Seq("k"), bucketWidth = 5000L).count()
    }
    timed(s"Viterbi segmentation scores over the $nDocs-doc vocabulary") {
      graft.operators.UnigramSeg.wordBestScores(docs, "text")
        .agg(min("best_score")).collect()
    }
    // --- round-9 session 2: MG / MMR / k-center / distinct-n
    timed(s"Misra-Gries k=256 two-phase guaranteed heavy over $nDocs docs") {
      graft.operators.Freq.guaranteedHeavyTokens(docs, "text", k = 256).count()
    }
    timed(s"exact full-vocab frequency aggregate (the shuffle MG's phase 1 avoids)") {
      docs.select(explode(split(lower(col("text")), " ")).as("t"))
        .filter(col("t") =!= "").groupBy("t").count().count()
    }
    timed(s"distinct-n (1..3) diversity card over $nDocs docs") {
      graft.operators.Diversity.distinctN(docs, "text").collect()
    }
    timed(s"MMR k=10 over 1000 queries x ~100 candidates ($dim-dim)") {
      val cand = base.filter(col("vec_id") < 100000)
        .select(pmod(col("vec_id"), lit(1000L)).as("q"), col("vec_id").as("id"),
          (pmod(col("vec_id") * 2654435761L, lit(1000000L)) / 1e6).as("rel"),
          col("embedding"))
      graft.operators.Mmr.mmrSelect(cand, "q", "id", "rel", "embedding",
        lambda = 0.7, k = 10).count()
    }
    timed(s"k-center greedy k=16 over $nBase x $dim (16 map+TakeOrdered rounds)") {
      graft.operators.Coreset.kCenterGreedy(base, "vec_id", "embedding",
        k = 16).count()
    }
    timed(s"wordpiece vocab+encode over the $nDocs-doc distinct words") {
      val v = graft.operators.WordPiece.vocabFromCorpus(docs, "text")
      graft.operators.WordPiece.encodeWords(docs, "text", v).count()
    }
    timed(s"heaps vocabulary-growth fit over $nDocs docs") {
      graft.operators.Heaps.heapsFit(docs, "doc_id", "text").collect()
    }
    timed(s"snapshot diff over 2x${nBase} synthesized doc versions") {
      val oldv = spark.range(nBase).select(col("id").as("doc_id"),
        concat(lit("body "), col("id")).as("text"))
      val newv = spark.range(nBase + nBase / 100).select(col("id").as("doc_id"),
        when(col("id") % 13 === 0, concat(lit("edited "), col("id")))
          .otherwise(concat(lit("body "), col("id"))).as("text"))
      graft.operators.Snapshot.diffCard(oldv, newv, "doc_id", "text").collect()
    }
    timed(s"budget-select (density prefix) over ${nBase * 10} rows") {
      graft.operators.Sampling.budgetSelect(
        spark.range(nBase * 10).select(col("id"),
          (pmod(col("id") * 2654435761L, lit(1000L)) + 1).cast("double").as("score"),
          (pmod(col("id"), lit(900L)) + 100).as("cost")),
        "id", "score", "cost", budget = nBase).count()
    }
    timed(s"binary (sign) Hamming top-10: 100 queries vs $nBase x $dim") {
      graft.operators.Sq.binaryTopK(base.filter(col("vec_id") < 100), base,
        k = 10, excludeSelf = true).count()
    }
    timed(s"RRF fusion of two ${nBase}-row rankings") {
      def synthRank(salt: Long) = spark.range(nBase).select(
        (col("id") / 20).cast("long").as("query_id"),
        pmod(col("id") * salt, lit(100000L)).as("neighbor_id"),
        (pmod(col("id"), lit(20L)) + 1).as("rank"))
      graft.operators.Fusion.rrf(Seq(synthRank(2654435761L),
        synthRank(40503L)), k = 10).count()
    }
    timed(s"grouped prefix sum over ${nBase * 10} rows, 100k groups + 1 giant") {
      // 50% of rows in ONE group (spans many partitions -> the boundary
      // carry path), the rest spread over ~100k small groups
      val rows = spark.range(nBase * 10).select(
        when(col("id") % 2 === 0, lit("giant"))
          .otherwise(concat(lit("g"), pmod(col("id") * 2654435761L, lit(100000L))))
          .as("g"),
        col("id").as("ord"), (pmod(col("id"), lit(13L)) + 1).as("v"))
      graft.operators.Ranking.groupedExclusivePrefixSum(
        rows, "g", Seq("ord"), "v", "cum").count()
    }
    timed(s"hashed doc embedding (64-dim, xx64) over $nDocs docs") {
      graft.operators.TfIdf.hashedEmbedding(docs, "doc_id", "text",
        dim = 64, mode = graft.functions.HashMode.Xx64).count()
    }
    timed(s"hard-EM unigram training x3 over the $nDocs-doc vocabulary") {
      graft.operators.UnigramSeg.hardEm(docs, "text", iters = 3).count()
    }
    timed(s"per-group budget select over ${nBase * 10} rows, 1000 groups") {
      graft.operators.Sampling.budgetSelectPerGroup(
        spark.range(nBase * 10).select(
          pmod(col("id"), lit(1000L)).as("g"), col("id"),
          (pmod(col("id") * 31L, lit(997L)) + 1).cast("double").as("score"),
          (pmod(col("id"), lit(500L)) + 10).as("cost")),
        "g", "id", "score", "cost", budgetPerGroup = 10000L).count()
    }
    locally {
      // z-order layout at 10M rows, 64 files: write cost + the pruning
      // asymmetry measured by file-footer intersection (y-slice 1/16)
      val zd = java.nio.file.Files.createTempDirectory("soak-z").toString + "/t"
      val rows = spark.range(nBase * 10).select(
        pmod(col("id") * 2654435761L, lit(1024L)).as("x"),
        pmod(col("id") * 40503L, lit(1024L)).as("y"))
      timed(s"z-order write ${nBase * 10} rows, 10-bit keys, 64 files") {
        graft.layout.ZOrder.zorderWrite(rows, zd, "x", "y", bits = 10, nFiles = 64)
      }
      val files = new java.io.File(zd).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      val touched = files.count(f => spark.read.parquet(f)
        .filter(col("y") >= 64 && col("y") < 128).limit(1).count() > 0)
      println(s"[soak] z-order y-slice (1/16 of space): $touched of ${files.length} files contain matches")
    }

    // --- round-9: COMPOSED pipelines at soak scale (the sf0.1 oracled
    // queries run on 5k docs; these are the same compositions on the
    // 50k-doc / nBase-emb corpus with per-stage timings, so a stage whose
    // share grows superlinearly has a named cause)
    locally {
      // selection-v2 (q184's composition)
      val sig = timed(s"selection-v2 [1/4] signals over $nDocs docs") {
        val s0 = docs.select(col("doc_id"), length(col("text")).as("n_chars"),
          graft.functions.TextFunctions.charEntropy(col("text")).as("entropy"))
        s0.cache(); s0.count(); s0
      }
      val ens = timed("selection-v2 [2/4] rank ensemble + gate") {
        val e = graft.operators.Ranking
          .rankEnsemble(sig, Seq("n_chars", "entropy"), "doc_id")
          .select(col("doc_id"), col("quality_ensemble").as("ens"))
          .filter(col("ens") >= 0.4)
        e.cache(); e.count(); e
      }
      val nov = timed(s"selection-v2 [3/4] novelty scores over $nDocs docs") {
        val n = graft.operators.Dedup
          .noveltyScores(docs, "doc_id", "text", n = 3, threshold = 0.3)
          .withColumnRenamed("id", "doc_id")
        n.cache(); n.count(); n
      }
      timed("selection-v2 [4/4] novelty gate + curriculum") {
        graft.operators.Sampling.curriculumSchedule(
          ens.join(nov, "doc_id").filter(col("novelty") >= 0.7)
            .select(col("doc_id"), col("ens")),
          "doc_id", "ens", k = 4, salt = "sel").count()
      }
      Seq(sig, ens, nov).foreach(_.unpersist())

      // D4 (q165's composition) over nBase embeddings: lloyd-sharded
      // SemDeDup then prototypicality prune against the SAME centroids
      val d4Cents = timed(s"D4 [1/3] lloyd 2048 cells over $nBase embeddings") {
        val c = operators.Clustering.lloyd(base, k = 2048, iters = 2)
          .filter(col("n_points") > 0)
          .select(col("cell"), col("centroid"))
        c.cache(); c.count(); c
      }
      val d4Kept = timed("D4 [2/3] sharded SemDeDup keep set") {
        val dd = Dedup.semanticDedupSharded(base, "vec_id", "embedding",
          threshold = 0.95, centroids = d4Cents)
        val kept = base.join(dd.filter(col("keep")).select(col("id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        kept.cache(); kept.count(); kept
      }
      timed("D4 [3/3] prototypicality prune (drop 25%)") {
        operators.Clustering.prototypicalityPrune(d4Kept, d4Cents,
          dropFrac = 0.25, metric = "EUCLIDEAN").count()
      }
      d4Cents.unpersist(); d4Kept.unpersist()

      // tokenize→pack spine (q148's composition) over the doc corpus
      val model = timed(s"pack spine [1/3] BPE fit 8 merges on $nDocs docs") {
        operators.Bpe.fit(docs, "text", numMerges = 8)
      }
      val enc = timed("pack spine [2/3] encode to id streams") {
        val e = operators.Bpe.encode(docs, "doc_id", "text", model)
        e.cache(); e.count(); e
      }
      timed("pack spine [3/3] materialize 512-token sequences") {
        operators.Packing.materializeTokenSequences(
          enc.select(col("doc_id"),
            expr("transform(tok_ids, t -> cast(t AS string))").as("toks")),
          "doc_id", "toks", seqLen = 512).count()
      }
      enc.unpersist()

      // Zipf rank-frequency fit at REALISTIC type counts: a 100k-type
      // skewed corpus (the 31-type sf fit is statistically degenerate —
      // this records the two-pass rank's cost at real vocabulary size)
      val zdocs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(w =>
          concat(lit("z"), (pmod(xxhash64(col("id"), lit(w)), lit(100000L)) *
            pmod(xxhash64(col("id"), lit(w)), lit(100000L)) / 100000L))): _*)
          .as("text"))
      zdocs.cache(); zdocs.count()
      timed(s"Zipf fit over $nDocs docs, ~100k-type skewed vocabulary") {
        val wc = zdocs
          .select(explode(split(col("text"), " ")).as("t"))
          .filter(col("t") =!= "")
          .groupBy("t").agg(count(lit(1)).cast("double").as("cnt"))
          .withColumn("nc", -col("cnt"))
        val ranked = operators.Ranking.globalRank(wc, Seq("nc", "t"), rankCol = "rk")
        val xy = ranked.select(log(col("rk").cast("double")).as("x"),
          log(col("cnt")).as("y"))
        val fit = xy.agg(count(lit(1)).as("n_types"),
          (covar_pop(col("y"), col("x")) / var_pop(col("x"))).as("slope"))
        val row = fit.collect()(0)
        println(f"[soak]   zipf n_types=${row.getLong(0)} slope=${row.getDouble(1)}%.4f")
        // posture check: the whole executed fit plan (token agg + two-pass
        // rank + regression) — the rank's range shuffle must stay the only
        // exchange beyond the two tiny aggregates
        val plan = fit.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val nEx = plan.toString.linesIterator
          .count(l => (l.contains("Exchange") || l.contains("ShuffleQueryStage"))
            && !l.contains("Reused"))
        println(s"[soak]   zipf full-plan exchanges (wc agg + rank + regr): $nEx")
      }
      zdocs.unpersist()
    }

    // --- round 10: skewed sharded SemDeDup under AQE skew-join, and the
    // incremental release vs its from-scratch equivalent (per-stage)
    if (sys.env.getOrElse("SOAK_R10", "1") != "0") {
      // (a) one giant cell holding 5% of 1M embeddings (50k² /2 = 1.25G
      // candidate pairs in one join key) — AQE must split it
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      // scale the skew threshold to the planted data the same way the
      // production default (256 MB) relates to real partitions: the giant
      // cell here is a few MB, so detection needs a proportional floor
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        (1L << 20).toString)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (512L << 10).toString)
      val dimS = 16
      val skCents = (0L until 256L).map { c =>
        (c, Array.tabulate(dimS)(j => if (j == (c % dimS).toInt) (10f + c) else 0f).toSeq)
      }.toDF("cell", "centroid")
      val giant = math.max(10000L, nBase / 20)
      val skEmb = spark.range(nBase / 2).select(col("id"),
          when(col("id") < giant, lit(0L)).otherwise(col("id") % 255 + 1).as("c"))
        .as[(Long, Long)]
        .map { case (i, c) =>
          val v = Array.tabulate(dimS) { j =>
            val base = if (j == (c % dimS).toInt) (10f + c) else 0f
            base + ((graft.functions.StableHash.fnv64(s"sk:$i:$j") >>> 40)
              .toFloat / (1L << 24) - 0.5f) * 0.01f
          }
          (i, v.toSeq)
        }.toDF("vec_id", "embedding")
      skEmb.cache(); skEmb.count()
      timed(s"sharded pair stage, ${nBase / 2} embeddings, giant cell = $giant (AQE skew)") {
        val agg = operators.Dedup.embeddingNearDupPairsSharded(
          skEmb, "vec_id", "embedding", threshold = 0.999999, skCents)
          .groupBy().count()
        val n = agg.collect()(0).getLong(0)
        val plan = agg.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        println(s"[soak]   pairs=$n skew-split=${plan.toString.contains("skew=true")}")
      }
      skEmb.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", cpus)

      // (b) incremental release vs from-scratch, stage-by-stage: v2 =
      // synthetic corpus, v1 = v2 minus 2% added, 1% changed — the
      // incremental path must cost O(slice), not O(corpus)
      val nRel = sys.env.getOrElse("SOAK_REL_DOCS", "100000").toLong
      // 600 tokens/doc (a few KB — the realistic document size class): the
      // incremental win scales with PER-DOC text work (shingling, md5
      // signaturing, containment), which from-scratch pays on the whole
      // corpus and incremental only on the 3% slice. The costs incremental
      // cannot avoid (band-bucket derivation of the persisted index, the
      // probe join, the global scalar re-selection) are doc-size
      // independent — at toy doc sizes they hide the win, which is itself
      // the honest claim: incremental pays off in proportion to how much
      // text the cached artifacts let you skip.
      val relDocs = spark.range(nRel).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 600).map(w =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(w)), lit(50000L)))): _*)
          .as("text"))
      relDocs.cache(); relDocs.count()
      val v2 = relDocs
      val v1 = relDocs.filter(pmod(col("doc_id"), lit(50)) =!= 1)
        .withColumn("text", when(pmod(col("doc_id"), lit(100)) === 2,
          concat(lit("OLDV "), col("text"))).otherwise(col("text")))
      val bench = relDocs.filter(pmod(col("doc_id"), lit(1000)) === 0)
      val p10 = operators.Release.Params(budget = nRel * 10)
      val art = timed(s"release [v1 artifacts] over ${nRel} docs (the cached prior release)") {
        val a = operators.Release.artifacts(v1, bench, "doc_id", "text", p10)
        operators.Release.Artifacts(Materialize.view(a.index),
          Materialize.view(a.pairs), Materialize.view(a.contam),
          Materialize.view(a.scores))
      }
      timed(s"release [from-scratch] over $nRel docs") {
        operators.Release.fromScratch(v2, bench, "doc_id", "text", p10).count()
      }
      timed(s"release [incremental] 2% added + 1% changed of $nRel docs") {
        operators.Release.incremental(v1, art, v2, bench, "doc_id", "text", p10).count()
      }
      // per-stage decomposition of the incremental path (same public
      // pieces Release.incremental composes, each materialized separately
      // so the expensive stage is NAMED in the artifact)
      locally {
        import operators._
        val d = timed("release/incr [1/5] snapshot diff (2 md5 scans + id join)") {
          Materialize.view(Snapshot.diff(v1, v2, "doc_id", "text"))
        }
        val unchanged = Materialize.view(d.filter(col("status") === "unchanged")
          .select(col("doc_id").cast("long").as("id")))
        val newSlice = Materialize.view(v2.join(d.filter(col("status").isin("added", "changed"))
          .select("doc_id"), Seq("doc_id"), "left_semi"))
        val newIdx = timed("release/incr [2/5] signature the new slice only") {
          Materialize.view(Dedup.minhashIndex(newSlice, "doc_id", "text"))
        }
        timed("release/incr [3/5] incremental LSH probe vs pruned index") {
          Dedup.minhashLshPairsIncremental(
            art.index.join(unchanged, Seq("id"), "left_semi"), newIdx).count()
        }
        timed("release/incr [4/5] decontam + scores of the slice") {
          Dedup.containmentScores(newSlice, bench, "doc_id", "text").count()
          Release.tokenScores(newSlice, "doc_id", "text").count()
        }
        timed("release/incr [5/5] global budget re-selection over scalars") {
          Sampling.budgetSelect(
            art.scores.join(unchanged, Seq("id"), "left_semi")
              .unionByName(Release.tokenScores(newSlice, "doc_id", "text")),
            "id", "score", "cost", p10.budget).count()
        }

        // --- the serving-index leg (q242's composition at scale): index
        // embedding+assignment is PER-DOC TEXT WORK, so the delta path's
        // cost is proportional to the changed slice, the rebuild's to the
        // whole release. Measured over the full corpus vs the 3% slice
        // (the selection filter is a semi-join either way).
        locally {
          import graft.functions.HashMode
          def emb(docs: org.apache.spark.sql.DataFrame) = TfIdf
            .hashedEmbedding(docs, "doc_id", "text", dim = 16, HashMode.Xx64)
            .select(col("doc_id").as("vec_id"),
              col("hvec").cast("array<float>").as("embedding"))
          val quant = Materialize.view(emb(bench).orderBy("vec_id").limit(8))
          timed(s"release/index [rebuild] embed+assign ALL $nRel docs") {
            operators.Ann.ivfIndexWithMeta(emb(v2), quant,
              metric = "EUCLIDEAN").count()
          }
          timed("release/index [delta] embed+assign the 3% changed slice") {
            operators.Ann.ivfIndexWithMeta(emb(newSlice), quant,
              metric = "EUCLIDEAN").count()
          }
        }
      }
      relDocs.unpersist()
    }

    // --- PageRank at graph scale (SOAK_PR_NODES=0 skips): a 5M-node /
    // 15M-edge power-law-ish graph (every node 3 out-links, hubs get
    // quadratically more in-links). Per iteration: one join + one
    // partial-agg shuffle; localCheckpoint holds lineage flat, so
    // iteration time must stay ~constant — the soak prints per-iteration
    // wall time via two runs (5 vs 10 iters).
    val nPrNodes = sys.env.getOrElse("SOAK_PR_NODES", "5000000").toLong
    if (nPrNodes > 0) {
      val edges = spark.range(nPrNodes).select(
          col("id").as("src"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("j"))
        .select(col("src"),
          // hub bias: j=0 links uniformly, j=1/2 link into the id² tail —
          // low ids accumulate in-degree
          when(col("j") === 0L, (col("src") * 7 + 1) % nPrNodes)
            .otherwise((col("src") * col("src") + col("j")) % (nPrNodes / 100))
            .as("dst"))
        .filter(col("dst") =!= col("src"))
      val t5 = System.nanoTime()
      val r5 = timed(s"pagerank $nPrNodes nodes, 5 iters") {
        val r = operators.PageRank.pageRank(edges, iters = 5)
        r.agg(sum("rank")).collect()(0).getDouble(0)
      }
      val d5 = (System.nanoTime() - t5) / 1e9
      val t10 = System.nanoTime()
      val r10 = timed(s"pagerank $nPrNodes nodes, 10 iters") {
        val r = operators.PageRank.pageRank(edges, iters = 10)
        r.agg(sum("rank")).collect()(0).getDouble(0)
      }
      val d10 = (System.nanoTime() - t10) / 1e9
      require(math.abs(r5 - 1.0) < 1e-6 && math.abs(r10 - 1.0) < 1e-6,
        s"pagerank mass drifted: $r5 / $r10")
      println(f"[soak] pagerank per-iteration: ${d5 / 5}%.2f s (5it) vs " +
        f"${d10 / 10}%.2f s (10it) — flat means lineage stayed O(1)")
      // reliable-storage backend at the same graph scale: the production
      // Materialize policy (checkpoint(dir) instead of executor-memory
      // localCheckpoint blocks) must carry the identical ranking, and the
      // soak prints its per-iteration premium — the number that says what
      // executor-loss safety costs on a real cluster
      val ckptDir = java.nio.file.Files
        .createTempDirectory("graft-soak-ckpt").toString
      val tC = System.nanoTime()
      val rC = timed(s"pagerank $nPrNodes nodes, 5 iters, reliable checkpoint") {
        spark.conf.set("spark.graft.materialize.backend", "reliable")
        spark.conf.set("spark.graft.materialize.dir", ckptDir)
        try operators.PageRank.pageRank(edges, iters = 5)
          .agg(sum("rank")).collect()(0).getDouble(0)
        finally {
          spark.conf.unset("spark.graft.materialize.backend")
          spark.conf.unset("spark.graft.materialize.dir")
        }
      }
      val dC = (System.nanoTime() - tC) / 1e9
      require(math.abs(rC - 1.0) < 1e-6, s"checkpointed pagerank mass drifted: $rC")
      val ckptFiles = {
        def walk(f: java.io.File): Int =
          if (f.isFile) 1 else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        walk(new java.io.File(ckptDir))
      }
      require(ckptFiles > 0, "reliable checkpoint wrote no blocks")
      println(f"[soak] pagerank reliable-checkpoint per-iteration: ${dC / 5}%.2f s " +
        f"vs ${d5 / 5}%.2f s local ($ckptFiles block files)")
    }

    // --- HITS / SCC / walks at graph scale (SOAK_GRAPH2_NODES=0 skips).
    // HITS on the PageRank soak graph: per-round = two join+agg shuffles;
    // flat per-iteration wall time via the 4-vs-8-iters comparison. SCC on
    // a 2-wave star-condensation fixture (groups-of-8 cycles with chords,
    // every group base -> node 0): wave count and inner fixpoint depth are
    // both INDEPENDENT of node count by construction, so total time must
    // scale only with the per-round shuffle volume. Walks: 100k starts x
    // 10 deterministic steps, pair extraction included.
    val nG2 = sys.env.getOrElse("SOAK_GRAPH2_NODES", "5000000").toLong
    if (nG2 > 0) {
      val g2Edges = spark.range(nG2).select(
          col("id").as("src"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("j"))
        .select(col("src"),
          when(col("j") === 0L, (col("src") * 7 + 1) % nG2)
            .otherwise((col("src") * col("src") + col("j")) % (nG2 / 100))
            .as("dst"))
        .filter(col("dst") =!= col("src"))
      val tH4 = System.nanoTime()
      timed(s"hits $nG2 nodes, 4 iters") {
        operators.Hits.hits(g2Edges, iters = 4).agg(sum("auth")).collect()
      }
      val dH4 = (System.nanoTime() - tH4) / 1e9
      val tH8 = System.nanoTime()
      val hMass = timed(s"hits $nG2 nodes, 8 iters") {
        operators.Hits.hits(g2Edges, iters = 8)
          .agg(sum("auth")).collect()(0).getDouble(0)
      }
      val dH8 = (System.nanoTime() - tH8) / 1e9
      require(math.abs(hMass - 1.0) < 1e-6, s"hits auth mass drifted: $hMass")
      println(f"[soak] hits per-iteration: ${dH4 / 4}%.2f s (4it) vs " +
        f"${dH8 / 8}%.2f s (8it) — flat means lineage stayed O(1)")

      val sccN = nG2 / 10 // 500k nodes: the peel runs 2 waves regardless of N
      val sccEdges = spark.range(sccN).select(col("id"))
        .withColumn("m", expr("(id div 8) * 8"))
        .withColumn("size", least(lit(8L), lit(sccN) - col("m")))
        .select(col("id"), col("m"), col("size"),
          explode(array(lit(1L), lit(2L))).as("o"))
        .select(col("id").as("src"),
          (col("m") + pmod(col("id") - col("m") + col("o"), col("size"))).as("dst"))
        .unionByName(spark.range(1, sccN / 8 + 1).select(
          (col("id") * 8).as("src")).filter(col("src") < sccN)
          .select(col("src"), lit(0L).as("dst")))
        .filter(col("src") =!= col("dst"))
      val sccOk = timed(s"scc $sccN nodes, star condensation (2 waves)") {
        val a = operators.Scc.scc(sccEdges)
        a.filter(col("scc") =!= expr("(id div 8) * 8")).count()
      }
      require(sccOk == 0, s"scc soak: $sccOk nodes mis-assigned")

      val wkStarts = spark.range(0, nG2, 50).select(col("id"))
      timed(s"walks ${nG2 / 50} starts x 10 steps + skip-gram pairs") {
        val wk = operators.RandomWalks.walks(g2Edges, wkStarts, length = 10)
        operators.RandomWalks.skipGramPairs(wk, window = 2).count()
      }
    }

    // --- WAND at corpus scale (SOAK_WAND_DOCS=0 skips): 500k docs, the
    // impact index built once, then the pruned and exhaustive top-k both
    // timed, equality REQUIRED in-run (the exactness claim at scale, not
    // just in the spec), skipped fraction printed.
    val nWandDocs = sys.env.getOrElse("SOAK_WAND_DOCS", "500000").toLong
    if (nWandDocs > 0) {
      val vocabArr = (0 until 2000).map(i => s"w$i")
      // block-max pruning pays only under IMPACT SKEW: docs 0..999 repeat
      // the query terms (high tf -> high impact, concentrated in ~16
      // blocks), the long tail mentions one query term once per ~25 docs.
      // A uniform fixture (first attempt) yields skipped_frac = 0.0 —
      // every block's UB ties and theta prunes nothing; recorded in
      // PLANS.md because the lesson generalizes: WAND's win is the skew,
      // not the mechanism.
      val wDocs = spark.range(nWandDocs).select(col("id").as("doc_id"),
        when(col("id") < 1000,
          concat(lit("w3 w11 w29 w3 w11 w29 w3 w11 "),
            element_at(typedLit(vocabArr), (pmod(col("id"), lit(1990L)) + 11).cast("int"))))
          .otherwise(concat_ws(" ",
            (0 until 12).map(k =>
              when(pmod(col("id") + k, lit(25L)) === 0 && lit(k < 3),
                element_at(typedLit(Seq("w3", "w11", "w29")), k + 1))
                .otherwise(element_at(typedLit(vocabArr),
                  (pmod(col("id") * (k * 31 + 7), lit(1900L)) + 101).cast("int")))): _*))
          .as("text"))
      val (post, bm) = operators.Wand.impactIndex(wDocs, "doc_id", "text")
      val postC = post.cache(); postC.count()
      val bmC = bm.cache(); bmC.count()
      val terms = Seq("w3", "w11", "w29")
      val pruned = timed(s"wand pruned top-20 over $nWandDocs docs") {
        operators.Wand.topK(postC, bmC, terms, k = 20).collect()
      }
      val exact = timed(s"bm25 exhaustive top-20 over $nWandDocs docs") {
        operators.Bm25.bm25(wDocs, "doc_id", "text", terms, k = 20).collect()
      }
      require(pruned.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        exact.map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        "wand diverged from exhaustive BM25 at scale")
      val card = operators.Wand.pruningCard(postC, bmC, terms, k = 20).collect()(0)
      println(s"[soak] wand skipped_frac=${card.getAs[Double]("skipped_frac")} " +
        s"(${card.getAs[Long]("postings_scored")}/${card.getAs[Long]("postings_total")} postings scored)")
      postC.unpersist(); bmC.unpersist()
    }

    // --- RVQ at corpus scale (SOAK_RVQ=0 skips): 1M x 64 vectors, 2x256
    // stages — train on a 5% sample, encode everything (map-side), ADC
    // search 100 queries over the codes.
    val nRvq = sys.env.getOrElse("SOAK_RVQ", "1000000").toLong
    if (nRvq > 0) {
      val base = operators.Generators.gaussianVectors(spark, nRvq, dim, seed = 33)
        .select(col("ordinal").as("vec_id"), col("vector").as("embedding"))
      val cbs = timed(s"rvq train 2x256 stages on 5% of $nRvq") {
        val c = operators.Rvq.trainStageCodebooks(base, stages = 2, k = 256,
          sampleFraction = 0.05)
        c.cache(); c.count(); c
      }
      val codes = timed(s"rvq encode $nRvq x $dim") {
        val e = operators.Rvq.encode(base, cbs)
        e.cache(); e.count(); e
      }
      timed(s"rvq adc top-10, $nQueries queries over $nRvq codes") {
        operators.Rvq.adcSearch(base.filter(col("vec_id") < nQueries),
          codes, cbs, k = 10).count()
      }
      codes.unpersist(); cbs.unpersist()
    }

    // --- WARC container at crawl scale (SOAK_WARC_DOCS=0 skips): write a
    // sharded PER-RECORD-MEMBER .warc.gz corpus, CDX-index it (compressed
    // member spans — one spans pass + one per-member inflate per shard),
    // then pull ~1k records BY INDEX and boilerplate-extract them: the
    // random-access read path must move only the selected members' bytes,
    // never re-scan a shard.
    val nWarc = sys.env.getOrElse("SOAK_WARC_DOCS", "200000").toLong
    if (nWarc > 0) {
      val dir = java.nio.file.Files.createTempDirectory("soak-warc").toString
      val pages = spark.range(nWarc).select(
        concat(lit("http://soak.test/doc/"), col("id")).as("url"),
        concat(
          lit("<html><head><title>t</title></head><body><nav>" +
            "<a href=\"/\">Home</a></nav><p>Document body "),
          col("id"), lit(" "), sha2(col("id").cast("string"), 256),
          lit(" with enough text to pass the extraction floor.</p>" +
            "<footer>f</footer></body></html>")).as("payload"))
      timed(s"warc writeShards (per-record gz members): $nWarc pages / 32 shards") {
        sources.WarcIO.writeShards(pages.repartition(32), dir, gzip = true).count()
      }
      val warcIdx = timed(s"cdx index over the gz shards ($nWarc records)") {
        val i = sources.CdxIO.index(spark, dir)
        i.cache(); println(s"[soak] indexed ${i.count()} records"); i
      }
      timed("cdx random-access fetch of ~1000 records + extraction") {
        val sel = warcIdx.filter(
          xxhash64(col("url")) % lit(math.max(1L, nWarc / 1000)) === 0)
        val n = operators.HtmlExtract.extract(
            sources.CdxIO.fetchRecords(sel)
              .select(col("url"), col("text").as("html")), "url", "html")
          .filter(length(col("text")) > 40).count()
        println(s"[soak] fetched+extracted $n records by index")
      }
      // the sharded-index layout (Common Crawl form): range-partitioned
      // sorted gz shards + cluster.idx, then a pruned point lookup —
      // covering shards only, chased through the coalesced fetch
      val cdxDir = s"$dir-cdx"
      timed(s"cdx writeCdxjShards ($nWarc records / 32 shards + cluster.idx)") {
        sources.CdxIO.writeCdxjShards(warcIdx, cdxDir, shards = 32).count()
      }
      timed("cdx shard-pruned lookup of 500 keys + coalesced fetch") {
        // a lexicographically-contiguous key slice (one takedown batch):
        // covers O(1) shards of 32 — the pruning, not just the lookup
        val lo = nWarc / 2
        val keys = (lo until math.min(nWarc, lo + 500))
          .map(i => s"test,soak)/doc/$i")
        val hits = sources.CdxIO.lookupKeys(spark, cdxDir, keys)
        val n = sources.CdxIO.fetchRecords(hits).count()
        println(s"[soak] pruned lookup hit $n records " +
          s"(read ${hits.inputFiles.length} of 32 index shards)")
      }
      warcIdx.unpersist()
    }

    spark.stop()
  }
}
