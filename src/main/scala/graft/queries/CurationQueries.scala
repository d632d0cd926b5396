package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsofJoin, Bm25, Dsir, Materialize, Mixture, Packing, Sampling}

/** Corpus-curation operators: point-in-time (as-of) join, stratified
  * sampling, split assignment. Every oracle replays the operator's
  * documented hash/order semantics from first principles.
  */
object CurationQueries {

  /** DuckDB replay of Sampling.hashUnit (md5 60-bit prefix mod 1e6). */
  private def duckHashUnit(keyExpr: String, salt: String): String =
    s"('0x' || substr(md5($keyExpr || ':$salt'), 1, 15))::BIGINT % 1000000"

  /** Shared CTE prefix replaying a 2-merge BPE train + apply on the
    * documents corpus: `w` (per-doc word lists) → `wc`/`seg0` (char
    * segmentation) → `m1`/`seg1` (first merge, single-char pieces so plain
    * replace is exact) → `m2`/`seg2` (second merge, boundary-guarded
    * list_reduce — pieces may be multi-char now) → `vocab` (binary-collation
    * ids) → `wseq` (per-word id strings + piece counts) → `dw` (per-doc
    * word stream in position order). q148 packs `wseq`; q167 aggregates its
    * `np` fertility signal — one replay, two compositions.
    */
  private val bpe2MergeCte: String =
    """WITH w AS (SELECT doc_id,
      |                  list_filter(string_split(lower(text), ' '), x -> x != '') AS ws
      |           FROM documents),
      |wc AS (SELECT word, count(*) AS cnt
      |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
      |seg0 AS (SELECT word, cnt,
      |                array_to_string(list_transform(range(1, length(word)+1),
      |                                               i -> substr(word, i, 1)), ' ') AS seg
      |         FROM wc),
      |pc0 AS (SELECT s[i+1] AS l, s[i+2] AS r, sum(cnt)::BIGINT AS cnt
      |        FROM (SELECT cnt, s, unnest(range(len(s) - 1)) AS i
      |              FROM (SELECT cnt, string_split(seg, ' ') AS s FROM seg0))
      |        GROUP BY 1, 2),
      |m1 AS (SELECT l, r FROM pc0 ORDER BY cnt DESC, l, r LIMIT 1),
      |seg1 AS (SELECT word, seg0.cnt,
      |                replace(seg0.seg, m1.l || ' ' || m1.r, m1.l || m1.r) AS seg
      |         FROM seg0 CROSS JOIN m1),
      |pc1 AS (SELECT s[i+1] AS l, s[i+2] AS r, sum(cnt)::BIGINT AS cnt
      |        FROM (SELECT cnt, s, unnest(range(len(s) - 1)) AS i
      |              FROM (SELECT cnt, string_split(seg, ' ') AS s FROM seg1))
      |        GROUP BY 1, 2),
      |m2 AS (SELECT l, r FROM pc1 ORDER BY cnt DESC, l, r LIMIT 1),
      |seg2 AS (SELECT word, seg1.cnt,
      |                list_reduce(string_split(seg1.seg, ' '),
      |                  (acc, x) -> CASE WHEN x = m2.r AND
      |                                   (acc = m2.l OR ends_with(acc, ' ' || m2.l))
      |                              THEN substr(acc, 1, length(acc) - length(m2.l))
      |                                   || m2.l || x
      |                              ELSE acc || ' ' || x END) AS seg
      |         FROM seg1 CROSS JOIN m2),
      |vp AS (SELECT DISTINCT unnest(string_split(seg, ' ')) AS piece FROM seg0
      |       UNION SELECT l || r FROM m1
      |       UNION SELECT l || r FROM m2),
      |vocab AS (SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS tid FROM vp),
      |wp AS (SELECT word, generate_subscripts(string_split(seg, ' '), 1) AS pi,
      |              unnest(string_split(seg, ' ')) AS piece
      |       FROM seg2),
      |wseq AS (SELECT word, string_agg(tid::VARCHAR, ' ' ORDER BY pi) AS ids,
      |                count(*)::BIGINT AS np
      |         FROM wp JOIN vocab USING (piece) GROUP BY word),
      |dw AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS word FROM w)""".stripMargin

  val all: Seq[GQuery] = Seq(

    // Backward as-of join: every 5th event is a "query point", the rest are
    // "state updates"; for each query point, the latest state update of the
    // same user at-or-before its timestamp. The oracle recomputes each match
    // independently (max (ts, event_id) under the <= bound) — it does not
    // replay the union+window algorithm, so a green row checks the
    // SEMANTICS, including the boundary (<=) and tie (greatest id) rules.
    GQuery(
      "q100_asof_join",
      """WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_id % 5 = 0),
        |     r AS (SELECT user_id, ts, event_id, value FROM events WHERE event_id % 5 <> 0)
        |SELECT l.user_id, l.event_id,
        |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |       (SELECT r.event_id FROM r
        |        WHERE r.user_id = l.user_id AND r.ts <= l.ts
        |        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS asof_event_id,
        |       round(coalesce((SELECT r.value FROM r
        |        WHERE r.user_id = l.user_id AND r.ts <= l.ts
        |        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1), 0.0), 6) AS asof_value
        |FROM l""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val left = ev.filter(pmod(col("event_id"), lit(5)) === 0)
        .select("user_id", "event_id", "ts")
      val right = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
        .select("user_id", "ts", "event_id", "value")
      AsofJoin.asof(left, right, keyCol = "user_id", timeCol = "ts",
          tieCol = "event_id", payloadCols = Seq("event_id", "value"))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("asof_event_id"),
          round(coalesce(col("asof_value"), lit(0.0)), 6).as("asof_value"))
    },

    // Stratified sample by language: per-stratum keep fractions, absent
    // strata (es/fr) fall to the 0 default. The oracle replays the md5 hash
    // draw bit-for-bit — the whole point of the operator is that any engine
    // CAN.
    GQuery(
      "q101_stratified_sample",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckHashUnit("doc_id::VARCHAR", "strat")} <
         |      CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 1000000
         |                WHEN 'de' THEN 250000 ELSE 0 END""".stripMargin) { (s, dir) =>
      Sampling.stratifiedSample(
          Tables.documents(s, dir).select("doc_id", "lang"),
          strataCol = "lang", keyCol = "doc_id",
          fractions = Map("en" -> 0.5, "zh" -> 1.0, "de" -> 0.25))
    },

    // Deterministic 80/10/10 split assignment over the document keys; the
    // oracle replays the cumulative-threshold CASE over the same hash.
    GQuery(
      "q102_split_assign",
      s"""SELECT doc_id,
         |       CASE WHEN u < 800000 THEN 'train'
         |            WHEN u < 900000 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${duckHashUnit("doc_id::VARCHAR", "split")} AS u
         |      FROM documents)""".stripMargin) { (s, dir) =>
      Sampling.assignSplit(
        Tables.documents(s, dir).select("doc_id"),
        keyCol = "doc_id",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },

    // Training-sequence packing coordinates: concatenate documents in doc_id
    // order, cut at 512 tokens. The oracle replays the exclusive prefix sum
    // with a window cumsum — proving the distributed two-phase prefix sum
    // (range partitions + per-partition offsets) equals the sequential
    // definition.
    GQuery(
      "q116_pack_coordinates",
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split(text, ' '), x -> x != '')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n::BIGINT AS n_tokens,
        |             coalesce(sum(n) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
        |      FROM t WHERE n > 0)
        |SELECT doc_id, n_tokens, tok_start,
        |       (tok_start // 512) AS seq_first,
        |       ((tok_start + n_tokens - 1) // 512) AS seq_last,
        |       (tok_start % 512) AS seq_offset
        |FROM c""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
      Packing.packCoordinates(docs, "doc_id", "n_tok", seqLen = 512)
    },

    // Exploded dataloader manifest: one row per (sequence, document slice).
    // The oracle derives every slice boundary from the same prefix sum —
    // green only if the explode arithmetic tiles each sequence exactly.
    GQuery(
      "q117_pack_manifest",
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split(text, ' '), x -> x != '')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n::BIGINT AS n_tokens,
        |             coalesce(sum(n) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
        |      FROM t WHERE n > 0),
        |m AS (SELECT doc_id, n_tokens, tok_start,
        |             unnest(range((tok_start // 512), ((tok_start + n_tokens - 1) // 512) + 1)) AS seq_id
        |      FROM c)
        |SELECT doc_id, seq_id,
        |       greatest(0, seq_id * 512 - tok_start) AS doc_tok_start,
        |       least(n_tokens, (seq_id + 1) * 512 - tok_start) AS doc_tok_end,
        |       greatest(0, tok_start - seq_id * 512) AS seq_offset
        |FROM m""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
      Packing.packManifest(docs, "doc_id", "n_tok", seqLen = 512)
    },

    // BM25 top-20 keyword retrieval. The oracle recomputes tf/df/idf and the
    // full Robertson scoring formula term-for-term (literal arithmetic kept
    // identical on both sides so the IEEE ops match), with the documented
    // (rounded score desc, id asc) tie rule.
    GQuery(
      "q120_bm25_topk",
      """WITH toks AS (SELECT doc_id,
        |                     list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
        |              FROM documents),
        |lens AS (SELECT doc_id, len(toks)::DOUBLE AS len FROM toks),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avg_len FROM lens),
        |tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
        |       WHERE tok IN ('vector', 'hash', 'spark') GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
        |s AS (SELECT doc_id,
        |             round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                       * tf * (1.2 + 1.0)
        |                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avg_len))), 6) AS score
        |      FROM tf JOIN dfreq USING (tok) JOIN lens USING (doc_id) CROSS JOIN stats
        |      GROUP BY doc_id)
        |SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      Bm25.bm25(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("vector", "hash", "spark"), k = 20)
        .select(col("id").as("doc_id"), col("score"))
    },

    // Dirichlet query-likelihood retrieval (the language-model ranker next
    // to q120's BM25): postings-only decomposition — per-hit ln(1 +
    // tf·total/(μ·ctf)) plus the per-doc |q_eff|·ln(μ/(len+μ)) length
    // term. The oracle replays ctf/total, both terms and the tie rule
    // with the identical expression tree.
    GQuery(
      "q264_ql_topk",
      """WITH toks AS (SELECT doc_id,
        |                     list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
        |              FROM documents),
        |lens AS (SELECT doc_id, len(toks)::DOUBLE AS len FROM toks),
        |alltok AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
        |total AS (SELECT count(*)::DOUBLE AS total FROM alltok),
        |ctf AS (SELECT tok, count(*)::DOUBLE AS ctf FROM alltok
        |        WHERE tok IN ('vector', 'hash', 'spark') GROUP BY tok),
        |neff AS (SELECT count(*)::DOUBLE AS n_eff FROM ctf),
        |tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM alltok
        |       WHERE tok IN ('vector', 'hash', 'spark') GROUP BY doc_id, tok),
        |h AS (SELECT doc_id, sum(ln(1.0 + tf * total / (300.0 * ctf))) AS hits
        |      FROM tf JOIN ctf USING (tok) CROSS JOIN total GROUP BY doc_id),
        |s AS (SELECT h.doc_id,
        |             round(h.hits + n_eff * ln(300.0 / (lens.len + 300.0)), 6) AS score
        |      FROM h JOIN lens USING (doc_id) CROSS JOIN neff)
        |SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) {
      (s, dir) =>
      Bm25.queryLikelihood(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("vector", "hash", "spark"), k = 20, mu = 300.0)
        .select(col("id").as("doc_id"), col("score"))
    },

    // Ranker-agreement card: BM25 top-20 vs query-likelihood top-20 on the
    // same query — overlap, Jaccard@k and the Spearman footrule over the
    // intersection. The instrument that says whether two rankers disagree
    // enough to fuse (q215's RRF). The oracle replays BOTH retrievals and
    // the agreement arithmetic.
    GQuery(
      "q265_ranker_agreement",
      """WITH toks AS (SELECT doc_id,
        |                     list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
        |              FROM documents),
        |lens AS (SELECT doc_id, len(toks)::DOUBLE AS len FROM toks),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avg_len FROM lens),
        |alltok AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
        |tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM alltok
        |       WHERE tok IN ('vector', 'hash', 'spark') GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
        |bs AS (SELECT doc_id,
        |             round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                       * tf * (1.2 + 1.0)
        |                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avg_len))), 6) AS score
        |      FROM tf JOIN dfreq USING (tok) JOIN lens USING (doc_id) CROSS JOIN stats
        |      GROUP BY doc_id),
        |br AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra
        |       FROM bs ORDER BY score DESC, doc_id LIMIT 20),
        |total AS (SELECT count(*)::DOUBLE AS total FROM alltok),
        |ctf AS (SELECT tok, count(*)::DOUBLE AS ctf FROM alltok
        |        WHERE tok IN ('vector', 'hash', 'spark') GROUP BY tok),
        |neff AS (SELECT count(*)::DOUBLE AS n_eff FROM ctf),
        |h AS (SELECT doc_id, sum(ln(1.0 + tf * total / (300.0 * ctf))) AS hits
        |      FROM tf JOIN ctf USING (tok) CROSS JOIN total GROUP BY doc_id),
        |ls AS (SELECT h.doc_id,
        |             round(h.hits + n_eff * ln(300.0 / (lens.len + 300.0)), 6) AS score
        |      FROM h JOIN lens USING (doc_id) CROSS JOIN neff),
        |lr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rb
        |       FROM ls ORDER BY score DESC, doc_id LIMIT 20),
        |j AS (SELECT coalesce(br.doc_id, lr.doc_id) AS id, br.ra, lr.rb
        |      FROM br FULL OUTER JOIN lr ON br.doc_id = lr.doc_id)
        |SELECT sum(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_common,
        |       count(*) AS n_union,
        |       round(sum(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*), 6) AS jaccard,
        |       coalesce(round(avg(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL
        |                               THEN abs(ra - rb) END), 6), 0.0) AS footrule
        |FROM j""".stripMargin) { (s, dir) =>
      import graft.operators.{Bm25, Eval, Ranking}
      val docs = Tables.documents(s, dir)
      def ranked(df: org.apache.spark.sql.DataFrame) =
        Ranking.globalRank(df.withColumn("_ns", -col("score")),
          Seq("_ns", "id"), "rank").drop("_ns")
      val a = ranked(Bm25.bm25(docs, "doc_id", "text",
        terms = Seq("vector", "hash", "spark"), k = 20))
      val b = ranked(Bm25.queryLikelihood(docs, "doc_id", "text",
        terms = Seq("vector", "hash", "spark"), k = 20, mu = 300.0))
      Eval.rankAgreement(a, b, k = 20)
    },

    // Mixture materialization: per-language repeat factors (en 0.5×, de
    // 2.25×, zh 1×, es dropped, default 1×) expanded to (row, epoch). The
    // oracle replays the whole-epoch + fractional-hash-draw rule per row.
    GQuery(
      "q121_mixture_materialize",
      s"""WITH t AS (SELECT doc_id, lang,
         |                  ${duckHashUnit("doc_id::VARCHAR", "mix")} AS u
         |           FROM documents),
         |n AS (SELECT doc_id, lang,
         |             CASE lang WHEN 'en' THEN 0 + CASE WHEN u < 500000 THEN 1 ELSE 0 END
         |                       WHEN 'de' THEN 2 + CASE WHEN u < 250000 THEN 1 ELSE 0 END
         |                       WHEN 'zh' THEN 1
         |                       WHEN 'es' THEN 0
         |                       ELSE 1 END AS ne
         |      FROM t)
         |SELECT doc_id, lang, unnest(range(ne))::BIGINT AS epoch
         |FROM n WHERE ne > 0""".stripMargin) { (s, dir) =>
      Mixture.materialize(
        Tables.documents(s, dir).select("doc_id", "lang"),
        domainCol = "lang", keyCol = "doc_id",
        factors = Map("en" -> 0.5, "de" -> 2.25, "zh" -> 1.0, "es" -> 0.0),
        default = 1.0)
    },

    // Mixture weight solving: uniform-rebalance factors from per-source
    // token mass (factor_d = T / (n·T_d) — every source ends with ~T/n of
    // the post-mix tokens). Pure domain-keyed aggregate; the oracle
    // recomputes token mass, totals and the division.
    GQuery(
      "q142_mixture_weights",
      """WITH toks AS (SELECT source,
        |                     len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n
        |              FROM documents),
        |t AS (SELECT source, sum(n) AS tok FROM toks GROUP BY source),
        |tot AS (SELECT sum(tok) AS T, count(*) AS nd FROM t)
        |SELECT source, round(T / (nd * tok), 6) AS factor
        |FROM t CROSS JOIN tot""".stripMargin) { (s, dir) =>
      Mixture.balanceFactors(
        Tables.documents(s, dir).select(col("source"),
          graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("w")),
        "source", "w")
    },

    // The COMPOSITION: solve balanced factors, then materialize the mix
    // with them — auto-balanced epochs end-to-end under one oracle (the
    // q125 pattern: the CTE chain recomputes the factors AND replays the
    // whole-epoch + fractional-draw rule per row from them).
    GQuery(
      "q143_balanced_mixture",
      s"""WITH toks AS (SELECT doc_id, source,
         |                     len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n
         |              FROM documents),
         |t AS (SELECT source, sum(n) AS tok FROM toks GROUP BY source),
         |tot AS (SELECT sum(tok) AS T, count(*) AS nd FROM t),
         |f AS (SELECT source, round(T / (nd * tok), 6) AS factor
         |      FROM t CROSS JOIN tot),
         |e AS (SELECT d.doc_id, d.source,
         |             floor(f.factor)::BIGINT +
         |             CASE WHEN ${duckHashUnit("d.doc_id::VARCHAR", "mix")} <
         |                       round((f.factor - floor(f.factor)) * 1e6)
         |                  THEN 1 ELSE 0 END AS ne
         |      FROM documents d JOIN f USING (source))
         |SELECT doc_id, source, unnest(range(ne))::BIGINT AS epoch
         |FROM e WHERE ne > 0""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val factors = Mixture.balanceFactors(
          docs.select(col("source"),
            graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("w")),
          "source", "w")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      Mixture.materialize(docs.select("doc_id", "source"),
        domainCol = "source", keyCol = "doc_id", factors = factors,
        default = 0.0)
    },

    // Materialized training sequences: every 256-token sequence's CONTENT
    // is reconstructed from the manifest slices and md5-pinned. The oracle
    // rebuilds each sequence with string_agg over the same slice arithmetic
    // — green only if packing, slicing AND offset-ordered assembly agree
    // byte-for-byte.
    GQuery(
      "q126_pack_sequences",
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split(text, ' '), x -> x != '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
        |             coalesce(sum(len(toks)) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        |      FROM t WHERE len(toks) > 0),
        |m AS (SELECT doc_id, toks, n, s,
        |             unnest(range((s // 256), ((s + n - 1) // 256) + 1)) AS seq_id
        |      FROM c),
        |x AS (SELECT seq_id,
        |             greatest(0, s - seq_id * 256) AS seq_offset,
        |             least(n, (seq_id + 1) * 256 - s) - greatest(0, seq_id * 256 - s) AS k,
        |             array_to_string(toks[(greatest(0, seq_id * 256 - s) + 1):(least(n, (seq_id + 1) * 256 - s))], ' ') AS slice
        |      FROM m)
        |SELECT seq_id, sum(k)::BIGINT AS n_tokens,
        |       md5(string_agg(slice, ' ' ORDER BY seq_offset)) AS seq_md5
        |FROM x GROUP BY seq_id""".stripMargin) { (s, dir) =>
      Packing.materializeSequences(Tables.documents(s, dir), "doc_id", "text",
        seqLen = 256)
    },

    // Point-in-interval (range) join via bucket discretization: every
    // 100th event opens a 30-minute per-user window; count/sum the user's
    // events inside it. Spark has no native range-join strategy — the
    // BETWEEN predicate alone would plan a nested-loop — so the operator
    // explodes intervals into 15-minute buckets and equi-joins points on
    // (user, bucket) before the exact containment filter (pair space =
    // temporal locality, not |points|×|intervals|). The oracle does the
    // naive BETWEEN join: a green row proves the bucketing loses nothing.
    GQuery(
      "q174_interval_join",
      """WITH iv AS (SELECT event_id AS window_id, user_id, ts AS s,
        |                   ts + INTERVAL 30 MINUTE AS e
        |            FROM events WHERE event_id % 100 = 0),
        |pt AS (SELECT user_id, ts, value FROM events)
        |SELECT iv.window_id, count(pt.ts)::BIGINT AS n_events,
        |       round(coalesce(sum(pt.value), 0.0), 6) AS total_value
        |FROM iv LEFT JOIN pt
        |  ON pt.user_id = iv.user_id AND pt.ts >= iv.s AND pt.ts < iv.e
        |GROUP BY iv.window_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val iv = ev.filter(pmod(col("event_id"), lit(100)) === 0)
        .select(col("event_id").as("window_id"), col("user_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + lit(1800000000L)).as("e_us"))
      val pt = ev.select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("value"))
      val joined = graft.operators.IntervalJoin.pointInInterval(
        pt, iv, "t_us", "s_us", "e_us", Seq("user_id"),
        bucketWidth = 900000000L) // 15-minute buckets
      val agg = joined.groupBy("window_id").agg(
        count(lit(1)).as("n_events"), sum(col("value")).as("_tv"))
      iv.select("window_id").join(agg, Seq("window_id"), "left")
        .select(col("window_id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          round(coalesce(col("_tv"), lit(0.0)), 6).as("total_value"))
    },

    // Packing efficiency report: the one-row shard-sizing summary (fill
    // rate, pad tokens, boundary-straddling docs) a training job reads
    // before committing to a seqLen. Same q126 packing arithmetic, but the
    // oracle aggregates the coordinates instead of materializing content —
    // and the operator's cost is exactly that: one coordinates pass + one
    // aggregate, no token movement.
    GQuery(
      "q170_pack_report",
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |             coalesce(sum(n) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        |      FROM t WHERE n > 0)
        |SELECT 256::BIGINT AS seq_len,
        |       ((sum(n) + 255) // 256)::BIGINT AS n_sequences,
        |       sum(n)::BIGINT AS total_tokens,
        |       round(sum(n)::DOUBLE / (((sum(n) + 255) // 256) * 256), 6) AS fill_rate,
        |       (((sum(n) + 255) // 256) * 256 - sum(n))::BIGINT AS pad_tokens,
        |       (count(*) FILTER (WHERE (s // 256) != ((s + n - 1) // 256)))::BIGINT AS n_split_docs,
        |       count(*)::BIGINT AS n_docs
        |FROM c""".stripMargin) { (s, dir) =>
      val counts = Tables.documents(s, dir).select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_toks"))
      Packing.packReport(counts, "doc_id", "n_toks", seqLen = 256)
    },

    // Packed-sequence boundary metadata: per sequence, the ascending slice
    // offsets (where position ids reset / attention blocks split) and the
    // slice count — the loader-side contract that makes packed training
    // correct, not just dense. Same q126 coordinates; the oracle replays
    // the slice arithmetic and the ordered string_agg.
    GQuery(
      "q175_sequence_boundaries",
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |             coalesce(sum(n) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        |      FROM t WHERE n > 0),
        |m AS (SELECT doc_id, n, s,
        |             unnest(range((s // 32), ((s + n - 1) // 32) + 1)) AS seq_id
        |      FROM c),
        |x AS (SELECT seq_id, greatest(0, s - seq_id * 32) AS seq_offset FROM m)
        |SELECT seq_id, count(*)::BIGINT AS n_slices,
        |       string_agg(seq_offset::VARCHAR, ' ' ORDER BY seq_offset) AS boundaries
        |FROM x GROUP BY seq_id""".stripMargin) { (s, dir) =>
      val counts = Tables.documents(s, dir).select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n_toks"))
      Packing.sequenceBoundaries(counts, "doc_id", "n_toks", seqLen = 32)
    },

    // Data-SELECTION pipeline v2 (the round-8 signals composed end-to-end):
    // score every doc with char entropy + length, rank-average the two
    // into one ensemble (q168 machinery), keep the ensemble's top ~60%,
    // drop near-dup docs (novelty < 0.7 under 3-gram Jaccard ≥ 0.3),
    // then assign the survivors 4 curriculum stages by ensemble order
    // with the salted epoch shuffle key (q171). ONE CTE chain replays
    // entropy, both window ranks, the blend, the pair max, the ANSI
    // ntile over survivors and the md5 key — a green hash pins the whole
    // composition, not the stages separately.
    GQuery(
      "q184_selection_pipeline",
      s"""WITH ch AS (SELECT doc_id,
         |              unnest(list_transform(range(1, length(text) + 1),
         |                                    i -> substr(text, i, 1))) AS c
         |            FROM documents),
         |cc AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY 1, 2),
         |hh AS (SELECT doc_id, round(ln(sum(k)) - sum(k * ln(k)) / sum(k), 6) AS entropy
         |       FROM cc GROUP BY doc_id),
         |sg AS (SELECT d.doc_id, d.n_chars, coalesce(hh.entropy, 0.0) AS entropy
         |       FROM documents d LEFT JOIN hh USING (doc_id)),
         |pr AS (SELECT doc_id, n_chars, entropy,
         |              round(percent_rank() OVER (ORDER BY n_chars, doc_id), 6) AS pr_n_chars,
         |              round(percent_rank() OVER (ORDER BY entropy, doc_id), 6) AS pr_entropy
         |       FROM sg),
         |en AS (SELECT doc_id, (pr_n_chars + pr_entropy) / 2.0 AS ens FROM pr),
         |top AS (SELECT doc_id, ens FROM en WHERE ens >= 0.4),
         |p AS (${DedupQueries.jaccardPairsSql(0.3)}),
         |mx AS (SELECT id, max(j) AS mj FROM (
         |         SELECT id_a AS id, jaccard AS j FROM p
         |         UNION ALL
         |         SELECT id_b AS id, jaccard AS j FROM p) GROUP BY id),
         |keep AS (SELECT t.doc_id, t.ens FROM top t
         |         LEFT JOIN mx ON mx.id = t.doc_id
         |         WHERE round(1.0 - coalesce(mx.mj, 0.0), 6) >= 0.7)
         |SELECT doc_id, ens,
         |       ntile(4) OVER (ORDER BY ens, doc_id) AS stage,
         |       ('0x' || substr(md5(doc_id::VARCHAR || ':sel'), 1, 15))::BIGINT % 1000000
         |         AS shuffle_key
         |FROM keep""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sig = docs.select(col("doc_id"), col("n_chars"),
        graft.functions.TextFunctions.charEntropy(col("text")).as("entropy"))
      val ens = graft.operators.Ranking
        .rankEnsemble(sig, Seq("n_chars", "entropy"), "doc_id")
        .select(col("doc_id"), col("quality_ensemble").as("ens"))
        .filter(col("ens") >= 0.4)
      val nov = graft.operators.Dedup
        .noveltyScores(docs, "doc_id", "text", n = 3, threshold = 0.3)
        .withColumnRenamed("id", "doc_id")
      // ens stays UNROUNDED (the q168 lesson: the blend of two 6-decimal
      // ranks is bit-identical across engines, while rounding it sits on
      // exact decimal half-boundaries where rounding modes diverge)
      val kept = ens.join(nov, "doc_id").filter(col("novelty") >= 0.7)
        .select(col("doc_id"), col("ens"))
      graft.operators.Sampling.curriculumSchedule(kept, "doc_id", "ens",
        k = 4, salt = "sel")
        .select("doc_id", "ens", "stage", "shuffle_key")
    },

    // Selection v3: the v2 signal machinery capped by a HARD TOKEN BUDGET
    // — entropy+length rank ensemble gates the pool (ens >= 0.3), then
    // the greedy knapsack keeps the maximal ens-per-token prefix fitting
    // 5000 tokens (q208's budgetSelect over the q184 ensemble). ONE CTE
    // chain replays entropy, both ranks, the blend, the gate, the
    // density order, the running sum and the prefix cut — the hash pins
    // the COMPOSITION.
    GQuery(
      "q219_selection_budget",
      s"""WITH ch AS (SELECT doc_id,
         |              unnest(list_transform(range(1, length(text) + 1),
         |                                    i -> substr(text, i, 1))) AS c
         |            FROM documents),
         |cc AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY 1, 2),
         |hh AS (SELECT doc_id, round(ln(sum(k)) - sum(k * ln(k)) / sum(k), 6) AS entropy
         |       FROM cc GROUP BY doc_id),
         |sg AS (SELECT d.doc_id, d.n_chars, coalesce(hh.entropy, 0.0) AS entropy
         |       FROM documents d LEFT JOIN hh USING (doc_id)),
         |pr AS (SELECT doc_id,
         |              round(percent_rank() OVER (ORDER BY n_chars, doc_id), 6) AS pr_n,
         |              round(percent_rank() OVER (ORDER BY entropy, doc_id), 6) AS pr_e
         |       FROM sg),
         |en AS (SELECT doc_id, (pr_n + pr_e) / 2.0 AS ens FROM pr),
         |top AS (SELECT doc_id, ens FROM en WHERE ens >= 0.3),
         |cost AS (SELECT doc_id,
         |           len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS cost
         |         FROM documents),
         |j AS (SELECT t.doc_id, t.ens, c.cost
         |      FROM top t JOIN cost c USING (doc_id) WHERE c.cost > 0),
         |o AS (SELECT doc_id, cost,
         |        sum(cost) OVER (ORDER BY round(ens / cost, 6) DESC, doc_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
         |      FROM j)
         |SELECT doc_id, cost AS n_tok, coalesce(cb, 0)::BIGINT AS cum_before
         |FROM o WHERE coalesce(cb, 0) + cost <= 5000""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sig = docs.select(col("doc_id"), col("n_chars"),
        graft.functions.TextFunctions.charEntropy(col("text")).as("entropy"))
      val ens = graft.operators.Ranking
        .rankEnsemble(sig, Seq("n_chars", "entropy"), "doc_id")
        .select(col("doc_id"), col("quality_ensemble").as("ens"))
        .filter(col("ens") >= 0.3)
      val cost = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("cost"))
      Sampling.budgetSelect(ens.join(cost, "doc_id"), "doc_id", "ens", "cost",
          budget = 5000L)
        .select(col("doc_id"), col("cost").as("n_tok"), col("cum_before"))
    },

    // PER-LANGUAGE token budgets: q208's greedy knapsack run
    // independently inside every language ("2000 tokens of each") via
    // the grouped prefix-sum primitive — one range shuffle on
    // (lang, density, id), O(partitions) driver state however many
    // groups exist, no Window. The oracle partitions the running sum by
    // language and replays every per-group prefix cut.
    GQuery(
      "q220_budget_per_lang",
      """WITH d AS (SELECT doc_id, lang, ln(1 + n_chars) AS score,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS cost
        |           FROM documents),
        |o AS (SELECT doc_id, lang, cost,
        |        sum(cost) OVER (PARTITION BY lang
        |                        ORDER BY round(score / cost, 6) DESC, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
        |      FROM d WHERE cost > 0)
        |SELECT doc_id, lang, cost AS n_tok, coalesce(cb, 0)::BIGINT AS cum_before
        |FROM o WHERE coalesce(cb, 0) + cost <= 2000""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        log(lit(1) + col("n_chars")).as("score"),
        graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("cost"))
      Sampling.budgetSelectPerGroup(d, "lang", "doc_id", "score", "cost",
          budgetPerGroup = 2000L)
        .select(col("doc_id"), col("lang"), col("cost").as("n_tok"),
          col("cum_before"))
    },

    // Per-language sequence packing: every language packs its own
    // token stream into its own 128-token sequence ids (the multilingual
    // dataloader-shard shape — no stream ever splices languages), via
    // the grouped prefix-sum primitive. The oracle partitions the
    // exclusive running sum by language and replays all coordinates with
    // integer division.
    GQuery(
      "q221_pack_per_lang",
      """WITH d AS (SELECT doc_id, lang,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n
        |           FROM documents),
        |o AS (SELECT doc_id, lang, n,
        |        coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS ts
        |      FROM d WHERE n > 0)
        |SELECT doc_id, lang, n AS n_tokens, ts AS tok_start,
        |       ts // 128 AS seq_first, (ts + n - 1) // 128 AS seq_last,
        |       ts % 128 AS seq_offset
        |FROM o""".stripMargin) { (s, dir) =>
      Packing.packCoordinatesPerGroup(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("n")),
        "lang", "doc_id", "n", seqLen = 128)
    },

    // Fair-budget selection: per-language score NORMALIZATION before one
    // GLOBAL token budget — each doc's quality becomes its percent-rank
    // WITHIN its language (q173's window-free grouped machinery), so no
    // language's systematically longer docs can hog the global knapsack
    // (contrast q219: raw global ensemble; q220: separate per-group
    // budgets). One grouped rank + one global prefix cut; the oracle
    // replays the partitioned percent_rank, the density order, the
    // running sum and the cut.
    GQuery(
      "q223_fair_budget_select",
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS cost
        |           FROM documents),
        |p AS (SELECT doc_id, lang, cost,
        |        round(percent_rank() OVER (PARTITION BY lang
        |          ORDER BY n_chars, doc_id), 6) AS pr
        |      FROM d),
        |j AS (SELECT doc_id, lang, pr, cost FROM p WHERE cost > 0),
        |o AS (SELECT doc_id, lang, pr, cost,
        |        sum(cost) OVER (ORDER BY round(pr / cost, 6) DESC, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
        |      FROM j)
        |SELECT doc_id, lang, pr, cost AS n_tok, coalesce(cb, 0)::BIGINT AS cum_before
        |FROM o WHERE coalesce(cb, 0) + cost <= 8000""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("cost"))
      val normalized = graft.operators.Ranking.groupedPercentRank(
        d, "lang", Seq("n_chars", "doc_id"), outCol = "pr")
      Sampling.budgetSelect(
          normalized.select("doc_id", "lang", "pr", "cost"),
          "doc_id", "pr", "cost", budget = 8000L)
        .select(col("doc_id"), col("lang"), col("pr"),
          col("cost").as("n_tok"), col("cum_before"))
    },

    // Bootstrap CI for the datasheet's mean length: deterministic Poisson
    // bootstrap — each (doc, replicate) draws a Poisson(1) weight from
    // the md5 hash unit via FIXED integer CDF thresholds (contract
    // constants), replicate means collapse with map-side combine, and
    // the 5th/95th order statistics come from ONE bounded sorted
    // aggregate over the <=100-row replicate relation. The oracle replays
    // every weight, every replicate mean and both order statistics.
    GQuery(
      "q227_bootstrap_ci",
      s"""WITH reps AS (SELECT unnest(range(100)) AS rep),
         |kk AS (SELECT d.doc_id, r.rep, length(d.text) AS chars,
         |         CASE WHEN ${duckHashUnit("d.doc_id::VARCHAR || ':' || r.rep::VARCHAR", "boot")} < 367879 THEN 0
         |              WHEN ${duckHashUnit("d.doc_id::VARCHAR || ':' || r.rep::VARCHAR", "boot")} < 735759 THEN 1
         |              WHEN ${duckHashUnit("d.doc_id::VARCHAR || ':' || r.rep::VARCHAR", "boot")} < 919699 THEN 2
         |              WHEN ${duckHashUnit("d.doc_id::VARCHAR || ':' || r.rep::VARCHAR", "boot")} < 981012 THEN 3
         |              WHEN ${duckHashUnit("d.doc_id::VARCHAR || ':' || r.rep::VARCHAR", "boot")} < 996340 THEN 4
         |              ELSE 5 END AS k
         |       FROM documents d CROSS JOIN reps r),
         |pr AS (SELECT rep, sum(k * chars)::DOUBLE / sum(k) AS m
         |       FROM kk GROUP BY rep HAVING sum(k) > 0),
         |nr AS (SELECT count(*) AS n_reps FROM pr),
         |rk AS (SELECT rep, m, row_number() OVER (ORDER BY m, rep) AS rank FROM pr),
         |lo AS (SELECT min(round(m, 6)) AS ci_lo FROM rk, nr
         |       WHERE rank = greatest(1, n_reps // 20)),
         |hi AS (SELECT min(round(m, 6)) AS ci_hi FROM rk, nr
         |       WHERE rank = n_reps - n_reps // 20),
         |mn AS (SELECT round(avg(length(text)), 6) AS mean_chars FROM documents)
         |SELECT mean_chars, ci_lo, ci_hi FROM mn CROSS JOIN lo CROSS JOIN hi""".stripMargin) {
      (s, dir) =>
      graft.operators.Describe.bootstrapMeanChars(
        Tables.documents(s, dir), "doc_id", "text", b = 100)
    },

    // Corpus datasheet: the one-row release card — doc/token volume,
    // vocabulary size, language count, exact-duplicate docs by content
    // hash, mean length. Three aggregates, no window, nothing collected
    // but the card; the oracle recomputes every cell.
    GQuery(
      "q222_corpus_datasheet",
      """WITH toks AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                x -> x != '')) AS term FROM documents),
        |ts AS (SELECT count(*) AS n_tokens, count(DISTINCT term) AS n_types FROM toks),
        |dup AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_exact_dup_docs FROM (
        |          SELECT md5(text) AS h, count(*) AS c FROM documents
        |          GROUP BY md5(text) HAVING count(*) > 1)),
        |ds AS (SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |              round(avg(length(text)), 6) AS mean_chars
        |       FROM documents)
        |SELECT n_docs, n_tokens, n_types, n_langs, n_exact_dup_docs, mean_chars
        |FROM ds CROSS JOIN ts CROSS JOIN dup""".stripMargin) { (s, dir) =>
      graft.operators.Describe.corpusDatasheet(
        Tables.documents(s, dir), "doc_id", "text", "lang")
    },

    // The flagship curation PIPELINE: quality gate → exact dedup (planted
    // copies removed) → benchmark decontamination (bench docs remove
    // themselves) → deterministic split → training-sequence packing of the
    // train split. One oracle replays all five stages in a single CTE
    // chain; every inter-stage decision is integer/hash-deterministic, so
    // the hash compare proves the COMPOSITION, not just each stage alone.
    // Perplexity-bucket-then-balance composition (the CCNet recipe): score
    // every doc with the unigram LM, cut into 10 surprisal ntiles WITHOUT
    // a global window, drop the extreme buckets (1 = boilerplate, 10 =
    // garbage), solve uniform-rebalance mixture factors from the
    // SURVIVORS' token mass, and materialize the balanced epochs. One
    // CTE-chain oracle recomputes the LM, the ANSI ntile, the filter, the
    // factors and the epoch draws — proving the COMPOSITION end-to-end.
    GQuery(
      "q145_bucket_balance_pipeline",
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS tok
         |              FROM documents),
         |m AS (SELECT doc_id, tok, count(*)::DOUBLE AS k FROM toks GROUP BY doc_id, tok),
         |cnt AS (SELECT tok, sum(k) AS c FROM m GROUP BY tok),
         |tot AS (SELECT sum(c) AS t FROM cnt),
         |s AS (SELECT doc_id, round(sum(k * -ln(c / t)) / sum(k), 6) AS surprisal
         |      FROM m JOIN cnt USING (tok) CROSS JOIN tot GROUP BY doc_id),
         |b AS (SELECT doc_id, ntile(10) OVER (ORDER BY surprisal, doc_id) AS bucket FROM s),
         |kept AS (SELECT d.doc_id, d.source,
         |                len(list_filter(string_split(lower(d.text), ' '), x -> x != '')) AS n
         |         FROM documents d JOIN b USING (doc_id)
         |         WHERE b.bucket BETWEEN 2 AND 9),
         |t2 AS (SELECT source, sum(n) AS tok FROM kept GROUP BY source),
         |tot2 AS (SELECT sum(tok) AS T, count(*) AS nd FROM t2),
         |f AS (SELECT source, round(T / (nd * tok), 6) AS factor
         |      FROM t2 CROSS JOIN tot2),
         |e AS (SELECT kept.doc_id, kept.source,
         |             floor(f.factor)::BIGINT +
         |             CASE WHEN ${duckHashUnit("kept.doc_id::VARCHAR", "mix")} <
         |                       round((f.factor - floor(f.factor)) * 1e6)
         |                  THEN 1 ELSE 0 END AS ne
         |      FROM kept JOIN f USING (source))
         |SELECT doc_id, source, unnest(range(ne))::BIGINT AS epoch
         |FROM e WHERE ne > 0""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scores = graft.operators.UnigramLm.surprisal(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      val buckets = graft.operators.Ranking.ntileBuckets(
        scores, Seq("surprisal", "doc_id"), k = 10)
      val kept = docs.join(
        buckets.filter(col("bucket").between(2, 9)).select("doc_id"), "doc_id")
      val factors = Mixture.balanceFactors(
          kept.select(col("source"),
            graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("w")),
          "source", "w")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      Mixture.materialize(kept.select("doc_id", "source"),
        domainCol = "source", keyCol = "doc_id", factors = factors,
        default = 0.0)
    },

    GQuery(
      "q125_curation_pipeline",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 30000, text FROM documents WHERE doc_id % 20 = 0),
         |q AS (SELECT doc_id, text FROM corpus
         |      WHERE len(list_filter(string_split(text, ' '), x -> x != ''))
         |            BETWEEN 50 AND 100000),
         |fp AS (SELECT doc_id, text,
         |              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
         |       FROM q),
         |keep AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
         |dd AS (SELECT fp.doc_id, fp.text FROM fp
         |       JOIN keep ON keep.f = fp.f AND keep.doc_id = fp.doc_id),
         |lt AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS lt
         |       FROM dd),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(lt) - 1),
         |              i -> array_to_string(lt[i:i+2], ' '))) AS sh
         |       FROM lt WHERE len(lt) >= 3),
         |bt AS (SELECT list_filter(string_split(lower(text), ' '), x -> x != '') AS lt
         |       FROM documents WHERE doc_id < 20),
         |bset AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(lt) - 1),
         |                i -> array_to_string(lt[i:i+2], ' ')))) AS shingle
         |         FROM bt WHERE len(lt) >= 3),
         |dsh AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
         |hits AS (SELECT d.doc_id, count(*) AS h FROM dsh d
         |         JOIN bset b USING (shingle) GROUP BY 1),
         |cont AS (SELECT dd.doc_id,
         |                CASE WHEN coalesce(sz, 0) = 0 THEN 0.0
         |                     ELSE coalesce(h, 0)::DOUBLE / sz END AS c
         |         FROM dd LEFT JOIN sz USING (doc_id) LEFT JOIN hits USING (doc_id)),
         |clean AS (SELECT dd.doc_id, dd.text FROM dd JOIN cont USING (doc_id)
         |          WHERE c < 0.5),
         |train AS (SELECT doc_id, text FROM clean
         |          WHERE ${duckHashUnit("doc_id::VARCHAR", "split")} < 900000),
         |n AS (SELECT doc_id,
         |             len(list_filter(string_split(text, ' '), x -> x != '')) AS n
         |      FROM train),
         |c AS (SELECT doc_id, n::BIGINT AS n_tokens,
         |             coalesce(sum(n) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
         |      FROM n WHERE n > 0)
         |SELECT doc_id, n_tokens, tok_start,
         |       (tok_start // 256) AS seq_first,
         |       ((tok_start + n_tokens - 1) // 256) AS seq_last,
         |       (tok_start % 256) AS seq_offset
         |FROM c""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      import graft.operators.Dedup
      val docs0 = Tables.documents(s, dir).select("doc_id", "text")
      val planted = docs0.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 30000).as("doc_id"), col("text"))
      val corpus = docs0.unionByName(planted)
      val quality = TextFunctions.gopherFlags(corpus, "doc_id", "text")
        .filter(col("word_count_ok")).select("doc_id")
      val fp = corpus.join(quality, Seq("doc_id"))
        .select(col("doc_id"), col("text"),
          TextFunctions.fingerprint(col("text")).as("f"))
      val keep = fp.groupBy("f").agg(min("doc_id").as("doc_id"))
      val deduped = fp.join(keep, Seq("f", "doc_id")).select("doc_id", "text")
      val bench = docs0.filter(col("doc_id") < 20)
      val cleanIds = Dedup.containmentScores(deduped, bench, "doc_id", "text", n = 3)
        .filter(col("containment") < 0.5).select(col("id").as("doc_id"))
      val clean = deduped.join(cleanIds, Seq("doc_id"))
      val train = Sampling.assignSplit(clean, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.1))
        .filter(col("split") === "train")
      val counts = train.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      Packing.packCoordinates(counts, "doc_id", "n_tok", seqLen = 256)
    },

    // The tokenize→pack spine end-to-end: TRAIN a 2-merge BPE tokenizer on
    // the corpus, ENCODE every document to token-id sequences with the
    // trained model (zero-shuffle kernel, UTF-8-ranked vocabulary ids),
    // then PACK the id stream into 32-token sequences and md5-pin each
    // sequence's content. The oracle replays all three stages in one CTE
    // chain — training (pair counts, both merges, the second piece-wise via
    // the boundary-guarded list_reduce), the vocabulary id assignment
    // (binary-collation row_number), per-document id streams (word join in
    // position order), and q126's packing arithmetic — so a green hash
    // proves the COMPOSITION: trained merges → applied segmentation → ids
    // → sequence content, byte-for-byte.
    GQuery(
      "q148_bpe_pack_pipeline",
      // concatenation, not interpolation-under-stripMargin: the prefix is
      // already margin-stripped, and a second stripMargin pass would eat
      // the leading `|` of its `||` concat operators
      bpe2MergeCte + ",\n" +
      """dt AS (SELECT doc_id,
        |              string_split(string_agg(ids, ' ' ORDER BY wi), ' ') AS toks,
        |              sum(np)::BIGINT AS n
        |       FROM dw JOIN wseq USING (word) GROUP BY doc_id),
        |c AS (SELECT doc_id, toks, n,
        |             coalesce(sum(n) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        |      FROM dt WHERE n > 0),
        |m AS (SELECT doc_id, toks, n, s,
        |             unnest(range((s // 32), ((s + n - 1) // 32) + 1)) AS seq_id
        |      FROM c),
        |x AS (SELECT seq_id,
        |             greatest(0, s - seq_id * 32) AS seq_offset,
        |             least(n, (seq_id + 1) * 32 - s) - greatest(0, seq_id * 32 - s) AS k,
        |             array_to_string(toks[(greatest(0, seq_id * 32 - s) + 1):(least(n, (seq_id + 1) * 32 - s))], ' ') AS slice
        |      FROM m)
        |SELECT seq_id, sum(k)::BIGINT AS n_tokens,
        |       md5(string_agg(slice, ' ' ORDER BY seq_offset)) AS seq_md5
        |FROM x GROUP BY seq_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val model = graft.operators.Bpe.fit(docs, "text", numMerges = 2)
      val enc = graft.operators.Bpe.encode(docs, "doc_id", "text", model)
      Packing.materializeTokenSequences(
        enc.select(col("doc_id"),
          expr("transform(tok_ids, t -> cast(t AS string))").as("toks")),
        "doc_id", "toks", seqLen = 32)
    },

    // Tokenizer fertility by language — the ablation signal tokenizer
    // papers read (tokens per character / per word after training): the
    // same 2-merge trained BPE as q148, but aggregated per language
    // partition instead of packed. Scale shape: encodeCounts is ONE
    // (word ⋈ vocabulary) shuffle + a doc-keyed aggregate; the per-lang
    // rollup is a second tiny aggregate over |docs| rows — the corpus text
    // itself never moves twice. The oracle reuses the exact q148 training
    // CTE, so both compositions pin the SAME replayed tokenizer.
    GQuery(
      "q167_tokenizer_fertility",
      bpe2MergeCte + ",\n" +
      """dn AS (SELECT doc_id, sum(np)::BIGINT AS toks,
        |              sum(length(word))::BIGINT AS chars, count(*)::BIGINT AS nw
        |       FROM dw JOIN wseq USING (word) GROUP BY doc_id)
        |SELECT d.lang,
        |       round(sum(toks)::DOUBLE / sum(chars), 6) AS tokens_per_char,
        |       round(sum(toks)::DOUBLE / sum(nw), 6) AS tokens_per_word,
        |       sum(toks)::BIGINT AS n_tokens
        |FROM dn JOIN documents d USING (doc_id)
        |GROUP BY d.lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = graft.operators.Bpe.encodeCounts(docs, "doc_id", "text",
        numMerges = 2)
      val words = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("word"))
        .groupBy("doc_id").agg(
          sum(length(col("word"))).as("chars"), count(lit(1)).as("nw"))
      docs.select(col("doc_id"), col("lang"))
        .join(counts, "doc_id").join(words, "doc_id")
        .groupBy("lang").agg(
          round(sum("n_bpe_tokens").cast("double") / sum("chars"), 6)
            .as("tokens_per_char"),
          round(sum("n_bpe_tokens").cast("double") / sum("nw"), 6)
            .as("tokens_per_word"),
          sum("n_bpe_tokens").as("n_tokens"))
    },

    // Model-based quality classification (the fastText-style filter stage):
    // TRAIN a logistic-regression language classifier with two full-batch
    // GD steps (one treeAggregate each, weights rounded to 6 per step —
    // the lloyd/PCA determinism convention), then SCORE every document.
    // The oracle replays both steps' gradient aggregates and the scoring
    // sigmoid as chained CTEs — a green hash proves the train→score
    // COMPOSITION arithmetic, not just the projection.
    GQuery(
      "q151_logreg_quality_score",
      """WITH f AS (SELECT doc_id,
        |                  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |                  least(len(list_filter(string_split(text, ' '), t -> t != '')), 100) / 100.0 AS x1,
        |                  least(n_chars, 500) / 500.0 AS x2
        |           FROM documents),
        |w1 AS (SELECT round(-avg(0.5 - y), 6) AS b,
        |              round(-avg((0.5 - y) * x1), 6) AS wa,
        |              round(-avg((0.5 - y) * x2), 6) AS wb
        |       FROM f),
        |w2 AS (SELECT round(max(w1.b) -
        |                avg(1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y), 6) AS b,
        |              round(max(w1.wa) -
        |                avg((1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y) * x1), 6) AS wa,
        |              round(max(w1.wb) -
        |                avg((1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y) * x2), 6) AS wb
        |       FROM f CROSS JOIN w1)
        |SELECT doc_id,
        |       round(1/(1+exp(-(w2.b + w2.wa*x1 + w2.wb*x2))), 6) AS score
        |FROM f CROSS JOIN w2""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      import graft.operators.LogReg
      val feats = Tables.documents(s, dir).select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        (least(TextFunctions.tokenCount(col("text")), lit(100)).cast("double") / 100.0).as("x1"),
        (least(col("n_chars"), lit(500L)).cast("double") / 500.0).as("x2"))
      val w = LogReg.train(feats, Seq("x1", "x2"), "y", steps = 2, lr = 1.0)
      LogReg.score(feats, "doc_id", Seq("x1", "x2"), w)
    },

    // Classifier eval metrics: train the q151 logistic quality classifier,
    // score the corpus, threshold at 0.5 and report precision/recall/F1/
    // accuracy — the eval card a filter-stage model ships with. The count
    // arithmetic is integer-exact, so the oracle (which replays training,
    // scoring, thresholding and the ratios in one CTE chain) pins the
    // train→score→evaluate composition bit-for-bit.
    GQuery(
      "q188_classifier_metrics",
      """WITH f AS (SELECT doc_id,
        |                  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |                  least(len(list_filter(string_split(text, ' '), t -> t != '')), 100) / 100.0 AS x1,
        |                  least(n_chars, 500) / 500.0 AS x2
        |           FROM documents),
        |w1 AS (SELECT round(-avg(0.5 - y), 6) AS b,
        |              round(-avg((0.5 - y) * x1), 6) AS wa,
        |              round(-avg((0.5 - y) * x2), 6) AS wb
        |       FROM f),
        |w2 AS (SELECT round(max(w1.b) -
        |                avg(1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y), 6) AS b,
        |              round(max(w1.wa) -
        |                avg((1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y) * x1), 6) AS wa,
        |              round(max(w1.wb) -
        |                avg((1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y) * x2), 6) AS wb
        |       FROM f CROSS JOIN w1),
        |sc AS (SELECT y,
        |              CASE WHEN round(1/(1+exp(-(w2.b + w2.wa*x1 + w2.wb*x2))), 6) >= 0.5
        |                   THEN 1 ELSE 0 END AS p
        |       FROM f CROSS JOIN w2),
        |cm AS (SELECT sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
        |              sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
        |              sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
        |              sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
        |       FROM sc)
        |SELECT tp, fp, fn, tn,
        |       round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fp) END, 6) AS precision,
        |       round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fn) END, 6) AS recall,
        |       round(CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
        |             ELSE tp::DOUBLE * 2 / (tp * 2 + fp + fn) END, 6) AS f1,
        |       round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 6) AS accuracy
        |FROM cm""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      import graft.operators.LogReg
      val feats = Tables.documents(s, dir).select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        (least(TextFunctions.tokenCount(col("text")), lit(100)).cast("double") / 100.0).as("x1"),
        (least(col("n_chars"), lit(500L)).cast("double") / 500.0).as("x2"))
      val w = LogReg.train(feats, Seq("x1", "x2"), "y", steps = 2, lr = 1.0)
      val scored = LogReg.score(feats, "doc_id", Seq("x1", "x2"), w)
        .join(feats.select("doc_id", "y"), "doc_id")
      LogReg.binaryMetrics(scored, "y", "score", threshold = 0.5)
    },

    // Length-ordered token-budget batching (the dataloader's padding
    // minimizer): documents sorted by (token count, id), then assigned
    // WHOLE to batch floor(prefix_sum / budget) — the distributed
    // approximation of greedy sequential fill, zero single-partition
    // windows (packCoordinates' two-pass range prefix sum under a
    // length-major surrogate key). The oracle replays the sort, the
    // exclusive cumsum and the batch arithmetic.
    GQuery(
      "q153_length_batches",
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |             coalesce(sum(n) OVER (ORDER BY n, doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        |      FROM t WHERE n > 0)
        |SELECT doc_id, n AS n_tokens, (s // 256) AS batch_id
        |FROM c""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      val counts = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      Packing.lengthBatches(counts, "doc_id", "n_tok", budget = 256)
    },

    // Temperature-scaled mixture (the multilingual sampling rule, α = 0.5):
    // share_d = T_d^α / Σ T_e^α, factor_d = share·T/T_d. The oracle
    // recomputes both from the same per-source token totals; α=1/α=0
    // degenerate cases are spec-pinned against proportional/balanceFactors.
    GQuery(
      "q155_temperature_mixture",
      """WITH toks AS (SELECT source,
        |                     len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n
        |              FROM documents),
        |t AS (SELECT source, sum(n) AS tok FROM toks GROUP BY source),
        |z AS (SELECT sum(pow(tok, 0.5)) AS Z, sum(tok) AS T FROM t)
        |SELECT source, round(pow(tok, 0.5) / Z, 6) AS share,
        |       round(pow(tok, 0.5) * T / (Z * tok), 6) AS factor
        |FROM t CROSS JOIN z""".stripMargin) { (s, dir) =>
      Mixture.temperatureFactors(
        Tables.documents(s, dir).select(col("source"),
          graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("w")),
        "source", "w", alpha = 0.5)
    },

    // DoReMi-style domain reweighting: three multiplicative-weights rounds
    // over the per-language clamped excess loss (proxy loss = n_chars/1000,
    // reference = the global mean), each round smoothed with 0.1 uniform
    // mass. One domain-keyed aggregate feeds a k-row driver iteration in
    // sorted-domain order (bounded like the DSIR LLR tables); the oracle
    // unrolls the three steps as CTEs. Languages already beating the
    // reference decay to the smoothing floor; fr/zh (positive excess on
    // this corpus) gain mass.
    GQuery(
      "q200_doremi_weights",
      """WITH d AS (SELECT lang, avg(n_chars / 1000.0) AS L FROM documents GROUP BY lang),
        |g AS (SELECT avg(n_chars / 1000.0) AS R FROM documents),
        |e AS (SELECT lang, greatest(L - R, 0.0) AS x FROM d CROSS JOIN g),
        |kk AS (SELECT count(*)::DOUBLE AS k FROM e),
        |w0 AS (SELECT lang, x, 1.0 / k AS w FROM e CROSS JOIN kk),
        |u1 AS (SELECT lang, x, w * exp(20.0 * x) AS uw FROM w0),
        |w1 AS (SELECT lang, x, 0.9 * uw / (sum(uw) OVER ()) + 0.1 / k AS w
        |       FROM u1 CROSS JOIN kk),
        |u2 AS (SELECT lang, x, w * exp(20.0 * x) AS uw FROM w1),
        |w2 AS (SELECT lang, x, 0.9 * uw / (sum(uw) OVER ()) + 0.1 / k AS w
        |       FROM u2 CROSS JOIN kk),
        |u3 AS (SELECT lang, x, w * exp(20.0 * x) AS uw FROM w2),
        |w3 AS (SELECT lang, 0.9 * uw / (sum(uw) OVER ()) + 0.1 / k AS w
        |       FROM u3 CROSS JOIN kk)
        |SELECT lang, round(w, 6) AS weight FROM w3""".stripMargin) { (s, dir) =>
      Mixture.doremiFactors(
        Tables.documents(s, dir)
          .select(col("lang"), (col("n_chars") / 1000.0).as("loss")),
        "lang", "loss", eta = 20.0, smoothing = 0.1, steps = 3)
    },

    // Token-budget selection: the greedy knapsack after scoring — keep
    // the maximal density-ordered prefix (score/cost desc, id ties) whose
    // cumulative token cost fits the budget. One range shuffle on the
    // density order + per-partition running sums against broadcast
    // offsets (the packCoordinates prefix-sum machinery) — no Window.
    // Density rounds to 6 before ordering; the oracle replays the order,
    // the running sum and the prefix cut.
    GQuery(
      "q208_budget_select",
      """WITH d AS (SELECT doc_id, ln(1 + n_chars) AS score,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS cost
        |           FROM documents),
        |o AS (SELECT doc_id, cost,
        |        sum(cost) OVER (ORDER BY round(score / cost, 6) DESC, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
        |      FROM d)
        |SELECT doc_id, cost AS n_tok, coalesce(cb, 0)::BIGINT AS cum_before
        |FROM o WHERE coalesce(cb, 0) + cost <= 10000""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"),
        log(lit(1) + col("n_chars")).as("score"),
        graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("cost"))
      Sampling.budgetSelect(d, "doc_id", "score", "cost", budget = 10000L)
        .select(col("doc_id"), col("cost").as("n_tok"), col("cum_before"))
    },

    // Corpus snapshot diff: the ingest-ops card between two corpus
    // versions (simulated deterministically from documents: every 31st id
    // dropped, every 17th modified, every 41st re-added under a new id).
    // Both sides reduce to (id, md5) at the scan — text never crosses the
    // exchange — then ONE id-keyed full outer join decides added/removed/
    // changed/unchanged. Incremental re-processing starts from exactly
    // the added+changed slice. The oracle replays the hash compare.
    GQuery(
      "q206_snapshot_diff",
      """WITH oldv AS (SELECT doc_id, text FROM documents),
        |newv AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 31 != 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 41 = 0),
        |o AS (SELECT doc_id, md5(text) AS h FROM oldv),
        |n AS (SELECT doc_id, md5(text) AS h FROM newv)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.h != n.h THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val newv = docs.filter(col("doc_id") % 31 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      graft.operators.Snapshot.diff(docs, newv, "doc_id", "text")
    },

    // DSIR importance weights: every raw document scored by how zh-like its
    // hashed unigram distribution is (target = the corpus's zh slice). The
    // oracle recomputes both smoothed bucket marginals and the per-doc
    // log-likelihood-ratio sum from the same md5-60 bucketing.
    GQuery(
      "q157_dsir_weights",
      """WITH tok AS (SELECT doc_id, lang,
        |                    unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS t
        |             FROM documents),
        |b AS (SELECT doc_id, lang, ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS bucket FROM tok),
        |tgt AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'zh' GROUP BY bucket),
        |rawm AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
        |tt AS (SELECT sum(ct) AS st FROM tgt),
        |tr AS (SELECT sum(cr) AS sr FROM rawm),
        |llr AS (SELECT r.bucket,
        |               ln((coalesce(t.ct, 0) + 1)::DOUBLE / (tt.st + 64)) -
        |               ln((r.cr + 1)::DOUBLE / (tr.sr + 64)) AS llr
        |        FROM rawm r LEFT JOIN tgt t USING (bucket) CROSS JOIN tt CROSS JOIN tr),
        |dc AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY doc_id, bucket)
        |SELECT dc.doc_id, round(sum(dc.n * llr.llr), 6) AS log_weight
        |FROM dc JOIN llr USING (bucket)
        |GROUP BY dc.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dsir.importanceWeights(docs.select("doc_id", "text"),
        docs.filter(col("lang") === "zh").select("text"),
        "doc_id", "text", nBuckets = 64)
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    // 50 docs drawn proportional to token count, deterministically — the
    // rank key ln(u)/w derives u from the md5-60 doc_id hash, so the oracle
    // replays the exact draw and the exact winner set. The Spark plan is a
    // TakeOrderedAndProject bounded heap (machine-asserted), never a global
    // sort.
    GQuery(
      "q163_weighted_sample",
      """WITH w AS (SELECT doc_id,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |           FROM documents),
        |k AS (SELECT doc_id, w,
        |             ln((('0x' || substr(md5(doc_id::VARCHAR || ':wsample'), 1, 15))::BIGINT + 1)
        |                / 1152921504606846976.0) / w AS es
        |      FROM w WHERE w > 0)
        |SELECT doc_id, w, round(es, 6) AS es_key
        |FROM k ORDER BY es DESC, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
      val weighted = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(lower(col("text"))))
            .cast("long").as("w"))
      Sampling.weightedSample(weighted, "doc_id", "w", n = 50)
    },

    // ROC-AUC of the q151 quality classifier — the threshold-free eval
    // card: per-distinct-score aggregates (bounded by the round-6 score
    // alphabet, never the corpus), an exclusive cumulative of negatives
    // via the two-pass range prefix sum (no single-partition window), and
    // an INTEGER numerator (ties at ½) so the statistic is bit-exact
    // across engines. The oracle replays train→score→rank-statistic in
    // one CTE chain.
    GQuery(
      "q194_roc_auc",
      logregScoredCte + ",\n" +
      """ag AS (SELECT s, count(*)::BIGINT AS c, sum(y)::BIGINT AS pos
        |       FROM sc GROUP BY s),
        |cum AS (SELECT pos, c - pos AS neg,
        |               coalesce(sum(c - pos) OVER (ORDER BY s
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS neg_below
        |        FROM ag),
        |t AS (SELECT coalesce(sum(pos), 0)::BIGINT AS n_pos,
        |             coalesce(sum(neg), 0)::BIGINT AS n_neg,
        |             coalesce(sum(pos * (2*neg_below + neg)), 0)::BIGINT AS num2
        |      FROM cum)
        |SELECT n_pos, n_neg,
        |       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |            ELSE round(num2::DOUBLE / (n_pos::DOUBLE * n_neg * 2.0), 6)
        |       END AS auc
        |FROM t""".stripMargin) { (s, dir) =>
      graft.operators.Eval.rocAuc(logregScored(s, dir), "y", "score")
    },

    // Youden-J operating point for the q151 classifier: over distinct
    // score thresholds (predict positive iff score >= t), the t
    // maximizing J = tpr - fpr, ties to the HIGHER threshold (the
    // conservative gate). Same machinery as the ROC card: per-score
    // aggregates + the range prefix sum + a bounded argmax; tpr/fpr
    // round to 6 and J is defined from the rounded values, so the oracle
    // replays the whole selection.
    GQuery(
      "q217_youden_threshold",
      logregScoredCte + ",\n" +
      """ag AS (SELECT s, count(*)::BIGINT AS c, sum(y)::BIGINT AS pos
        |       FROM sc GROUP BY s),
        |cum AS (SELECT s, pos, c - pos AS neg,
        |               coalesce(sum(c - pos) OVER (ORDER BY s
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS neg_below,
        |               coalesce(sum(pos) OVER (ORDER BY s
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pos_below
        |        FROM ag),
        |t AS (SELECT sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg FROM cum),
        |r AS (SELECT s AS threshold,
        |             round((n_pos - pos_below)::DOUBLE / n_pos, 6) AS tpr,
        |             round((n_neg - neg_below)::DOUBLE / n_neg, 6) AS fpr
        |      FROM cum CROSS JOIN t WHERE n_pos > 0 AND n_neg > 0)
        |SELECT threshold, tpr, fpr, round(tpr - fpr, 6) AS j
        |FROM r ORDER BY round(tpr - fpr, 6) DESC, threshold DESC LIMIT 1""".stripMargin) {
      (s, dir) =>
      graft.operators.Eval.youdenThreshold(logregScored(s, dir), "y", "score")
    },

    // Calibration reliability card for the same classifier: 100 equal-width
    // score bins, per-bin confidence (mean score) vs accuracy (positive
    // fraction) — the artifact threshold selection and mixture weighting
    // read. abs_gap is defined from the ROUNDED per-bin values so the card
    // is engine-replayable to the last bit. One hash aggregate.
    GQuery(
      "q195_calibration_card",
      logregScoredCte + ",\n" +
      """b AS (SELECT least(floor(s * 100)::BIGINT, 99) AS bin, s, y FROM sc),
        |g AS (SELECT bin, count(*)::BIGINT AS n,
        |             round(avg(s), 6) AS mean_score,
        |             round(avg(y), 6) AS frac_pos
        |      FROM b GROUP BY bin)
        |SELECT bin, n, mean_score, frac_pos,
        |       round(abs(mean_score - frac_pos), 6) AS abs_gap
        |FROM g""".stripMargin) { (s, dir) =>
      graft.operators.Eval.calibrationBins(logregScored(s, dir), "y", "score",
        nBins = 100)
    },

    // Expected calibration error — the q195 card folded to its scalar:
    // ECE = Σ n_b·abs_gap_b / Σ n_b over the card's rounded columns.
    GQuery(
      "q196_ece",
      logregScoredCte + ",\n" +
      """b AS (SELECT least(floor(s * 100)::BIGINT, 99) AS bin, s, y FROM sc),
        |g AS (SELECT bin, count(*)::BIGINT AS n,
        |             round(avg(s), 6) AS mean_score,
        |             round(avg(y), 6) AS frac_pos
        |      FROM b GROUP BY bin),
        |g2 AS (SELECT n, round(abs(mean_score - frac_pos), 6) AS abs_gap FROM g)
        |SELECT coalesce(sum(n), 0)::BIGINT AS n,
        |       coalesce(round(sum(n * abs_gap) / sum(n), 6), 0.0) AS ece
        |FROM g2""".stripMargin) { (s, dir) =>
      graft.operators.Eval.ece(logregScored(s, dir), "y", "score", nBins = 100)
    },

    // INCREMENTAL RELEASE (the composition that makes 100 TB re-releases
    // affordable): snapshot diff -> incremental LSH pairs against the
    // pruned persisted index -> decontamination of the new slice only ->
    // cached-score reuse -> global budget re-selection. The Spark side
    // runs the INCREMENTAL path (v1 = corpus with some docs missing, some
    // texts changed, some extra docs later removed); the oracle replays
    // the FROM-SCRATCH pipeline on the new corpus — the hash equality IS
    // the invariant: incremental == from-scratch on the union.
    GQuery(
      "q233_incremental_release",
      s"""WITH v2 AS (SELECT doc_id, text FROM documents),
         |${benchShingleSql}
         |${releaseSelSql("r_", "v2", 8000L)}
         |SELECT doc_id, score, cost AS n_tok, cum_before FROM r_sel""".stripMargin) {
      (s, dir) =>
      val (v1, v2, bench, p) = releaseFixture(s, dir)
      val art = graft.operators.Release.materialized(
        graft.operators.Release.artifacts(v1, bench, "doc_id", "text", p))
      graft.operators.Release.incremental(v1, art, v2, bench, "doc_id", "text", p)
        .select(col("id").as("doc_id"), col("score"),
          col("cost").as("n_tok"), col("cum_before"))
    },

    // Datasheet DELTA between two releases: the v2 selection's release
    // card beside its drift from v1's (docs/tokens/types/mean-length
    // deltas — what a release note reads). v1's selection replays from
    // scratch in the oracle, v2's through the incremental path on the
    // Spark side, so the delta is green only if BOTH pipelines and both
    // datasheets agree.
    GQuery(
      "q234_release_datasheet_delta",
      s"""WITH v2 AS (SELECT doc_id, text FROM documents),
         |v1 AS (SELECT doc_id,
         |         CASE WHEN doc_id % 11 = 3 AND doc_id % 7 != 1
         |              THEN 'OLDV ' || text ELSE text END AS text
         |       FROM documents WHERE doc_id % 7 != 1
         |       UNION ALL
         |       SELECT doc_id + 20000 AS doc_id, text FROM documents
         |       WHERE doc_id % 13 = 2),
         |${benchShingleSql}
         |${releaseSelSql("a_", "v1", 8000L)},
         |${releaseSelSql("b_", "v2", 8000L)},
         |d1 AS (SELECT
         |  (SELECT count(*) FROM a_sel) AS n_docs,
         |  (SELECT coalesce(sum(cost), 0)::BIGINT FROM a_sel) AS n_tokens,
         |  (SELECT count(DISTINCT tok) FROM
         |     (SELECT unnest(t) AS tok FROM a_toks JOIN a_sel USING (doc_id))) AS n_types,
         |  (SELECT round(avg(length(text)), 6) FROM v1 JOIN a_sel USING (doc_id)) AS mean_chars),
         |d2 AS (SELECT
         |  (SELECT count(*) FROM b_sel) AS n_docs,
         |  (SELECT coalesce(sum(cost), 0)::BIGINT FROM b_sel) AS n_tokens,
         |  (SELECT count(DISTINCT tok) FROM
         |     (SELECT unnest(t) AS tok FROM b_toks JOIN b_sel USING (doc_id))) AS n_types,
         |  (SELECT round(avg(length(text)), 6) FROM v2 JOIN b_sel USING (doc_id)) AS mean_chars)
         |SELECT d2.n_docs, d2.n_tokens, d2.n_types, d2.mean_chars,
         |       d2.n_docs - d1.n_docs AS d_docs,
         |       d2.n_tokens - d1.n_tokens AS d_tokens,
         |       d2.n_types - d1.n_types AS d_types,
         |       round(d2.mean_chars - d1.mean_chars, 6) AS d_mean_chars
         |FROM d2 CROSS JOIN d1""".stripMargin) { (s, dir) =>
      import graft.operators.Release
      val (v1, v2, bench, p) = releaseFixture(s, dir)
      val art = Release.materialized(
        Release.artifacts(v1, bench, "doc_id", "text", p))
      val selV1 = Release.fromArtifacts(v1, art, "doc_id", p)
      val selV2 = Release.incremental(v1, art, v2, bench, "doc_id", "text", p)
      val d1 = Release.selectionDatasheet(selV1, v1, "doc_id", "text")
        .select(col("n_docs").as("o_docs"), col("n_tokens").as("o_tokens"),
          col("n_types").as("o_types"), col("mean_chars").as("o_mean"))
      Release.selectionDatasheet(selV2, v2, "doc_id", "text")
        .crossJoin(broadcast(d1))
        .select(col("n_docs"), col("n_tokens"), col("n_types"), col("mean_chars"),
          (col("n_docs") - col("o_docs")).as("d_docs"),
          (col("n_tokens") - col("o_tokens")).as("d_tokens"),
          (col("n_types") - col("o_types")).as("d_types"),
          round(col("mean_chars") - col("o_mean"), 6).as("d_mean_chars"))
    },

    // POPULATION STABILITY INDEX between the q234 corpus versions, per
    // language — the standard drift gate next to the K-S test: token-count
    // distributions bucketed into 10 fixed-width bins on [0, 200),
    // Laplace-smoothed, PSI = Σ (p_new − p_old)·ln(p_new/p_old), with the
    // rule-of-thumb verdict column. The oracle replays both version
    // fixtures, the clamped bucketing, the smoothing and the sum.
    GQuery(
      "q267_psi_drift",
      """WITH v2 AS (SELECT doc_id, lang,
        |              len(list_filter(string_split(lower(text), ' '), x -> x != ''))::DOUBLE AS v
        |            FROM documents),
        |v1 AS (SELECT doc_id, lang,
        |              len(list_filter(string_split(lower(text), ' '), x -> x != ''))::DOUBLE AS v
        |       FROM (SELECT doc_id, lang,
        |               CASE WHEN doc_id % 11 = 3 AND doc_id % 7 != 1
        |                    THEN 'OLDV ' || text ELSE text END AS text
        |             FROM documents WHERE doc_id % 7 != 1)),
        |ob AS (SELECT lang AS g, least(greatest(floor((v - 0.0) / 20.0), 0), 9)::BIGINT AS b,
        |              count(*) AS n_o
        |       FROM v1 GROUP BY 1, 2),
        |nb2 AS (SELECT lang AS g, least(greatest(floor((v - 0.0) / 20.0), 0), 9)::BIGINT AS b,
        |               count(*) AS n_n
        |        FROM v2 GROUP BY 1, 2),
        |j AS (SELECT coalesce(ob.g, nb2.g) AS g, coalesce(ob.b, nb2.b) AS b,
        |             coalesce(n_o, 0) AS n_o, coalesce(n_n, 0) AS n_n
        |      FROM ob FULL OUTER JOIN nb2 ON ob.g = nb2.g AND ob.b = nb2.b),
        |t AS (SELECT g, sum(n_o) AS tot_o, sum(n_n) AS tot_n FROM j GROUP BY g),
        |p AS (SELECT j.g,
        |             (j.n_o::DOUBLE + 0.5) / (t.tot_o::DOUBLE + 5.0) AS po,
        |             (j.n_n::DOUBLE + 0.5) / (t.tot_n::DOUBLE + 5.0) AS pn,
        |             t.tot_o, t.tot_n
        |      FROM j JOIN t USING (g)),
        |r AS (SELECT g, max(tot_o)::BIGINT AS n_old, max(tot_n)::BIGINT AS n_new,
        |             round(sum((pn - po) * ln(pn / po)), 6) AS psi
        |      FROM p GROUP BY g)
        |SELECT g AS lang, n_old, n_new, psi,
        |       CASE WHEN psi < 0.1 THEN 'stable'
        |            WHEN psi <= 0.25 THEN 'moderate'
        |            ELSE 'shifted' END AS verdict
        |FROM r""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      val (v1, v2, _, _) = releaseFixture(s, dir)
      def scored(df: org.apache.spark.sql.DataFrame) =
        Tables.documents(s, dir).select("doc_id", "lang")
          .join(df.select(col("doc_id"),
            size(TextFunctions.tokens(lower(col("text")))).cast("double").as("v")),
            "doc_id")
      graft.operators.ProfileStats.psiDrift(
          scored(v1), scored(v2), "lang", "v", nBuckets = 10, lo = 0.0, hi = 200.0)
        .withColumnRenamed("g", "lang")
    },

    // RELEASE + SERVING INDEX, end-to-end incremental: the v2 selection
    // comes from the INCREMENTAL release path (q233) and its ANN index
    // from MAINTENANCE deltas (q235) — the previous selection's index is
    // patched by deleting deselected/changed docs and appending
    // newly-selected/changed ones (hash-embedded from the CURRENT text,
    // assigned against the frozen bench-seeded quantizer). The oracle
    // replays the FROM-SCRATCH pipeline: v2 selection -> hashed embeddings
    // of the selected docs -> centroid assignment. Equality proves the
    // full 100 TB re-release story: neither the corpus pipeline NOR the
    // serving index ever rebuilds from scratch.
    GQuery(
      "q242_release_with_index",
      s"""WITH v2 AS (SELECT doc_id, text FROM documents),
         |${benchShingleSql}
         |${releaseSelSql("r_", "v2", 8000L)},
         |etok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS t
         |         FROM v2 JOIN r_sel USING (doc_id)),
         |edj AS (SELECT doc_id, t, unnest(range(16)) AS j FROM etok),
         |evec0 AS (SELECT doc_id, j,
         |            sum(CASE WHEN (('0x' || substr(md5(t || ':' || j::VARCHAR), 1, 15))::BIGINT & 1) = 1
         |                     THEN 1 ELSE -1 END)::DOUBLE AS v
         |          FROM edj GROUP BY doc_id, j),
         |evec AS (SELECT doc_id, list(v ORDER BY j) AS hv FROM evec0 GROUP BY doc_id),
         |ctok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS t
         |         FROM bench),
         |cdj AS (SELECT doc_id, t, unnest(range(16)) AS j FROM ctok),
         |cvec0 AS (SELECT doc_id, j,
         |            sum(CASE WHEN (('0x' || substr(md5(t || ':' || j::VARCHAR), 1, 15))::BIGINT & 1) = 1
         |                     THEN 1 ELSE -1 END)::DOUBLE AS v
         |          FROM cdj GROUP BY doc_id, j),
         |cvec AS (SELECT doc_id, list(v ORDER BY j) AS cv FROM cvec0 GROUP BY doc_id),
         |cents AS (SELECT doc_id AS cell, cv FROM cvec ORDER BY doc_id LIMIT 8),
         |ar AS (SELECT e.doc_id, c.cell,
         |         row_number() OVER (PARTITION BY e.doc_id ORDER BY
         |           list_sum(list_transform(range(1, 17),
         |             i -> (e.hv[i] - c.cv[i]) * (e.hv[i] - c.cv[i]))), c.cell) AS rn
         |       FROM evec e CROSS JOIN cents c)
         |SELECT doc_id, cell FROM ar WHERE rn = 1""".stripMargin) { (s, dir) =>
      import graft.operators.{Ann, Release, Snapshot, TfIdf}
      val (v1, v2, bench, p) = releaseFixture(s, dir)
      def embed(corpus: org.apache.spark.sql.DataFrame,
          ids: org.apache.spark.sql.DataFrame) =
        TfIdf.hashedEmbedding(
            corpus.join(ids, Seq("doc_id"), "left_semi"), "doc_id", "text", dim = 16)
          .select(col("doc_id").as("vec_id"),
            col("hvec").cast("array<float>").as("embedding"))
      // frozen quantizer: the 8 lowest bench docs that hash-embed
      val centroids = TfIdf.hashedEmbedding(bench, "doc_id", "text", dim = 16)
        .orderBy("doc_id").limit(8)
        .select(col("doc_id").as("vec_id"),
          col("hvec").cast("array<float>").as("embedding"))

      val art = Release.materialized(
        Release.artifacts(v1, bench, "doc_id", "text", p))
      val selV1 = Materialize.view(Release.fromArtifacts(v1, art, "doc_id", p)
        .select("id"))
      val selV2 = Materialize.view(Release.incremental(v1, art, v2, bench, "doc_id", "text", p)
        .select("id"))
      val i1 = Ann.ivfIndexWithMeta(
        embed(v1, selV1.select(col("id").as("doc_id"))), centroids,
        metric = "EUCLIDEAN")
      // index deltas: deselected docs leave; newly selected arrive; docs
      // selected in both but with CHANGED text re-embed (leave + arrive)
      val changed = Snapshot.diff(v1, v2, "doc_id", "text")
        .filter(col("status") === "changed")
        .select(col("doc_id").cast("long").as("id"))
      val removedIdx = selV1.join(selV2, Seq("id"), "left_anti")
        .unionByName(selV1.join(changed, Seq("id"), "left_semi")).distinct()
      val added = selV2.join(selV1, Seq("id"), "left_anti")
        .unionByName(selV2.join(changed, Seq("id"), "left_semi")).distinct()
      val i2 = Ann.ivfAppend(
        Ann.ivfDelete(i1, removedIdx, idCol = "id"),
        embed(v2, added.select(col("id").as("doc_id"))), centroids,
        metric = "EUCLIDEAN")
      i2.select(col("id").as("doc_id"), col("cell"))
    },

    // SEMANTIC PACKING: long-context training sequences composed of
    // semantically-similar documents (the related-document packing recipe
    // — in-context relevance instead of random concatenation). Three
    // existing primitives compose: model-free hashed embeddings (q225) ->
    // nearest-centroid cluster assignment (q133's argmin against a frozen
    // 4-cell quantizer) -> per-CLUSTER packing coordinates over the
    // grouped prefix-sum (q221's shape, group = semantic cluster). The
    // oracle replays embedding, assignment and the partitioned running
    // sum from first principles.
    GQuery(
      "q243_semantic_packing",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS t
        |             FROM documents),
        |dj AS (SELECT doc_id, t, unnest(range(16)) AS j FROM tok),
        |s AS (SELECT doc_id, j,
        |        sum(CASE WHEN (('0x' || substr(md5(t || ':' || j::VARCHAR), 1, 15))::BIGINT & 1) = 1
        |                 THEN 1 ELSE -1 END)::DOUBLE AS v
        |      FROM dj GROUP BY doc_id, j),
        |vec AS (SELECT doc_id, list(v ORDER BY j) AS hv FROM s GROUP BY doc_id),
        |cents AS (SELECT doc_id AS cell, hv AS cv FROM vec ORDER BY doc_id LIMIT 4),
        |ar AS (SELECT v.doc_id, c.cell,
        |         row_number() OVER (PARTITION BY v.doc_id ORDER BY
        |           list_sum(list_transform(range(1, 17),
        |             i -> (v.hv[i] - c.cv[i]) * (v.hv[i] - c.cv[i]))), c.cell) AS rn
        |       FROM vec v CROSS JOIN cents c),
        |asg AS (SELECT doc_id, cell FROM ar WHERE rn = 1),
        |d AS (SELECT doc_id,
        |        len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n
        |      FROM documents),
        |o AS (SELECT d.doc_id, a.cell, d.n,
        |        coalesce(sum(d.n) OVER (PARTITION BY a.cell ORDER BY d.doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS ts
        |      FROM d JOIN asg a USING (doc_id) WHERE d.n > 0)
        |SELECT cell, doc_id, n AS n_tokens, ts AS tok_start,
        |       ts // 128 AS seq_first, (ts + n - 1) // 128 AS seq_last,
        |       ts % 128 AS seq_offset
        |FROM o""".stripMargin) { (s, dir) =>
      import graft.operators.{Ann, TfIdf}
      val docs = Tables.documents(s, dir)
      val emb = TfIdf.hashedEmbedding(docs, "doc_id", "text", dim = 16)
        .select(col("doc_id").as("vec_id"),
          col("hvec").cast("array<float>").as("embedding"))
      val cents = emb.orderBy("vec_id").limit(4)
      val assigned = Ann.ivfIndexWithMeta(emb, cents, metric = "EUCLIDEAN")
      val withTok = docs.select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(lower(col("text"))).as("n"))
        .join(assigned.select(col("id").as("doc_id"), col("cell")), Seq("doc_id"))
      Packing.packCoordinatesPerGroup(withTok, "cell", "doc_id", "n",
          seqLen = 128)
        .select(col("cell"), col("doc_id"), col("n_tokens"), col("tok_start"),
          col("seq_first"), col("seq_last"), col("seq_offset"))
    },

    // TAKEDOWN sweep (right-to-be-forgotten): remove doc_id % 9 == 4 from a
    // released corpus by PRUNING the cached artifacts — no text is ever
    // rescanned (the 100 TB affordability claim: a takedown costs the
    // artifact anti-joins, not a corpus pass). The oracle replays the
    // FROM-SCRATCH release on corpus ∖ removals; the hash equality is the
    // commutation invariant (pairs are pairwise, contam/scores per-doc).
    // Resurrection is inside it: docs deduped away only against a removed
    // near-duplicate re-enter the selection.
    GQuery(
      "q250_takedown_release",
      s"""WITH kept AS (SELECT doc_id, text FROM documents WHERE doc_id % 9 != 4),
         |${benchShingleSql}
         |${releaseSelSql("t_", "kept", 8000L)}
         |SELECT doc_id, score, cost AS n_tok, cum_before FROM t_sel""".stripMargin) {
      (s, dir) =>
      import graft.operators.Release
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      val p = Release.Params(budget = 8000L)
      val art = Release.materialized(
        Release.artifacts(docs, bench, "doc_id", "text", p))
      val removals = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
        .select("doc_id")
      val (sel, _) = Release.takedown(docs, art, removals, "doc_id", p)
      sel.select(col("id").as("doc_id"), col("score"),
        col("cost").as("n_tok"), col("cum_before"))
    },

    // Takedown COMPLETENESS audit: per artifact, rows referencing a removed
    // id BEFORE the sweep (the exposure a compliance review quantifies) and
    // AFTER (leftover — computed by scanning the pruned outputs, so a
    // buggy prune would surface as a non-zero, hash-mismatching row). The
    // oracle predicts refs_before from first principles: exact-Jaccard
    // pairs touching removals, per-doc artifact membership rules (index
    // needs >= 3 tokens, scores >= 1, contam all docs), and the old
    // selection replay.
    GQuery(
      "q251_takedown_audit",
      s"""WITH rem AS (SELECT doc_id FROM documents WHERE doc_id % 9 = 4),
         |v AS (SELECT doc_id, text FROM documents),
         |${benchShingleSql}
         |${releaseSelSql("o_", "v", 8000L)},
         |opairs AS (
         |  SELECT i.ia, i.ib FROM (
         |    SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS cnt
         |    FROM o_sh a JOIN o_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) i
         |  JOIN o_sz sa ON sa.doc_id = i.ia JOIN o_sz sb ON sb.doc_id = i.ib
         |  WHERE cnt::DOUBLE / (sa.sz + sb.sz - cnt) >= 0.8),
         |toklen AS (SELECT doc_id, len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n
         |           FROM documents)
         |SELECT 'pairs' AS artifact,
         |       (SELECT count(*) FROM opairs
         |        WHERE ia IN (SELECT doc_id FROM rem) OR ib IN (SELECT doc_id FROM rem))
         |         AS refs_before, 0::BIGINT AS leftover
         |UNION ALL
         |SELECT 'index',
         |       (SELECT count(*) FROM toklen JOIN rem USING (doc_id) WHERE n >= 3), 0
         |UNION ALL
         |SELECT 'contam', (SELECT count(*) FROM rem), 0
         |UNION ALL
         |SELECT 'scores',
         |       (SELECT count(*) FROM toklen JOIN rem USING (doc_id) WHERE n >= 1), 0
         |UNION ALL
         |SELECT 'selection',
         |       (SELECT count(*) FROM o_sel JOIN rem USING (doc_id)), 0""".stripMargin) {
      (s, dir) =>
      import graft.operators.Release
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      val p = Release.Params(budget = 8000L)
      val art = Release.materialized(
        Release.artifacts(docs, bench, "doc_id", "text", p))
      val oldSel = Release.fromArtifacts(docs, art, "doc_id", p)
      val removals = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
        .select("doc_id")
      val (newSel, pruned) = Release.takedown(docs, art, removals, "doc_id", p)
      Release.takedownAudit(oldSel, newSel, art, pruned, removals, "doc_id")
    },

    // NO-TRUNCATION bin packing (next-fit decreasing, packing domain =
    // language shard): whole documents into 256-token bins — the layout
    // for content a straddled boundary would poison. The oracle replays
    // the per-group sequential walk with a recursive CTE (length-desc
    // order, fit-or-open-new-bin), which is exactly the operator's
    // contract: the walk is sequential BY DESIGN and bounded by the
    // group, never the corpus.
    GQuery(
      "q268_nfd_bin_pack",
      """WITH RECURSIVE d AS (SELECT lang AS g, doc_id AS id,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != ''))::BIGINT AS n
        |           FROM documents),
        |o AS (SELECT g, id, n, row_number() OVER (PARTITION BY g ORDER BY n DESC, id) AS rn
        |      FROM d WHERE n > 0),
        |walk(g, rn, id, n, bin, off, rem) AS (
        |  SELECT g, rn, id, n, 0::BIGINT, 0::BIGINT, 256 - n FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.g, o.rn, o.id, o.n,
        |         CASE WHEN o.n <= w.rem THEN w.bin ELSE w.bin + 1 END,
        |         CASE WHEN o.n <= w.rem THEN 256 - w.rem ELSE 0 END,
        |         CASE WHEN o.n <= w.rem THEN w.rem - o.n ELSE 256 - o.n END
        |  FROM walk w JOIN o ON o.g = w.g AND o.rn = w.rn + 1)
        |SELECT g AS lang, id AS doc_id, n AS n_tokens, bin, off AS bin_offset
        |FROM walk""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(TextFunctions.tokens(lower(col("text")))).cast("long").as("n"))
      Packing.nextFitDecreasing(docs, "lang", "doc_id", "n", seqLen = 256L)
    },

    // The wholeness-cost card: per language — bins used vs the LP lower
    // bound ceil(Σtokens/256), fill rate and padding fraction (the price
    // of never splitting a document; packCoordinates' split layout fills
    // 1.0 by construction). Oracle = the q268 walk + one rollup.
    GQuery(
      "q269_bin_pack_report",
      """WITH RECURSIVE d AS (SELECT lang AS g, doc_id AS id,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != ''))::BIGINT AS n
        |           FROM documents),
        |o AS (SELECT g, id, n, row_number() OVER (PARTITION BY g ORDER BY n DESC, id) AS rn
        |      FROM d WHERE n > 0),
        |walk(g, rn, id, n, bin, off, rem) AS (
        |  SELECT g, rn, id, n, 0::BIGINT, 0::BIGINT, 256 - n FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.g, o.rn, o.id, o.n,
        |         CASE WHEN o.n <= w.rem THEN w.bin ELSE w.bin + 1 END,
        |         CASE WHEN o.n <= w.rem THEN 256 - w.rem ELSE 0 END,
        |         CASE WHEN o.n <= w.rem THEN w.rem - o.n ELSE 256 - o.n END
        |  FROM walk w JOIN o ON o.g = w.g AND o.rn = w.rn + 1)
        |SELECT g AS lang, count(*) AS n_docs, max(bin) + 1 AS n_bins,
        |       sum(n)::BIGINT AS n_tokens,
        |       ceil(sum(n)::DOUBLE / 256)::BIGINT AS lp_bound,
        |       round(sum(n)::DOUBLE / ((max(bin) + 1) * 256), 6) AS fill_rate,
        |       round(1.0 - sum(n)::DOUBLE / ((max(bin) + 1) * 256), 6) AS padding_frac
        |FROM walk GROUP BY g""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(TextFunctions.tokens(lower(col("text")))).cast("long").as("n"))
      Packing.binPackReport(
        Packing.nextFitDecreasing(docs, "lang", "doc_id", "n", seqLen = 256L),
        "lang", seqLen = 256L)
    },

    // EFFECTIVE-SAMPLE-SIZE card for the q157 DSIR weights under log-weight
    // clipping: heavy-tailed importance weights make a weighted corpus
    // behave like far fewer documents; the card reports ESS = (Σw)²/Σw²
    // (max-shifted exp — scale-invariant, so the shift drops out), the ESS
    // fraction of n, and how much of the corpus each clip touches. The
    // oracle replays the whole weight pipeline plus the card per clip.
    GQuery(
      "q258_ess_card",
      """WITH tok AS (SELECT doc_id, lang,
        |                    unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS t
        |             FROM documents),
        |b AS (SELECT doc_id, lang, ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS bucket FROM tok),
        |tgt AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'zh' GROUP BY bucket),
        |rawm AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
        |tt AS (SELECT sum(ct) AS st FROM tgt),
        |tr AS (SELECT sum(cr) AS sr FROM rawm),
        |llr AS (SELECT r.bucket,
        |               ln((coalesce(t.ct, 0) + 1)::DOUBLE / (tt.st + 64)) -
        |               ln((r.cr + 1)::DOUBLE / (tr.sr + 64)) AS llr
        |        FROM rawm r LEFT JOIN tgt t USING (bucket) CROSS JOIN tt CROSS JOIN tr),
        |dc AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY doc_id, bucket),
        |w AS (SELECT dc.doc_id, round(sum(dc.n * llr.llr), 6) AS lw
        |      FROM dc JOIN llr USING (bucket) GROUP BY dc.doc_id),
        |mx AS (SELECT max(lw) AS m FROM w),
        |cl AS (SELECT unnest([-10.0, 0.0, 10.0, 1000000.0]::DOUBLE[]) AS clip),
        |e AS (SELECT cl.clip, exp(least(w.lw, cl.clip) - mx.m) AS ww,
        |             CASE WHEN w.lw > cl.clip THEN 1 ELSE 0 END AS c
        |      FROM w CROSS JOIN cl CROSS JOIN mx)
        |SELECT clip, count(*) AS n,
        |       round(sum(ww) * sum(ww) / sum(ww * ww), 6) AS ess,
        |       round(sum(ww) * sum(ww) / sum(ww * ww) / count(*), 6) AS ess_frac,
        |       round(sum(c)::DOUBLE / count(*), 6) AS clipped_frac
        |FROM e GROUP BY clip""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val w = Dsir.importanceWeights(docs.select("doc_id", "text"),
        docs.filter(col("lang") === "zh").select("text"),
        "doc_id", "text", nBuckets = 64)
      Dsir.essCard(w, "doc_id", "log_weight",
        clips = Seq(-10.0, 0.0, 10.0, 1000000.0))
    },
  )

  /** The q233/q234 version fixture: v2 = the documents table; v1 = v2
    * minus every doc_id % 7 == 1 (-> "added"), with 'OLDV ' prefixed onto
    * doc_id % 11 == 3 texts (-> "changed"), plus doc_id+20000 copies of
    * doc_id % 13 == 2 (-> "removed"); bench = doc_id % 25 == 0 of v2.
    */
  private[graft] def releaseFixture(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, graft.operators.Release.Params) = {
    val v2 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val changed = pmod(col("doc_id"), lit(11)) === 3 &&
      pmod(col("doc_id"), lit(7)) =!= 1
    val v1 = v2.filter(pmod(col("doc_id"), lit(7)) =!= 1)
      .withColumn("text",
        when(changed, concat(lit("OLDV "), col("text"))).otherwise(col("text")))
      .unionByName(v2.filter(pmod(col("doc_id"), lit(13)) === 2)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    val bench = v2.filter(pmod(col("doc_id"), lit(25)) === 0)
    (v1, v2, bench, graft.operators.Release.Params(budget = 8000L))
  }

  /** Benchmark shingle set (doc_id % 25 == 0 of the live corpus) — shared
    * by both release replays.
    */
  private lazy val benchShingleSql: String =
    """bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
      |btoks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t FROM bench),
      |bsh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |          i -> array_to_string(t[i:i+2], ' '))) AS sh
      |        FROM btoks WHERE len(t) >= 3),
      |bsh AS (SELECT DISTINCT unnest(sh) AS shingle FROM bsh0),""".stripMargin

  /** One release pipeline replay over corpus CTE `c` (doc_id, text):
    * 3-gram Jaccard >= 0.8 pairs -> drop the higher id of every pair ->
    * containment <= 0.5 vs `bsh` -> distinct-token/token scores -> greedy
    * density-ordered budget prefix. Emits CTEs `{p}toks ... {p}sel`.
    */
  private def releaseSelSql(p: String, c: String, budget: Long): String =
    s"""${p}toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t FROM $c),
       |${p}sh0 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |          i -> array_to_string(t[i:i+2], ' '))) AS sh
       |        FROM ${p}toks WHERE len(t) >= 3),
       |${p}sh AS (SELECT doc_id, unnest(sh) AS shingle FROM ${p}sh0),
       |${p}sz AS (SELECT doc_id, count(*) AS sz FROM ${p}sh GROUP BY doc_id),
       |${p}drop1 AS (SELECT DISTINCT ib AS doc_id FROM (
       |    SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS cnt
       |    FROM ${p}sh a JOIN ${p}sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) i
       |  JOIN ${p}sz sa ON sa.doc_id = i.ia JOIN ${p}sz sb ON sb.doc_id = i.ib
       |  WHERE cnt::DOUBLE / (sa.sz + sb.sz - cnt) >= 0.8),
       |${p}hits AS (SELECT s.doc_id, count(*) AS h FROM ${p}sh s
       |  JOIN bsh USING (shingle) GROUP BY 1),
       |${p}cont AS (SELECT cp.doc_id,
       |    CASE WHEN coalesce(sz.sz, 0) = 0 THEN 0.0
       |         ELSE coalesce(h.h, 0)::DOUBLE / sz.sz END AS cont
       |  FROM $c cp LEFT JOIN ${p}sz sz ON sz.doc_id = cp.doc_id
       |             LEFT JOIN ${p}hits h ON h.doc_id = cp.doc_id),
       |${p}surv AS (SELECT ct.doc_id FROM ${p}cont ct
       |  WHERE ct.cont <= 0.5
       |    AND ct.doc_id NOT IN (SELECT doc_id FROM ${p}drop1)),
       |${p}sc AS (SELECT doc_id, count(DISTINCT tok) AS score, count(*) AS cost
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM ${p}toks) GROUP BY 1),
       |${p}sel AS (SELECT doc_id, score, cost, coalesce(cb, 0)::BIGINT AS cum_before
       |  FROM (SELECT doc_id, score, cost,
       |          sum(cost) OVER (ORDER BY round(score::DOUBLE / cost, 6) DESC, doc_id
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
       |        FROM (SELECT s.doc_id, sc.score, sc.cost FROM ${p}surv s
       |              JOIN ${p}sc sc USING (doc_id) WHERE sc.cost > 0))
       |  WHERE coalesce(cb, 0) + cost <= $budget)""".stripMargin

  /** The q151 logistic train→score composition joined back to its labels —
    * the scored frame the q194–q196 eval cards aggregate (Spark side of
    * [[logregScoredCte]]).
    */
  private def logregScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.TextFunctions
    import graft.operators.LogReg
    val feats = Tables.documents(s, dir).select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      (least(TextFunctions.tokenCount(col("text")), lit(100)).cast("double") / 100.0).as("x1"),
      (least(col("n_chars"), lit(500L)).cast("double") / 500.0).as("x2"))
    val w = LogReg.train(feats, Seq("x1", "x2"), "y", steps = 2, lr = 1.0)
    LogReg.score(feats, "doc_id", Seq("x1", "x2"), w)
      .join(feats.select("doc_id", "y"), "doc_id")
  }

  /** Shared CTE replaying the q151 logistic train→score composition into
    * `sc(doc_id, y, s)` — the scored frame the q194–q196 eval cards
    * aggregate. Identical arithmetic to q151/q188's inline copies.
    * (lazy: referenced from `all`, which initializes first.)
    */
  private lazy val logregScoredCte: String =
    """WITH f AS (SELECT doc_id,
      |                  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
      |                  least(len(list_filter(string_split(text, ' '), t -> t != '')), 100) / 100.0 AS x1,
      |                  least(n_chars, 500) / 500.0 AS x2
      |           FROM documents),
      |w1 AS (SELECT round(-avg(0.5 - y), 6) AS b,
      |              round(-avg((0.5 - y) * x1), 6) AS wa,
      |              round(-avg((0.5 - y) * x2), 6) AS wb
      |       FROM f),
      |w2 AS (SELECT round(max(w1.b) -
      |                avg(1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y), 6) AS b,
      |              round(max(w1.wa) -
      |                avg((1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y) * x1), 6) AS wa,
      |              round(max(w1.wb) -
      |                avg((1/(1+exp(-(w1.b + w1.wa*x1 + w1.wb*x2))) - y) * x2), 6) AS wb
      |       FROM f CROSS JOIN w1),
      |sc AS (SELECT doc_id, y::BIGINT AS y,
      |              round(1/(1+exp(-(w2.b + w2.wa*x1 + w2.wb*x2))), 6) AS s
      |       FROM f CROSS JOIN w2)""".stripMargin
}
