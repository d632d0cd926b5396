package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.BitImage
import graft.layout.{Durations, Units}
import graft.metadata.Ulid
import graft.predicates.{Comparand, ConjugateNode, OpType, PNodeCompiler, PNodeSql, PredicateNode, TagFilter}
import graft.sources.xvec.XvecIO

/** Driver-oracle coverage for the scalar/function operators that round 1
  * left spec-only: tag filters (P9), f16 mvec round trip (F2), unit/duration
  * parsing (F3), braille bit images (F7), ULID codec (F8), CQL/CDDL
  * renderers (P7/P8), PNode string comparison (F5), element map (P3).
  */
object CoverageFunctionQueries {

  /** Crockford base32 of a 128-bit value in DuckDB: digit i = (v / 32^(25-i))
    * % 32 — the power table rides as HUGEINT literals (32^25 = 2^125 fits).
    */
  private val ulidPowers: String =
    (25 to 0 by -1).map(k => BigInt(32).pow(k).toString + "::HUGEINT")
      .mkString("[", ",", "]")

  val all: Seq[GQuery] = Seq(

    // P9: regex-valued tag filter compiled over a map<string,string> tags
    // column — bare name = has-tag, value = full-match regex, conjunction.
    GQuery(
      "q67_tag_filter",
      """SELECT p_partkey FROM part
        |WHERE regexp_full_match(p_brand, 'Brand#[1-3]')
        |  AND regexp_full_match(p_type, 'ECON.*')""".stripMargin) { (s, dir) =>
      val tagged = Tables.part(s, dir).withColumn("tags",
        map(lit("brand"), col("p_brand"), lit("type"), col("p_type"),
          lit("name"), col("p_name")))
      tagged.filter(TagFilter.parse("brand=Brand#[1-3] type:ECON.* name").predicate(col("tags")))
        .select("p_partkey")
    },

    // F2: binary16 round trip through the mvec sink+scan. Values are
    // quantized to the 1/256 grid (exactly representable in f16 for
    // |x| < 8), so write→read must be the identity and the oracle can
    // recompute the quantization in SQL.
    GQuery(
      "q69_f16_roundtrip",
      """SELECT vec_id AS ordinal, generate_subscripts(embedding, 1) - 1 AS dim,
        |       floor(unnest(embedding)::DOUBLE * 256) / 256 AS v
        |FROM embeddings WHERE vec_id < 100""".stripMargin) { (s, dir) =>
      val path = s"${tmpDir()}/f16-${System.nanoTime()}.mvec"
      XvecIO.write(
        Tables.embeddings(s, dir).filter(col("vec_id") < 100)
          .select(col("vec_id").as("ordinal"),
            transform(col("embedding"),
              x => (floor(x.cast("double") * 256) / 256).cast("float")).as("vector")),
        path)
      XvecIO.read(s, path)
        .select(col("ordinal"), posexplode(col("vector")).as(Seq("dim", "v")))
        .select(col("ordinal"), col("dim"), col("v").cast("double").as("v"))
    },

    // F3: count-suffix and compound-duration parsing, golden values per the
    // reference's unit tables (K/M/B/G/T decimal multipliers, M=minutes in
    // duration position, unitless duration = seconds).
    GQuery(
      "q73_units",
      """SELECT * FROM (VALUES
        |  ('count:1_000', 1000),
        |  ('count:2K', 2000),
        |  ('count:3G', 3000000000),
        |  ('count:5M', 5000000),
        |  ('count:7', 7),
        |  ('count:MAX', 9223372036854775807),
        |  ('duration:1M', 60000),
        |  ('duration:1d', 86400000),
        |  ('duration:1h30m', 5400000),
        |  ('duration:250ms', 250),
        |  ('duration:2w', 1209600000),
        |  ('duration:90', 90000)
        |) AS t(spec, value)""".stripMargin) { (s, _) =>
      import s.implicits._
      val counts = Seq("1_000", "2K", "3G", "5M", "7", "MAX")
        .map(c => (s"count:$c", Units.parseCount(c)))
      val durations = Seq("1M", "1d", "1h30m", "250ms", "2w", "90")
        .map(d => (s"duration:$d", Durations.millisFor(d).get))
      (counts ++ durations).toDF("spec", "value")
    },

    // F7: braille bit-image render of a validity bitset — the oracle
    // recomputes the 2×4 dot masks and glyph codepoints from scratch.
    GQuery(
      "q74_bit_image",
      """WITH b AS (SELECT doc_id AS i, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS bit
        |           FROM documents WHERE doc_id < 64),
        |m AS (SELECT i // 8 AS cell,
        |             sum(bit * ([1,2,4,64,8,16,32,128])[(i % 8)::INT + 1]) AS mask
        |      FROM b GROUP BY 1)
        |SELECT (SELECT string_agg(chr((10240 + mask)::INT), '' ORDER BY cell) FROM m) AS image,
        |       (SELECT sum(bit) FROM b)::BIGINT AS n_set""".stripMargin) { (s, dir) =>
      import s.implicits._
      val flags = Tables.documents(s, dir).filter(col("doc_id") < 64)
        .select(col("doc_id"), (col("lang") === "en").as("f"))
        .collect().map(r => r.getLong(0).toInt -> r.getBoolean(1)).toMap
      val image = BitImage.render(64, i => flags.getOrElse(i, false))
      val nSet = (0 until 64).count(i => flags.getOrElse(i, false))
      Seq((image, nSet.toLong)).toDF("image", "n_set")
    },

    // F8: ULID encode (Crockford base32 of 48-bit timestamp + 80-bit
    // entropy) + decode round trip; the oracle rebuilds the base32 digits
    // from the same 128-bit value with HUGEINT arithmetic.
    GQuery(
      "q75_ulid",
      s"""SELECT o_orderkey,
         |  array_to_string(list_transform(range(26), i ->
         |    substr('0123456789ABCDEFGHJKMNPQRSTVWXYZ',
         |           (((v // ($ulidPowers)[i+1]) % 32)::INT + 1), 1)), '') AS ulid,
         |  true AS roundtrip
         |FROM (
         |  SELECT o_orderkey,
         |         (o_orderkey * 1000)::HUGEINT * 1208925819614629174706176::HUGEINT
         |           + (o_custkey % 65536)::HUGEINT * 18446744073709551616::HUGEINT
         |           + (o_orderkey * 7919)::HUGEINT AS v
         |  FROM orders ORDER BY o_orderkey LIMIT 20)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val rows = Tables.orders(s, dir).orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey").limit(20).collect()
        .map { r =>
          val k = r.getLong(0)
          val bytes = Ulid.of(k * 1000, (r.getLong(1) % 65536).toShort, k * 7919)
          val canonical = Ulid.toCanonical(bytes)
          (k, canonical, java.util.Arrays.equals(Ulid.fromCanonical(canonical), bytes))
        }
      rows.toSeq.toDF("o_orderkey", "ulid", "roundtrip")
    },

    // P7/P8 (+P6 reference dialect): the three predicate renderings of one
    // tree, pinned against the reference's documented codec output.
    GQuery(
      "q81_predicate_renderers",
      """SELECT
        |  '(age >= 21 AND name LIKE '|| chr(39) ||'A.*'|| chr(39) ||' AND status IN ('|| chr(39) ||'a'|| chr(39) ||', '|| chr(39) ||'b'|| chr(39) ||'))' AS ref_sql,
        |  'age >= 21 AND name /* MATCHES */ '|| chr(39) ||'A.*'|| chr(39) ||' AND status IN ('|| chr(39) ||'a'|| chr(39) ||', '|| chr(39) ||'b'|| chr(39) ||')' AS cql,
        |  'age: number .ge 21' AS cddl_leaf""".stripMargin) { (s, _) =>
      import s.implicits._
      val age = PredicateNode.namedTyped("age", OpType.GE, Comparand.IntVal(21))
      val tree = ConjugateNode.and(
        age,
        PredicateNode.namedTyped("name", OpType.MATCHES, Comparand.TextVal("A.*")),
        PredicateNode.namedTyped("status", OpType.IN,
          Comparand.TextVal("a"), Comparand.TextVal("b")))
      Seq((PNodeSql.reference(tree), PNodeSql.cql(tree), PNodeSql.cddl(age)))
        .toDF("ref_sql", "cql", "cddl_leaf")
    },

    // F5: PNode string comparison — UTF8 binary ordering through the
    // compiled predicate, vs DuckDB's binary collation.
    GQuery(
      "q84_pnode_string_compare",
      """SELECT doc_id FROM documents WHERE text > 'm'""") { (s, dir) =>
      PNodeCompiler.filter(Tables.documents(s, dir),
        PredicateNode.namedTyped("text", OpType.GT, Comparand.TextVal("m"))).select("doc_id")
    },

    // P3: element map over a vector facet (scale + clamp), summed per row.
    GQuery(
      "q85_element_map",
      """SELECT vec_id, round(list_sum(list_transform(embedding,
        |  x -> least(greatest(x::DOUBLE * 2 + 0.1, -0.5), 0.5))), 6) AS s
        |FROM embeddings WHERE vec_id < 200""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir).filter(col("vec_id") < 200)
        .select(col("vec_id"),
          round(aggregate(
            transform(col("embedding"),
              x => least(greatest(x.cast("double") * 2 + 0.1, lit(-0.5)), lit(0.5))),
            lit(0.0), (acc, x) => acc + x), 6).as("s"))
    },
  )
}
