package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer training — the merge-table learner behind
  * every BPE/WordPiece-family vocabulary. Classic algorithm (Sennrich et
  * al. 2016): start from character segmentations, repeatedly merge the
  * globally most frequent adjacent symbol pair.
  *
  * Scale shape: after ONE corpus pass collapses the text to word counts,
  * every iteration runs on the VOCABULARY relation (distinct words ×
  * current segmentation), never the corpus — the same collapse the
  * standard trainers use, except the vocabulary stays a distributed
  * DataFrame instead of a driver hash map, so a 100TB corpus's
  * billion-word vocabulary still fits the model. Each merge iteration is
  * one pair-explode + sum aggregate (map-side combined, pair-keyed) and a
  * TakeOrdered(1); the segmentation update is a typed per-row kernel (no
  * shuffle). The vocabulary is materialized each round — caching is
  * NOT enough: a cache leaves the logical plan chained through every
  * previous round, and Catalyst re-analysis + codegen over that growing
  * plan turn superlinear (measured: 10 merges 25 s, 16 merges 79 s, 20
  * merges OOMs an 8 GB driver); the checkpoint truncates each round's
  * plan to the materialized RDD, making per-merge cost flat. Local
  * checkpoints trade executor-loss recovery for speed — a cluster run
  * that must survive preemption sets `spark.graft.materialize.backend`
  * to `reliable` (same contract; see [[Materialize]]).
  *
  * Determinism: pair ties break on (count desc, left asc, right asc) in
  * binary string order — byte-replayable by any engine. Merge application
  * is left-to-right non-overlapping (greedy BPE): for the pair (a,a) on
  * "a a a" the result is "aa a". While every piece is still a single
  * character (i.e. for the FIRST merge only) this equals SQL
  * `replace(seg, 'a b', 'ab')` on the space-joined segmentation; once
  * pieces are multi-character a bare replace can match across a piece
  * boundary ('th e' -> 'the' for the merge (h,e)), so later merges must
  * be replayed piece-wise (the oracle folds the piece list with a
  * boundary-guarded `list_reduce`).
  */
object Bpe {

  /** (word, cnt) corpus word counts — the one corpus-wide pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(
        lower(coalesce(col(textCol), lit(""))))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Greedy left-to-right merge of adjacent (l, r) symbol pairs — the BPE
    * update rule. Exposed for the spec; engine-equal to `replace` on the
    * space-joined form because pieces never contain spaces.
    */
  private[operators] def applyMerge(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Train `numMerges` merges; returns (rank, left, right, pair_cnt) plus
    * the final per-word segmentation. Stops early if no pair remains.
    */
  private def trainInternal(docs: DataFrame, textCol: String,
      numMerges: Int): (Seq[(Int, String, String, Long)], DataFrame) =
    trainFromCounts(wordCounts(docs, textCol), numMerges)

  /** The merge loop over any `(word, cnt)` relation — char-level `train`
    * passes lowercased whitespace word counts, byte-level `trainBytes`
    * passes mapped-byte pretoken counts. Same scale shape either way:
    * every iteration runs on the vocabulary relation, never the corpus.
    */
  /** Vocabulary-size ceiling for the DRIVER merge loop. The merge
    * iteration is inherently sequential (each merge depends on the last),
    * and each distributed round costs two jobs over the vocabulary
    * relation — pure scheduler overhead once the vocabulary fits in
    * driver memory. Below the threshold the loop runs in-memory on the
    * collected (word, cnt, syms) rows with EXACTLY the distributed
    * tie-break (max cnt, then l, r in UTF-8 byte order — Spark's binary
    * string ordering); above it, the distributed loop is the scale path.
    * The adaptive-execution discipline (and differential-equality spec
    * pattern) of `Dedup.connectedComponents`.
    */
  private val DriverTrainThreshold = 200000L

  /** Test seam: run the merge loop with an explicit driver-path threshold
    * (0 forces the distributed loop) — the differential spec pins the two
    * paths equal on the same counts.
    */
  private[operators] def trainFromCountsWithThreshold(wc: DataFrame,
      numMerges: Int, driverThreshold: Long)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    trainFromCounts(wc, numMerges, driverThreshold)

  /** Unsigned UTF-8 byte comparison == Spark's binary StringType
    * ordering (UTF8String.compareTo), NOT String.compareTo (UTF-16 code
    * units), which disagrees above the BMP.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def trainFromCounts(wc: DataFrame, numMerges: Int,
      driverThreshold: Long = DriverTrainThreshold)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val spark = wc.sparkSession
    import spark.implicits._
    // initial segmentation: one symbol per character. LAZY checkpoint: the
    // driver-path gate's count() below is the job that computes and
    // persists the blocks — one job, not a checkpoint job plus a count job
    // (witness fusion; lineage still truncates at that job's end)
    var vocab = Materialize.policy(spark, eager = false)(wc
      .select(col("word"), col("cnt"),
        expr("transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")
          .as("syms")))
      .as[(String, Long, Array[String])]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    if (vocab.count() <= driverThreshold) {
      // driver path: one collect, then the whole merge loop in memory —
      // identical pair sums (exact longs), identical argmax tie-break,
      // identical applyMerge; 2 jobs total instead of 2 per merge
      val rows = vocab.collect()
      Materialize.free(vocab.toDF()) // Dataset.unpersist misses checkpoint blocks
      val syms = rows.map(_._3)
      var rank = 1
      var exhausted = false
      while (rank <= numMerges && !exhausted) {
        val counts = new java.util.HashMap[(String, String), java.lang.Long]()
        var wi = 0
        while (wi < rows.length) {
          val cnt = rows(wi)._2
          val s = syms(wi)
          var i = 0
          while (i < s.length - 1) {
            val key = (s(i), s(i + 1))
            val prev = counts.get(key)
            counts.put(key, java.lang.Long.valueOf(
              (if (prev == null) 0L else prev.longValue) + cnt))
            i += 1
          }
          wi += 1
        }
        if (counts.isEmpty) exhausted = true
        else {
          var bl: String = null; var br: String = null; var bc = 0L
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            val l = en.getKey._1
            val r = en.getKey._2
            val c = en.getValue.longValue
            val better = bl == null || c > bc ||
              (c == bc && {
                val dl = utf8Compare(l, bl)
                dl < 0 || (dl == 0 && utf8Compare(r, br) < 0)
              })
            if (better) { bl = l; br = r; bc = c }
          }
          merges += ((rank, bl, br, bc))
          wi = 0
          while (wi < rows.length) {
            syms(wi) = applyMerge(syms(wi), bl, br)
            wi += 1
          }
          rank += 1
        }
      }
      val outRows = rows.indices.map(i => (rows(i)._1, rows(i)._2, syms(i)))
      return (merges.toSeq,
        spark.createDataset(outRows).toDF("word", "cnt", "syms"))
    }
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = vocab.flatMap { case (_, cnt, syms) =>
          (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), cnt))
        }
        .toDF("l", "r", "c")
        .groupBy("l", "r").agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).as[(String, String, Long)]
        .collect()
      top.headOption match {
        case None => exhausted = true
        case Some((l, r, cnt)) =>
          merges += ((rank, l, r, cnt))
          val prev = vocab
          vocab = Materialize.view(
            vocab.map { case (w, c, syms) => (w, c, applyMerge(syms, l, r)) }.toDF())
            .as[(String, Long, Array[String])]
          Materialize.free(prev.toDF()) // superseded round's blocks go now
          rank += 1
      }
    }
    (merges.toSeq,
      vocab.toDF("word", "cnt", "syms"))
  }

  /** The learned merge table: (merge_rank, merge_left, merge_right,
    * pair_cnt) — non-reserved names so any SQL engine can replay it.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, vocab) = trainInternal(docs, textCol, numMerges)
    Materialize.free(vocab)
    merges.map { case (rk, l, r, c) => (rk.toLong, l, r, c) }
      .toDF("merge_rank", "merge_left", "merge_right", "pair_cnt")
  }

  /** A trained tokenizer: the ordered merge list plus the token vocabulary
    * (training alphabet ∪ merge outputs), ids assigned by UTF-8 binary sort
    * order — the one ordering every engine reproduces (Spark's UTF8String
    * and DuckDB's default collation both compare raw bytes, unlike Java's
    * UTF-16 `compareTo`, which misorders supplementary-plane characters).
    */
  final case class BpeModel(merges: Seq[(String, String)], vocab: Map[String, Int]) {
    /** rank lookup for the encode kernel (1-based, training order) */
    private[operators] lazy val mergeRank: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap
  }

  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** Train `numMerges` merges and package them with the token vocabulary as
    * an applicable tokenizer. The alphabet is the training corpus's distinct
    * characters (one vocabulary-relation aggregate — no extra corpus pass);
    * merge outputs extend it; ids are the UTF-8 binary rank.
    */
  def fit(docs: DataFrame, textCol: String, numMerges: Int): BpeModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, vocabSeg) = trainInternal(docs, textCol, numMerges)
    val alphabet = vocabSeg
      .select(explode(expr(
        "transform(sequence(1, char_length(word)), i -> substring(word, i, 1))")).as("ch"))
      .distinct().as[String].collect()
    vocabSeg.unpersist(blocking = false)
    val mergeList = merges.map { case (_, l, r, _) => (l, r) }
    val pieces = (alphabet ++ mergeList.map { case (l, r) => l + r })
      .distinct.sorted(utf8Order)
    BpeModel(mergeList, pieces.zipWithIndex.toMap)
  }

  /** Segment one word with the trained merges — lowest-rank-first, which
    * equals replaying the merges sequentially in training order (a merge of
    * rank i can never become newly applicable after a merge of rank k > i
    * fires: rank i's right element was a token that existed at training
    * round i, and rank k's output first exists at round k). The rank-driven
    * loop costs O(len × merges-applied) per word, independent of the merge
    * table size — sequential replay would pay O(len × numMerges).
    */
  private[operators] def segmentWord(word: String,
      rank: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        syms = applyMerge(syms, syms(bi), syms(bi + 1))
        done = syms.length < 2
      }
    }
    syms
  }

  /** Corpus-wide BPE encoding: apply a trained model to every document,
    * yielding `(idCol, tok_ids array<int>)` — the per-document token-id
    * sequence a packer/dataloader consumes. The missing link between
    * `train` (a merge-table learner) and `Packing` (which needs actual
    * token streams).
    *
    * Scale shape: ZERO shuffle — a typed `mapPartitions` kernel over the
    * document rows with the merge table + vocabulary broadcast (a 50k-merge
    * model is a few MB). Word segmentations are memoized per partition
    * (Zipf makes the hit rate high; the memo is size-capped so a
    * pathological all-unique partition cannot grow it unboundedly).
    * Tokenization matches training (`lower` + single-space split, empties
    * dropped). A piece absent from the vocabulary (a character never seen
    * in training) encodes as -1 — the conventional UNK sentinel,
    * impossible when encoding the training corpus itself.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val memoCap = 1 << 20
    docs.select(col(idCol).cast("long"),
        lower(coalesce(col(textCol), lit(""))))
      .as[(Long, String)]
      .mapPartitions { it =>
        val m = bc.value
        val rank = m.mergeRank
        val vocab = m.vocab
        val memo = new java.util.HashMap[String, Array[Int]]()
        it.map { case (id, text) =>
          val words = text.split(" ").iterator.filter(_.nonEmpty)
          val out = scala.collection.mutable.ArrayBuilder.make[Int]
          words.foreach { w =>
            var ids = memo.get(w)
            if (ids == null) {
              ids = segmentWord(w, rank).map(p => vocab.getOrElse(p, -1))
              if (memo.size < memoCap) memo.put(w, ids)
            }
            out ++= ids
          }
          (id, out.result())
        }
      }
      .toDF(idCol, "tok_ids")
  }

  /** Invert [[encode]]: map each token id back to its vocabulary piece and
    * concatenate — (idCol, outCol). The id stream carries no end-of-word
    * marker (the model has no `</w>` sentinel), so the round trip
    * reconstructs the space-stripped lowered corpus exactly:
    * `decode(encode(d)) == concat(split-nonempty(lower(d)))` — q159 pins
    * that identity corpus-wide. Ids outside the vocabulary (the -1 UNK
    * sentinel) decode to U+FFFD. Zero shuffle: a broadcast
    * reverse-vocabulary array kernel, same shape as encode.
    */
  def decode(ids: DataFrame, idCol: String, idsCol: String,
      model: BpeModel, outCol: String = "decoded"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val rev = new Array[String](model.vocab.size)
    model.vocab.foreach { case (p, i) => rev(i) = p }
    val bc = spark.sparkContext.broadcast(rev)
    ids.select(col(idCol).cast("long"), col(idsCol).cast("array<int>"))
      .as[(Long, Array[Int])]
      .map { case (id, toks) =>
        val r = bc.value
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          sb.append(if (t >= 0 && t < r.length) r(t) else "�")
          i += 1
        }
        (id, sb.toString)
      }
      .toDF(idCol, outCol)
  }

  // ---- byte-level BPE (GPT-2 construction, public) ----------------------

  /** GPT-2-style pretokenization, RE2-compatible (no lookahead, no
    * contraction alternates) so a SQL engine's regexp_extract_all replays
    * it: a pretoken is an optionally space-prefixed letter run, digit run,
    * or other-symbol run, or a whitespace run. The alternates tile every
    * character, so pretokens concatenate back to the exact input.
    */
  private[operators] val pretokenRegex = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
  private val pretokenPattern = java.util.regex.Pattern.compile(pretokenRegex)

  private[operators] def pretokenize(text: String): Iterator[String] = {
    val m = pretokenPattern.matcher(text)
    new Iterator[String] {
      private var has = m.find()
      def hasNext: Boolean = has
      def next(): String = { val s = m.group(); has = m.find(); s }
    }
  }

  /** The GPT-2 byte→printable-unicode table (public construction): the 188
    * visible latin bytes map to themselves, the other 68 map to U+0100+n in
    * ascending byte order — so arbitrary bytes become a real unicode string
    * every string engine handles, and byte-level BPE reduces to char-level
    * machinery over the mapped alphabet.
    */
  private[operators] val byteToChar: Array[Char] = {
    val out = new Array[Char](256)
    var n = 0
    for (b <- 0 until 256) {
      val printable = (b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
        (b >= 174 && b <= 255)
      if (printable) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
    }
    out
  }
  private[operators] val charToByte: Map[Char, Int] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** UTF-8 bytes of `s`, each mapped through [[byteToChar]]. */
  private[operators] def mapBytes(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xff)); i += 1 }
    sb.toString
  }

  /** `(word, cnt)` over mapped-byte pretokens — the byte-level analogue of
    * [[wordCounts]]: case- and whitespace-PRESERVING (whitespace runs are
    * pretokens too; nothing is lost). One corpus pass.
    */
  def pretokenCounts(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(coalesce(col(textCol), lit("")).as("t")).as[String]
      .flatMap(t => pretokenize(t).map(mapBytes))
      .toDF("word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
  }

  /** Byte-level merge table: (merge_rank, merge_left, merge_right,
    * pair_cnt) over mapped-byte symbols. Reference byte-level trainers
    * (GPT-2, the HF tokenizers library) learn exactly this table given the
    * same pretokenizer; [[BpeSpec]] pins parity with a sequential
    * reference implementation on multi-byte scripts.
    */
  def trainBytes(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, vocab) = trainFromCounts(pretokenCounts(docs, textCol), numMerges)
    Materialize.free(vocab)
    merges.map { case (rk, l, r, c) => (rk.toLong, l, r, c) }
      .toDF("merge_rank", "merge_left", "merge_right", "pair_cnt")
  }

  /** Train a byte-level tokenizer: base vocabulary = ALL 256 mapped bytes
    * (full byte fallback — any future input encodes, UNK is impossible)
    * plus the merge outputs; ids by UTF-8 binary rank of the mapped piece,
    * the same engine-neutral ordering [[fit]] uses.
    */
  def fitBytes(docs: DataFrame, textCol: String, numMerges: Int): BpeModel = {
    val (merges, vocabSeg) = trainFromCounts(pretokenCounts(docs, textCol), numMerges)
    vocabSeg.unpersist(blocking = false)
    val mergeList = merges.map { case (_, l, r, _) => (l, r) }
    val pieces = (byteToChar.map(_.toString) ++
      mergeList.map { case (l, r) => l + r }).distinct.sorted(utf8Order)
    BpeModel(mergeList, pieces.zipWithIndex.toMap)
  }

  /** Byte-level corpus encoding: pretokenize (case/space-preserving), map
    * bytes, segment each pretoken with the trained merges, emit
    * `(idCol, tok_ids array<int>)`. Same zero-shuffle memoized-kernel
    * shape as [[encode]]; ids are never -1 (byte fallback).
    */
  def encodeBytes(docs: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val memoCap = 1 << 20
    docs.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val m = bc.value
        val rank = m.mergeRank
        val vocab = m.vocab
        val memo = new java.util.HashMap[String, Array[Int]]()
        it.map { case (id, text) =>
          val out = scala.collection.mutable.ArrayBuilder.make[Int]
          pretokenize(text).foreach { pre =>
            val w = mapBytes(pre)
            var ids = memo.get(w)
            if (ids == null) {
              ids = segmentWord(w, rank).map(p => vocab.getOrElse(p, -1))
              if (memo.size < memoCap) memo.put(w, ids)
            }
            out ++= ids
          }
          (id, out.result())
        }
      }
      .toDF(idCol, "tok_ids")
  }

  /** Invert [[encodeBytes]]: pieces → mapped chars → bytes → UTF-8 text.
    * Byte-level decoding is EXACT — `decodeBytes(encodeBytes(d)) == d`
    * byte-for-byte, case, whitespace and multi-byte scripts included
    * (q190 pins the identity corpus-wide, zh slice and all).
    */
  def decodeBytes(ids: DataFrame, idCol: String, idsCol: String,
      model: BpeModel, outCol: String = "decoded"): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val rev = new Array[String](model.vocab.size)
    model.vocab.foreach { case (p, i) => rev(i) = p }
    val bc = spark.sparkContext.broadcast(rev)
    ids.select(col(idCol).cast("long"), col(idsCol).cast("array<int>"))
      .as[(Long, Array[Int])]
      .map { case (id, toks) =>
        val r = bc.value
        val bytes = new java.io.ByteArrayOutputStream()
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (t >= 0 && t < r.length) {
            val piece = r(t)
            var j = 0
            while (j < piece.length) {
              bytes.write(charToByte(piece.charAt(j)))
              j += 1
            }
          }
          i += 1
        }
        (id, new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      }
      .toDF(idCol, outCol)
  }

  /** Per-document BPE token counts after `numMerges` trained merges: join
    * each document's words to the final vocabulary segmentation and sum
    * piece counts — the compression-ratio signal tokenizer ablations read
    * (corpus-trained, corpus-applied). One corpus shuffle (the word join);
    * the vocabulary side is the small one.
    */
  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    val (_, vocab) = trainInternal(docs, textCol, numMerges)
    val pieces = vocab.select(col("word"), size(col("syms")).cast("long").as("n_pieces"))
    // vocab stays cached while the caller executes the returned frame (the
    // encode join reads it); the bench harness clears cache between sweeps
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(lower(coalesce(col(textCol), lit(""))))).as("word"))
      .join(pieces, "word")
      .groupBy("doc_id").agg(sum(col("n_pieces")).as("n_bpe_tokens"))
  }
}
