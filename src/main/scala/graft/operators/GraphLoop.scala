package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The iterative graph loop — the one seam every graph operator's rounds
  * run through (PageRank, LabelProp, HITS, Katz, k-core, neighborhoods,
  * SCC, connected components). Three parts:
  *
  *  - [[prepare]] normalizes the edge list ONCE into a materialized leaf
  *    (lineage cut: the input pipeline — parquet scans, URL canonicalizers,
  *    co-occurrence counts — never re-runs) and derives nodes,
  *    out-degree and the degree-attached edges from that leaf. The handle
  *    owns every frame it materializes and frees them on `close`;
  *  - [[iterate]] runs a fixed number of rounds under the REFERENCE-COUNT
  *    stride rule: a state frame read once per round folds two rounds per
  *    materialization (identical arithmetic, no recompute, half the
  *    checkpoint writes — deeper folds buy little and grow the per-job
  *    plan); a frame read twice materializes every round, because an
  *    unmaterialized chain re-executes its prefix 2^rounds times (q295:
  *    5.1 s → 30.6 s when relaxed);
  *  - [[until]] runs witness-stopped rounds with WITNESS FUSION: each
  *    round's frame materializes lazily and the convergence witness (a
  *    1-row aggregate) is the job that computes and persists it — one job
  *    per round where materialize-then-aggregate pays two (guide §1.2).
  *
  * Both loops free every superseded frame they created as soon as the
  * next one has read it (at 50 rounds the dead frames would otherwise
  * hold ~50x the steady-state storage until the ContextCleaner got to
  * them). The object holds no mutable state: Scc runs two fixpoints
  * concurrently through [[until]].
  */
private[operators] object GraphLoop {

  /** A prepared graph: the normalized edge leaf `e` — (src, dst) or, when
    * weighted, (src, dst, w) — hash-partitioned by src with a size-derived
    * partition count ([[Materialize.sizedByKey]]), plus frames derived
    * from it on first use; `mat` and `matLazy` are the call's eager and
    * lazy materializers ([[Materialize.policy]]). `rounds` is the number of rounds the caller
    * will run: derived frames re-read by more than one round are
    * materialized (lazily — the first job that reads them computes them),
    * a graph prepared for a single step derives them unmaterialized.
    * `close()` frees every frame the handle materialized except the ones
    * the frame passed to [[result]] reads.
    */
  final class Graph private[GraphLoop] (val e: DataFrame, weighted: Boolean,
      val mat: DataFrame => DataFrame, val matLazy: DataFrame => DataFrame, rounds: Int)
      extends AutoCloseable {
    private val owned = scala.collection.mutable.Buffer(e)
    private var out: Option[DataFrame] = None

    /** The contribution-join salt, read ONCE per call (see [[eDeg]]). */
    val k: Int = e.sparkSession.conf.get("spark.graft.graph.joinSalt", "1").toInt

    /** Edge weight: `w` on weighted graphs, exactly 1.0 otherwise. */
    def w: Column = if (weighted) col("w") else lit(1.0)

    /** Edge endpoints as (id), with repeats. */
    def ids: DataFrame = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))

    lazy val nodes: DataFrame = shared(Materialize.sizedByKey(ids.distinct(), "id"))

    /** (src, deg = Σ_out w) — partitioned like `e`, so no exchange. */
    lazy val outDeg: DataFrame = shared(e.groupBy("src").agg(sum(w).as("deg")))

    /** (src, dst, w, deg): the out-weight attached ONCE, so a round pays
      * one hash join, not two. SKEW (guide §2.5): the per-round
      * contribution join is exchange-free, which also takes AQE's skew
      * split off the table — a hot source's edges all sit in one
      * partition. `spark.graft.graph.joinSalt` = k > 1 spreads them: the
      * frame carries salt = pmod(xxhash64(dst), k) (deterministic, so
      * retries re-derive the same placement) and hash-distributes by
      * (src, salt); [[contributions]] explodes the state side ×k to match.
      * The contribution multiset is identical — only float summation order
      * moves (the ~1e-12 band).
      */
    lazy val eDeg: DataFrame = shared {
      val j = e.select(col("src"), col("dst"), w.as("w")).join(outDeg, "src")
      if (k <= 1) j
      else j.withColumn("salt", pmod(xxhash64(col("dst")), lit(k)).cast("int"))
        .repartition(col("src"), col("salt"))
    }

    /** Per-round (cid, contrib = Σ_{u→cid} value(u)·w/deg(u)) from an
      * (id, value) state frame.
      */
    def contributions(state: DataFrame, value: String): DataFrame = {
      val joined =
        if (k <= 1) state.join(eDeg, col("id") === col("src"))
        else state.select(col("id"), col(value),
            explode(sequence(lit(0), lit(k - 1))).as("_rsalt"))
          .join(eDeg, col("id") === col("src") && col("_rsalt") === col("salt"))
      joined.groupBy(col("dst").as("cid"))
        .agg(sum(col(value) * col("w") / col("deg")).as("contrib"))
    }

    /** A frame more than one round reads: materialized lazily and owned. */
    def shared(df: DataFrame): DataFrame = if (rounds > 1) own(matLazy(df)) else df

    /** A frame read more than once after the loop: materialized now, owned. */
    def pin(df: DataFrame): DataFrame = own(mat(df))

    private def own(df: DataFrame): DataFrame = owned.synchronized { owned += df; df }

    /** Marks the frame the call returns; `close` keeps what it reads. */
    def result(df: DataFrame): DataFrame = { out = Some(df); df }

    def close(): Unit = {
      val reads = out.map(leafRdds).getOrElse(Set.empty)
      owned.synchronized(owned.toList)
        .filterNot(f => leafRdds(f).subsetOf(reads)).foreach(Materialize.free)
    }
  }

  private def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Normalize `edges(srcCol, dstCol[, weightCol])` into a prepared graph:
    * unweighted edges dedupe (`distinct`); weighted ones cast w to double
    * and merge duplicate (src, dst) rows — walk weights keep the MAX of the
    * w > 0 rows (zero weights carry no walk mass but would create spurious
    * out-degree), path `costs` keep the MIN of the w ≥ 0 rows.
    * `dropLoops` removes self-loops first. Id-type-agnostic: every later
    * step is equality joins and aggregates, no arithmetic on ids.
    */
  def prepare(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None, dropLoops: Boolean = false,
      costs: Boolean = false, rounds: Int = 2): Graph = {
    val sel = edges.select(Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++
      weightCol.map(c => col(c).cast("double").as("w")): _*)
    val kept = if (dropLoops) sel.filter(col("src") =!= col("dst")) else sel
    val norm = weightCol match {
      case None => kept.distinct()
      case Some(_) if costs =>
        kept.filter(col("w") >= 0).groupBy("src", "dst").agg(min(col("w")).as("w"))
      case Some(_) =>
        kept.filter(col("w") > 0).groupBy("src", "dst").agg(max(col("w")).as("w"))
    }
    // one policy per call: `mat` (eager) and `matLazy` (witness-fused)
    val mat = Materialize.policy(edges.sparkSession)
    val matLazy = Materialize.policy(edges.sparkSession, eager = false)
    new Graph(matLazy(Materialize.sizedByKey(norm, "src")), weightCol.isDefined, mat,
      matLazy, rounds)
  }

  /** `rounds` applications of `step` from `init`. `refsPerRound` is how
    * often one round reads the previous state: 1 folds two rounds per
    * materialization, 2 materializes every round (see the object doc).
    * `init` is materialized lazily (the first round's job computes it).
    */
  def iterate(g: Graph, init: DataFrame, rounds: Int, refsPerRound: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    val stride = if (refsPerRound == 1) 2 else 1
    var cur = g.matLazy(init)
    var t = 0
    while (t < rounds) {
      val steps = math.min(stride, rounds - t)
      val next = g.mat((1 to steps).foldLeft(cur)((s, _) => step(s)))
      Materialize.free(cur)
      cur = next
      t += steps
    }
    cur
  }

  /** Witness-stopped rounds from `init`, at most `maxRounds`, each frame
    * materialized by the lazy materializer `matLazy` (a [[Graph]]'s, or
    * [[Materialize.policy]] with `eager = false`): `witness(prev, next)`
    * says whether `next` is converged and is the job that computes it. An
    * `init` that is already a materialized leaf is read as is and stays
    * the caller's; any other is materialized lazily and freed like every
    * superseded round. Returns (last frame, rounds run, converged) — `converged`
    * false means the cap hit first.
    */
  def until(init: DataFrame, maxRounds: Int, matLazy: DataFrame => DataFrame)(
      step: DataFrame => DataFrame)(
      witness: (DataFrame, DataFrame) => Boolean): (DataFrame, Int, Boolean) = {
    val start = init.queryExecution.analyzed match {
      case _: LogicalRDD => init
      case _ => matLazy(init)
    }
    var cur = start
    var t = 0
    var converged = false
    while (!converged && t < maxRounds) {
      val next = matLazy(step(cur))
      converged = witness(cur, next)
      if (!(cur eq init)) Materialize.free(cur)
      cur = next
      t += 1
    }
    (cur, t, converged)
  }

  /** Fixpoint witness for [[until]]: a per-frame scalar (a label sum, an
    * edge count) that stops changing exactly at the fixpoint. Each frame's
    * scalar is computed once — the next round compares against the
    * remembered value — so the witness costs one job per round. `known`
    * is the start frame's scalar when the caller already has it; `last`
    * is the final frame's.
    */
  final class Unchanged[W](scalar: DataFrame => W, known: Option[W] = None)
      extends ((DataFrame, DataFrame) => Boolean) {
    private var seen = known
    def last: W = seen.get
    def apply(prev: DataFrame, next: DataFrame): Boolean = {
      val before = seen.getOrElse(scalar(prev))
      seen = Some(scalar(next))
      seen.get == before
    }
  }
}
