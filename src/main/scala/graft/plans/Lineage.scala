package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.LineageStats

/** Checkpoint helper for ITERATIVE algorithms (label propagation,
  * PageRank-family fixpoints, SCC trim/FW-BW rounds).
  *
  * `localCheckpoint` alone truncates lineage but carries the
  * pre-checkpoint plan's estimated stats forward (`originStats`), and
  * across checkpoint GENERATIONS those estimates compound
  * multiplicatively — by ~20 iterations the driver livelocks inside
  * BigInteger arithmetic during size-only stats estimation (see
  * [[org.apache.spark.sql.graft.LineageStats]] for the full mechanism).
  * [[checkpoint]] = `localCheckpoint` + per-generation clamp, which
  * bounds the carried stats at `Long.MaxValue` forever without changing
  * any join-strategy decision (everything past the broadcast threshold
  * is equivalent).
  *
  * Use this — not bare `localCheckpoint` — for any frame reassigned
  * inside a loop. One-shot checkpoints (e.g. [[Materialized]]) don't
  * compound and don't need it.
  */
object Lineage {
  /** `df.localCheckpoint(eager)` with carried-stats clamping. Lazy
    * (`eager = false`) still truncates the plan immediately — the
    * single downstream action materializes the blocks, same contract
    * as bare `localCheckpoint(false)`. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = LineageStats.clampCheckpointStats(df.localCheckpoint(eager))
    // Eager checkpoints re-attach the executed plan's true hash
    // partitioning (AQE erases it at capture — see
    // LineageStats.preservePartitioning): loop joins/aggregates keyed
    // like the previous round's output then skip their per-iteration
    // Exchange. They also swap the carried join-product size ESTIMATE
    // for the MEASURED block bytes (LineageStats.measuredSize) — since
    // SPARK-41986 a SinglePartition join child whose estimate exceeds
    // spark.sql.maxSinglePartitionBytes is force-re-shuffled, so a
    // phantom-huge estimate re-introduced two Exchanges per loop join.
    // Lazy checkpoints have no executed plan or blocks to read; they
    // keep the stock behavior.
    if (eager) LineageStats.measuredSize(LineageStats.preservePartitioning(df, cp))
    else cp
  }

  /** Postfix form so loop bodies read like the bare API:
    * `frame.loopCheckpoint(true)`. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def loopCheckpoint(eager: Boolean): DataFrame = checkpoint(df, eager)
  }

  /** Generation tracker for ONE loop variable (VERDICT r13 finding 2):
    * `var frame = gen.roll(step(frame), eager)` bounds the variable's
    * resident checkpoint blocks at TWO generations for the whole loop,
    * instead of leaving every superseded generation in the block store
    * until the driver GCs the DataFrame reference and ContextCleaner
    * catches up — across a 266-query pass that lag is monotonic
    * block-store growth and GC pressure; on real executors it evicts
    * useful cache.
    *
    * Release policy is keep-2: rolling generation N unpersists
    * generation N−2 (non-blocking). N−1 is retained one extra roll
    * because a LAZY generation N materializes only at the caller's next
    * action, reading N−1's blocks — and localCheckpoint TRUNCATES
    * lineage, so an early unpersist is unrecoverable (fail-loud
    * "checkpoint block not found", never wrong data). Keep-2 is safe
    * under the loop contract every graft loop already satisfies: each
    * generation is materialized (eager roll, or lazy roll followed by
    * a count) before the variable rolls again.
    *
    * NOT for accumulator frames whose un-checkpointed union plan
    * references every generation (betweenness' `acc`, randomWalks'
    * `out`) — those must keep all generations until the final
    * aggregate; their round counts are small (BFS depth / fixed steps)
    * and bounded by construction. */
  final class Gen private[Lineage] () {
    private val pending =
      scala.collection.mutable.Queue.empty[org.apache.spark.rdd.RDD[_]]
    def roll(df: DataFrame, eager: Boolean): DataFrame = {
      val out = checkpoint(df, eager)
      LineageStats.checkpointRdd(out).foreach(pending.enqueue(_))
      while (pending.size > 2) pending.dequeue().unpersist(blocking = false)
      out
    }

    /** Eager roll + piggybacked row count (round 17): a
      * `Dataset.observe` count node rides the checkpoint's own
      * materialization, replacing the separate per-round count() job
      * every count-gated loop used to pay (one driver round-trip per
      * iteration). The optional gate predicate makes the metric
      * `count(when(pred, 1))` — the number `filter(pred).count()` would
      * return. Falls back to a real count when the observed metric is
      * unavailable — never wrong, only slower. */
    def rollCounted(df: DataFrame,
                    pred: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(true)): (DataFrame, Long) =
      counted(df, pred)(roll(_, eager = true))

    /** Eager roll + an arbitrary piggybacked observed AGGREGATE (the
      * [[rollCounted]] mechanism for non-count gates, e.g. a tolerance
      * loop's max(delta)): returns the rolled frame and the 1-row
      * aggregate result, computed during the same materialization.
      * Falls back to re-aggregating the cached checkpoint when the
      * observed metric is unavailable. */
    def rollObserved(df: DataFrame,
                     aggr: org.apache.spark.sql.Column): (DataFrame, org.apache.spark.sql.Row) = {
      val observed = df.observe("graft_roll_agg", aggr)
      val out = roll(observed, eager = true)
      val row = LineageStats.observedRow(observed, "graft_roll_agg")
        .getOrElse(out.agg(aggr).head())
      (out, row)
    }
  }

  /** Fresh per-loop-variable generation tracker. */
  def gen(): Gen = new Gen()

  /** [[Gen.rollCounted]] for one-shot (non-generation-tracked)
    * checkpoints: eager checkpoint + piggybacked (optionally gated)
    * row count, no separate count() job. */
  def checkpointCounted(df: DataFrame,
                        pred: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(true)): (DataFrame, Long) =
    counted(df, pred)(checkpoint(_, eager = true))

  /** `materialize(df)` with the gated count observed on the way. */
  private def counted(df: DataFrame, pred: org.apache.spark.sql.Column)(
      materialize: DataFrame => DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit, when}
    val observed = df.observe("graft_roll_n", count(when(pred, lit(1))).as("n"))
    val out = materialize(observed)
    (out, LineageStats.observedCount(observed, "graft_roll_n")
      .getOrElse(out.filter(pred).count()))
  }

  /** Release a consumed checkpoint's blocks (non-blocking). Only for
    * frames that will never be read again — localCheckpoint lineage is
    * truncated, so a later read fails loudly. */
  def release(cp: DataFrame): Unit =
    LineageStats.checkpointRdd(cp).foreach(_.unpersist(blocking = false))

  /** Size-adaptive partition count for an iterative loop's keyed frames
    * (round 16; guide §2.2 "fewer, larger partitions" / task rule "derive
    * partitioning from input size, not a constant"): the MEASURED bytes
    * of an eagerly checkpointed frame divided by the session's AQE
    * advisory partition size. At gate scale a graph's working set is a
    * handful of KB → 1 partition (single-task loop stages, zero
    * scheduling fan-out); at cluster scale the same code yields
    * bytes/64 MB partitions. Every keyed frame in one loop must share
    * this count for its hash partitionings to be join-compatible.
    * Falls back to `default` when the frame has no materialized blocks
    * (not a checkpoint, or evicted). */
  def sizedParts(cp: DataFrame, default: Int = 1): Int = {
    val s = cp.sparkSession
    LineageStats.checkpointRdd(cp).flatMap { r =>
      s.sparkContext.getRDDStorageInfo.find(_.id == r.id)
        .map(i => math.max(1L, i.memSize + i.diskSize))
    }.map(b => math.max(1, math.ceil(b.toDouble / advisoryBytes(s)).toInt))
      .getOrElse(default)
  }

  /** The session's AQE advisory partition size in bytes
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), 64 MB when
    * unset or unparsable — the unit both loop partition sizing and the
    * SHJ build-side guard measure against. */
  def advisoryBytes(s: org.apache.spark.sql.SparkSession): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    catch { case _: Throwable => 64L * 1024 * 1024 }
}
