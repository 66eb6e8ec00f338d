package graft.streaming

import graft.QuerySpec
import graft.plans.Lineage.CheckpointOps
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Streaming analytics over the `events` stream (SURVEY.md §2.9).
  *
  * Re-expresses the reference's DStream pipeline
  * (ref: StandaloneScala/TwitterStreaming.scala — 10s micro-batch :104,
  * stateless map/flatMap :109-110, per-record sentiment mapping :71-86,
  * driver-collect Kafka sink :116-120) as Structured Streaming:
  *  - `fileSource` → `withSentiment` → `foreachBatchSink` replaces
  *    receiver → map → foreachRDD. No driver collect: each micro-batch is
  *    written by executors (the reference's `rdd.collect()` ships every
  *    batch through the driver — the #1 thing that cannot survive scale).
  *  - The class-to-bucket mapping (:71-75, 0-4 → NEG/NEUTRAL/POS) becomes
  *    a codegen'd when/otherwise on `value`.
  *  - Beyond the reference (which is stateless-only): watermarked tumbling
  *    and sliding event-time windows, and gap-based sessionization via
  *    `flatMapGroupsWithState` — the stateful ops a production stream
  *    needs. Every windowed op has an exact batch twin registered as an
  *    oracle query, so streaming semantics are DuckDB-checked on the same
  *    data (stream/batch unification is the point of Structured
  *    Streaming).
  *
  * Scale: windowed aggregates shuffle on (window, key) with partial
  * aggregation; sessionization shuffles once on user_id and keeps
  * per-group state O(1) (start, last, count). Watermark bounds state.
  */
object EventStream {
  /** Default state-store count for stateful streaming queries — the
    * sizing rule SCALE.md "Streaming wall-floor isolation" measured: a
    * stateful query creates one state store per shuffle partition and
    * commits EVERY store EVERY micro-batch (~50 ms each through one
    * local filesystem), so the stream's wall floor is
    * `batches × stores × commit-latency` — a commit-path cost decoupled
    * from both event volume and compute parallelism. Cutting stores 8×
    * below local[32]'s session default cut st6's stream wall 8.0× with
    * identical state rows; 8 stores carried the 30× volume re-run at
    * 1× cost. Size stores to state volume (rows per store), never to
    * core count; on a real cluster the same rule reads "stores ≈
    * state-heavy executor count", not "stores = total cores". */
  val defaultStateStores = 8

  /** Per-QUERY state-store sizing: a conf-cloned session (shared
    * SparkContext, independent SQLConf) whose shuffle-partition count —
    * which IS the state-store count for any stateful streaming query
    * planned on it — is `stores`. The per-query analog of q79's
    * per-write dynamic-overwrite option: no session set/restore, so a
    * concurrent query planned on the base session can never observe
    * this query's sizing, and the count is baked into the query's
    * checkpoint at first start regardless of later conf changes. Build
    * the stream's WHOLE plan (source included) on the returned session. */
  def sessionWithStores(spark: SparkSession,
                        stores: Int = defaultStateStores): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", stores.toString)
    s
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Sentiment bucketing (ref TwitterStreaming.scala:71-75 semantics:
    * numeric class → NEG/NEUTRAL/POS). */
  def sentiment(value: Column): Column =
    when(value < 5, "NEG").when(value < 15, "NEUTRAL").otherwise("POS")

  def withSentiment(df: DataFrame): DataFrame =
    df.withColumn("sentiment", sentiment(col("value")))

  // ------------------------------------------------------ streaming edges

  /** File stream source over an events-schema directory (replaces the
    * twitter4j receiver, ref :104-105; jar unavailable — SURVEY §2.1 S9). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Micro-batch parquet sink via foreachBatch (replaces foreachRDD +
    * driver collect + Kafka, ref :116-120). 10s trigger per ref :104. */
  def foreachBatchSink(df: DataFrame, outPath: String,
                       trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outPath)
      }
      .start()

  /** Model-backed sentiment scoring for streams (SURVEY §2.8 M10: the
    * reference builds a CoreNLP pipeline PER RECORD inside the stream —
    * TwitterStreaming.scala:79; here the fitted spark.ml model is applied
    * per micro-batch via `model.transform` in foreachBatch — loaded once,
    * broadcast by spark.ml internally, zero driver collects). */
  def scoredSink(df: DataFrame, model: org.apache.spark.ml.PipelineModel,
                 outPath: String,
                 trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        model.transform(batch)
          .select(batch.columns.map(col) :+ col("prediction"): _*)
          .write.mode("append").parquet(outPath)
      }
      .start()

  // ------------------------------------- windowed aggregates (batch twin)

  /** Tumbling event-time sentiment counts; works on batch AND streaming
    * frames (streaming callers add `.withWatermark("ts", ...)` first). */
  def tumblingCounts(df: DataFrame, dur: String = "1 hour"): DataFrame =
    withSentiment(df)
      .groupBy(window(col("ts"), dur).as("w"), col("sentiment"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("sentiment"), col("n"))

  def slidingCounts(df: DataFrame, dur: String = "1 day", slide: String = "12 hours"): DataFrame =
    withSentiment(df)
      .groupBy(window(col("ts"), dur, slide).as("w"), col("sentiment"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("sentiment"), col("n"))

  /** Hourly distinct active users (the "DAU" shape). Batch twin of the
    * streaming dedup-then-count pipeline: the distinct runs as a
    * (window, user) dedup BEFORE the count so the exact same plan shape
    * runs incrementally under a watermark ([[hourlyUsersStream]]) —
    * count_distinct would be correct in batch but has no append-mode
    * streaming twin. */
  def hourlyUsers(df: DataFrame): DataFrame =
    df.select(window(col("ts"), "1 hour").getField("start").as("wstart"), col("user_id"))
      .dropDuplicates("wstart", "user_id")
      .groupBy("wstart").agg(count(lit(1)).as("n_users"))

  /** Streaming variant: watermark → dedup on (window, user) → windowed
    * count, append mode. State per window is the distinct user set,
    * dropped once the watermark passes the window (bounded). */
  def hourlyUsersStream(df: DataFrame, delay: String = "1 second"): DataFrame =
    df.withWatermark("ts", delay)
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w")).agg(count(lit(1)).as("n_users"))
      .select(col("w.start").as("wstart"), col("n_users"))

  /** Daily rollup partials (day, event_type, n, sum_value) — the batch
    * twin of [[dailyRollupStream]] and the unit the incremental-ETL
    * pattern persists (the batch q33 merges these partials to monthly).
    * Value sums are decimal-quantized, so a partial computed by any run
    * shape — batch, stream, replay — is identical and merge-safe. */
  def dailyRollup(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 day").getField("start").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 4))).cast("double").as("sum_value"))

  /** Streaming variant: watermark → windowed daily aggregate, append
    * mode — each (day, type) partial emits ONCE when the watermark
    * closes its day. State is the open days' partial sums (bounded by
    * the watermark). */
  def dailyRollupStream(df: DataFrame, delay: String = "1 second"): DataFrame =
    df.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 4))).cast("double").as("sum_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n"),
        col("sum_value"))

  /** foreachBatch MERGE sink: each emitted daily partial UPSERTS its
    * (day, event_type) row in the parquet store. Restart/replay safety:
    * a re-emitted partial overwrites its key instead of appending a
    * duplicate — the exactly-once tail of the incremental pipeline
    * (checkpoint + idempotent sink). */
  def mergeSink(df: DataFrame, storePath: String,
                trigger: Trigger = Trigger.ProcessingTime(0),
                checkpoint: Option[String] = None): StreamingQuery = {
    val w = df.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
    // explicit checkpoint → the query can be killed and restarted and
    // resumes from committed offsets + state; with the upsert (not
    // append) store, a replayed partial lands on its key — the
    // exactly-once pair (EventStreamSpec pins the recovery path)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        upsertStore(batch, storePath)
      }
      .start()
  }

  /** Key-overwrite merge into a parquet store: anti-join the store
    * against the incoming keys, union the new partials, and
    * [[atomicSwap]] the result over the store. At cluster scale the same
    * merge is a partition-overwrite (day is the partition key) —
    * identical semantics, no full-store rewrite. */
  def upsertStore(batch: DataFrame, storePath: String): Unit = {
    val spark = batch.sparkSession
    val merged =
      if (new java.io.File(storePath).exists())
        Tables.parquet(spark, storePath)
          .join(batch.select("day", "event_type"), Seq("day", "event_type"), "left_anti")
          .unionByName(batch)
      else batch
    atomicSwap(merged, storePath)
  }

  /** Durable store replacement: write the merged frame to a temp path
    * FIRST (the lazy read of the old store streams into the temp write —
    * no eager localCheckpoint holding the whole store in executor block
    * memory), then swap directories. The old store exists on disk until
    * the fully-written replacement is in place, so an executor loss or
    * crash mid-write can no longer lose it (the previous
    * read-checkpoint-overwrite shape deleted the store before the write
    * completed, with only non-fault-tolerant localCheckpoint blocks as
    * lineage). Production twin: a table format's atomic commit
    * (Delta/Iceberg) or dynamic partition overwrite. */
  private def atomicSwap(merged: DataFrame, storePath: String): Unit = {
    val conf = merged.sparkSession.sparkContext.hadoopConfiguration
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(storePath + ".swap")
    val old = new org.apache.hadoop.fs.Path(storePath + ".old")
    merged.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(store)) fs.rename(store, old)
    fs.rename(tmp, store)
    fs.delete(old, true)
  }

  /** View→click attribution: clicks joined to the same user's views
    * within an attribution horizon. Batch twin of the stream-stream
    * interval join — equi-join on user_id with the time bound as a join
    * predicate (ONE shuffle on user_id; the interval check never becomes
    * a cross join), then a per-user count. */
  def attribution(df: DataFrame, horizonSec: Long = 3600): DataFrame = {
    val views = df.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("view_us"))
    val clicks = df.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
    views.join(clicks, Seq("user_id"))
      .filter(col("click_us") >= col("view_us") &&
        col("click_us") <= col("view_us") + lit(horizonSec * 1000000L))
      .groupBy("user_id").agg(count(lit(1)).as("n_attributed"))
  }

  /** Streaming variant: watermarked stream-stream inner join. Both sides
    * carry watermarks and the join condition bounds click_ts relative to
    * view_ts, so each side's state is dropped once the other side's
    * watermark passes the horizon — bounded state, the requirement for an
    * unbounded 100 TB/day stream. Emits raw attributed pairs (append). */
  def attributionStream(views: DataFrame, clicks: DataFrame,
                        horizonSec: Long = 3600): DataFrame =
    views.withWatermark("view_ts", "1 hour")
      .join(clicks.withWatermark("click_ts", "2 hours"),
        expr(s"""view_user = click_user AND
                 click_ts >= view_ts AND
                 click_ts <= view_ts + interval $horizonSec seconds"""))

  /** Streaming trending (q55's stream twin), stage 1: watermarked hourly
    * counts per event type — each (hour, type) count emits once when the
    * watermark closes the hour. */
  def trendingStream(df: DataFrame, delay: String = "1 second"): DataFrame =
    df.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))

  /** Stage 2: per micro-batch, rank each closed hour's types and UPSERT
    * the top-k rows into the trending store keyed by (hour, rk) — the
    * same idempotent-replay contract as [[mergeSink]] (a re-emitted hour
    * overwrites its rows instead of appending duplicates). The rank
    * window partitions by hour WITHIN the small closed-window batch —
    * state and ranking never touch more than the batch's hours. */
  def trendingSink(counts: DataFrame, storePath: String, k: Int = 3,
                   trigger: Trigger = Trigger.ProcessingTime(0),
                   checkpoint: Option[String] = None): StreamingQuery = {
    val writer = counts.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
    // same kill/restart contract as mergeSink: checkpointed offsets +
    // state, idempotent key-upsert store
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("hour").orderBy(col("n").desc, col("event_type").asc)
        val ranked = batch
          .withColumn("rk", row_number().over(w).cast("bigint"))
          .filter(col("rk") <= k)
        val spark = ranked.sparkSession
        val merged =
          if (new java.io.File(storePath).exists())
            Tables.parquet(spark, storePath)
              .join(ranked.select("hour", "rk"), Seq("hour", "rk"), "left_anti")
              .unionByName(ranked)
          else ranked
        atomicSwap(merged, storePath)
      }
      .start()
  }

  /** Left-outer attribution, batch twin: every view keeps a row whether
    * or not a click landed within the horizon, so the per-user rollup can
    * report conversion AND abandonment (n_orphan_views) from one join —
    * the semantics the streaming left-outer join below reproduces
    * incrementally. Same shuffle shape as [[attribution]]: ONE equi-join
    * on user_id with the interval check as a join predicate. */
  def attributionOuter(df: DataFrame, horizonSec: Long = 3600): DataFrame = {
    val views = df.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("view_us"))
    val clicks = df.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("click_us"))
    views.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_us") >= col("view_us") &&
          col("click_us") <= col("view_us") + lit(horizonSec * 1000000L),
        "left_outer")
      .groupBy("user_id")
      .agg(count_distinct(col("view_id")).as("n_views"),
        count(col("click_us")).as("n_attributed"),
        count_distinct(when(col("click_us").isNull, col("view_id")))
          .as("n_orphan_views"))
      .orderBy("user_id")
  }

  /** Streaming variant: watermarked stream-stream LEFT OUTER join — the
    * one join mode [[attributionStream]] doesn't cover. Unmatched views
    * are held in state only until the click-side watermark passes
    * view_ts + horizon, then emitted once with null click columns:
    * bounded state AND a complete answer (inner joins silently drop
    * abandoned views; at 100 TB/day the abandonment stream is usually
    * the one the downstream model trains on). */
  def attributionOuterStream(views: DataFrame, clicks: DataFrame,
                             horizonSec: Long = 3600): DataFrame =
    views.withWatermark("view_ts", "1 hour")
      .join(clicks.withWatermark("click_ts", "2 hours"),
        expr(s"""view_user = click_user AND
                 click_ts >= view_ts AND
                 click_ts <= view_ts + interval $horizonSec seconds"""),
        "leftOuter")

  /** Exactly-once ingestion dedup, batch twin: an at-least-once delivery
    * layer re-delivers some events (simulated deterministically — every
    * event_id % 10 == 0 arrives twice); dedup on event_id restores
    * exactly-once counts. `dropDuplicates` keeps an arbitrary row per
    * key, which is deterministic HERE because re-deliveries are
    * byte-identical rows (the at-least-once contract); the oracle's
    * `SELECT DISTINCT *` is equivalent for the same reason, given
    * event_id is unique in the base table. One shuffle on event_id with
    * map-side partial dedup, then the small per-type aggregate. */
  def dedupDelivery(df: DataFrame): DataFrame = {
    val redelivered = df.filter(col("event_id") % 10 === 0)
    df.union(redelivered)
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Streaming variant: `dropDuplicatesWithinWatermark` keeps the seen
    * event_id set only until the watermark passes — bounded state, the
    * requirement for an unbounded at-least-once stream (a plain
    * streaming dropDuplicates would hold every id ever seen). Emits the
    * deduped event stream; downstream windowed aggregates compose.
    * Exactness contract: a re-delivery is only suppressed if it arrives
    * within the watermark delay of the first copy — the delay is the
    * dedup horizon. */
  def dedupStream(df: DataFrame, delay: String = "1 hour"): DataFrame =
    df.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  // -------------------------------------------------------- sessionization

  /** Batch sessionization: gaps-and-islands with window functions.
    * session_id = running count of gap-breaks per user (1-based). */
  def sessionize(df: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("s_start"), max("ts").as("s_end"))
  }

  /** Gap-based sessions via Spark's native session_window (merging
    * event-time windows) — same session boundaries as [[sessionize]]
    * when no inter-event gap equals gapSec exactly (session_window
    * breaks at `>= gap`, the gaps-and-islands twin at `> gap`; the
    * registered oracle uses `>=` to match this variant). Streaming-ready:
    * add a watermark and this same expression runs incrementally. */
  def sessionWindows(df: DataFrame, gapSec: Long): DataFrame =
    df.groupBy(session_window(col("ts"), s"$gapSec seconds").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("ts").as("s_start"), max("ts").as("s_end"))
      .select(col("user_id"), col("n_events"), col("s_start"), col("s_end"))

  /** Per-user session state for the streaming path: O(1) per group. */
  case class SessState(start: Long, last: Long, n: Long, idx: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        s_start: Timestamp, s_end: Timestamp)

  /** Streaming sessionization via flatMapGroupsWithState: emits a session
    * when a new event arrives more than gapSec after the previous one.
    * The trailing open session per user stays in state (NoTimeout) and is
    * emitted only once a later event closes it — [[sessionizeStreamFlush]]
    * is the watermark-driven variant that also flushes open sessions.
    * Exact same closed-session boundaries as [[sessionize]] when events
    * arrive in order. */
  def sessionizeStream(events: Dataset[(Long, Long)], gapSec: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    events.groupByKey(_._1)
      .flatMapGroupsWithState[List[SessState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[List[SessState]]) =>
          var cur = state.getOption.flatMap(_.headOption).orNull
          val closed = scala.collection.mutable.ListBuffer[SessionOut]()
          rows.toSeq.sortBy(_._2).foreach { case (_, us) =>
            if (cur == null) cur = SessState(us, us, 1, 1)
            else if (us - cur.last > gapUs) {
              closed += SessionOut(user, cur.idx, cur.n,
                new Timestamp(cur.start / 1000), new Timestamp(cur.last / 1000))
              cur = SessState(us, us, 1, cur.idx + 1)
            } else cur = cur.copy(last = math.max(cur.last, us), n = cur.n + 1)
          }
          state.update(List(cur))
          closed.iterator
      }
  }

  /** [[sessionizeStream]] plus open-session flushing: when the watermark
    * passes `last event + gapSec`, no in-order event can extend the open
    * session anymore (later-than-watermark rows are filtered by the
    * state operator), so it is emitted and its state dropped — trailing
    * sessions leave state instead of parking there forever.
    *
    * The input must carry a watermark on `ts` (EventTimeTimeout requires
    * one; the timeout fires on the first micro-batch after the watermark
    * crosses the deadline). After a flush the group keeps a sentinel
    * state (`n == 0`) holding the next session index, so a straggler
    * event arriving soon after the flush starts a NEW session rather
    * than reusing an already-emitted session_id. The sentinel itself
    * carries a second timeout one gap later and is then REMOVED — state
    * is O(1) per ACTIVE user and zero for users idle past two gaps, so
    * the store cannot grow with the all-time user population. (A user
    * returning after full eviction restarts numbering at 1; deployments
    * needing globally unique ids should key sessions by (user, s_start),
    * which IS unique.) */
  def sessionizeStreamFlush(events: Dataset[(Long, Timestamp)],
                            gapSec: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    // micro-precision Timestamp↔micros (LOCAL defs: the state closure
    // must not capture the enclosing object): `getTime` alone truncates
    // to ms — the sub-ms micros live in `getNanos`, and dropping them
    // would move session boundaries relative to the micro-exact batch
    // twin ([[sessionize]])
    def tsToUs(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def usToTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    def emit(user: Long, s: SessState): SessionOut =
      SessionOut(user, s.idx, s.n, usToTs(s.start), usToTs(s.last))
    events.groupByKey(_._1)
      .flatMapGroupsWithState[List[SessState], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[List[SessState]]) =>
          if (state.hasTimedOut) {
            val open = state.getOption.flatMap(_.headOption).filter(_.n > 0)
            open match {
              case Some(s) =>
                // flush the open session; keep the sentinel one more gap
                // (floored above the current watermark — a deadline at or
                // below it is rejected by GroupState)
                state.update(List(SessState(s.last, s.last, 0, s.idx + 1)))
                state.setTimeoutTimestamp(math.max(
                  s.last / 1000 + 2 * gapSec * 1000,
                  state.getCurrentWatermarkMs() + gapSec * 1000))
                Iterator(emit(user, s))
              case None =>
                state.remove() // sentinel expired — evict entirely
                Iterator.empty
            }
          } else {
            // sentinel (n == 0) carries the next index past a flush; a
            // live open session resumes as-is
            var cur = state.getOption.flatMap(_.headOption).filter(_.n > 0).orNull
            val firstIdx = state.getOption.flatMap(_.headOption)
              .map(_.idx).getOrElse(1L)
            val closed = scala.collection.mutable.ListBuffer[SessionOut]()
            rows.toSeq.map(r => tsToUs(r._2)).sorted.foreach { us =>
              if (cur == null) cur = SessState(us, us, 1, firstIdx)
              else if (us - cur.last > gapUs) {
                closed += emit(user, cur)
                cur = SessState(us, us, 1, cur.idx + 1)
              } else cur = cur.copy(last = math.max(cur.last, us), n = cur.n + 1)
            }
            state.update(List(cur))
            // flush deadline: the open session dies when the watermark
            // proves no in-order event can still extend it
            state.setTimeoutTimestamp(cur.last / 1000 + gapSec * 1000)
            closed.iterator
          }
      }
  }

  // ------------------------------------------- streaming transition mining

  case class TransState(us: Long, eventId: Long, etype: String)
  case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming first-order transition mining — the incremental twin of
    * q59's batch Markov matrix: each user's state is ONLY the last seen
    * (event-time, event_id, type) triple (O(active users)·~40 bytes —
    * no window over history, no buffered events), and every arriving
    * event emits one (from → to) transition against it. Within a
    * micro-batch rows are ordered by (time, event_id) — the same total
    * order as the batch window — so in-order arrival yields exactly the
    * batch twin's transition multiset ([[graft.operators.Relational.q59MarkovTransitions]]
    * before its aggregate; EventStreamSpec asserts equality across a
    * multi-batch split). Downstream the counts/probabilities are a
    * per-batch aggregate into an upsert store (the [[mergeSink]] shape). */
  def transitionsStream(events: Dataset[(Long, Long, Long, String)]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[List[TransState], TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[List[TransState]]) =>
          var last = state.getOption.flatMap(_.headOption).orNull
          val out = scala.collection.mutable.ListBuffer[TransOut]()
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, eid, et) =>
            if (last != null) out += TransOut(user, last.etype, et)
            last = TransState(us, eid, et)
          }
          state.update(List(last))
          out.iterator
      }
  }

  // ----------------------------------------------- streaming forward fill

  case class FillState(lastUs: Long, lastVal: Double)
  case class FillOut(user_id: Long, event_id: Long, us: Long, filled: Double)

  /** Streaming forward-fill — the incremental twin of q68's batch
    * imputation ([[graft.operators.Relational.q68ForwardFill]]): each
    * user's state is ONE double (the last observed purchase value;
    * −1 sentinel before any observation — O(active users)·8 bytes, no
    * buffered history), and every arriving event is emitted with the
    * carried value. Within a micro-batch rows order by
    * (event-time, event_id) — the batch window's total order — so
    * in-order arrival reproduces the batch twin row for row
    * (EventStreamSpec asserts equality across a batch-boundary split,
    * where only the persisted state can carry the value forward).
    *
    * Late data: a row whose event time precedes the last emitted event
    * time for its user cannot be filled correctly (its fill value was
    * superseded by state the batch twin would not have seen yet) — such
    * rows are DROPPED, the same contract as a watermarked stateful op,
    * instead of silently emitting a value that diverges from the q68
    * batch twin (ADVICE r7). State carries (lastUs, lastVal) to enforce
    * the cutoff.
    *
    * Dropped rows are VISIBLE, not silent (VERDICT r9 #4): pass a
    * `droppedCounter` (a driver-registered LongAccumulator) and every
    * dropped row increments it — the monitoring hook a production
    * pipeline alerts on (a rising drop rate means upstream reordering
    * exceeds the state contract). Accumulator caveat applies as for any
    * Spark action-side metric: task retries can overcount, so it is a
    * monitoring signal, not an exact ledger. For an exact, QUERYABLE
    * ledger use [[forwardFillAudited]] + [[fillFunnel]] instead. */
  def forwardFillStream(events: Dataset[(Long, Long, Long, String, Double)],
                        droppedCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[FillOut] = {
    import events.sparkSession.implicits._
    forwardFillAudited(events, droppedCounter)
      .filter(_.fate == "filled")
      .map(a => FillOut(a.user_id, a.event_id, a.us, a.filled))
  }

  /** Every row's fate from the fill state machine: `filled` rows carry
    * the fill value, `dropped_late` rows carry their own RAW value
    * (never a fill — the state that would fill them was superseded),
    * so the stream doubles as the quarantine route for late data. */
  case class FillAudit(user_id: Long, event_id: Long, us: Long,
                       filled: Double, fate: String)

  /** Audited forward-fill: the SAME state machine as
    * [[forwardFillStream]] (that function is this one filtered to
    * `filled`), but late rows are EMITTED with fate `dropped_late`
    * instead of vanishing into a driver-side counter — downstream can
    * route them to quarantine and [[fillFunnel]] can tally them
    * exactly, retries notwithstanding (VERDICT r10 task 6). */
  def forwardFillAudited(events: Dataset[(Long, Long, Long, String, Double)],
                         droppedCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[FillAudit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[FillState, FillAudit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[FillState]) =>
          var st = state.getOption.getOrElse(FillState(Long.MinValue, -1.0))
          val out = scala.collection.mutable.ListBuffer[FillAudit]()
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, eid, et, v) =>
            if (us >= st.lastUs) { // late rows dropped, never mis-filled
              val nv = if (et == "purchase") v else st.lastVal
              st = FillState(us, nv)
              out += FillAudit(user, eid, us, nv, "filled")
            } else {
              droppedCounter.foreach(_.add(1L))
              out += FillAudit(user, eid, us, v, "dropped_late")
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The x26-style funnel over the audited fill stream: per-fate row
    * counts (≤ 2 rows of state by construction — `filled` /
    * `dropped_late` — so it runs in complete mode forever without a
    * watermark, exactly like [[qualityGateStream]]). Late-data loss is
    * a row on the funnel dashboard, not a test-only accumulator
    * (VERDICT r10 task 6); a fate with no rows yet has no row, as any
    * streaming aggregate. */
  def fillFunnel(audited: Dataset[FillAudit]): DataFrame =
    audited.groupBy("fate").agg(count(lit(1)).as("n_rows"))

  // ------------------------------------------------ streaming window HLL

  // ver = per-day state-update counter: the spec picks each day's LATEST
  // estimate by max(ver) instead of relying on memory-sink row order,
  // which is not a contract (ADVICE r7)
  case class HllOut(day: String, ver: Long, n_empty: Long, hll_est: Double)

  /** Streaming per-window HyperLogLog — the incremental twin of q69's
    * batch windowed distinct ([[graft.operators.Sketch.hllWindows]]):
    * each day's state is the raw m=256-byte REGISTER ARRAY (max ρ per
    * bucket), updated in place per micro-batch and merged by max —
    * constant state per window regardless of arrival volume or
    * duplication, where exact streaming distinct would buffer every
    * key. Emits the refreshed estimate for each day touched by the
    * batch (Update-mode semantics). Hashing goes through the SAME
    * [[graft.functions.Md5Hash32.hash]] primitive as the batch/oracle
    * sides, so after all data is processed the estimates equal the
    * batch twin's exactly (spec-asserted, including across a
    * batch-boundary split of one day's users). */
  def hllWindowsStream(events: Dataset[(String, Long)], b: Int = 8)
      : Dataset[HllOut] = {
    import events.sparkSession.implicits._
    val m = 1 << b
    val wBits = 32 - b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Array[Byte]), HllOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (day: String, rows: Iterator[(String, Long)],
         state: GroupState[(Long, Array[Byte])]) =>
          val (ver, regs) = state.getOption.getOrElse((0L, new Array[Byte](m)))
          rows.foreach { case (_, userId) =>
            val hv = graft.functions.Md5Hash32.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(userId.toString))
            val bucket = (hv >>> wBits).toInt
            val w = hv & ((1L << wBits) - 1)
            val rho =
              if (w == 0) wBits + 1
              else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
            if (rho > regs(bucket)) regs(bucket) = rho.toByte
          }
          state.update((ver + 1, regs))
          var harm = 0.0
          var nEmpty = 0L
          var i = 0
          while (i < m) {
            harm += 1.0 / (1L << regs(i)); if (regs(i) == 0) nEmpty += 1
            i += 1
          }
          val raw = alpha * m * m / harm
          val est =
            if (raw <= 2.5 * m && nEmpty > 0) m.toDouble * math.log(m.toDouble / nEmpty)
            else raw
          Iterator.single(HllOut(day, ver + 1, nEmpty,
            BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
  }

  // -------------------------------------------------------------- registry

  // --------------------------------------- stream-static enrichment join

  /** Stream-static enrichment: events joined to the customer dimension
    * (user_id = c_custkey) and rolled up per market segment — the
    * canonical "enrich the stream with a slowly-changing dim" shape.
    * Works on batch AND streaming frames: a static DataFrame joined to a
    * streaming one is re-read per micro-batch by Structured Streaming,
    * so the same plan serves both ([[EventStreamSpec]] asserts
    * stream/batch equivalence on the joined rows).
    *
    * Scale: the dim side is explicitly broadcast — the stream side never
    * shuffles for the join (at 1000 executors each micro-batch maps the
    * join locally); the rollup then shuffles only (segment, type)
    * partials. Value sums decimal-quantized per the engine rule. */
  def enrichedSegmentCounts(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))), "user_id")
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 4))).cast("double").as("sum_value"))

  /** Streaming variant of the enrichment leg alone (append-safe,
    * stateless): the per-batch join used by the spec's equivalence
    * test; callers aggregate downstream per their output mode. */
  def enrichStream(stream: DataFrame, customer: DataFrame): DataFrame =
    stream.join(broadcast(customer.select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment"))), "user_id")

  /** Streaming quality gate: the x26 funnel applied to a DOCUMENT
    * stream. Per-doc labeling is the same stateless first-fail Column
    * as the batch funnel (pure expressions — streams through whole-stage
    * codegen, no state); the per-rule tally is a streaming aggregate
    * whose state is at most 6 rows by construction, so it runs in
    * complete mode forever without a watermark. The telescoping
    * `n_remaining` derivation stays on the read side (it needs the
    * whole 6-row frame) — a stream maintains counts, the serving layer
    * derives the funnel. Ingest-side gating at 100 TB: label at the
    * edge, route drops to quarantine, and this 6-row aggregate IS the
    * funnel dashboard. */
  def qualityGateStream(docs: DataFrame,
                        cfg: graft.text.TextStats.FunnelConfig =
                          graft.text.TextStats.FunnelConfig()): DataFrame =
    docs.select(graft.text.TextStats.funnelRule(cfg).as("rule"))
      .groupBy("rule").agg(count(lit(1)).as("n_docs"))

  /** st11: hourly value percentiles on the q94 HDR-histogram sketch —
    * the streaming latency/price dashboard primitive. The bucketing is
    * STATELESS per row (integer exponent+mantissa, q94's exact recipe at
    * the same m), so the streaming form is just this groupBy under
    * complete/update mode: per-(hour, bucket) counts, state bounded by
    * hours × ≤ 64·2^m buckets regardless of event volume, and partials
    * merge by addition (the sketch property — retries/replays upsert
    * counts, never corrupt a quantile). The read-off ([[quantilesFromHist]])
    * runs on the sketch-sized histogram, batch-side or per trigger. */
  def hourlyQuantileHist(df: DataFrame, m: Int = 5): DataFrame =
    df.select(window(col("ts"), "1 hour").getField("start").as("wstart"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .select(col("wstart"), col("cents"),
        greatest((length(bin(col("cents"))) - 1).cast("int") - m, lit(0)).as("sh"))
      .select(col("wstart"), expr("shiftleft(shiftright(cents, sh), sh)").as("lb"))
      .groupBy("wstart", "lb").agg(count(lit(1)).as("c"))

  /** Quantile read-off over a (wstart, lb, c) histogram: per-hour
    * cumulative counts (window partitioned by hour — frames are
    * bucket-count sized, never event sized), first bucket reaching
    * ceil(q·n) per target. Shared by the registered batch query and the
    * streaming spec's final-state read. */
  def quantilesFromHist(hist: DataFrame,
                        qs: Seq[String] = Seq("0.50", "0.90")): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("wstart").orderBy("lb").rowsBetween(Long.MinValue, 0)
    val cum = hist.select(col("wstart"), col("lb"), sum("c").over(w).as("cum"))
      .loopCheckpoint(true) // sketch-sized; feeds the totals AND the probes
    val tot = cum.groupBy("wstart").agg(max("cum").as("n"))
    cum.join(tot, "wstart").crossJoin(broadcast(qs.toDF("q")))
      .filter(col("cum") >=
        ceil(col("q").cast(DecimalType(8, 2)) * col("n")).cast("long"))
      .groupBy("wstart", "q")
      .agg(min("lb").as("est_cents"), min("n").as("n"))
      .orderBy("wstart", "q")
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("st11_hourly_quantiles", (s, dir) =>
      quantilesFromHist(hourlyQuantileHist(Tables.events(s, dir))), () =>
      """WITH cents_t AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), sh_t AS (
        |  SELECT wstart, cents,
        |    CASE WHEN length(bin(cents)) - 1 - 5 > 0
        |         THEN length(bin(cents)) - 1 - 5 ELSE 0 END AS sh
        |  FROM cents_t
        |), hist AS (
        |  SELECT wstart, (cents >> sh) << sh AS lb, count(*) AS c
        |  FROM sh_t GROUP BY 1, 2
        |), cum_t AS (
        |  SELECT wstart, lb, SUM(c) OVER (PARTITION BY wstart ORDER BY lb ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist
        |), tot AS (SELECT wstart, MAX(cum) AS n FROM cum_t GROUP BY wstart),
        |targets(q) AS (VALUES ('0.50'), ('0.90'))
        |SELECT c.wstart, q, CAST(MIN(lb) AS BIGINT) AS est_cents,
        |  CAST(MIN(n) AS BIGINT) AS n
        |FROM cum_t c JOIN tot USING (wstart) CROSS JOIN targets
        |WHERE cum >= CAST(ceil(CAST(q AS DECIMAL(8,2)) * n) AS BIGINT)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("st9_enriched_segments", (s, dir) =>
      enrichedSegmentCounts(Tables.events(s, dir), Tables.customer(s, dir))
        .orderBy("segment", "event_type"), () =>
      """SELECT c.c_mktsegment AS segment, e.event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("st1_tumbling_counts", (s, dir) =>
      tumblingCounts(Tables.events(s, dir)).orderBy("wstart", "sentiment"), () =>
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
        |  CASE WHEN value < 5 THEN 'NEG' WHEN value < 15 THEN 'NEUTRAL' ELSE 'POS' END AS sentiment,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("st2_sliding_counts", (s, dir) =>
      slidingCounts(Tables.events(s, dir)).orderBy("wstart", "sentiment"), () =>
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL '12 hours', ts) - u.i * INTERVAL '12 hours' AS wstart,
        |    CASE WHEN value < 5 THEN 'NEG' WHEN value < 15 THEN 'NEUTRAL' ELSE 'POS' END AS sentiment
        |  FROM events, UNNEST(range(2)) AS u(i))
        |SELECT wstart, sentiment, count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("st3_sessions", (s, dir) =>
      sessionize(Tables.events(s, dir), gapSec = 8 * 3600)
        .orderBy("user_id", "session_id"), () =>
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 28800000000 THEN 1 ELSE 0 END AS is_new,
        |    event_id
        |  FROM o
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS s_start, max(ts) AS s_end
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    QuerySpec("st4_session_window", (s, dir) =>
      sessionWindows(Tables.events(s, dir), gapSec = 8 * 3600)
        .orderBy("user_id", "s_start"), () =>
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 28800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM o
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, count(*) AS n_events, min(ts) AS s_start, max(ts) AS s_end
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, s_start""".stripMargin),
    QuerySpec("st5_hourly_users", (s, dir) =>
      hourlyUsers(Tables.events(s, dir)).orderBy("wstart"), () =>
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("st6_attribution", (s, dir) =>
      attribution(Tables.events(s, dir)).orderBy("user_id"), () =>
      """WITH v AS (SELECT user_id, epoch_us(ts) AS view_us FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click')
        |SELECT v.user_id, count(*) AS n_attributed
        |FROM v JOIN c ON v.user_id = c.user_id
        | AND c.click_us >= v.view_us AND c.click_us <= v.view_us + 3600000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin),
    QuerySpec("st7_stream_dedup", (s, dir) => dedupDelivery(Tables.events(s, dir)), () =>
      """WITH delivered AS (
        |  SELECT * FROM events
        |  UNION ALL SELECT * FROM events WHERE event_id % 10 = 0
        |), dd AS (SELECT DISTINCT * FROM delivered)
        |SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users
        |FROM dd GROUP BY event_type ORDER BY event_type""".stripMargin),
    QuerySpec("st8_daily_rollup", (s, dir) =>
      dailyRollup(Tables.events(s, dir)).orderBy("day", "event_type"), () =>
      """SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("st10_attribution_outer", (s, dir) => attributionOuter(Tables.events(s, dir)), () =>
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id AS c_user, epoch_us(ts) AS click_us
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT v.user_id, v.view_id, c.click_us
        |  FROM v LEFT JOIN c ON v.user_id = c.c_user
        |    AND c.click_us >= v.view_us AND c.click_us <= v.view_us + 3600000000)
        |SELECT user_id,
        |  CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_views,
        |  CAST(COUNT(click_us) AS BIGINT) AS n_attributed,
        |  CAST(COUNT(DISTINCT CASE WHEN click_us IS NULL THEN view_id END) AS BIGINT) AS n_orphan_views
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
