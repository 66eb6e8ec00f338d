package graft
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The measurement main: one pass over the registry (or the
  * SPARK_GRAFT_ONLY subset) into a noop sink. Stdout gets one compact
  * driver-facing JSON line; the full per-query detail — walls, cpu,
  * builds, regime, episodes and each query's [[Bench.Ledger]] row —
  * goes to stderr, /tmp/graft_bench_full.json and, for a full-registry
  * run, bench_anchors/bench_full_last.json. */
object Bench {
  /** Host-regime evidence captured by a pass so a contended
    * reading self-identifies (VERDICT r13 finding 1 — the 1710 s
    * BENCH_r13 needed judge archaeology to adjudicate as host noise):
    *  - `gc` / `gcTotal`: per-query process GC seconds
    *    (GarbageCollectorMXBean collection-time deltas; queries run
    *    sequentially so the delta attributes exactly),
    *  - `load`: OS 1-min load average at pass start / midpoint / end
    *    (co-tenant pressure is visible as load ≫ 32 on this host),
    *  - `refProbe`: wall seconds of one FIXED pure-compute reference
    *    job (range-sum, no IO, no memo) at start / midpoint / end —
    *    identical work every time, so drift across the pass IS the
    *    regime moving,
    *  - `blocks` / `blocksMax`: persistent-RDD count after each query
    *    (post-sweep) and the pass-wide pre-sweep max — the bounded-
    *    block-store telemetry for finding 2. */
  private[graft] final case class Regime(
    gc: Map[String, Double], load: Seq[Double], refProbe: Seq[Double],
    blocks: Map[String, Int], blocksMax: Int, stealPct: Seq[Double],
    jit: Map[String, Double])

  /** Cumulative steal jiffies from /proc/stat (-1 if unreadable). Steal
    * is the DIRECT co-tenant signal on this host: the boot-average is
    * ~18% of non-idle time while the load average stays ~2, so load
    * alone cannot adjudicate a slow pass. Report converts deltas
    * between regime points to % of total machine capacity. */
  private def stealJiffies: Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        .lift(7).getOrElse(-1L)
      finally f.close()
    } catch { case _: Throwable => -1L }

  // ---- process counters shared by the timed loop and the episode
  // watchdog
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  // cumulative JIT compiler thread time: the per-query delta is the
  // episode discriminator the gc/steal columns can't provide — a
  // query at cpu≈wall with gc≈0 and jit≈cpu was a COMPILATION storm
  // (the codegen-cache class of episode), not host contention
  private def jitMillis: Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime
    else -1L
  }
  private def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage
  /** Cumulative Janino (whole-stage/expression codegen) compile count —
    * the counter CompilationMXBean structurally cannot see: Janino runs
    * in ordinary threads, so a codegen storm reads as plain process CPU
    * (BENCH_r14's s22: 651.7 cpu-s, gc 0.13 s, JIT-bean 3.1 s).
    * Spark's own CodegenMetrics histogram counts every compile. */
  private def janinoCount: Long =
    try org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    catch { case _: Throwable => -1L }
  private def janinoMeanMs: Double =
    try org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getSnapshot.getMean
    catch { case _: Throwable => -1.0 }

  /** On-threshold in-pass profiler (VERDICT r14 item 1 — the round's
    * one open question). BENCH_r14 had three queries absorb 35-51 s of
    * PROCESS CPU each (s22: 13 cores busy inside this JVM, gc≈0,
    * JIT-bean≈3 s) on a provably quiet host, reproducing at 11.2 s in
    * 3-rep re-runs — a pass-context-only, in-JVM episode class no
    * existing column could name. This watchdog makes the next episode
    * carry its own diagnosis: while a query runs, a daemon thread
    * checks elapsed wall against max(3× its anchor median, 5 s); on
    * breach it dumps (a) jit/gc/Janino-compile-count deltas from rep
    * start to capture end and (b) aggregated all-thread stack samples
    * on an exponential-backoff schedule spanning ~64 s of breach —
    * each sample = the top RUNNABLE stack signatures with thread
    * counts, stamped with its elapsed offset — into the full bench
    * JSON under "episodes". A
    * Janino storm names itself via janino_n plus
    * org.codehaus.janino frames; an interpreted-fallback expression
    * via InterpretedUnsafeProjection/InterpretedOrdering frames; a
    * BigDecimal path via java.math frames. Sampling runs OUTSIDE the
    * hot path (4 Hz poll, ~3 stack walks per episode) and only after
    * the query is already anomalous — zero cost on clean passes. */
  private final class EpisodeWatchdog(anchorWarm: Map[String, Double],
                                      anchorBuild: Map[String, Double]) {
    private val floorSec = 5.0
    // (name, startNanos, thresholdSec, baseJitMs, baseGcMs, baseJanino)
    @volatile private var current: Option[(String, Long, Double, Long, Long, Long)] = None
    private val out = scala.collection.concurrent.TrieMap[String, String]()
    // true while capture() is writing an episode: the pass must flush
    // before rendering, or a capture racing the pass's final breaching
    // query can miss the emitted JSON entirely (ADVICE r15)
    @volatile private var inFlight = false
    def episodes: Map[String, String] = out.toMap
    /** Block until any in-flight capture has written its episode (the
      * backoff loop notices end() within ~250 ms + one stack sample, so
      * the bound is never approached on a healthy pass). */
    def flush(maxMs: Long = 5000): Unit = {
      var waited = 0L
      while (inFlight && waited < maxMs) { Thread.sleep(50); waited += 50 }
    }
    // threshold covers ONE rep (begin/end bracket each rep, not the reps
    // loop — at reps=3 a whole-query bracket tripled the measured window
    // and fired 33 spurious captures in one pass) and adds the anchor's
    // recorded first-payer build: a memo-family first payer legitimately
    // spends its anchor-recorded build seconds before any per-rep work
    private def thresholdFor(name: String): Double =
      math.max(floorSec, 3.0 * anchorWarm.getOrElse(name, 0.0)) +
        anchorBuild.getOrElse(name, 0.0)
    def begin(name: String): Unit =
      current = Some((name, System.nanoTime(), thresholdFor(name),
        jitMillis, gcMillis, janinoCount))
    def end(): Unit = current = None
    /** One aggregated stack sample: top-of-stack signatures (6 frames,
      * class.method only) of all RUNNABLE threads, grouped with counts
      * so 13 identical codegen workers read as one line, not 13.
      * Returns (runnableThreadCount, topSignaturesJson): the raw count
      * is the parallelism-collapse discriminator the top-6 cut can't
      * show — the r15 dress-rehearsal episodes read cpu≈wall (ONE busy
      * core on 32-partition stages, ordinary execution frames, low
      * janino), a signature distinct from both host steal and the r14
      * compilation storms. */
    private def sampleStacks(): (Int, Int, String) = {
      val sigs = Thread.getAllStackTraces.asScala.toSeq.collect {
        case (t, st) if t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
          t.getName != "graft-episode-watchdog" =>
          st.take(6).map(f => s"${f.getClassName}.${f.getMethodName}")
            .mkString(" <- ")
      }
      // RUNNABLE-but-idle native waiters (netty epoll, NIO selectors,
      // LockSupport.park shows RUNNABLE briefly) inflate the raw count —
      // the r15 episodes read busy 8-9 with 6 of those epollWait. The
      // ACTIVE count (idle top frames excluded) is what classification
      // keys on: 1-2 active on ordinary frames = parallelism collapse.
      val idleTop = Seq("epollWait", "EPoll.wait", "kevent", "socketAccept",
        "Unsafe.park", "SelectorImpl.select")
      val active = sigs.count(s => !idleTop.exists(s.takeWhile(_ != '<').contains))
      val top = sigs.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (s, n) => (-n, s) }.take(6)
        .map { case (s, n) => s"""{"n":$n,"stack":${Verify.js(s)}}""" }
        .mkString("[", ",", "]")
      (sigs.size, active, top)
    }
    private def capture(name: String, t0: Long, thr: Double, baseJit: Long,
                        baseGc: Long, baseJan: Long): Unit = {
      val atSec = (System.nanoTime() - t0) / 1e9
      // exponential-backoff sampling (1,1,2,4,8,16,32 s gaps): the r14
      // episode class burned 35-51 s — a fixed 2 s sample window would
      // profile only the onset, so one capture spans ~64 s of breach,
      // each sample stamped with its own elapsed offset; sampling stops
      // the moment the rep ends
      val actives = scala.collection.mutable.ArrayBuffer.empty[Int]
      def oneSample(): String = {
        val (busy, active, top) = sampleStacks()
        actives += active
        s"""{"t":${f((System.nanoTime() - t0) / 1e9)},"busy_threads":$busy,"busy_active":$active,"stacks":$top}"""
      }
      val samples = scala.collection.mutable.ArrayBuffer(oneSample())
      val gaps = Seq(1000L, 1000L, 2000L, 4000L, 8000L, 16000L, 32000L)
      // liveness = same name AND same rep t0: name alone kept a capture
      // sampling into the NEXT rep of the same query with offsets
      // computed against the stale t0 (ADVICE r15)
      def live = current.exists(c => c._1 == name && c._2 == t0)
      for (g <- gaps if live) {
        var slept = 0L
        while (slept < g && live) {
          Thread.sleep(250); slept += 250
        }
        if (live)
          samples += oneSample()
      }
      val jitD = if (baseJit < 0) -1L else jitMillis - baseJit
      val gcD = gcMillis - baseGc
      val janD = if (baseJan < 0) -1L else janinoCount - baseJan
      // auto-classification (VERDICT r15 item 3) — the three episode
      // classes the r14/r15 forensics distinguished by hand:
      //   gc_pressure:          GC dominates the breach window
      //   parallelism_collapse: ≤3 ACTIVE threads on ordinary execution
      //                         frames (external throttling invisible to
      //                         steal% — the r15 class)
      //   compilation_storm:    many active cores AND heavy Janino churn
      //                         (the r14 codegen-cache class)
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      val activeMed =
        if (actives.isEmpty) 0 else actives.sorted.apply(actives.size / 2)
      val cls =
        if (gcD >= 0.5 * elapsedMs) "gc_pressure"
        else if (activeMed <= 3) "parallelism_collapse"
        else if (janD >= 20 && activeMed >= 8) "compilation_storm"
        else "mixed"
      out(name) =
        s"""{"at_sec":${f(atSec)},"threshold_sec":${f(thr)},"class":"$cls","busy_active_median":$activeMed,"jit_ms":$jitD,"gc_ms":$gcD,"janino_n":$janD,"janino_mean_ms":${f(janinoMeanMs)},"samples":${samples.mkString("[", ",", "]")}}"""
    }
    private def f(v: Double) = f"$v%.3f"
    private val thread = new Thread(() => {
      while (true) {
        Thread.sleep(250)
        current match {
          case Some((name, t0, thr, bj, bg, bn))
            if !out.contains(name) && (System.nanoTime() - t0) / 1e9 > thr =>
            inFlight = true
            try capture(name, t0, thr, bj, bg, bn)
            catch { case _: InterruptedException => () case _: Throwable => () }
            finally inFlight = false
          case _ => ()
        }
      }
    }, "graft-episode-watchdog")
    thread.setDaemon(true)
    thread.start()
  }

  private def anchorText: String = try new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("bench_anchors/anchor_current.json")), "UTF-8")
  catch { case _: Throwable => "" }

  /** Parse an anchor JSON's named map of "key":number pairs (the anchor
    * files are written by this object — flat one-level maps, so the
    * regex parse is safe). Returns empty on any failure. */
  private def anchorMap(field: String): Map[String, Double] = try {
    val txt = anchorText
    val qi = txt.indexOf("\"" + field + "\":{")
    if (qi < 0) Map.empty
    else {
      val seg = txt.substring(qi + field.length + 4, txt.indexOf('}', qi))
      "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(seg)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  } catch { case _: Throwable => Map.empty }

  /** Parse an anchor JSON's named flat array of numbers (same writer,
    * same safety argument as [[anchorMap]]). Empty on any failure. */
  private def anchorArr(field: String): Seq[Double] = try {
    val txt = anchorText
    val qi = txt.indexOf("\"" + field + "\":[")
    if (qi < 0) Nil
    else txt.substring(qi + field.length + 4, txt.indexOf(']', qi))
      .split(',').toSeq.flatMap(_.trim.toDoubleOption)
  } catch { case _: Throwable => Nil }

  /** The anchor run's local core count, if it recorded one. */
  private def anchorCores: Option[Int] =
    "\"cores\":([0-9]+)".r.findFirstMatchIn(anchorText).map(_.group(1).toInt)

  /** One fixed CPU-bound reference job: sum of 4×10⁸ modulos across 32
    * partitions. No IO, no shuffle beyond the final 32-row agg, no memo
    * interaction — its wall clock moves only when the host does.
    * Min-of-2: the generated class gets evicted from the codegen LRU by
    * the hundreds of plans a full pass compiles, so a single read
    * mid-pass pays ~0.3-0.4 s of RE-COMPILATION (measured: 0.14 s at
    * pass start vs 0.5 s mid-pass on an idle host) — the first run
    * re-warms the cache, the min is the pure-execution host reading. */
  private def refProbeSec(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 400000000L, 1L, 32).selectExpr("sum(id % 1000)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Per-query execution shape from the listener bus — what a wall time
    * alone can't say: is the time going to driver round-trips (many tiny
    * jobs), task volume (32-task stages over KB-sized data), shuffle
    * bytes, or genuine compute (task time ≈ wall × cores)? [[open]] zeroes
    * the counters and [[close]] reads them, each after draining the bus,
    * so a row holds exactly the events posted in between. A job's site
    * is its distinct stage names in stage-id order (parents first; the
    * event lists them in hash order) joined with ` | ` — which
    * checkpoint, broadcast, AQE stage or final action issued it. AQE
    * submits its query-stage jobs from a thread pool, so their stages
    * all carry the pool's call site; such a job is named by its SQL
    * execution (`spark.sql.execution.id`) instead, as `AQE stage of`
    * the execution's description — the action that planned it. */
  private[graft] final class Ledger(sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks = new AtomicInteger
    private val runMs, cpuNs, deserMs, gcMs, readB, writeB = new AtomicLong
    private val sites = new ConcurrentHashMap[String, AtomicInteger]
    private val executions = new ConcurrentHashMap[Long, String] // id → description
    private val jobExecutions = ConcurrentHashMap.newKeySet[Long]()
    sc.addSparkListener(this)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.description)
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
      exec.foreach(jobExecutions.add)
      val stageSite = j.stageInfos.sortBy(_.stageId).map(_.name).distinct.mkString(" | ")
      val site = exec.filter(_ => stageSite.contains("withThreadLocalCaptured"))
        .flatMap(id => Option(executions.get(id)))
        .fold(stageSite)(d => s"AQE stage of $d")
      sites.computeIfAbsent(site, _ => new AtomicInteger).incrementAndGet()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        gcMs.addAndGet(m.jvmGCTime)
        readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    // the drain gives up after 10 s; a late event then lands in the
    // neighbouring row instead of aborting the pass
    private def settle(): Unit =
      try ListenerBus.drain(sc)
      catch { case _: java.util.concurrent.TimeoutException => () }
    def open(): Unit = {
      settle()
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(runMs, cpuNs, deserMs, gcMs, readB, writeB).foreach(_.set(0L))
      sites.clear(); executions.clear(); jobExecutions.clear()
    }
    def close(): Ledger.Row = {
      settle()
      Ledger.Row(jobs.get, stages.get, tasks.get, runMs.get / 1e3,
        cpuNs.get / 1e9, deserMs.get / 1e3, gcMs.get, readB.get / 1e6,
        writeB.get / 1e6, sites.asScala.map { case (k, n) => k -> n.get }.toMap,
        jobExecutions.size)
    }
  }
  private[graft] object Ledger {
    final case class Row(jobs: Int, stages: Int, tasks: Int, taskTimeS: Double,
                         taskCpuS: Double, deserS: Double, gcMs: Long,
                         shufReadMb: Double, shufWriteMb: Double,
                         sites: Map[String, Int], executions: Int = 0) {
      def json: String = {
        val st = sites.toSeq.sortBy { case (k, n) => (-n, k) }
          .map { case (k, n) => s"${Verify.js(k)}:$n" }.mkString("{", ",", "}")
        f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_time_s":$taskTimeS%.3f,"task_cpu_s":$taskCpuS%.3f,"deser_s":$deserS%.3f,"gc_ms":$gcMs,"shuf_read_mb":$shufReadMb%.2f,"shuf_write_mb":$shufWriteMb%.2f,"executions":$executions,"sites":$st}"""
      }
    }
  }

  /** `explain("formatted")` of one query into `<dir>/<name>.txt`.
    * Building the frame runs its eager checkpoints — real jobs — so the
    * pass dumps only after every reading of the query is taken. */
  private[graft] def dumpPlan(spark: SparkSession, name: String,
                              fn: (SparkSession, String) => DataFrame,
                              sfDir: String, dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve(s"$name.txt"), fn(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-only subset filter (SPARK_GRAFT_ONLY), shared with Verify —
    // the driver never sets it, so the gate benches everything
    val only = SparkEntry.only()
    def selected(name: String) = only.forall(_.contains(name))
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup of EVERY query on the tiny SF: absorbs one-time
    // JIT/whole-stage-codegen cost (several seconds for the plans with
    // custom kernels) so timed numbers reflect steady state, not who ran
    // first. The subplan memo keys on the sf-dir, so the timed pass below
    // still pays its own shared builds at full scale — only compilation
    // is absorbed, never work.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // Drop ALL warmup-phase state before timing: the warm-dir memo
      // entries (keyed by sf-dir) are never reused at the target SF, but
      // their eagerly-checkpointed blocks would sit in the BlockManager
      // under the whole timed pass — measured cost: the mid-pass queries
      // (the CV grid especially) degraded several× under that resident
      // state. The timed pass still pays every shared build at the
      // target SF; it just starts from a clean block store.
      graft.plans.Materialized.clear()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // SPARK_GRAFT_REPS=k (dev-only; driver never sets it → k=1, timing
    // unchanged): run each query k times and report the per-query MEDIAN.
    // Host noise on this sandbox moves single readings by several seconds
    // (NOTES.md) — medians make the per-query detail trustworthy without
    // touching the driver-facing line's semantics. The ledger keeps the
    // LAST rep's row: at k≥3 that is warm state (memo builds and codegen
    // paid by earlier reps).
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(1)
    // SPARK_GRAFT_PLANS_DIR=dir (dev-only): each query's
    // explain("formatted") → <dir>/<name>.txt, before/after plan evidence
    val plansDir = sys.env.get("SPARK_GRAFT_PLANS_DIR")
    // Between-query block sweep (VERDICT r13 finding 2): superseded
    // loop generations and within-query multi-consumer checkpoints die
    // with their query, but their blocks linger until the driver GCs
    // the DataFrame reference and ContextCleaner catches up — across a
    // 266-query pass that's monotonic block-store growth (the plausible
    // amplifier behind BENCH_r13's GC-storm signature). Unpersist
    // everything the session memo does NOT own; Materialized frames
    // are spared because unpersisting a localCheckpoint is
    // unrecoverable and the memo IS the cross-query amortization.
    // blocking=true: the sweep runs OUTSIDE the timed region, and the
    // post-sweep blocksByQ sample below must read the block store AFTER
    // removal completes — an async sweep overstated the residual in the
    // very telemetry added to prove the sweep works (ADVICE r14).
    def sweepBlocks(): Unit = {
      val live = graft.plans.Materialized.liveRddIds
      spark.sparkContext.getPersistentRDDs.values
        .filter(r => !live.contains(r.id)).foreach(_.unpersist(blocking = true))
    }
    // drop warmup-phase build records so the per-query attribution
    // below starts clean (VERDICT r11 item 4)
    graft.plans.Materialized.drainBuildLog()
    val qseq = SparkEntry.queries.filter(kv => selected(kv._1)).toSeq
    val fullRun = only.isEmpty && qseq.size == SparkEntry.queries.size
    val mid = qseq.size / 2
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val gcByQ = scala.collection.mutable.Map.empty[String, Double]
    val jitByQ = scala.collection.mutable.Map.empty[String, Double]
    val blocksByQ = scala.collection.mutable.Map.empty[String, Int]
    val ledgerByQ = scala.collection.mutable.Map.empty[String, Ledger.Row]
    var blocksMax = 0
    def regimePoint(): Unit = {
      loads += loadAvg; steals += ((stealJiffies, System.nanoTime()))
      probes += refProbeSec(spark)
    }
    refProbeSec(spark) // discard one cold read: the first run pays the
    refProbeSec(spark) // probe's own codegen/JIT (measured 4 s vs 0.2 s
    // warm), which would dominate probe_drift on every run
    regimePoint() // pass start (post-warmup)
    val watchdog = new EpisodeWatchdog(anchorMap("queries"), anchorMap("builds"))
    val ledger = new Ledger(spark.sparkContext)
    val results = qseq.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi == mid && qi > 0) regimePoint() // pass midpoint
      val g0 = gcMillis
      val j0 = jitMillis
      val reads = (1 to reps).map { _ =>
        ledger.open() // bus drain: before t0, outside the timed region
        watchdog.begin(name)
        val c0 = cpuNanos
        val t0 = System.nanoTime()
        // noop sink: materializes every output column (a bare count() would
        // let Catalyst prune unreferenced expressions and undercount work)
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 < 0) 0.0 else (cpuNanos - c0) / 1e9
        // failed queries report negative elapsed so they can never be
        // mistaken for a fast pass in bench totals
        watchdog.end()
        (if (ok) sec else -sec, cpu, ledger.close())
      }
      // GC/JIT deltas span ALL reps, but the per-query wall below is a
      // single-rep median — divide by reps so gc_frac/jit compare
      // like-for-like (at reps=1, the driver's mode, this is identity;
      // at reps=3 the undivided delta read ~3× its true share and a
      // clean multi-rep run self-reported as contaminated — ADVICE r14)
      gcByQ(name) = (gcMillis - g0) / 1e3 / reps
      jitByQ(name) = if (j0 < 0) -1.0 else (jitMillis - j0) / 1e3 / reps
      blocksMax = math.max(blocksMax, spark.sparkContext.getPersistentRDDs.size)
      ledgerByQ(name) = reads.last._3
      // shared-memo builds this query's reps paid (first-payer cost):
      // queries run strictly sequentially, so the drain attributes
      // exactly — a nonzero value explains a first-payer-reassignment
      // swing without archaeology (VERDICT r11 item 4)
      val buildSec = graft.plans.Materialized.drainBuildLog().map(_._2).sum
      // every reading above is taken, so the dump's eager checkpoint
      // jobs land in no counter; the sweep below drops their blocks
      plansDir.foreach { d =>
        try dumpPlan(spark, name, fn, sfDir, d)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name plan dump FAILED: ${e.getMessage}")
        }
      }
      sweepBlocks() // outside the timing; memo entries spared
      blocksByQ(name) = spark.sparkContext.getPersistentRDDs.size
      val median = reads.map(r => math.abs(r._1)).sorted.apply(reps / 2)
      val cpuMedian = reads.map(_._2).sorted.apply(reps / 2)
      val wall = if (reads.exists(_._1 < 0)) -median else median
      name -> (wall, cpuMedian, buildSec)
    }.toMap
    regimePoint() // pass end
    // steal between consecutive regime points as % of total machine
    // capacity (ncpu × elapsed × 100 jiffies/cpu-sec)
    val ncpu = Runtime.getRuntime.availableProcessors()
    val stealPct = steals.toSeq.sliding(2).collect {
      case Seq((j0, t0), (j1, t1)) if j0 >= 0 && j1 >= 0 && t1 > t0 =>
        100.0 * (j1 - j0) / (ncpu * 100.0 * (t1 - t0) / 1e9)
    }.toSeq
    val regime = Regime(gcByQ.toMap, loads.toSeq, probes.toSeq,
      blocksByQ.toMap, blocksMax, stealPct, jitByQ.toMap)
    spark.stop() // stop BEFORE printing so no shutdown logs trail the JSON
    watchdog.flush() // join any capture racing the final query's end()
    val (compact, fullJson) = render(results, reps, sfDir, regime,
      watchdog.episodes, ledgerByQ.toMap, anchorMap("queries"), anchorArr("ref_probe"),
      GraftSession.cpus, anchorCores)
    // FULL per-query detail to stderr (and files) for BASELINE.md
    // bookkeeping — NOT the driver-facing line.
    System.err.println(fullJson)
    // /tmp for ad-hoc reads; full-registry runs also write a durable
    // in-repo copy (bench_anchors/) so future rounds can audit the
    // per-query detail of any recorded run without re-measuring
    // (VERDICT r11 item 1), plus a timestamped copy so one round's
    // forensic evidence is never clobbered by the next invocation
    // (VERDICT r13 finding 3).
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    for (p <- outputs(fullRun, stamp))
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path, fullJson + "\n")
      } catch { case _: Throwable => () }
    // Driver-facing line LAST on stdout, and compact: the driver keeps
    // only a ~1 KiB tail of the output, so a 168-entry queries map gets
    // its head truncated and fails to parse (BENCH_r4/r5 "parsed: null").
    println(compact)
    System.out.flush()
  }

  /** Where the full JSON goes: /tmp always; the tracked
    * `bench_anchors/` copies (last and timestamped) only for a
    * full-registry run, so a SPARK_GRAFT_ONLY subset never replaces the
    * recorded full-pass detail. */
  private[graft] def outputs(fullRun: Boolean, stamp: String): Seq[String] =
    "/tmp/graft_bench_full.json" +: (if (fullRun)
      Seq("bench_anchors/bench_full_last.json", s"bench_anchors/bench_full_$stamp.json")
    else Nil)

  /** The pass's two JSON documents, `(compactLine, fullJson)`, from its
    * readings alone: `results` maps query → (wall, cpu, build seconds),
    * wall negative for a failed query; `anchor`/`anchorProbe` are the
    * committed anchor's per-query medians and reference-probe readings,
    * `cores`/`anchorCores` this run's and the anchor's local core counts. */
  private[graft] def render(results: Map[String, (Double, Double, Double)],
                            reps: Int, sfDir: String, regime: Regime,
                            episodes: Map[String, String],
                            ledger: Map[String, Ledger.Row],
                            anchor: Map[String, Double],
                            anchorProbe: Seq[Double],
                            cores: Int, anchorCores: Option[Int]): (String, String) = {
    val failed = results.count(_._2._1 < 0)
    // a query that ran and failed (wall < 0) still contributes its real
    // elapsed time
    val total = results.values.map(r => math.abs(r._1)).sum
    val cpuTotal = results.values.map(_._2).sum
    // first-payer attribution (VERDICT r11 item 4): Σ shared-memo build
    // seconds and the count of queries that paid one — the swing
    // explanation a raw per-query comparison needs
    val buildTotal = results.values.map(_._3).sum
    val buildPaid = results.values.count(_._3 > 0)
    def fmt(v: Double) = f"$v%.3f"
    // "cpu" is per-query process-CPU seconds (contention-immune: two
    // same-config runs agree on CPU even when wall clock diverges);
    // "builds" is per-query shared-memo build seconds (sparse: only
    // first payers are listed).
    val qsFull = results.map { case (k, (w, _, _)) => "\"" + k + "\":" + fmt(w) }
      .mkString("{", ",", "}")
    val cpuFull = results.map { case (k, (_, c, _)) => "\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    val buildsFull = results.collect { case (k, (_, _, b)) if b > 0 =>
      "\"" + k + "\":" + fmt(b) }.mkString("{", ",", "}")
    // vs_anchor (VERDICT r12 item 5): per-query wall ratio against the
    // committed anchor medians (bench_anchors/anchor_current.json), so a
    // bench run SELF-REPORTS its regressions instead of leaving the
    // anchor join to the reader. Regression flag threshold (NOTES.md):
    // ratio ≥ 1.3 AND absolute delta ≥ 0.3 s — both conditions, because
    // single-rep driver runs carry seconds of host noise on this sandbox
    // and sub-0.3 s queries jitter by whole ratio multiples. Queries
    // with no anchor entry (new this round) are omitted from the map.
    // Methodology-aware ratio (VERDICT r14 item 2 / findings 2-3): the
    // anchor medians are WARM multi-rep readings (rep 1 pays family
    // builds + compilation; the median doesn't), but a single-rep run —
    // every driver run — pays each memo build and each JIT warmup inside
    // its one timed read. That gap alone flagged 109-115 of 266 queries
    // on provably quiet passes (jit_total 134-140 s of a ~300-440 s
    // pass), drowning the one consumer the flag exists for. So at
    // reps=1 the ratio discounts the run's OWN per-query attributions —
    // shared-memo build seconds and JIT-compiler seconds — before
    // comparing; at reps≥2 the median is already warm and the raw wall
    // compares like-for-like. The discount can only shrink the ratio
    // (a real plan regression burns wall with no build/jit attribution
    // and still flags — BenchSpec's "no build, no jit" case).
    val discounted = reps == 1
    def adjWall(k: String): Double = {
      val raw = math.abs(results(k)._1)
      if (!discounted) raw
      else {
        // jit discount CAPPED at half the measured wall (ADVICE r15):
        // CompilationMXBean time sums across compiler threads and runs
        // largely CONCURRENT with execution, and a real plan regression
        // triggers fresh codegen/JIT of its own — an uncapped
        // subtraction would discount part of a genuine regression's
        // signal in exactly the single-rep driver mode the flag serves
        // (BenchSpec's "jit as large as the wall" case must still flag).
        // Builds stay uncapped: memo builds are wall-serial by
        // construction.
        val jit = math.max(0.0, regime.jit.getOrElse(k, 0.0))
        math.max(0.0, raw - results(k)._3 - math.min(jit, 0.5 * raw))
      }
    }
    // Regime term (VERDICT r15 item 2): this run's fixed reference-probe
    // median over the ANCHOR run's — identical pure-compute work in both
    // windows, so the ratio is the host-speed factor between them, and
    // a uniformly throttled pass self-reports "regime X, ~0 plan-level
    // flags" instead of crying wolf on dozens of names (38 phantom flags
    // in the r15 driver pass, zero real). Floored at 1.0 — a faster-
    // than-anchor host must not inflate ratios — and inert (1.0) when
    // either side lacks probe readings (missing anchor). Also inert when
    // the core counts differ: the probe's 32 partitions on 4 cores read
    // ~5.5× the 32-core anchor's, which is core count, not host speed.
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val regimeFactor =
      if (anchorCores.contains(cores) && regime.refProbe.nonEmpty &&
          anchorProbe.nonEmpty && med(anchorProbe) > 0)
        math.max(1.0, med(regime.refProbe) / med(anchorProbe))
      else 1.0
    val ratios: Seq[(String, Double)] = results.keys.toSeq
      .filter(k => anchor.get(k).exists(_ > 0))
      .map(k => k -> adjWall(k) / (anchor(k) * regimeFactor))
    val vsAnchorFull = ratios.map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val regressed = ratios.collect {
      case (k, r) if r >= 1.3 && adjWall(k) / regimeFactor - anchor(k) >= 0.3 => k
    }.sorted
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Regime self-report (VERDICT r13 item 1b): per-query GC seconds,
    // load average + fixed reference-probe wall at start/mid/end, and
    // the block telemetry. gc_frac = Σ GC / Σ wall; probe_drift =
    // max/min of the identical-work reference job — either far from
    // its quiet band means the HOST moved, not the tree.
    val gcTotal = regime.gc.values.sum
    val gcFull = regime.gc.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val blocksFull = regime.blocks.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def arr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")
    val gcFrac = if (total > 0) gcTotal / total else 0.0
    // max/MEDIAN, not max/min: drift flags the regime MOVING (one
    // contended reading anywhere in the pass); an unusually FAST
    // reading is not contamination, but under max/min it inflated the
    // ratio the same way (a 0.08 s end reading pushed one quiet pass
    // to "drift 2.27" while all three readings sat inside the band)
    val probeDrift =
      if (regime.refProbe.nonEmpty && regime.refProbe.min > 0)
        regime.refProbe.max / med(regime.refProbe)
      else 0.0
    val jitTotal = regime.jit.values.filter(_ >= 0).sum
    val jitFull = regime.jit.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // on-threshold episode captures (VERDICT r14 item 1): values are
    // pre-rendered JSON objects from the watchdog — empty on clean passes
    val episodesFull = episodes.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ledgerFull = ledger.toSeq.sortBy(_._1)
      .map { case (k, r) => "\"" + k + "\":" + r.json }.mkString("{", ",", "}")
    val regimeFull =
      s""","gc_total":${fmt(gcTotal)},"gc_frac":${fmt(gcFrac)},"gc":$gcFull,"jit_total":${fmt(jitTotal)},"jit":$jitFull,"load":${arr(regime.load)},"ref_probe":${arr(regime.refProbe)},"probe_drift":${fmt(probeDrift)},"regime_factor":${fmt(regimeFactor)},"steal_pct":${arr(regime.stealPct)},"blocks_max":${regime.blocksMax},"blocks":$blocksFull,"episodes":$episodesFull"""
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"queries":$qsFull,"cpu_total":${fmt(cpuTotal)},"cpu":$cpuFull,"build_sec_total":${fmt(buildTotal)},"builds":$buildsFull,"vs_anchor":$vsAnchorFull,"vs_anchor_discounted":$discounted,"regressed":$regressedJson,"anchor_n":${ratios.size}$regimeFull,"ledger":$ledgerFull,"failed":$failed,"cores":$cores,"anchor_cores":${anchorCores.getOrElse(-1)},"sf":${Verify.js(sfDir)}}"""
    // The compact line carries HEADLINE queries — one representative
    // per family.
    val headline = Seq("q1_agg", "q3_join_agg", "q10_window", "t2_tfidf_multi",
      "d2_minhash_sig", "d3_lsh_near_dups", "s1_knn_brute", "s2_ann_lsh",
      "g2_pagerank", "st3_sessions", "x2_lang_id", "m1_confusion")
    val qs = headline.flatMap(k => results.get(k).map(v => "\"" + k + "\":" + fmt(v._1)))
      .mkString("{", ",", "}")
    // cpu_total (Σ process-CPU seconds, contention-immune) rides the
    // driver-facing line so a contended run is self-adjudicating: wall
    // far above cpu/32 means host noise, not regression (VERDICT r10 #2);
    // build_sec_total/build_paid summarize first-payer memo cost
    // regressed-vs-anchor count + capped name list ride the compact line
    // too (full ratios live in the stderr/bench_anchors JSON above)
    val regHead = regressed.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    // one-field-per-signal regime index on the compact line too: a
    // reader sees gc_frac ≫ the quiet band (~0.03), load ≫ 32, or
    // probe_drift ≫ 1.5 and knows the run measured the host's hour,
    // not the tree — without the archaeology BENCH_r13 needed
    val regimeHead = if (regime.refProbe.nonEmpty)
      s""","gc_frac":${fmt(gcFrac)},"load":${arr(regime.load)},"probe_drift":${fmt(probeDrift)},"regime_factor":${fmt(regimeFactor)},"steal_pct":${arr(regime.stealPct)},"blocks_max":${regime.blocksMax},"episodes_n":${episodes.size}"""
    else ""
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_total":${fmt(cpuTotal)},"build_sec_total":${fmt(buildTotal)},"build_paid":$buildPaid,"queries":$qs,"failed":$failed,"regressed_n":${regressed.size},"regressed":$regHead$regimeHead,"sf":${Verify.js(sfDir)},"n_queries":${results.size}}"""
    (compact, fullJson)
  }
}
