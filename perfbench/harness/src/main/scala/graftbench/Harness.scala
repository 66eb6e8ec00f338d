package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Closed-loop, single-client benchmark harness for the graft engine.
  *
  * Drives the engine only through its public surface: the registered
  * query functions (`graft.SparkEntry.queries`), `graft.sources.Tables`,
  * `graft.plans.Materialized`, the `graft.GraftExtensions` SQL kernels
  * and Spark's public listener APIs. One process, `local[nproc]`, one
  * client issuing the workload's queries back to back in a fixed order.
  *
  * Phases, in order:
  *  1. set-up: session with the graft extensions, then one untimed
  *     warmup pass over the workload's queries on the workload's input
  *     (absorbs the one-time codegen and JIT, and leaves a warm-memo
  *     workload's memo built), then an untimed check pass in the timed
  *     passes' configuration (the memo as the warmup left it, or emptied
  *     first on a cold-memo workload), each output written as parquet
  *     for the oracle check; `setup_s` runs from JVM start to the first
  *     timed query;
  *  2. timed passes over the query list until `--seconds` have elapsed
  *     (at least `--min-passes`); each query is its build (the query
  *     function call, which includes a loop's eager jobs) plus its
  *     execution into Spark's `noop` sink;
  *  3. with `--trace 1`: the kernel and scan probes; then the oracle SQL
  *     of the queries, rendered after they ran.
  *
  * With `--trace 1` every other pass is traced: its queries run under a
  * per-query job group and the [[Recorder]] listener ties jobs, stages,
  * stored blocks and planning phases to them; the untraced passes give
  * the baseline for the tracing overhead. Everything is held in memory
  * and written as one JSON document (`<out>/result.json`) at the end;
  * `run.py` turns it into metrics.
  *
  * Usage: Harness --data DIR --queries a,b,c --tables t1,t2
  *   --seconds S --trace 0|1 --memo warm|cold --min-passes N --out DIR
  */
object Harness {
  final case class Opts(data: String, queries: Seq[String],
    tables: Seq[String], seconds: Double, trace: Boolean, coldMemo: Boolean,
    minPasses: Int, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def list(k: String) = arg(k).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    Opts(arg("data"), list("queries"), list("tables"), arg("seconds").toDouble,
      arg("trace") == "1", arg("memo") == "cold", arg("min-passes").toInt, arg("out"))
  }

  // ---- process counters
  private val osBean = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  private def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(0L)
  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMillis: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  private def janinoCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Cumulative (steal, total) jiffies from /proc/stat, or (-1, -1). */
  private def stealJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (v.lift(7).getOrElse(-1L), v.sum)
      } finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  // monotonic clock mapped onto epoch milliseconds, the clock listener
  // events carry, so harness spans and job spans share one time axis
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  final case class QueryRec(pass: Int, qid: Int, name: String, traced: Boolean,
    startMs: Double, buildEndMs: Double, endMs: Double, cpuNs: Long,
    error: Option[String], memoBuilds: Seq[(String, Double)], persisted: Int,
    rddLo: Int, rddHi: Int)
  final case class PassRec(pass: Int, traced: Boolean, wallS: Double, cpuS: Double,
    gcMs: Long, jitMs: Long, janino: Long, blockStoreBytes: Long)

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val work = sys.props.getOrElse("graftbench.work", ".")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.take(3).mkString(" ").take(400)

  /** A fresh RDD id: every RDD created before it has a smaller id. */
  private def rddMarker(spark: SparkSession): Int = spark.sparkContext.emptyRDD[Int].id

  /** Unpersist every persistent RDD, or every one not backing a live
    * memo entry (superseded loop generations and per-query checkpoints). */
  private def sweep(spark: SparkSession, all: Boolean): Unit = {
    val live = if (all) Set.empty[Int] else graft.plans.Materialized.liveRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!live.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  private def blockStoreBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Fixed pure-compute reference job (no IO, no memo): its wall clock
    * moves only when the host does. Min of two runs. */
  private def refProbeS(spark: SparkSession): Double = {
    val cpus = Runtime.getRuntime.availableProcessors
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cpus).selectExpr("sum(id % 1000)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    graft.sources.Artifacts.setRoot(s"${o.out}/artifacts")
    val registry = graft.SparkEntry.queries
    val unknown = o.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = o.queries.map(n => n -> registry(n))

    val spark = session()
    val sc = spark.sparkContext
    val rec = if (o.trace) Some(new Recorder) else None
    rec.foreach { r => sc.addSparkListener(r); spark.listenerManager.register(r) }

    // ---- set-up: untimed warmup pass (a query that throws here throws
    // again, and is counted, in the check or the timed passes)
    fns.foreach { case (_, f) =>
      try noop(f(spark, o.data)) catch { case _: Throwable => }
      sweep(spark, all = false)
    }

    // ---- check pass, untimed, in the timed passes' configuration: a
    // cold-memo workload starts from an empty memo, a warm-memo one hits
    // the memo the warmup built, as every timed pass does. Its outputs are
    // kept for the oracle check. It is also the JIT's second warmup pass.
    if (o.coldMemo) {
      graft.plans.Materialized.clear()
      sweep(spark, all = true)
    }
    val verifyErr = fns.flatMap { case (name, f) =>
      val err =
        try {
          f(spark, o.data).write.mode("overwrite").parquet(s"${o.out}/outputs/$name")
          None
        } catch { case e: Throwable => Some(name -> errText(e)) }
      sweep(spark, all = false)
      err
    }.toMap
    graft.plans.Materialized.drainBuildLog()
    val refStart = refProbeS(spark)
    val setupJvm = (gcMillis, jitMillis, janinoCount)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed passes
    val (steal0, total0) = stealJiffies
    val queries = ArrayBuffer.empty[QueryRec]
    val passes = ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    var qid = 0
    var pass = 0
    while (pass < o.minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      if (o.coldMemo) {
        // a new user session: empty memo, nothing resident
        graft.plans.Materialized.clear()
        sweep(spark, all = true)
      }
      val traced = o.trace && pass % 2 == 1
      val gc0 = gcMillis; val jit0 = jitMillis; val jan0 = janinoCount
      var wall = 0.0
      var cpu = 0L
      fns.foreach { case (name, f) =>
        qid += 1
        val lo = if (traced) rddMarker(spark) else 0
        if (traced) sc.setJobGroup(s"q$qid", name, interruptOnCancel = false)
        val c0 = cpuNanos
        val s0 = nowMs
        var b1 = s0
        val err =
          try {
            val df = f(spark, o.data)
            b1 = nowMs
            noop(df)
            None
          } catch { case e: Throwable => Some(errText(e)) }
        val s1 = nowMs
        val c1 = cpuNanos
        if (traced) sc.clearJobGroup()
        val hi = if (traced) rddMarker(spark) else 0
        val builds = graft.plans.Materialized.drainBuildLog()
        val persisted = sc.getPersistentRDDs.size
        queries += QueryRec(pass, qid, name, traced, s0, if (err.isEmpty) b1 else s1,
          s1, c1 - c0, err, builds, persisted, lo, hi)
        wall += (s1 - s0) / 1e3
        cpu += c1 - c0
        // last query of the pass: measure the resident blocks first
        if (name != fns.last._1) sweep(spark, all = false)
      }
      val bytes = blockStoreBytes(spark)
      sweep(spark, all = false)
      passes += PassRec(pass, traced, wall, cpu / 1e9, gcMillis - gc0,
        jitMillis - jit0, janinoCount - jan0, bytes)
      pass += 1
    }
    val (steal1, total1) = stealJiffies
    val stealPct =
      if (steal0 < 0 || total1 <= total0) -1.0
      else 100.0 * (steal1 - steal0) / (total1 - total0)
    val refEnd = refProbeS(spark)

    // ---- probes (traced run only)
    val probes = rec.map(r => (Probes.kernels(spark, r), Probes.scans(spark, o.data, o.tables)))

    val oracles = graft.similarity.Similarity.withUnseededOracleRender(
      graft.SparkEntry.oracleSql)

    rec.foreach(_.settle())
    val result = Map(
      "setup_s" -> setupS,
      "setup_jvm" -> Map("gc_ms" -> setupJvm._1, "jit_ms" -> setupJvm._2,
        "codegen_compiles" -> setupJvm._3),
      "regime" -> Map("ref_probe_s" -> Seq(refStart, refEnd), "steal_pct" -> stealPct,
        "load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage),
      "passes" -> passes.map(p => Map(
        "pass" -> p.pass, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs, "codegen_compiles" -> p.janino,
        "block_store_bytes" -> p.blockStoreBytes)),
      "queries" -> queries.map(q => Map(
        "pass" -> q.pass, "qid" -> q.qid, "name" -> q.name, "traced" -> q.traced,
        "start_ms" -> q.startMs, "build_end_ms" -> q.buildEndMs, "end_ms" -> q.endMs,
        "cpu_s" -> q.cpuNs / 1e9,
        "memo_builds" -> q.memoBuilds.map { case (k, s) => Map("key" -> k, "s" -> s) },
        "persisted" -> q.persisted, "rdd_lo" -> q.rddLo, "rdd_hi" -> q.rddHi)
        ++ q.error.map("error" -> _)),
      "verify_errors" -> verifyErr,
      "oracle_sql" -> o.queries.map(n => n -> oracles(n)).toMap,
    ) ++ rec.map { r =>
      "trace" -> (Map(
        "jobs" -> r.jobList.map(x => Map("id" -> x.id, "group" -> x.group,
          "start_ms" -> x.startMs, "end_ms" -> x.endMs, "stages" -> x.nStages)),
        "stages" -> r.stageList.map(s => Map("group" -> s.group, "id" -> s.id,
          "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "shuffle_read_bytes" -> s.shuffleReadBytes, "fetch_wait_ms" -> s.fetchWaitMs,
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
          "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes)),
        "blocks" -> r.blockList.map(b => Map("rdd" -> b.rdd, "bytes" -> b.bytes)),
        "phases" -> r.phaseList.map(p => Map("name" -> p.name, "start_ms" -> p.startMs,
          "end_ms" -> p.endMs)),
      ) ++ probes.toSeq.flatMap { case (k, s) => Seq("kernels" -> k.toMap, "scan" -> s.toMap) })
    }
    Files.writeString(Paths.get(s"${o.out}/result.json"),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    spark.stop()
  }
}

/** Kernel and scan probes for the per-layer report. */
object Probes {
  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** One kernel probe: the kernel's SQL, its builtin-expression
    * equivalent if one exists, an expression that only reads the same
    * columns, and how many rows to run over (sized so a run costs tens of
    * milliseconds of task CPU). Vector kernels read the vector rows, the
    * others the set-and-string rows. */
  private final case class Probe(name: String, sql: String, builtin: Option[String],
    reads: String, rows: Int, vectors: Boolean = true)

  private val VecRows = 200000
  private val SetRows = 200000

  private val probes: Seq[Probe] = Seq(
    Probe("graft_vector_dot_exact", "graft_vector_dot_exact(a, b)",
      Some("aggregate(zip_with(a, b, (x, y) -> cast(cast(x as double) * cast(y as double) " +
        "as decimal(32,16))), cast(0 as decimal(38,16)), " +
        "(s, v) -> cast(s + v as decimal(38,16)))"), "size(a) + size(b)", 4000),
    Probe("graft_vector_dot_raw", "graft_vector_dot_raw(a, b)",
      Some("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), " +
        "cast(0 as double), (s, v) -> s + v)"), "size(a) + size(b)", VecRows),
    Probe("graft_vector_dot_long", "graft_vector_dot_long(qa, qb)",
      Some("aggregate(zip_with(qa, qb, (x, y) -> x * y), cast(0 as bigint), (s, v) -> s + v)"),
      "size(qa) + size(qb)", VecRows),
    Probe("graft_quantize_int8", "size(graft_quantize_int8(a))",
      Some("size(transform(a, x -> cast(round(x / sqrt(aggregate(a, cast(0 as double), " +
        "(s, y) -> s + cast(y as double) * cast(y as double))) * 127, 0) as bigint)))"),
      "size(a)", 4000),
    Probe("graft_lsh_buckets_exact", "size(graft_lsh_buckets_exact(a, 4, 8, 64))", None,
      "size(a)", 1000),
    Probe("graft_md5_hash32", "graft_md5_hash32(k)",
      Some("cast(conv(substr(md5(k), 1, 8), 16, 10) as bigint)"), "length(k)", SetRows,
      vectors = false),
    Probe("graft_md5_nibble_msbs", "graft_md5_nibble_msbs(k)", None, "length(k)", SetRows,
      vectors = false),
    Probe("graft_sorted_intersect_count", "graft_sorted_intersect_count(sa, sb)",
      Some("size(array_intersect(sa, sb))"), "size(sa) + size(sb)", SetRows, vectors = false),
  )

  /** Task CPU ns per row of each kernel (and its builtin twin) over
    * fixed seeded rows held in memory, from the recorder's stage
    * metrics: median of three runs after a warm one, minus the same
    * query over an expression that only reads the kernel's columns.
    * Every run plans a new query: re-running one plan would reuse its
    * shuffle output and skip the stage that evaluates the kernel. */
  def kernels(spark: SparkSession, rec: Recorder): Seq[(String, Double)] = {
    graft.functions.SortedIntersectCount.register(spark)
    val cpus = Runtime.getRuntime.availableProcessors
    def vec(seed: Int) =
      s"transform(sequence(0, 63), i -> cast((pmod(hash(id, i, $seed), 2001) - 1000) / 1000.0 as float))"
    def code(seed: Int) = // int8 code vectors, as graft_quantize_int8 returns
      s"transform(sequence(0, 63), i -> cast(pmod(hash(id, i, $seed), 255) - 127 as bigint))"
    def set(seed: Int) =
      s"array_sort(array_distinct(transform(sequence(0, 31), i -> cast(pmod(hash(id, i, $seed), 200) as bigint))))"
    val vectors = spark.range(0L, VecRows.toLong, 1L, cpus)
      .selectExpr("id", s"${vec(7)} as a", s"${vec(11)} as b", s"${code(19)} as qa",
        s"${code(23)} as qb")
      .persist(StorageLevel.MEMORY_ONLY)
    val sets = spark.range(0L, SetRows.toLong, 1L, cpus)
      .selectExpr("id", s"${set(13)} as sa", s"${set(17)} as sb", "cast(id * 7919 as string) as k")
      .persist(StorageLevel.MEMORY_ONLY)
    vectors.count(); sets.count()
    val sc = spark.sparkContext
    var runs = 0
    def cpuNs(p: Probe, expr: String): Double = {
      def run(): String = {
        runs += 1
        sc.setJobGroup(s"probe$runs", expr, interruptOnCancel = false)
        (if (p.vectors) vectors else sets).where(s"id < ${p.rows}")
          .selectExpr(s"sum(hash($expr)) as h").collect()
        sc.clearJobGroup()
        s"probe$runs"
      }
      run()
      val groups = Seq.fill(3)(run())
      rec.settle()
      val stages = rec.stageList
      medianOf(groups.map(g => stages.filter(_.group == g).map(_.cpuNs).sum.toDouble))
    }
    val out = probes.flatMap { p =>
      val scan = cpuNs(p, p.reads)
      def nsPerRow(expr: String) = (cpuNs(p, expr) - scan) / p.rows
      Seq(s"functions.${p.name}.ns_per_row" -> nsPerRow(p.sql)) ++
        p.builtin.map(b => s"functions.${p.name}.builtin_ns_per_row" -> nsPerRow(b))
    }
    vectors.unpersist(blocking = true)
    sets.unpersist(blocking = true)
    out
  }

  /** `Tables.load` plus a noop sink over each input table: median
    * seconds of three reads and the bytes one read takes from storage. */
  def scans(spark: SparkSession, dir: String, tables: Seq[String]): Seq[(String, Double)] = {
    var secs = 0.0
    var bytes = 0.0
    tables.foreach { t =>
      val df = () => graft.sources.Tables.load(spark, dir, t)
      df().write.format("noop").mode("overwrite").save()
      secs += medianOf(Seq.fill(3)(timeS(df().write.format("noop").mode("overwrite").save())))
      bytes += Files.walk(Paths.get(s"$dir/$t.parquet")).iterator().asScala
        .filter(Files.isRegularFile(_)).map(p => Files.size(p).toDouble).sum
    }
    Seq("scan_s" -> secs, "scan_bytes" -> bytes)
  }
}
