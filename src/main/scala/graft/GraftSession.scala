package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every graft main (Verify, Bench, the dev
  * tools) and the test suites use, so their confs cannot drift apart. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, 32 when unset. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)

  /** A builder with the shared confs; add more before `getOrCreate()`. */
  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // some SF dirs store events.ts as TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default 100-entry codegen class cache thrashes under a
      // full-registry pass (hundreds of distinct generated classes):
      // every eviction re-pays Janino compilation AND the C2 JIT warmup,
      // and the storms land on whole queries (measured: s25 at 19.4 s
      // wall / 208 CPU-s / 0.1 s GC in one full pass vs 1.6 s in a
      // 20-query pass — recompilation across 32 threads, not query
      // work). Static conf — must be set before the first session. 2000
      // entries ≈ the registry's distinct-plan count with headroom;
      // metaspace cost is tens of MB.
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  def apply(cores: Int = cpus): SparkSession = builder(cores).getOrCreate()
}
