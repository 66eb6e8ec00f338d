package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query execution-shape profiler (round-16 optimization lens).
  *
  * For each selected registry query, runs `reps` noop-sink executions at
  * the target SF under the EXACT Bench session config and prints one TSV
  * row per query:
  *
  *   name  wall_med  jobs  stages  tasks  task_time_s  shuf_read_mb
  *   shuf_write_mb  gc_ms
  *
  * where the job/stage/task columns are deltas of the LAST rep (warm
  * state — memo builds and codegen paid by earlier reps), so the row
  * answers the question the wall number alone can't: is the time going
  * to driver round-trips (many tiny jobs), task volume (32-task stages
  * over KB-sized data), shuffle bytes, or genuine compute
  * (task_time ≈ wall × cores).
  *
  * Optionally (SPARK_GRAFT_PLANS_DIR) writes each query's
  * `explain("formatted")` to `<dir>/<name>.txt` — the round's
  * before/after plan evidence.
  *
  * Dev-only measurement harness: never run by the driver, no effect on
  * any registered query.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    val rows = graft.SparkEntry.selected().sortBy(_.name)
    val plansDir = sys.env.get("SPARK_GRAFT_PLANS_DIR")
    // A/B experiment knob: SPARK_GRAFT_CONF="key=val;key=val" overlays
    // arbitrary session confs on the Bench-identical baseline below
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
    val spark = extra.foldLeft(graft.GraftSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val cpuNs = new AtomicLong
    val deserMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def resetCounters(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTimeMs.set(0); cpuNs.set(0); deserMs.set(0); gcMs.set(0)
      shufReadB.set(0); shufWriteB.set(0)
    }

    println("name\twall_med\tjobs\tstages\ttasks\ttask_time_s\ttask_cpu_s\tdeser_s\tshuf_read_mb\tshuf_write_mb\tgc_ms")
    rows.foreach { q =>
      val name = q.name
      val fn = graft.SparkEntry.run(q) _
      // listener events are async — settle before the delta bracket
      def settle(): Unit = Thread.sleep(300)
      val walls = (1 to reps).map { r =>
        if (r == reps) { settle(); resetCounters() }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      settle()
      plansDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val txt = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$name.txt"), txt)
      }
      val med = walls.sorted.apply(walls.size / 2)
      println(f"$name\t$med%.3f\t${jobs.get}\t${stages.get}\t${tasks.get}\t${taskTimeMs.get / 1e3}%.2f\t${cpuNs.get / 1e9}%.2f\t${deserMs.get / 1e3}%.2f\t${shufReadB.get / 1e6}%.2f\t${shufWriteB.get / 1e6}%.2f\t${gcMs.get}")
    }
    spark.stop()
  }
}
