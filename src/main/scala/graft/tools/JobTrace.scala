package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-JOB attribution trace (round-17 measurement lens, guide §1).
  *
  * Runs ONE registry query (SPARK_GRAFT_ONLY) `reps` times under the
  * Bench-identical session and, for the LAST rep, prints one line per
  * Spark job: job id, #stages, call site, and the job description —
  * answering where a job-floor-bound query's jobs actually come from
  * (checkpoint? broadcast? AQE stage? final action?).
  *
  * Dev-only measurement harness: never run by the driver.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(2)
    val name = sys.env.getOrElse("SPARK_GRAFT_ONLY", "g14_hits")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    case class J(id: Int, stages: Int, site: String, desc: String)
    val q = new ConcurrentLinkedQueue[J]()
    val tasksByJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (record) {
        val site = j.stageInfos.map(_.name).distinct.mkString(" | ")
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        q.add(J(j.jobId, j.stageInfos.size, site, desc))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
    })

    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      if (r == reps) { Thread.sleep(300); record = true }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[rep $r] $name wall=$dt%.3f")
    }
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val jobs = q.asScala.toSeq.sortBy(_.id)
    println(s"== $name: ${jobs.size} jobs in last rep ==")
    jobs.foreach(j => println(f"job ${j.id}%4d stages=${j.stages}%2d  ${j.site}%-50s ${j.desc.take(80)}"))
    println("== by call site ==")
    jobs.groupBy(_.site).toSeq.sortBy(-_._2.size)
      .foreach { case (s, js) => println(f"${js.size}%4d  $s") }
    spark.stop()
  }
}
