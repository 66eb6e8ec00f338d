package graft

import org.apache.spark.sql.{Encoder, SparkSession}

/** Reads back a range-partitioned parquet write file by file, to check
  * its layout: part files in partition order, each file's sort key in
  * file order. */
object RangeLayout {
  def keysByFile[T: Encoder](spark: SparkSession, path: String, key: String): Seq[Seq[T]] =
    new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted.toSeq
      .map(n => spark.read.parquet(s"$path/$n").select(key).as[T].collect().toSeq)

  /** Every file sorted and non-empty, and file i's max below file i+1's min. */
  def isRangeLayout[T](files: Seq[Seq[T]])(implicit ord: Ordering[T]): Boolean =
    files.forall(f => f.nonEmpty && f == f.sorted) &&
      files.sliding(2).forall {
        case Seq(a, b) => ord.lt(a.last, b.head)
        case _ => true
      }

  /** `body` with AQE's partition coalescing off, restored afterwards. */
  def withoutCoalescing[A](spark: SparkSession)(body: => A): A = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }
}
