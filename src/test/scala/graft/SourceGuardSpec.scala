package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules for `src/main/scala` that a convention alone would not
  * hold:
  *  - every parquet read goes through `graft.sources.Tables.parquet`,
  *    the one reader that skips Spark's schema-inference job;
  *  - `repartitionByRange` takes no partition count, so AQE sizes the
  *    range fan-out from bytes. The count overload is recognised by a
  *    first argument that is an integer literal or a bare identifier
  *    followed by more arguments (partition columns are written as
  *    `col(...)`, `$"..."` or `expr(...)` at the call site).
  * Comment and scaladoc lines are skipped, so prose may name the calls. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (file, line number, line) for every code line of `src/main/scala`. */
  private lazy val lines: Seq[(Path, Int, String)] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if !Seq("*", "/*", "//").exists(l.trim.startsWith) => (p, i + 1, l)
        }
      }

  private val parquetRead = """\bread\s*(\.\s*(schema|option|options)\s*\([^)]*\)\s*)*\.\s*parquet\s*\(""".r
  private val countedRange = """repartitionByRange\(\s*([0-9]|[a-z][A-Za-z0-9_.]*\s*,)""".r

  /** The lines of `Tables.parquet`'s body. */
  private lazy val readerLines: Set[Int] = {
    val tables = lines.filter(_._1.endsWith("graft/sources/Tables.scala"))
    val start = tables.find(_._3.contains("def parquet(")).map(_._2).get
    val end = tables.find(t => t._2 > start && t._3.matches("""\s*(private )?def .*""")).map(_._2).get
    (start until end).toSet
  }

  test("src/main reads parquet only through Tables.parquet") {
    val hits = lines.filter(l => parquetRead.findFirstIn(l._3).nonEmpty)
    val outside = hits.filterNot(l =>
      l._1.endsWith("graft/sources/Tables.scala") && readerLines(l._2))
    assert(outside.isEmpty, outside.map(l => s"${l._1}:${l._2}: ${l._3.trim}").mkString("\n"))
    assert(hits.size == 2, "the reader's job-free read and its inference fallback")
  }

  test("src/main passes no partition count to repartitionByRange") {
    val hits = lines.filter(l => countedRange.findFirstIn(l._3).nonEmpty)
    assert(hits.isEmpty, hits.map(l => s"${l._1}:${l._2}: ${l._3.trim}").mkString("\n"))
    assert(lines.exists(_._3.contains("repartitionByRange(col(")), "the guard matches no call")
  }
}
