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
  *    `col(...)`, `$"..."` or `expr(...)` at the call site);
  *  - a kernel enters a plan only as its `graft.functions` Column: no
  *    `call_function(`, no `.register(` on a `graft.functions` object,
  *    and no `createOrReplaceTempFunction` outside
  *    `SortedIntersectCount.register` (kept for the perfbench harness).
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

  /** The line numbers of the body of `file`'s `def name(`, up to the
    * next `def` or the end of the file. */
  private def body(file: String, name: String): Set[Int] = {
    val ls = lines.filter(_._1.endsWith(file))
    val start = ls.find(_._3.contains(s"def $name(")).map(_._2).get
    val end = ls.find(t => t._2 > start && t._3.matches("""\s*(private )?def .*""")).map(_._2)
    (start until end.getOrElse(ls.last._2 + 1)).toSet
  }

  /** The lines of `Tables.parquet`'s body. */
  private lazy val readerLines: Set[Int] = body("graft/sources/Tables.scala", "parquet")

  private def report(hits: Seq[(Path, Int, String)]): String =
    hits.map(l => s"${l._1}:${l._2}: ${l._3.trim}").mkString("\n")

  test("src/main reads parquet only through Tables.parquet") {
    val hits = lines.filter(l => parquetRead.findFirstIn(l._3).nonEmpty)
    val outside = hits.filterNot(l =>
      l._1.endsWith("graft/sources/Tables.scala") && readerLines(l._2))
    assert(outside.isEmpty, report(outside))
    assert(hits.size == 2, "the reader's job-free read and its inference fallback")
  }

  test("src/main passes no partition count to repartitionByRange") {
    val hits = lines.filter(l => countedRange.findFirstIn(l._3).nonEmpty)
    assert(hits.isEmpty, report(hits))
    assert(lines.exists(_._3.contains("repartitionByRange(col(")), "the guard matches no call")
  }

  test("src/main builds kernel Columns directly and registers no kernel") {
    val kernels = lines.filter(_._1.toString.contains("graft/functions/"))
      .flatMap(l => """^object (\w+)""".r.findFirstMatchIn(l._3).map(_.group(1))).toSet
    assert(kernels.contains("VectorDotExact") && kernels.contains("SortedIntersectCount"))
    val registerCall = ("""\b(""" + kernels.mkString("|") + """)\.register\(""").r
    val calls = lines.filter(l => l._3.contains("call_function(") ||
      registerCall.findFirstIn(l._3).nonEmpty)
    assert(calls.isEmpty, report(calls))
    val keep = body("graft/functions/SortedIntersectCount.scala", "register")
    val temps = lines.filter(_._3.contains("createOrReplaceTempFunction"))
    val outside = temps.filterNot(l =>
      l._1.endsWith("graft/functions/SortedIntersectCount.scala") && keep(l._2))
    assert(outside.isEmpty, report(outside))
    assert(temps.size == 1, "SortedIntersectCount.register's one registry write")
  }
}
