package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level guards on `src/main/scala`: every main builds its
  * session through `GraftSession.build` (core.scala), every derived
  * width reads the session width through `Widths` (core.scala),
  * operator, function, source and report code never reads the process
  * environment, and no code runs a Structured Streaming query. Each
  * rule stops one kind of drift from coming back a file at a time.
  */
class SourceGuardSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources(under: Path): Seq[(Path, String)] = {
    val files = Files.walk(under)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => (p, Files.readString(p)))
    finally files.close()
  }

  test("SparkSession.builder appears only in core.scala") {
    val hits = sources(root).collect {
      case (p, src) if src.contains("SparkSession.builder") => p.getFileName.toString
    }
    assert(hits == Seq("core.scala"))
  }

  test("operator, function, source and report code reads no env var") {
    val dirs = Seq("operators", "functions", "sources", "report").map(root.resolve("graft").resolve(_))
    val hits = dirs.flatMap(sources).collect {
      case (p, src) if src.contains("sys.env") || src.contains("System.getenv") => p.toString
    }
    assert(hits.isEmpty, s"env reads in $hits")
  }

  test("conf.numShufflePartitions is read only in core.scala") {
    // every derived width, the tile walks' and the label loop's too,
    // reads the session width through Widths
    val hits = sources(root).collect {
      case (p, src) if src.contains("conf.numShufflePartitions") => p.getFileName.toString
    }
    assert(hits == Seq("core.scala"))
  }

  test("no source imports Structured Streaming or calls writeStream") {
    // graft is a batch engine: a bundle or a table in, a report or a
    // frame out
    val hits = sources(root).collect {
      case (p, src) if src.contains("org.apache.spark.sql.streaming") ||
          src.contains(".writeStream") => p.getFileName.toString
    }
    assert(hits.isEmpty, s"streaming code in $hits")
  }
}
