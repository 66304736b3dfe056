package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level guards on `src/main/scala`: every main builds its
  * session through `GraftSession.build` (core.scala), every derived
  * width reads the session width through `Widths` (core.scala),
  * operator, function, source and report code never reads the process
  * environment, no code runs a Structured Streaming query, and there
  * is one connected-components loop, only `SignalKernel` spells the
  * per-signal row tuple, each oracle fragment `SparkEntry` shares is
  * spelled once, in its helper, only `SparkEntry` names the oracle's
  * literal stash, and every doc comment sits on a definition. Each rule
  * stops one kind of drift from coming back a file at a time.
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

  test("one connected-components loop, and no Observation") {
    // every component query, string-keyed corr_cluster too, runs the
    // RDD rounds of Dedup.minLabelLoop; an observed DataFrame loop pays
    // several driver round trips per round
    val loops = sources(root).flatMap { case (p, src) =>
      "def minLabelLoop\\w*".r.findAllIn(src).map(_ => p.getFileName.toString)
    }
    assert(loops == Seq("Dedup.scala"), s"minLabelLoop defined in $loops")
    val obs = sources(root).collect {
      case (p, src) if src.contains("sql.Observation") || src.contains("Observation(") =>
        p.getFileName.toString
    }
    assert(obs.isEmpty, s"Observation constructed in $obs")
  }

  test("only SignalKernel names the per-signal row tuple") {
    // whole-series kernels take their series from SignalKernel.series as
    // sorted primitive arrays; a call site that decodes, sorts and
    // unzips the boxed rows itself is the layout drifting back
    val row = "\\(String,\\s*String,\\s*Long,\\s*(Double|Long)\\)".r
    val hits = sources(root).collect {
      case (p, src) if row.findFirstIn(src).isDefined => p.getFileName.toString
    }
    assert(hits == Seq("SignalKernel.scala"), s"per-signal row tuple named in $hits")
  }

  test("each shared oracle fragment is spelled only inside its SparkEntry helper") {
    // a new query or oracle calls the helper; a second spelling of one
    // of these contracts would let a later fix land in one copy only
    val src = Files.readString(root.resolve("graft/SparkEntry.scala"))
    val families = Seq(
      "val brk = when(" -> "private def sessions(",
      "CASE WHEN tsec - lag(tsec) OVER w > 1800" -> "private val SQL_SESS =",
      "CASE WHEN mr > 0 THEN mr ELSE 1.0 END" -> "private val SQL_MR =",
      "st0 AS (SELECT name, node, count(*) AS n," -> "private def sqlKsigma(",
      "regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct" ->
        "private val SQL_TEXT_COUNTS =",
      "i -> w[i] || ' ' || w[i + 1]))) AS s FROM" -> "private def sqlShingles(",
      "SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id" ->
        "private def sqlComponents(",
      "row_number() OVER (PARTITION BY n.vec_id ORDER BY" -> "private def sqlAssign(")
    families.foreach { case (text, helper) =>
      val start = src.indexOf(helper)
      assert(start >= 0, s"no helper `$helper`")
      val end = src.indexOf("\n\n", start)
      val at = Iterator.iterate(src.indexOf(text))(i => src.indexOf(text, i + 1))
        .takeWhile(_ >= 0).toSeq
      val outside = at.filter(i => i < start || i > end)
        .map(i => src.substring(0, i).count(_ == '\n') + 1)
      assert(at.nonEmpty && outside.isEmpty,
        s"`$text` spelled outside `$helper` at SparkEntry.scala lines $outside")
    }
  }

  test("only SparkEntry names the oracle's literal stash") {
    // the entries whose oracles replay the stash fill it; an operator
    // that stashes runs a job that only the oracle needs
    val hits = sources(root).collect {
      case (p, src) if Seq("TwiddleStash", "EsdLamStash", "OracleLiterals").exists(src.contains) =>
        p.getFileName.toString
    }
    assert(hits == Seq("SparkEntry.scala"), s"stash named in $hits")
  }

  test("no doc comment sits directly above another") {
    // Scaladoc attaches only the second one to the definition; the
    // first documents nothing
    val hits = sources(root).flatMap { case (p, src) =>
      src.linesIterator.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"${p.getFileName}:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"orphaned doc comments end at $hits")
  }
}
