package graft

import graft.sources.DocumentsJsonl
import java.nio.file.Files

class DocumentsJsonlSpec extends SparkTestBase {

  private def writeJsonl(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("jsonl")
    Files.writeString(dir.resolve("part-0.jsonl"),
      lines.mkString("\n") + "\n")
    dir.toString
  }

  test("valid lines parse, malformed lines are quarantined not fatal") {
    val path = writeJsonl(Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}""",
      """{"doc_id": 2, "text": "zweite zeile", "lang": "de", "source": "web"}""",
      """this is not json at all{{{""",
      """{"doc_id": 4, "lang": "en", "source": "web"}""",
      """{"doc_id": 5, "text": "extra ok", "lang": "fr", "source": "book", "unknown_field": 9}"""))
    val docs = DocumentsJsonl.documents(spark, path).orderBy("doc_id").collect()
    assert(docs.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
    assert(docs.head.getString(1) == "hello world")
    assert(docs.head.getLong(4) == 11L) // n_chars derived

  }

  test("jsonl docs flow into the curation pipeline unchanged") {
    val path = writeJsonl(Seq(
      """{"doc_id": 10, "text": "the cat is on the mat and it is fine", "lang": "en", "source": "web"}""",
      """{"doc_id": 11, "text": "der hund ist nicht mit das ein zu den", "lang": "de", "source": "web"}"""))
    val docs = DocumentsJsonl.documents(spark, path)
    val gate = graft.operators.TextAnalysis.qualityGate(docs, minTokens = 3)
      .orderBy("doc_id").collect()
    assert(gate.length == 2)
    assert(gate.head.getAs[Int]("keep") == 1)   // english doc passes
    assert(gate.last.getAs[Int]("ok_lang") == 0) // german doc fails the lang gate
  }

  test("CurationReport.run reads a JSONL corpus through its valid documents") {
    // a dir named *.jsonl: one corrupt line and one line with no text
    // drop out, and the two valid documents get their n_chars
    val dir = Files.createTempDirectory("curate").resolve("docs.jsonl")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-0.jsonl"), Seq(
      """{"doc_id": 1, "text": "the cat is on the mat and it is fine today", "lang": "en", "source": "web"}""",
      """{"doc_id": 2, "text": "a dog sat by the door and it was not loud", "lang": "en", "source": "web"}""",
      """not json {{{""",
      """{"doc_id": 4, "lang": "en", "source": "web"}""").mkString("\n") + "\n")
    val report = graft.report.CurationReport.run(spark, dir.toString)
    val summary = report.linesIterator.dropWhile(!_.startsWith("## Summary"))
      .drop(2).next()
    assert(summary.matches("""\d+ of 2 documents .*"""), summary)
  }
}
