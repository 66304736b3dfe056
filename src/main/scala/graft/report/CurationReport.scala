package graft.report

import graft.operators.Curation
import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame

/** Markdown curation report over a documents corpus — the LLM-pipeline
  * counterpart of [[AdvisorReport]]'s metrics report (report.tpl
  * analogue): the one page an operator reads to decide whether a crawl
  * snapshot is fit to train on.
  *
  * Sections: a one-line Summary verdict (total survival through the
  * funnel), the per-source survival funnel raw → quality gate →
  * near-dup canonical → decontaminated (the `curation_funnel`
  * operator, LSH scale path) with an inline-SVG bar chart
  * (dependency-free, like the advisor charts), language composition,
  * and per-source quality percentiles.
  *
  * Everything computes distributed; only |sources|-bounded frames are
  * collected for rendering, and the output is deterministic — ordered
  * rows, fixed formatting — so reports diff cleanly across snapshots.
  */
object CurationReport {

  private def pct(x: Double): String = f"${x * 100}%.1f%%"

  /** Minimal grouped-bar SVG: one group per source, four bars
    * (raw, gate, canonical, clean) scaled to the group's raw count.
    * Same dependency-free approach as AdvisorReport.svgChart.
    */
  private[report] def svgFunnel(rows: Seq[(String, Seq[Long])]): String = {
    if (rows.isEmpty) return ""
    val w = 640
    val h = 180
    val pad = 24
    val groupW = (w - 2 * pad).toDouble / rows.length
    val barW = groupW / 5.0
    val maxV = math.max(1L, rows.map(_._2.max).max).toDouble
    val fills = Seq("#888888", "#5b8bd0", "#4aa564", "#d08b5b")
    val sb = new StringBuilder
    sb.append(s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h" viewBox="0 0 $w $h">""")
    rows.zipWithIndex.foreach { case ((src, vals), gi) =>
      val x0 = pad + gi * groupW
      vals.zipWithIndex.foreach { case (v, bi) =>
        val bh = math.max(1.0, (h - 2 * pad) * v / maxV)
        val x = x0 + bi * barW
        val y = h - pad - bh
        sb.append(f"""<rect x="$x%.1f" y="$y%.1f" width="${barW * 0.9}%.1f" height="$bh%.1f" fill="${fills(bi % 4)}"/>""")
      }
      sb.append(f"""<text x="${x0 + groupW / 2}%.1f" y="${h - 6}" font-size="10" text-anchor="middle">$src</text>""")
    }
    sb.append("</svg>")
    sb.toString
  }

  /** Render the full report. `docs` must carry (doc_id, text, lang,
    * source, n_chars) — the documents-table schema.
    */
  def render(docs: DataFrame): String = {
    val funnel = Curation.curationFunnel(docs).orderBy("source").collect()
    val langs = TextAnalysis.sourceProfile(docs)
      .orderBy("source", "lang").collect()
    val qp = TextAnalysis.qualityPercentiles(docs).orderBy("source").collect()

    val nRaw = funnel.map(_.getAs[Long]("n_raw")).sum
    val nClean = funnel.map(_.getAs[Long]("n_clean")).sum
    val sb = new StringBuilder
    sb.append("# Curation report\n\n")
    sb.append("## Summary\n\n")
    if (nRaw == 0)
      sb.append("The corpus is empty.\n\n")
    else
      sb.append(s"$nClean of $nRaw documents (${pct(nClean.toDouble / nRaw)}) " +
        "survive the full curation funnel " +
        "(quality gate → near-dup canonical → decontamination) " +
        s"across ${funnel.length} sources.\n\n")

    sb.append("## Survival funnel by source\n\n")
    sb.append("| source | raw | gated | canonical | clean | gate rate | clean rate |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    funnel.foreach { r =>
      sb.append(s"| ${r.getAs[String]("source")} | ${r.getAs[Long]("n_raw")} " +
        s"| ${r.getAs[Long]("n_gate")} | ${r.getAs[Long]("n_canonical")} " +
        s"| ${r.getAs[Long]("n_clean")} | ${pct(r.getAs[Double]("gate_rate"))} " +
        s"| ${pct(r.getAs[Double]("clean_rate"))} |\n")
    }
    sb.append("\n")
    sb.append(svgFunnel(funnel.toSeq.map(r => (r.getAs[String]("source"),
      Seq(r.getAs[Long]("n_raw"), r.getAs[Long]("n_gate"),
        r.getAs[Long]("n_canonical"), r.getAs[Long]("n_clean"))))))
    sb.append("\n\n")

    sb.append("## Language composition\n\n")
    sb.append("| source | lang | docs | avg chars | share of source |\n")
    sb.append("|---|---|---|---|---|\n")
    langs.foreach { r =>
      sb.append(s"| ${r.getAs[String]("source")} | ${r.getAs[String]("lang")} " +
        s"| ${r.getAs[Long]("n_docs")} | ${r.getAs[Double]("avg_chars")} " +
        s"| ${pct(r.getAs[Double]("frac_of_source"))} |\n")
    }
    sb.append("\n")

    sb.append("## Quality score percentiles by source\n\n")
    sb.append("| source | docs | p10 | p50 | p90 |\n")
    sb.append("|---|---|---|---|---|\n")
    qp.foreach { r =>
      sb.append(s"| ${r.getAs[String]("source")} | ${r.getAs[Long]("n_docs")} " +
        s"| ${r.getAs[Double]("p10")} | ${r.getAs[Double]("p50")} " +
        s"| ${r.getAs[Double]("p90")} |\n")
    }
    sb.toString
  }

  /** CLI helper: read a corpus (the valid JSONL documents via
    * DocumentsJsonl, otherwise parquet) and render.
    */
  def run(spark: org.apache.spark.sql.SparkSession, input: String): String = {
    val docs =
      if (input.endsWith(".jsonl") || input.endsWith(".jsonl.gz"))
        graft.sources.DocumentsJsonl.documents(spark, input)
      else spark.read.parquet(input)
    render(docs)
  }
}
