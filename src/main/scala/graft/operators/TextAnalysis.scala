package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text statistics for training-data curation: token counts, quality
  * scores, heuristic language ID, content fingerprints. Pure column
  * expressions (whole-stage codegen; no UDFs) — a single narrow map over
  * the corpus, trivially scalable.
  */
object TextAnalysis {

  private def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "for", "on"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"),
    "es" -> Seq("el", "los", "las", "y", "de", "que", "en", "por", "para", "es"))

  /** Token count, char count, mean token length. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      size(w).cast("bigint").as("n_tokens"),
      length(col("text")).cast("bigint").as("n_chars_calc"),
      r4(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        size(w)).as("mean_token_len"))
  }

  /** BPE-style pre-tokenization count: letter runs, digit runs, and
    * single punctuation marks — the split GPT-family pre-tokenizers
    * apply before byte-pair merging, a much closer token-budget proxy
    * than whitespace words (punctuation and numbers tokenize apart).
    */
  def bpeTokenCount(docs: DataFrame): DataFrame = {
    val pieces = regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))
    docs.select(
      col("doc_id"),
      size(pieces).cast("bigint").as("n_bpeish"),
      size(words(col("text"))).cast("bigint").as("n_words"))
  }

  /** Lexical-diversity stats: type/token ratio and word-distribution
    * Shannon entropy per doc — the cheap repetition/diversity signal a
    * quality gate reads next to [[qualityScore]] (template spam has low
    * entropy at normal length; boilerplate keyword stuffing has low
    * TTR). Entropy uses the exact-count decomposition
    * H = ln n − (Σ c·qln c)/n with qln = the ×1e6-quantized
    * cross-engine exact ln ([[graft.functions.ExactMath]]): the sum is
    * an exact INTEGER (order-free, partition-invariant) and the only
    * doubles are the bit-exact lnInt outputs — no libm, no
    * sum-ordering noise (the r5 ln-audit conversion).
    *
    * Plan: one (doc_id, word) count shuffle, then a per-doc rollup —
    * both keyed aggregates, no raw text past the first projection.
    */
  def wordEntropy(docs: DataFrame): DataFrame = {
    val wc = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val qlc = floor((graft.functions.ExactMath.lnIntCol(col("c")) +
      lit(1e-9)) * lit(1e6) + lit(0.5)).cast("long")
    wc.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * qlc).as("slc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        r4(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        r4(graft.functions.ExactMath.lnIntCol(col("n_tokens")) -
          col("slc").cast("double") / col("n_tokens") / lit(1e6))
          .as("h_word"))
  }

  private def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double")

  private def digitCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double")

  /** The weighted composite quality score (shared by [[qualityScore]]
    * and [[qualityGate]] so both report the identical number). */
  private def qualityExpr(text: Column): Column = {
    val w = words(text)
    val nTok = size(w).cast("double")
    val len = length(text).cast("double")
    val shortToks = size(filter(w, t => length(t) <= 2)).cast("double")
    lit(1.0) - least(punctCount(text) / len * 5.0, lit(0.3)) -
      least(digitCount(text) / len * 5.0, lit(0.3)) -
      least(shortToks / nTok, lit(0.3))
  }

  private def langHits(text: Column, lang: String): Column =
    size(array_intersect(array_distinct(words(text)),
      array(Stopwords(lang).map(lit): _*)))

  private def cjkChars(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))

  /** The language verdict (shared by [[langId]] and [[qualityGate]]). */
  private def langPredExpr(text: Column): Column = {
    val en = langHits(text, "en"); val de = langHits(text, "de")
    val fr = langHits(text, "fr"); val es = langHits(text, "es")
    when(cjkChars(text) > 0, "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Quality scoring: punctuation/digit/stopword/short-token ratios and a
    * weighted composite — the standard cheap pre-filters for LLM corpora.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nTok = size(w).cast("double")
    val len = length(col("text")).cast("double")
    val punct = punctCount(col("text"))
    val digits = digitCount(col("text"))
    val stops = size(array_intersect(array_distinct(w),
      array(Stopwords("en").map(lit): _*))).cast("double")
    val shortToks = size(filter(w, t => length(t) <= 2)).cast("double")
    docs.select(
      col("doc_id"),
      r4(punct / len).as("punct_ratio"),
      r4(digits / len).as("digit_ratio"),
      r4(stops / lit(10.0)).as("stop_hit_ratio"),
      r4(shortToks / nTok).as("short_tok_ratio"),
      r4(qualityExpr(col("text"))).as("quality"))
  }

  /** Heuristic language ID: distinct-stopword hits per language + CJK
    * character presence, deterministic priority on ties.
    */
  def langId(docs: DataFrame): DataFrame = {
    val zh = cjkChars(col("text"))
    docs.select(
      col("doc_id"), col("lang").as("lang_true"),
      langHits(col("text"), "en").cast("bigint").as("hits_en"),
      langHits(col("text"), "de").cast("bigint").as("hits_de"),
      langHits(col("text"), "fr").cast("bigint").as("hits_fr"),
      langHits(col("text"), "es").cast("bigint").as("hits_es"),
      zh.cast("bigint").as("zh_chars"),
      langPredExpr(col("text")).as("lang_pred"))
  }

  /** Composite curation gate — the keep/drop decision an LLM ingest
    * pipeline applies per document: English, token budget, quality
    * threshold. Per-reason flags ride along because at corpus scale
    * WHY a document dropped matters as much as that it dropped
    * (rebalancing filters needs the reason histogram). Thresholds
    * compare the rounded score → engine-deterministic row set.
    */
  def qualityGate(docs: DataFrame, minTokens: Long = 5, maxTokens: Long = 5000,
                  minQuality: Double = 0.5,
                  keepCols: Seq[String] = Nil): DataFrame =
    docs.select(keepCols.map(col) ++ Seq(col("doc_id"),
        size(words(col("text"))).cast("bigint").as("n_tokens"),
        r4(qualityExpr(col("text"))).as("quality"),
        langPredExpr(col("text")).as("lang_pred")): _*)
      .withColumn("ok_lang", (col("lang_pred") === "en").cast("int"))
      .withColumn("ok_len",
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).cast("int"))
      .withColumn("ok_quality", (col("quality") >= minQuality).cast("int"))
      .withColumn("keep",
        (col("ok_lang") === 1 && col("ok_len") === 1 && col("ok_quality") === 1)
          .cast("int"))

  /** Rolling polynomial hash fingerprint over characters (mod a prime to
    * stay overflow-free): a cheap order-sensitive content digest. Native
    * codegen expression (see VectorExpressions.RollingHash) — the HOF
    * `aggregate(split(text, ''))` formulation is CodegenFallback and
    * allocates a per-character array per row, which at corpus scale
    * makes the fingerprint scan allocation-bound.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      org.apache.spark.sql.graft.VectorExpressions.textHash(col("text")).as("fp"),
      length(col("text")).cast("bigint").as("n_chars_calc"))

  /** PII redaction patterns, shared by the scrubber and its counts.
    * Dialect-portable subset only (no \b, no \d): Java regex and RE2
    * agree on character classes, greedy quantifiers, and leftmost
    * non-overlapping replace for these shapes — the cross-engine
    * contract the oracle verifies on the scrubbed-text digest.
    * Order matters: emails first (they contain dots and digits that
    * the later patterns would otherwise shred), then IPv4, then long
    * digit runs.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "ipv4" -> "([0-9]{1,3}[.]){3}[0-9]{1,3}",
    "digits" -> "[0-9]{7,}")

  /** Redact PII-shaped spans (emails, IPv4 addresses, 7+-digit runs)
    * and count each kind — the standard pre-release scrub pass over a
    * training corpus. Pure codegen'd regexp expressions, one narrow
    * map over the scan; emits the scrubbed text plus an md5 digest so
    * equality of the full redacted string is cheap to verify
    * downstream (and across engines).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (kind, pat) =>
      regexp_count(col("text"), lit(pat)).cast("bigint").as(s"n_$kind")
    }
    val scrubbed = PiiPatterns.foldLeft(col("text")) { case (c, (kind, pat)) =>
      regexp_replace(c, pat, s"<$kind>")
    }
    docs.select(col("doc_id") +: counts :+
      md5(scrubbed.cast("binary")).as("scrub_fp") :+
      length(scrubbed).cast("bigint").as("scrub_len"): _*)
  }

  /** Repetition diagnostics per document — the Gopher-rule family
    * (Rae et al. 2021 §A1.1): fraction of tokens taken by the single
    * most frequent word, and the fraction of word bigrams / trigrams
    * that are repeats of an earlier occurrence. Highly repetitive
    * documents (boilerplate, keyword stuffing, generation loops) are
    * the canonical drop class these rules exist for.
    *
    * All counts are exact integers computed in-task with array
    * expressions — a single narrow map over the corpus scan, zero
    * shuffles (the explode + groupBy(doc_id, gram) formulation would
    * shuffle the whole tokenized corpus for a per-document statistic).
    * The top-word scan is O(distinct × n) per document, bounded by
    * document length; for book-length documents switch the top-word
    * term to the explode path and keep the n-gram terms as-is.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("w"))
    val w = col("w")
    val topN = array_max(transform(array_distinct(w),
      x => size(filter(w, y => y === x)))).cast("bigint")
    // sequence(1, n-k+1) flips to a descending range when n < k — gate
    // short documents to an empty gram list instead
    def grams(k: Int): Column =
      when(size(w) >= k, expr(
        s"transform(sequence(1, size(w) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(w, i, $k)))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        r4((size(g) - size(array_distinct(g))).cast("double") / size(g)))
        .otherwise(lit(0.0))
    base.select(
      col("doc_id"),
      size(w).cast("bigint").as("n_words"),
      topN.as("top_word_n"),
      r4(topN.cast("double") / size(w)).as("top_word_frac"),
      dupFrac(grams(2)).as("dup_bigram_frac"),
      dupFrac(grams(3)).as("dup_trigram_frac"))
  }

  /** Per-document cross-entropy under a corpus-trained character-bigram
    * language model — the cheap stand-in for the LM-perplexity filter
    * (CCNet / Gopher style): text whose character transitions are
    * unlike the corpus (mojibake, key-mash, foreign-script leakage)
    * scores high and gets dropped.
    *
    * Model: P(c₂|c₁) = (count(c₁c₂)+1) / (count(c₁·)+V), Laplace
    * smoothing over the observed vocabulary V. Plan: the gram table is
    * bounded by charset² regardless of corpus size → broadcast into the
    * scoring join; the per-doc aggregate sums ×1e6-quantized integer
    * log-probs (exact, order-independent — a raw double sum over
    * shuffled gram rows would be partition-order noise).
    */
  def bigramEntropy(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the gram vocabulary is bounded by charset² whatever the corpus
    // size, so the trained model comes back to the driver as one small
    // map and scoring becomes a zero-shuffle scan (the first version
    // shuffled every gram row twice — once for the LM aggregate, once
    // for the per-doc score join — and was the most expensive query in
    // the bench at 7 s; this shape is 10×)
    // the same Java substring loop trains and scores (Spark's substring
    // splits on codepoints, Java's on UTF-16 units — mixing them would
    // disagree on surrogate-pair text); the per-partition HashMap
    // collapses the gram stream to ≤ charset² rows BEFORE any row
    // crosses the encoder boundary — a flatMap-per-bigram Dataset paid
    // encoder serialization per gram occurrence and regressed 4.4×
    val counts = docs.filter(length(col("text")) >= 2)
      .select(lower(col("text"))).as[String]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          var i = 0
          val n = t.length - 1
          while (i < n) {
            val g = t.substring(i, i + 2)
            m.update(g, m.getOrElse(g, 0L) + 1L)
            i += 1
          }
        }
        m.iterator
      }
      .toDF("g", "cnt")
      .groupBy("g")
      .agg(sum("cnt").as("cg"))
      .as[(String, Long)].collect()
    val ctx = counts.groupBy(_._1.substring(0, 1))
      .map { case (c1, gs) => c1 -> gs.map(_._2).sum }
    val v = counts.iterator.map(_._1.substring(1)).toSet.size
    // per-gram quantized bits: exact integers, so per-doc sums are
    // order-independent (partition-invariant) by construction
    val qbits: Map[String, Long] = counts.iterator.map { case (g, cg) =>
      // ExactMath: bits = −ln((cg+1)/(ctx+v))/LN2 with the cross-engine
      // exact integer ln and the shared LN2 literal — no libm in the
      // quantized path (the r5 ln-audit conversion)
      val bits = -((graft.functions.ExactMath.lnInt(cg + 1) -
        graft.functions.ExactMath.lnInt(ctx(g.substring(0, 1)) + v)) /
        graft.functions.ExactMath.LN2)
      g -> math.floor((bits + 1e-9) * 1e6 + 0.5).toLong
    }.toMap
    val bc = spark.sparkContext.broadcast(qbits)
    docs.filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val table = bc.value
        it.map { case (id, t) =>
          var qsum = 0L
          var i = 0
          val n = t.length - 1
          while (i < n) {
            qsum += table.getOrElse(t.substring(i, i + 2), 0L)
            i += 1
          }
          val bits = qsum.toDouble / n / 1e6
          val e4 = r4d(bits)
          // ppl = 2^entropy via the cross-engine exact exp kernel
          // (e4·LN2 then ExactMath.expFixed) — libm pow was the last
          // engine-computed transcendental on this hashed path
          val ppl = r4d(graft.functions.ExactMath.expFixed(
            e4 * graft.functions.ExactMath.LN2))
          (id, n.toLong, e4, ppl)
        }
      }
      .toDF("doc_id", "n_bigrams", "entropy_bits", "ppl")
  }

  /** ROC-AUC of the [[qualityScore]] heuristic against a binary label
    * (default: lang == posLang), per source — the calibration readout
    * a curation gate is tuned with: AUC ~0.5 means the score cannot
    * separate the target slice, ~1 means a threshold gate works.
    * Mann-Whitney over exact integers: scores quantize to their ×1e4
    * grid (they are already 4-dp), ties contribute ½ via the doubled
    * numerator num2 = Σ_s p_s·(2·cumNegBelow + n_s) = 2U, and
    * auc_x1e4 = round(num2·1e4 / (2·n₁·n₀)) is pure integer
    * arithmetic — the hashed value never touches a double (the q34
    * discipline); the display double is one exact division. Sources
    * with a one-sided label are dropped (AUC undefined).
    */
  def qualityAuc(docs: DataFrame, posLang: String = "en"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("qs")
    val scored = qualityScore(docs).select(col("doc_id"), col("quality"))
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .withColumn("qs", floor(col("quality") * lit(1e4) + lit(0.5)).cast("long"))
      .withColumn("pos", (col("lang") === posLang).cast("long"))
    scored.groupBy("source", "qs")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("ng"))
      .withColumn("cumneg", coalesce(sum("ng").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("contrib", col("p") * (lit(2L) * col("cumneg") + col("ng")))
      .groupBy("source")
      .agg(sum("p").as("n_pos"), sum("ng").as("n_neg"),
        sum("contrib").as("num2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      // DECIMAL(38,0) numerator (r7 advice): num2 ≤ 2·n_pos·n_neg, so
      // the ×1e4-scaled BIGINT numerator overflows once n_pos·n_neg
      // passes ~2.3e14 (~15M × 15M docs in one source — reachable at
      // corpus scale) and Spark's non-ANSI wrap would silently corrupt
      // the AUC while the oracle's engine raises. 38 digits hold the
      // numerator for any source up to 10^16 docs a side (2·1e32·1e4 =
      // 2e36 < 1e38); `div` on decimals yields BIGINT, so the hashed
      // column type is unchanged. Oracle twin: HUGEINT casts.
      .withColumn("auc_x1e4",
        expr("(2 * CAST(num2 AS DECIMAL(38,0)) * 10000 + " +
          "2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) div " +
          "(4 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"))
      .select(col("source"), col("n_pos"), col("n_neg"), col("auc_x1e4"),
        (col("auc_x1e4").cast("double") / lit(1e4)).as("auc"))
  }

  /** Per-document character-class composition and script-mix score:
    * shares of letters / digits / punctuation / whitespace / other
    * (×1e4 integers), the dominant class, and mix = 1e4 − max share —
    * the cheap obfuscation/mixed-content signal a curation gate reads
    * BEFORE tokenization (spam padded with digits or symbol runs, and
    * non-Latin text in a Latin-expected slice, both land in high
    * `other`/`digit` shares that the Gopher-style word gates miss).
    *
    * The q34 discipline from birth: every hashed column is pure
    * integer arithmetic — class counts come from character-class
    * regex deletion (`length(x) − length(remove(x))`, identical
    * semantics both engines), shares are one rounded integer division
    * (2·c·1e4 + n) div (2n), dominant is an integer argmax with a
    * fixed class-order tiebreak, and no FP op exists anywhere. One
    * scan, no shuffle beyond the source's own layout — linear in
    * corpus bytes at any scale.
    */
  def scriptMix(docs: DataFrame): DataFrame = {
    val classes = Seq(
      "letter" -> "[A-Za-z]",
      "digit" -> "[0-9]",
      "punct" -> "[.,!?;:]",
      "space" -> "[ \t\n\r]")
    // counts and n are BIGINT from birth: length() is IntegerType and
    // 2·c·1e4 wraps (non-ANSI) past ~107k chars — the aucFromScores
    // overflow class; the DuckDB twin is already BIGINT (its length()
    // returns BIGINT), so the casts keep both engines on one type.
    val withCounts = classes.foldLeft(
      docs.select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"))) {
      case (df, (name, re)) =>
        df.withColumn(s"c_$name",
          col("n") - length(regexp_replace(col("text"), re, "")).cast("long"))
    }
    val counted = withCounts
      .withColumn("c_other",
        col("n") - col("c_letter") - col("c_digit") - col("c_punct") - col("c_space"))
      .filter(col("n") > 0)
    val all = classes.map(_._1) :+ "other"
    val withShares = all.foldLeft(counted) { (df, name) =>
      df.withColumn(s"${name}_x1e4",
        expr(s"(2 * c_$name * 10000 + n) div (2 * n)"))
    }
    // argmax by share with the FIXED class order as tiebreak: greatest
    // of (share, classRank) structs — classRank descends so the
    // earlier class wins ties on both engines
    val domStruct = all.zipWithIndex.map { case (name, i) =>
      struct(col(s"${name}_x1e4").as("s"),
        lit(all.length - i).as("r"), lit(name).as("nm"))
    }
    withShares
      .withColumn("dom", greatest(domStruct: _*))
      .select(col("doc_id"), col("n").cast("long").as("n_chars"),
        col("letter_x1e4"), col("digit_x1e4"), col("punct_x1e4"),
        col("space_x1e4"), col("other_x1e4"),
        col("dom.nm").as("dominant"),
        (lit(10000L) - col("dom.s")).as("mix_x1e4"))
  }

  /** Corpus composition profile: per (source, lang) document counts,
    * exact-integer mean length, and each cell's share of its source —
    * the telemetry a mixing policy is written against. One tiny
    * aggregate; the share is a window over the aggregate's |strata|
    * rows (the agg+join-back form would embed a second corpus scan).
    */
  def sourceProfile(docs: DataFrame): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window.partitionBy("source")
    docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("avg_chars",
        r4(col("chars").cast("double") / col("n_docs")))
      .withColumn("frac_of_source",
        r4(col("n_docs").cast("double") / sum("n_docs").over(bySource)))
      .select("source", "lang", "n_docs", "avg_chars", "frac_of_source")
  }

  /** Per-document n-gram novelty: the share of a doc's distinct word
    * bigrams that appear FIRST in this doc (minimum doc_id over the
    * corpus holds the claim) — the dedup-adjacent freshness signal:
    * boilerplate-heavy docs score near 0, template originators near 1.
    * One bigram explode + a min-aggregate keyed by the bigram's md5
    * digest (the raw bigram string dies in-task; the exchange carries
    * fixed-width digests, and md5 is computable by the oracle engine),
    * then a per-doc ratio of exact integers.
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    // spread before the explode (Dedup.spread): applied to the
    // explode-heavy operators only — a plain one-pass column scan does
    // not pay an exchange for parallelism it doesn't need
    val grams = Dedup.spread(docs)
      .select(col("doc_id"), words(col("text")).as("w"))
      // single-word docs have no bigrams; sequence(1, 0) DESCENDS
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1))))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
      // feeds the first-claim aggregate AND the join-back — persisted
      // so the corpus tokenizes once (prefixJaccard release convention)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    val first = grams.groupBy("gh").agg(min("doc_id").as("first_doc"))
    grams.join(first, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .withColumn("novelty",
        r4(col("n_novel").cast("double") / col("n_bigrams")))
  }

  /** Heavy hitters via a count-min sketch expressed as a BOUNDED
    * hash-aggregate: the depth×width counter table IS the sketch state
    * — the aggregate's key space is fixed at depth·width regardless of
    * corpus size, so map-side partial aggregation is exactly the CMS
    * update and the exchange carries depth·width rows, never the
    * vocabulary. The estimate probes the depth counters for a term and
    * takes the min — textbook CMS, overestimate-only. The row hash is
    * the low 64 bits of md5(term · salt), which both engines compute,
    * so the estimates are verified against the SQL oracle instead of
    * being an engine-internal sketch trusted as rows-only. Exact top-k
    * counts ride alongside to expose the overestimate envelope.
    */
  def heavyHitters(docs: DataFrame, k: Int = 20, width: Int = 2048,
                   depth: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val terms = docs.select(
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("term"))
    // per-term exact counts feed the counter build AND the top-k probe
    // — persist so the corpus tokenization runs once (prefixJaccard
    // release convention). At 100 TB this frame is the vocabulary (the
    // thing CMS exists to avoid shuffling) — the scale deployment
    // feeds raw occurrences straight into the (r, bkt) aggregate and
    // probes only the k query terms; here the exact column is part of
    // the operator's contract, so the vocabulary aggregate exists
    // anyway and the counters reuse it.
    val cnt = terms.groupBy("term").agg(count(lit(1)).as("exact_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    def bucket(r: Int): Column =
      (conv(substring(md5(concat(col("term"), lit("#" + r))), 17, 16), 16, 10)
        .cast(DecimalType(20, 0)) % width).cast("int")
    val counters = cnt
      .select(col("exact_n"),
        posexplode(array((0 until depth).map(bucket): _*)).as(Seq("r", "bkt")))
      .groupBy("r", "bkt").agg(sum("exact_n").as("cn"))
    val byCount = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("exact_n").desc, col("term").asc)
    val topk = cnt.withColumn("rk", row_number().over(byCount))
      .filter(col("rk") <= k)
    topk
      .select(col("term"), col("exact_n"),
        posexplode(array((0 until depth).map(bucket): _*)).as(Seq("r", "bkt")))
      .join(counters, Seq("r", "bkt"))
      .groupBy("term", "exact_n")
      .agg(min("cn").as("cms_n"))
      .orderBy(col("exact_n").desc, col("term").asc)
  }

  /** Per-document top-k terms by TF-rarity — the TF-IDF ranking with
    * the idf's `ln` replaced by the raw rarity ratio N/df. Rationale:
    * `ln` is monotone, so for a FIXED term the ordering across
    * documents is identical; across terms the log-free weight leans
    * harder on rare terms, which is the intended bias for keyword
    * extraction. Determinism: tf·N and df are exact integers, one
    * correctly-rounded IEEE division produces the score — bit-identical
    * on any engine with no rounding contract needed (Math.log is NOT
    * cross-engine bit-stable: measured 4/5000 one-ulp JVM-vs-DuckDB
    * divergences, the class of noise the r1 FAILs came from).
    *
    * Plan shape: tf = one (doc, term) aggregate; df = one term
    * aggregate over the tf output (both map-side combinable); N joins
    * in as a broadcast scalar; the per-doc top-k window partitions by
    * doc_id — input already bounded to distinct (doc, term) rows, and
    * ties break on the term string, so the result is total-order
    * deterministic.
    */
  def tfidfTop(docs: DataFrame, k: Int = 5): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("term"))
    // tf feeds both the score join and the df aggregate — persist it so
    // the corpus tokenization scan runs once (released by clearCache)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "rk", "term", "tf", "df", "score")
  }

  /** Per-SOURCE keyword extraction: the top-k terms that distinguish a
    * source from the rest of the corpus — [[tfidfTop]]'s aggregate
    * sibling (per-doc keywords answer "what is this document about";
    * per-source keywords answer "what does this feed contribute to
    * the mix"). tf = term occurrences within the source, df = number
    * of SOURCES containing the term, score = tf·S/df (the same
    * log-free rarity ratio — exact integers, one correctly-rounded
    * IEEE division, no cross-engine ln). Ranks break ties on the term
    * string. Plan: one (source, term) aggregate, one term aggregate
    * over it, S broadcast, a per-source top-k window over
    * pre-aggregated rows only.
    */
  def keywordsBySource(docs: DataFrame, k: Int = 5): DataFrame = {
    val terms = docs.select(col("source"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("term"))
    val tf = terms.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val ns = docs.select("source").distinct().agg(count(lit(1)).as("n_sources"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(ns))
      .withColumn("score",
        (col("tf") * col("n_sources")).cast("double") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("source", "rk", "term", "tf", "df", "score")
  }

  /** Language-ID confusion matrix: the measured quality of the langId
    * heuristic against the corpus's labeled `lang` — (true, predicted)
    * counts plus each cell's share of its true-language row. The same
    * move minhash_calibration / ann_recall made for their heuristics:
    * measure the stand-in instead of trusting it. One corpus scan into
    * a ≤ |langs|² aggregate.
    */
  def langidConfusion(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang_true")
    langId(docs)
      .groupBy("lang_true", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .withColumn("frac_of_true",
        r4(col("n").cast("double") / sum("n").over(w).cast("double")))
  }

  /** Gate telemetry per (source, lang): keep rate and per-reason drop
    * counts over [[qualityGate]] — what you read after retuning gate
    * thresholds to see WHERE the corpus thinned. Reasons overlap by
    * design (a doc can fail two gates); the columns are per-reason
    * counts, not a partition. Single scan (gate columns ride the
    * source/lang projection), |sources|·|langs| output rows.
    */
  def gateStats(docs: DataFrame, minTokens: Long = 5, maxTokens: Long = 5000,
                minQuality: Double = 0.5): DataFrame =
    qualityGate(docs, minTokens, maxTokens, minQuality,
        keepCols = Seq("source", "lang"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_keep"),
        sum(lit(1) - col("ok_lang")).as("fail_lang"),
        sum(lit(1) - col("ok_len")).as("fail_len"),
        sum(lit(1) - col("ok_quality")).as("fail_quality"))
      .withColumn("keep_rate",
        r4(col("n_keep").cast("double") / col("n_docs").cast("double")))

  /** Per-source quality-score percentiles (p10/p50/p90) — the
    * distribution you read before picking `minQuality` for the gate.
    * Discrete (exact-element) percentiles at integer ranks
    * ⌈p·n⌉ computed with pure integer arithmetic ((n+9) div 10 etc.),
    * so there is no interpolation and no cross-engine double risk:
    * the score at a rank of the sorted multiset is deterministic.
    */
  def qualityPercentiles(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val byQ = w.partitionBy("source").orderBy("q")
    val whole = w.partitionBy("source")
    docs.select(col("source"), r4(qualityExpr(col("text"))).as("q"))
      .withColumn("rv", row_number().over(byQ))
      .withColumn("n", count(lit(1)).over(whole))
      .groupBy("source")
      .agg(max("n").as("n_docs"),
        max(when(col("rv") === expr("(n + 9) div 10"), col("q"))).as("p10"),
        max(when(col("rv") === expr("(n + 1) div 2"), col("q"))).as("p50"),
        max(when(col("rv") === expr("(9 * n + 9) div 10"), col("q"))).as("p90"))
  }

  /** Token-length histogram per language (16-token bins): the length
    * distribution packing/chunking planning reads (H10/H12's input).
    * Exact integers end to end.
    */
  def lengthHist(docs: DataFrame, binTokens: Int = 16): DataFrame =
    docs.select(col("lang"),
        size(words(col("text"))).cast("bigint").as("n_tokens"))
      .groupBy(col("lang"), expr(s"n_tokens div $binTokens").as("len_bin"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))

  /** Top-k PMI word collocations over the corpus: pointwise mutual
    * information ln(p(w1w2) / (p(w1)·p(w2))) of adjacent word pairs,
    * floored at `minCount` occurrences (raw PMI without a count floor
    * just surfaces hapax noise). The collocation list is the standard
    * phrase-mining / tokenizer-vocabulary diagnostic next to the raw
    * frequency top-k of `text_ngram_freq`.
    *
    * All counts are exact integers from two corpus-scan aggregates
    * (unigrams, bigrams); the single ln is quantized to ×1e6 per
    * surviving bigram (ulp-absorbing, the text_perplexity convention)
    * and the top-k ranks on the quantized integer with a gram
    * tiebreak. The count floor cuts the candidate set BEFORE the
    * unigram joins, so the join volume is |grams ≥ minCount|, not
    * |vocabulary|².
    */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5, k: Int = 25): DataFrame = {
    // the tokenized corpus feeds the unigram aggregate, the bigram
    // aggregate, and the bigram total — persisted so raw text is
    // split once (prefixJaccard release convention)
    val toks = docs.select(words(col("text")).as("w")).persist().tracked
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist().tracked // per-term counts + the n1 total share it
    val bg = toks.select(explode(expr(
      "transform(sequence(1, size(w) - 1), i -> concat(w[i - 1], ' ', w[i]))")).as("g"))
    val bc = bg.groupBy("g").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val totals = uni.agg(sum("c").as("n1")).crossJoin(
      bg.agg(count(lit(1)).as("n2")))
    // ExactMath flat lnInt sum — ln(c12·n1²/(c1·n2·c2)) as
    // L(c12)+L(n1)+L(n1)−L(c1)−L(n2)−L(c2): bit-identical to the
    // oracle and free of the integer-product overflow the old
    // ratio form risked at corpus scale
    val L = (c: Column) => graft.functions.ExactMath.lnIntCol(c)
    val qln = floor((L(col("c12")) + L(col("n1")) + L(col("n1")) -
      L(col("c1")) - L(col("n2")) - L(col("c2")) +
      lit(1e-9)) * lit(1e6) + lit(0.5)).cast("long")
    bc
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .withColumn("w2", split(col("g"), " ").getItem(1))
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("qln", qln)
      .orderBy(col("qln").desc, col("g").asc)
      .limit(k)
      .select(col("g"), col("c12"),
        graft.Num.r4(col("qln").cast("double") / lit(1e6)).as("pmi_nats"))
  }

  /** Gopher-style repetition-free quality rule battery (Rae et al. 2021,
    * §A1.1, public): per-document structural measurements — word count,
    * mean word length, symbol-to-word ratio (#/ellipsis), bullet-line
    * and ellipsis-line fractions, alphabetic-word fraction, stopword
    * presence — each with its keep flag plus the conjunctive verdict.
    * Pure column expressions over one corpus scan (whole-stage codegen,
    * no shuffle); every flag compares the 4-dp-rounded ratio so the
    * keep/drop row set is engine-deterministic (the qualityGate
    * convention). Documents with no non-blank line report zero line
    * fractions (vacuously rule-clean) rather than null.
    */
  def gopherRules(docs: DataFrame, minWords: Long = 10, maxWords: Long = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val w = words(col("text"))
    val nW = size(w).cast("double")
    // leftmost non-overlapping matches in both Java regex and RE2, so
    // the '...' count agrees across engines by construction
    val symbols = size(regexp_extract_all(col("text"),
      lit("#|\\.\\.\\.|…"), lit(0))).cast("double")
    val ln = filter(transform(split(col("text"), "\n"), l => trim(l)),
      l => length(l) > 0)
    val nL = size(ln).cast("double")
    val bullets = size(filter(ln,
      l => substring(l, 1, 1).isin("-", "*", "•"))).cast("double")
    val ellipses = size(filter(ln,
      l => l.endsWith("...") || l.endsWith("…"))).cast("double")
    val alphaW = size(filter(w, t => t.rlike("[a-z]"))).cast("double")
    val stops = langHits(col("text"), "en")
    def lf(c: Column): Column = when(nL === 0.0, lit(0.0)).otherwise(c / nL)
    docs.select(
        col("doc_id"),
        size(w).cast("bigint").as("n_words"),
        r4(length(regexp_replace(col("text"), "\\s", "")).cast("double") / nW)
          .as("mean_word_len"),
        r4(symbols / nW).as("symbol_ratio"),
        r4(lf(bullets)).as("bullet_frac"),
        r4(lf(ellipses)).as("ellipsis_frac"),
        r4(alphaW / nW).as("alpha_frac"),
        stops.cast("bigint").as("stop_hits"))
      .withColumn("ok_words",
        (col("n_words") >= minWords && col("n_words") <= maxWords).cast("int"))
      .withColumn("ok_mean_len",
        (col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen).cast("int"))
      .withColumn("ok_symbol", (col("symbol_ratio") <= maxSymbolRatio).cast("int"))
      .withColumn("ok_bullet", (col("bullet_frac") <= maxBulletFrac).cast("int"))
      .withColumn("ok_ellipsis",
        (col("ellipsis_frac") <= maxEllipsisFrac).cast("int"))
      .withColumn("ok_alpha", (col("alpha_frac") >= minAlphaFrac).cast("int"))
      .withColumn("ok_stop", (col("stop_hits") >= minStopHits).cast("int"))
      .withColumn("keep",
        (col("ok_words") + col("ok_mean_len") + col("ok_symbol") +
          col("ok_bullet") + col("ok_ellipsis") + col("ok_alpha") +
          col("ok_stop") === 7).cast("int"))
  }

  /** Corpus-wide duplicated-line boilerplate profile (the CCNet
    * paragraph-dedup measurement, line-grained): per document, the
    * fraction of its non-blank lines — and of its line characters —
    * whose exact trimmed content appears more than once ACROSS THE
    * CORPUS. High dup_line_frac with normal length is the navigation /
    * footer boilerplate signature that per-doc repetition stats
    * ([[repetitionStats]]) cannot see.
    *
    * Plan: explode to (doc_id, md5(line), chars) — raw line text dies
    * in-task; only 32-byte digests shuffle — then one digest-keyed
    * count, a join that reuses the digest partitioning, and a per-doc
    * rollup. Documents with no non-blank line carry zero counts (left
    * join keeps them in the profile).
    */
  def dupLines(docs: DataFrame): DataFrame = {
    val lines = docs.select(col("doc_id"),
      explode(filter(transform(split(col("text"), "\n"), l => trim(l)),
        l => length(l) > 0)).as("line"))
    val h = lines.select(col("doc_id"), md5(col("line")).as("h"),
      length(col("line")).cast("bigint").as("lc"))
    val cnt = h.groupBy("h").agg(count(lit(1)).as("c"))
    val perDoc = h.join(cnt, "h")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_lines"),
        sum(col("lc")).as("line_chars"),
        sum(when(col("c") > 1, col("lc")).otherwise(0L)).as("dup_chars"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        r4(coalesce(col("n_dup_lines").cast("double") / col("n_lines"), lit(0.0)))
          .as("dup_line_frac"),
        r4(coalesce(col("dup_chars").cast("double") / col("line_chars"), lit(0.0)))
          .as("dup_char_frac"))
  }

  /** Flesch readability per document — reading ease + Flesch–Kincaid
    * grade from the three classic counts: letter-run words, sentence
    * terminators ([.!?]+ runs, floored at 1 so unpunctuated docs read
    * as one sentence), and the vowel-group syllable proxy (runs of
    * [aeiouyAEIOUY]; vowel runs never span whitespace, so the
    * whole-text count equals the per-word sum without an explode).
    * Counts are exact integers; each score is the one fixed IEEE
    * mul-sub chain over two divisions, rounded 4 dp. The curation
    * read: extreme ease (< 0) or grade (> 20) marks word-salad and
    * boilerplate that per-word quality ratios miss.
    */
  def readability(docs: DataFrame): DataFrame = {
    val nWords = regexp_count(col("text"), lit("[A-Za-z]+")).cast("bigint")
    val nSent = greatest(
      regexp_count(col("text"), lit("[.!?]+")).cast("bigint"), lit(1L))
    val nSyll = regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("bigint")
    docs.select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sent"),
        nSyll.as("n_syll"))
      .filter(col("n_words") > 0)
      .withColumn("wps", col("n_words").cast("double") / col("n_sent").cast("double"))
      .withColumn("spw", col("n_syll").cast("double") / col("n_words").cast("double"))
      .select(col("doc_id"), col("n_words"), col("n_sent"), col("n_syll"),
        r4(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
          .as("flesch"),
        r4(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59))
          .as("fk_grade"))
  }

  /** Zipf exponent per source: OLS slope of ln(count) on ln(rank) over
    * the top-`topK` words — natural text sits near −1; a flatter slope
    * flags templated/synthetic word-soup, a steeper one keyword
    * stuffing. The distribution-shape companion to the share-based
    * source profile.
    *
    * Determinism: ranks are row_number over (count DESC, word ASC);
    * both lns are ×1e6-quantized (the PMI move), the slope is the
    * exact integer cross-moment ratio with one IEEE division, and
    * `top1_share` divides exact counts. One tokenization feeds both
    * the ranked head and the totals.
    */
  def zipfSlope(docs: DataFrame, topK: Int = 64): DataFrame = {
    val tok = docs.select(col("source"),
        explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val counts = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      .persist().tracked
    val totals = counts.groupBy("source").agg(
      sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
      max(col("c")).as("c1"))
    val rankW = Window.partitionBy("source")
      .orderBy(col("c").desc, col("w").asc)
    val qln = (c: Column) =>
      // ExactMath.lnIntCol: ranks/counts are positive integers, so the
      // log-log fit's quantized inputs are cross-engine bit-exact
      floor((graft.functions.ExactMath.lnIntCol(c) + lit(1e-9)) *
        lit(1e6) + lit(0.5)).cast("long")
    val head = counts.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topK)
      .select(col("source"), qln(col("rank")).as("xq"), qln(col("c")).as("yq"))
    val fit = head.groupBy("source").agg(
      count(lit(1)).as("k"),
      sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
      sum(col("xq") * col("yq")).as("sxy"),
      sum(col("xq") * col("xq")).as("sxx"))
    fit.join(totals, "source")
      .filter(col("k") >= 8)
      .select(col("source"), col("n_tokens"), col("vocab"), col("k"),
        r4((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("zipf_slope"),
        r4(col("c1").cast("double") / col("n_tokens").cast("double"))
          .as("top1_share"))
  }

  /** Hapax profile per source: share of vocabulary seen exactly once
    * and the token share those words carry — the classic
    * vocabulary-health number (natural corpora run ~40–60% hapax
    * vocab; near-zero means templated text, near-one OCR noise or
    * tokenizer damage). Exact counts end-to-end, two IEEE divisions
    * at the edge.
    */
  def hapaxProfile(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 1, col("c")).otherwise(0L)).as("hapax_tokens"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        r4(col("hapax").cast("double") / col("vocab").cast("double"))
          .as("hapax_vocab_share"),
        r4(col("hapax_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_token_share"))
  }

  /** Vocabulary-growth (Heaps-law) telemetry over ingestion order:
    * documents split into `nBuckets` doc_id-range buckets, a term's
    * first-seen bucket is its MIN bucket, and each bucket reports
    * docs, token occurrences, in-bucket vocabulary, NEW vocabulary and
    * the cumulative vocabulary. A saturating new-terms curve says the
    * corpus has stopped teaching new surface forms (push dedup harder,
    * diversify sources); a stubbornly linear one says OCR noise or id
    * churn. Exact integer counts end-to-end. The bucket key derives
    * from doc_id against max(doc_id) (ONE scalar to the driver), so
    * there is no global row_number: the plan is two keyed shuffles
    * (bucket×term, then term) plus a window over exactly `nBuckets`
    * rows — scan-speed at corpus scale.
    */
  def vocabGrowth(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    val mxRow = docs.agg(max(col("doc_id"))).head
    if (mxRow.isNullAt(0))
      throw new IllegalArgumentException(
        "vocabGrowth: input has no rows (max(doc_id) is NULL) — " +
          "cannot derive ingestion-order buckets from an empty corpus")
    val mx = mxRow.getLong(0) + 1
    val bucketOf: Column =
      expr(s"doc_id * $nBuckets div CAST($mx AS BIGINT)")
    val tok = docs.select(bucketOf.as("bucket"),
        explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val perBW = tok.groupBy("bucket", "w").agg(count(lit(1)).as("c"))
      .persist().tracked
    val newTerms = perBW.groupBy("w").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val perB = perBW.groupBy("bucket").agg(
      sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"))
    val docsPerB = docs.groupBy(bucketOf.as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    // bounded window: exactly nBuckets rows reach the running sum
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPerB.join(perB, Seq("bucket"), "left")
      .join(newTerms, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_tokens", "vocab", "new_terms"))
      .withColumn("cum_terms", sum("new_terms").over(wB))
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("new_terms"), col("cum_terms"))
  }

  /** Code-vs-prose detection: the mix-policy gate that keeps source
    * code out of a prose corpus (or routes it to a code stratum)
    * without an ML classifier — symbol density, indented/terminator
    * line fractions, identifier-shaped tokens (snake_case/camelCase),
    * and a small keyword panel, combined into one weighted score. All
    * counts are exact; the score is ONE fixed IEEE chain with
    * scientific-literal weights, and the flag compares the ROUNDED
    * score — one codegen scan, no UDFs, trivially scalable.
    */
  def codeDetect(docs: DataFrame, threshold: Double = 0.25): DataFrame = {
    val n = greatest(length(col("text")), lit(1)).cast("double")
    val sym = length(regexp_replace(col("text"), "[^{}()\\[\\];=<>]", ""))
      .cast("double")
    val lines0 = split(col("text"), "\n")
    val nl = greatest(size(lines0), lit(1)).cast("double")
    val indent = size(filter(lines0, l => l.rlike("^(\t|  )"))).cast("double")
    val eol = size(filter(lines0, l => l.rlike("[;{}]\\s*$"))).cast("double")
    val toks = split(trim(col("text")), "\\s+")
    val nt = greatest(size(toks), lit(1)).cast("double")
    val ident = size(filter(toks, t =>
      t.rlike("^[a-z0-9]+(_[a-z0-9]+)+$") || t.rlike("^[a-z]+[A-Z]")))
      .cast("double")
    val kw = size(filter(toks, t => t.isin("def", "return", "import", "const",
      "var", "function", "class", "void", "fn", "let"))).cast("double")
    val score = r4(sym / n * lit(4e-1) + indent / nl * lit(2e-1) +
      eol / nl * lit(2e-1) + ident / nt * lit(1e-1) +
      least(kw, lit(5e0)) / lit(5e0) * lit(1e-1))
    docs.select(col("doc_id"),
      r4(sym / n).as("sym_ratio"),
      r4(indent / nl).as("indent_frac"),
      r4(ident / nt).as("ident_frac"),
      kw.cast("long").as("kw_hits"),
      score.as("code_score"),
      (score >= lit(threshold)).as("is_code"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the "which corpora are interchangeable, which are
    * a different language/register entirely" matrix a mixing plan
    * starts from (0 = identical, ln 2 ≈ 0.693 = disjoint).
    *
    * Determinism: for p = c/N and q = d/M, the log arguments
    * 2cM/(cM+dN) are ratios of exact integers, so each ln is quantized
    * ×1e6 (the PMI/perplexity playbook) and the divergence numerator
    * Σ cM·L₁ + dN·L₂ is an exact DECIMAL(38) sum; terms private to one
    * source collapse to a closed form ((N−ΣC)·M·ln 2) computed from
    * the SAME integer totals, so no outer join is needed. The one
    * division happens at the end.
    *
    * Scale: per-(source, term) counts are the only big frame; the
    * pairwise join is on the term key, so a term's cost is
    * |sources sharing it|² — the |sources|²-bounded matrix contract
    * every pairwise operator here declares (sources are a telemetry
    * dimension, not the corpus).
    */
  def sourceJsd(docs: DataFrame): DataFrame = {
    val big = (c: Column) => c.cast(DecimalType(38, 0))
    val ln2q = lit(693147L) // floor(ln(2)·1e6 + 0.5), shared literal
    val cnt = docs.select(col("source"), explode(words(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .persist().tracked
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val a = cnt.join(tot, "source").select(col("source").as("a_src"), col("t"),
      col("c").as("ca"), col("n").as("na"))
    val b = cnt.join(tot, "source").select(col("source").as("b_src"), col("t"),
      col("c").as("cb"), col("n").as("nb"))
    val jx = a.join(b, Seq("t")).filter(col("a_src") < col("b_src"))
      .withColumn("pa", big(col("ca")) * col("nb"))
      .withColumn("pb", big(col("cb")) * col("na"))
    val qln = (num: Column, den: Column) =>
      // ExactMath: ln(2·num/den) = L(2·num) − L(den) on exact integers
      // (2·num = 2·ca·nb stays far under Long.Max through 100× scale)
      floor((graft.functions.ExactMath.lnIntCol(num * lit(2)) -
        graft.functions.ExactMath.lnIntCol(den) + lit(1e-9)) *
        lit(1e6) + lit(0.5)).cast(DecimalType(38, 0))
    val common = jx
      .withColumn("l1", qln(col("pa"), col("pa") + col("pb")))
      .withColumn("l2", qln(col("pb"), col("pa") + col("pb")))
      .groupBy("a_src", "b_src")
      .agg(sum(col("pa") * col("l1") + col("pb") * col("l2")).as("s_common"),
        sum("ca").as("c_a"), sum("cb").as("c_b"),
        count(lit(1)).as("shared_terms"),
        max("na").as("na"), max("nb").as("nb"))
    val pairs = tot.select(col("source").as("a_src"), col("n").as("p_na"))
      .crossJoin(tot.select(col("source").as("b_src"), col("n").as("p_nb")))
      .filter(col("a_src") < col("b_src"))
    pairs.join(common, Seq("a_src", "b_src"), "left")
      .select(col("a_src"), col("b_src"), col("p_na"), col("p_nb"),
        coalesce(col("s_common"), lit(0L).cast(DecimalType(38, 0))).as("s_common"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"),
        coalesce(col("shared_terms"), lit(0L)).as("shared_terms"))
      .withColumn("s_tail",
        (big(col("p_na") - col("c_a")) * col("p_nb") +
          big(col("p_nb") - col("c_b")) * col("p_na")) * ln2q)
      .select(col("a_src"), col("b_src"),
        col("p_na").as("n_a"), col("p_nb").as("n_b"), col("shared_terms"),
        r4((col("s_common") + col("s_tail")).cast("double") /
          (lit(2.0) * col("p_na").cast("double") * col("p_nb").cast("double") *
            lit(1e6))).as("jsd"))
  }
}
