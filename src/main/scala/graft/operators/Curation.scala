package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.sortedIntersect

/** Corpus-curation operators a pretraining-data pipeline runs between
  * raw ingestion and sampling: passage-level duplication audit,
  * benchmark decontamination, and containment (doc-inside-doc) dedup.
  *
  * Scale design notes (100 TB):
  *   - Raw text never shuffles. Passages/shingles are reduced to md5
  *     digests in-task (the projection right after the chunk/shingle
  *     build), so every exchange carries 32-byte digests.
  *   - Passage stats are two keyed shuffles (by digest, then by doc).
  *   - Decontamination joins the corpus digest stream against the EVAL
  *     set's digests — the eval side is benchmark-sized (thousands of
  *     docs), so the join is a broadcast and contamination detection
  *     rides the corpus scan.
  *   - Containment reuses the AllPairs prefix-filter machinery
  *     (rarest-token index) with the asymmetric containment bound and
  *     the sorted merge-scan verify kernel.
  */
object Curation {
  import Dedup.{spread, words}

  /** Cross-document passage duplication stats (the passage/paragraph
    * analogue of CCNet's line dedup — this corpus has no newlines, so
    * the unit is the non-overlapping `w`-word chunk). A passage is
    * "duplicated" iff it occurs in ≥ 2 DISTINCT documents; every
    * occurrence position counts toward its document's duplicated-passage
    * tally. Output per doc: passage count, duplicated-passage count,
    * duplicated fraction.
    */
  def passageDupStats(docs: DataFrame, w: Int = 8): DataFrame = {
    // the digest table feeds both sides of its own self-join (positions
    // + doc-frequency); persisted so the chunk build + md5 pass over
    // the raw text runs once (the prefixJaccard convention, including
    // its release contract: caller clearCache() / ContextCleaner)
    val chunks = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, int(ceil(size(w) / ${w}.0))), " +
          s"i -> array_join(slice(w, (i - 1) * $w + 1, $w), ' '))")).as("p"))
      .select(col("doc_id"), md5(col("p")).as("ph"))
      .persist().tracked
    val docFreq = chunks.select("doc_id", "ph").distinct()
      .groupBy("ph").agg(count(lit(1)).as("ndocs"))
    chunks.join(docFreq, "ph")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum((col("ndocs") >= 2).cast("long")).as("n_dup"))
      .withColumn("dup_frac", r4(col("n_dup").cast("double") / col("n_passages")))
  }

  /** Distinct `w`-word shingle digests per doc: 128-bit md5 (exact join
    * identity) + 64-bit xxhash (bloom key). Raw shingle strings die
    * inside the task.
    */
  private def shingleDigests(df: DataFrame, idAs: String, w: Int): DataFrame = df
    .select(col("doc_id").as(idAs), words(col("text")).as("w"))
    .filter(size(col("w")) >= w)
    .select(col(idAs),
      explode(array_distinct(expr(s"transform(sequence(1, size(w) - ${w - 1}), " +
        s"i -> array_join(slice(w, i, $w), ' '))"))).as("p"))
    .select(col(idAs), md5(col("p")).as("ph"), xxhash64(col("p")).as("h64"))

  /** Benchmark decontamination: overlapping `w`-word shingle collisions
    * between the training corpus and an evaluation set. One row per
    * (train doc, eval doc) pair sharing ≥ 1 shingle, with the count of
    * DISTINCT shared shingles — the standard n-gram-overlap leak check
    * run before any training job. Documents shorter than `w` words
    * cannot form a shingle and are clean by definition.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, w: Int = 8): DataFrame =
    // only the corpus side is spread before digesting; eval sides are
    // broadcast-sized by contract
    shingleDigests(spread(train), "doc_id", w)
      .join(broadcast(shingleDigests(eval, "eval_doc_id", w).select("eval_doc_id", "ph")), "ph")
      .groupBy("doc_id", "eval_doc_id")
      .agg(count(lit(1)).as("n_shared"))

  /** Fuzzy decontamination: [[decontaminate]] graduated from "any
    * shared shingle" to an overlap FRACTION — |shared| / |train doc's
    * distinct shingles| — gated at `minFrac`. This is the production
    * contamination rule (e.g. "drop if ≥ 80 % of a doc's 13-grams
    * appear in an eval doc"): raw collision counts flag every doc that
    * quotes one benchmark sentence, the fraction isolates docs that
    * substantially ARE eval content. The denominator is the train
    * side, so a short doc fully contained in an eval doc scores 1.0
    * regardless of the eval doc's length.
    *
    * Plan: the train digest frame feeds both the eval join and its own
    * per-doc shingle count, so it is persisted (prefixJaccard release
    * convention); the eval side stays broadcast-sized. The fraction is
    * computed on the joined aggregate — |pairs| rows, not corpus rows.
    */
  def decontaminateFuzzy(train: DataFrame, eval: DataFrame, w: Int = 8,
                         minFrac: Double = 0.8): DataFrame = {
    val tr = shingleDigests(spread(train), "doc_id", w).persist().tracked
    val perDoc = tr.groupBy("doc_id").agg(count(lit(1)).as("n_train"))
    tr.join(broadcast(shingleDigests(eval, "eval_doc_id", w).select("eval_doc_id", "ph")), "ph")
      .groupBy("doc_id", "eval_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .join(perDoc, "doc_id")
      .withColumn("overlap_frac",
        r4(col("n_shared").cast("double") / col("n_train")))
      .filter(col("overlap_frac") >= minFrac)
      .select("doc_id", "eval_doc_id", "n_shared", "n_train", "overlap_frac")
  }

  /** Per-source boilerplate audit — the CCNet/RefinedWeb "remove lines
    * repeated across many pages of the same site" rule, expressed on
    * this newline-free corpus as non-overlapping `w`-word chunks. A
    * chunk digest occurring in ≥ `minDocs` DISTINCT documents of the
    * SAME source is boilerplate (headers, navigation, legal footers);
    * cross-source repetition is deliberately NOT counted — that is
    * content-level duplication and belongs to [[passageDupStats]].
    * Output, one row per affected doc: passage counts before/after and
    * the surviving fraction a length-based quality gate would see.
    *
    * Plan: raw text dies in-task (chunks → md5 immediately); the chunk
    * frame is persisted because it feeds both the (source, digest)
    * doc-frequency aggregate and the per-doc rollup. Both shuffles are
    * keyed on digests/doc ids — at 100 TB the doc-frequency side is
    * bounded by the distinct-chunk count per source, and the final
    * left-semi shape keeps the per-doc rollup on the corpus partitions.
    */
  def boilerplate(docs: DataFrame, w: Int = 3, minDocs: Int = 2): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), col("source"), words(col("text")).as("wd"))
      .select(col("doc_id"), col("source"),
        explode(expr(s"transform(sequence(1, int(ceil(size(wd) / ${w}.0))), " +
          s"i -> array_join(slice(wd, (i - 1) * $w + 1, $w), ' '))")).as("p"))
      .select(col("doc_id"), col("source"), md5(col("p")).as("ph"))
      .persist().tracked
    val boiler = chunks.select("source", "ph", "doc_id").distinct()
      .groupBy("source", "ph")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("source"), col("ph"), lit(1).as("is_boiler"))
    chunks.join(boiler, Seq("source", "ph"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_passages"),
        sum(coalesce(col("is_boiler"), lit(0)).cast("long")).as("n_boiler"))
      .filter(col("n_boiler") >= 1)
      .withColumn("clean_frac",
        r4(lit(1.0) - col("n_boiler").cast("double") / col("n_passages")))
  }

  /** [[decontaminate]] at eval-set sizes past the broadcast limit: the
    * eval shingle digests fold into Spark's mergeable bloom sketch (one
    * fixed-size binary reaches the driver regardless of eval size), the
    * corpus digest stream is pruned by the codegen'd probe ON THE SCAN,
    * and only probable hits enter the exact md5 join — false positives
    * die there, so the result is exactly [[decontaminate]]'s (hence the
    * shared SQL oracle). The same runtime-filter pattern as
    * sketch_bloom_semi, applied to contamination checking.
    */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, w: Int = 8,
                         expectedItems: Long = 1000000L,
                         numBits: Long = 8000000L): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions
    val ev = shingleDigests(eval, "eval_doc_id", w)
    val sketch = ev
      .agg(VectorExpressions.bloomAgg(col("h64"), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    // an eval set with no doc of ≥ w words yields no shingles and a
    // null sketch; lit(null) would fail analysis inside the probe, and
    // the correct answer is simply "nothing can be contaminated"
    val gate = if (sketch == null) lit(false)
               else VectorExpressions.bloomMightContain(lit(sketch), col("h64"))
    shingleDigests(train, "doc_id", w)
      .filter(gate)
      .join(ev.select("eval_doc_id", "ph"), "ph")
      .groupBy("doc_id", "eval_doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Containment (doc-inside-doc) near-dup pairs: |A ∩ B| / |A| ≥ t
    * over word-bigram shingle sets, A the smaller side. Catches the
    * quoted-passage / template-wrapper duplication Jaccard is blind to
    * (a doc fully embedded in a 10× larger one has J ≈ 0.1 but
    * containment 1.0).
    *
    * Prefix filter, asymmetric: C(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉, so at
    * least one of A's rarest |A| − ⌈t·|A|⌉ + 1 tokens must be in B —
    * only that prefix of the SMALLER side is indexed; the candidate
    * join probes it with EVERY token of the larger side (containment
    * admits no length filter — B may be arbitrarily large). Candidates
    * are verified exactly with the sorted merge-scan kernel.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = docs
      // r13: workload-derived spread width — dense budget, the
      // bigram-set build + sorted merge-verify is 10-20 s CPU/MB
      .repartition(graft.Widths.forDense(docs), col("doc_id"))
      .select(col("doc_id"), words(col("text")).as("wd"))
      // single-word docs have no bigrams; without the guard
      // sequence(1, 0) DESCENDS and element_at(wd, 0) throws
      .filter(size(col("wd")) >= 2)
      .select(col("doc_id"),
        sort_array(array_distinct(transform(sequence(lit(1), size(col("wd")) - 1),
          i => concat(element_at(col("wd"), i), lit(" "),
            element_at(col("wd"), i + 1))))).as("tok"))
      .persist().tracked
    val toks = sets.select(col("doc_id"), size(col("tok")).cast("long").as("n"),
      explode(col("tok")).as("s"))
    val dfreq = toks.groupBy("s").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    // every token keeps its rank in the canonical (df, value) order so
    // the candidate stage can apply the positional overlap bound on
    // BOTH sides, not just the indexed prefix
    val ranked = toks.join(dfreq, "s")
      .withColumn("rk", row_number().over(byRarity))
    val prefixSmall = ranked
      .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc_id").as("inner_id"), col("s").as("si"),
        col("n").as("ni"), col("rk").as("rki"))
    val allToks = ranked.select(col("doc_id").as("outer_id"), col("s").as("so"),
      col("n").as("no"), col("rk").as("rko"))
    // positional filter (PPJoin, asymmetric): matches arrive in the
    // same canonical order on both sides, so the true intersection is
    // ≤ m + min(ni − max rki, no − max rko); containment ≥ t needs
    // I ≥ ⌈t·ni⌉ — pairs whose bound can't reach it never enter the
    // verify join (the stage that carries the full shingle arrays)
    val cands = prefixSmall
      .join(allToks,
        col("si") === col("so") &&
          (col("ni") < col("no") ||
            (col("ni") === col("no") && col("inner_id") < col("outer_id"))))
      .groupBy("inner_id", "outer_id")
      .agg(count(lit(1)).as("m"), max(col("rki")).as("ra"),
        max(col("rko")).as("rb"), first(col("ni")).as("nip"),
        first(col("no")).as("nop"))
      .filter(col("m") + least(col("nip") - col("ra"), col("nop") - col("rb")) >=
        ceil(lit(threshold) * col("nip") - lit(1e-9)))
      .select("inner_id", "outer_id")
    cands
      .join(sets.select(col("doc_id").as("inner_id"), col("tok").as("ti")), "inner_id")
      .join(sets.select(col("doc_id").as("outer_id"), col("tok").as("to")), "outer_id")
      .withColumn("inter", sortedIntersect(col("ti"), col("to")))
      .withColumn("containment", r4(col("inter").cast("double") / size(col("ti"))))
      .filter(col("containment") >= threshold)
      .select(col("inner_id"), col("outer_id"), col("inter"),
        size(col("ti")).cast("long").as("n_inner"), col("containment"))
  }

  /** Quality-aware canonical selection: within each near-dup cluster
    * keep the HIGHEST-QUALITY document (tie → lowest doc_id), not the
    * lowest-id one — the decision a curation pipeline actually wants
    * from dedup ("of these N copies, which survives?"). Composes the
    * connected-components clustering with the quality score; the
    * per-cluster argmax is one window over the cluster labels, and the
    * cluster table is |corpus| rows of (id, label) — the text never
    * re-shuffles.
    */
  def canonicalByQuality(docs: DataFrame, threshold: Double = 0.5,
                         precomputedPairs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = Dedup.clusters(docs, threshold, precomputedPairs = precomputedPairs)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    val q = TextAnalysis.qualityScore(docs).select("doc_id", "quality")
    val byQuality = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    cl.join(q, "doc_id")
      .withColumn("rn", row_number().over(byQuality))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("rn") === 1).cast("int").as("keep"))
  }

  /** The per-document curation verdict: every gate a pretraining
    * pipeline applies before a doc may enter the corpus, as one frame
    * with per-reason flags — length window, quality floor, exact-dup
    * canonicality (only a group's canonical survives), and benchmark
    * contamination — plus the combined `keep`. This is the operator an
    * operator actually runs; the individual gates exist as their own
    * queries, this is their composed decision.
    *
    * Scale shape: three narrow projections of the corpus (tokens,
    * quality expr, md5 digest — each rides its own scan of the same
    * cached/columnar source) joined on doc_id, plus the broadcast
    * contamination semi-join; the only wide exchange is the digest
    * window inside [[Dedup.exact]].
    */
  def curationVerdict(train: DataFrame, eval: DataFrame,
                      minTokens: Int = 5, maxTokens: Int = 100000,
                      qualityMin: Double = 0.5, w: Int = 8): DataFrame = {
    val toks = train.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    val q = TextAnalysis.qualityScore(train).select("doc_id", "quality")
    val canon = Dedup.exact(train)
      .select(col("doc_id"),
        (col("doc_id") === col("canonical_id")).cast("int").as("is_canonical"))
    val contaminated = decontaminate(train, eval, w)
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(1))
    toks.join(q, "doc_id").join(canon, "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(0)))
      .withColumn("ok_len",
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).cast("int"))
      .withColumn("ok_quality", (col("quality") >= qualityMin).cast("int"))
      .withColumn("keep",
        (col("ok_len") === 1 && col("ok_quality") === 1 &&
          col("is_canonical") === 1 && col("contaminated") === 0).cast("int"))
      .select("doc_id", "n_tokens", "quality", "ok_len", "ok_quality",
        "is_canonical", "contaminated", "keep")
  }

  /** Sequence-packing plan: the concat-and-cut accounting a training
    * pipeline runs to turn a token-counted corpus into fixed-budget
    * context windows (docs are concatenated in a deterministic order
    * and cut at every `budget` boundary). Per doc: its pack id, the
    * offset of its first token inside that pack, and whether it
    * straddles a boundary — the inputs to "how many sequences does
    * this corpus make / how much is cut" planning.
    *
    * Concatenation order is (stratum, doc_id) — packing is per stratum
    * (a training mix packs each source/language stream separately), so
    * the running token sum is a stratum-keyed window: parallel across
    * strata, exact integers throughout. At extreme per-stratum sizes
    * the cumsum becomes the standard two-phase per-partition prefix
    * sum; the per-doc outputs are identical.
    */
  def packingPlan(docs: DataFrame, budget: Long,
                  strataCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(strataCol), col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      // `start_offset`, not `offset`: OFFSET is reserved in ANSI SQL and
      // the oracle compare re-selects columns by bare name
      .withColumn("start_offset", col("cum_before") % budget)
      .withColumn("crosses",
        (col("start_offset") + col("n_tokens") > budget).cast("int"))
      .select(strataCol, "doc_id", "n_tokens", "pack_id", "start_offset",
        "crosses")
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct `w`-word passages they share — the corpus-health
    * telemetry that finds syndicated/boilerplate feeds before mixing
    * weights are chosen (two sources sharing most of their passages
    * should not both be upweighted). Passage = non-overlapping chunk,
    * as in [[passageDupStats]].
    *
    * Scale shape: text reduces to (source, digest) in-task and is
    * de-duplicated in one digest-keyed exchange; the per-digest source
    * SET is bounded by |sources| (corpus-size-independent), so the
    * pair fan-out is an in-task transform over ≤ |sources|² elements —
    * never a self-join of the corpus-sized chunk table.
    */
  def sourceOverlap(docs: DataFrame, w: Int = 8): DataFrame =
    docs
      .select(col("source"), words(col("text")).as("w"))
      .select(col("source"),
        explode(expr(s"transform(sequence(1, int(ceil(size(w) / ${w}.0))), " +
          s"i -> array_join(slice(w, (i - 1) * $w + 1, $w), ' '))")).as("p"))
      .select(col("source"), md5(col("p")).as("ph"))
      // no pre-distinct: collect_set dedups repeat occurrences, so the
      // digest aggregate is the FIRST exchange the chunk stream hits
      .groupBy("ph").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (a, i) -> transform(slice(ss, i + 2, size(ss)), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("pr"))
      .groupBy(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** Token-window chunking: the doc → overlapping fixed-size chunk
    * explosion an embedding/indexing pipeline runs before vectorizing
    * (chunk size `c`, stride `s`; the tail chunk may be short; a doc
    * shorter than `c` yields one whole-doc chunk). Output carries the
    * chunk's digest and token count, not its text — the downstream
    * join identity. Pure per-row explode: no shuffle at all until the
    * caller aggregates.
    */
  def chunkPlan(docs: DataFrame, c: Int = 16, s: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("nc",
        expr(s"1 + greatest(0L, (size(w) - $c + $s - 1) div $s)"))
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, int(nc)), i -> struct(" +
          s"i AS chunk_id, (i - 1) * $s + 1 AS start_tok, " +
          s"size(slice(w, (i - 1) * $s + 1, $c)) AS chunk_tokens, " +
          s"md5(array_join(slice(w, (i - 1) * $s + 1, $c), ' ')) AS chunk_hash))"))
          .as("ck"))
      .select(col("doc_id"), col("ck.chunk_id").cast("long").as("chunk_id"),
        col("ck.start_tok").cast("long").as("start_tok"),
        col("ck.chunk_tokens").cast("long").as("chunk_tokens"),
        col("ck.chunk_hash").as("chunk_hash"))

  /** Waterfilling token allocation: given a total token budget and
    * per-stratum weights (temperature √avail by default), allocate
    * `min(avail_s, λ·w_s)` with λ chosen so the allocations sum to the
    * budget — the exact "how many tokens of each language does this
    * run take" mix solver (small strata are capped at what they have;
    * the freed budget waterfalls to the rest).
    *
    * Exact-integer throughout: strata sort ascending by saturation
    * ratio avail/weight (the saturated set is a prefix of that order);
    * stratum k saturates iff avail_k · Σ_{j≥k} w_j ≤ (T − Σ_{j<k}
    * avail_j) · w_k — cross-multiplied DECIMAL(38) comparisons, no
    * float λ — and unsaturated strata get ⌊(T − Σ_sat avail) · w /
    * Σ_unsat w⌋, an integer floor-div of exact integers. The whole
    * computation runs on the |strata|-row aggregate, so the windows'
    * single-partition shape is bounded and the corpus contributes one
    * count aggregate.
    */
  def waterfillMix(docs: DataFrame, budgetFrac: Double = 0.5,
                   strataCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val avail = docs
      .select(col(strataCol), size(words(col("text"))).cast("long").as("n"))
      .groupBy(strataCol).agg(sum("n").as("avail_tokens"))
      .withColumn("weight",
        floor(sqrt(col("avail_tokens").cast("double")) * 10000.0 + 0.5)
          .cast("long"))
      // one IEEE division both engines compute identically; lang breaks
      // exact-rational ties deterministically
      .withColumn("ratio",
        col("avail_tokens").cast("double") / col("weight").cast("double"))
    val ord = Window.orderBy(col("ratio"), col(strataCol))
    val all = Window.orderBy(col("ratio"), col(strataCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    avail
      .withColumn("t_budget",
        expr(s"cast(floor(sum(avail_tokens) over (rows between unbounded " +
          s"preceding and unbounded following) * $budgetFrac) as bigint)"))
      .withColumn("a_before", coalesce(
        sum("avail_tokens").over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("w_from",
        sum("weight").over(ord.rowsBetween(0, Window.unboundedFollowing)))
      .withColumn("saturated",
        (dec(col("avail_tokens")) * dec(col("w_from")) <=
          dec(col("t_budget") - col("a_before")) * dec(col("weight"))).cast("int"))
      .withColumn("a_sat", coalesce(sum(when(col("saturated") === 1,
        col("avail_tokens"))).over(all), lit(0L)))
      .withColumn("w_unsat", coalesce(sum(when(col("saturated") === 0,
        col("weight"))).over(all), lit(0L)))
      .withColumn("alloc_tokens",
        when(col("saturated") === 1, col("avail_tokens"))
          .otherwise(expr("(cast(t_budget - a_sat as decimal(38,0)) * " +
            "cast(weight as decimal(38,0))) div cast(w_unsat as decimal(38,0))")
            .cast("bigint")))
      .select(col(strataCol), col("avail_tokens"), col("weight"),
        col("alloc_tokens"), col("saturated"))
  }

  /** Per-stratum packing telemetry over [[packingPlan]]'s accounting:
    * pack count, boundary straddlers, tail padding, and utilization —
    * the one-screen answer to "how many context windows does this
    * corpus make and how much budget is padding". Same single corpus
    * scan as the plan; the aggregate is |strata| rows.
    */
  def packEfficiency(docs: DataFrame, budget: Long,
                     strataCol: String = "lang"): DataFrame =
    packingPlan(docs, budget, strataCol)
      .groupBy(strataCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("crosses").cast("long").as("n_straddle"))
      .withColumn("n_packs",
        expr(s"(total_tokens + ${budget - 1}) div $budget"))
      .withColumn("pad_tokens", col("n_packs") * budget - col("total_tokens"))
      .withColumn("utilization", r4(col("total_tokens").cast("double") /
        (col("n_packs") * budget).cast("double")))

  /** Temperature-reweighted corpus sampling (the multilingual mixing
    * rule: stratum probability ∝ p^α with α < 1 flattens the head so
    * low-resource strata keep more of their mass). With α = 0.5 the
    * weight is √p — `sqrt` is IEEE-correctly-rounded on every engine,
    * unlike `pow`, so the rates are bit-deterministic. `beta` scales
    * the total kept mass; a stratum whose target exceeds its size keeps
    * everything (no upsampling). One tiny count aggregate, a broadcast
    * of |strata| thresholds, then the md5 Bernoulli filter riding the
    * scan — the [[Sampling]] machinery's determinism contract.
    */
  def temperatureSample(df: DataFrame, strataCol: String,
                        keyCol: org.apache.spark.sql.Column,
                        beta: Double = 0.5): DataFrame = {
    // weights quantized to exact integers (×1e9 floor of √p) BEFORE the
    // cross-strata sum: a double sum's order is engine/partitioning
    // dependent, an integer sum is not — the standard determinism
    // device here (SURVEY §2 note), mirrored verbatim in the oracle.
    // All cross-strata terms (tot, wsum) are unpartitioned windows over
    // the ONE counts aggregate — separate agg+crossJoin derivations
    // would each embed another copy of the corpus scan in the plan
    // (measured: 5 scans; projections differ, so ReuseExchange never
    // fires). The single-task window is over |strata| rows, bounded by
    // definition; its long sums are order-independent.
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .withColumn("tot", sum(col("cnt").cast("long")).over(all).cast("double"))
      .withColumn("wq", floor(sqrt(col("cnt") / col("tot")) * lit(1e9)).cast("long"))
      .withColumn("wsum", sum(col("wq")).over(all))
      .select(col(strataCol),
        least(lit(1.0),
          (col("wq").cast("double") / col("wsum").cast("double")) *
            lit(beta) * col("tot") / col("cnt")).as("rate"))
      .select(col(strataCol),
        floor(col("rate") * lit(4294967296.0)).cast("bigint").as("thr"))
    df.join(broadcast(rates), strataCol)
      .filter(Sampling.hash32(keyCol) < col("thr"))
      .drop("thr")
  }

  /** Epoch plan under repetition-allowed temperature mixing — the
    * companion to [[waterfillMix]] for the budget > corpus regime:
    * instead of capping each stratum at its available tokens, the
    * target take is the pure √-weight share of the budget and strata
    * whose take exceeds availability REPEAT (epochs > 1) — the
    * LLaMA-style "rare languages see more epochs" schedule. Exact
    * integer cross-multiplied takes (DECIMAL(38,0) product, truncating
    * div — both engines agree); the only double is the final epoch
    * ratio. One |strata|-row aggregate.
    */
  def epochPlan(docs: DataFrame, budgetMult: Double = 1.0,
                strataCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.orderBy(strataCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs
      .select(col(strataCol), size(words(col("text"))).cast("long").as("n"))
      .groupBy(strataCol).agg(sum("n").as("avail_tokens"))
      .withColumn("weight",
        floor(sqrt(col("avail_tokens").cast("double")) * 10000.0 + 0.5)
          .cast("long"))
      .withColumn("t_budget",
        floor(sum("avail_tokens").over(all).cast("double") * budgetMult)
          .cast("long"))
      .withColumn("w_sum", sum("weight").over(all))
      .withColumn("take_tokens",
        expr("cast((cast(t_budget as decimal(38,0)) * cast(weight as decimal(38,0)))" +
          " div cast(w_sum as decimal(38,0)) as bigint)"))
      .withColumn("epochs",
        r4(col("take_tokens").cast("double") / col("avail_tokens").cast("double")))
      .withColumn("repeated_tokens",
        greatest(lit(0L), col("take_tokens") - col("avail_tokens")))
      .select(col(strataCol), col("avail_tokens"), col("weight"),
        col("take_tokens"), col("epochs"), col("repeated_tokens"))
  }

  /** The whole curation pipeline as ONE per-source funnel report:
    * raw → quality gate → near-dup canonical → decontaminated. Each
    * stage applies to the previous stage's survivors (gate first, dedup
    * over gated docs, contamination check over canonical survivors), so
    * the columns read as a survival funnel. Dedup edges come from the
    * LSH scale path; the oracle recomputes them as EXACT Jaccard
    * components, so every driver run re-proves LSH recall (the
    * dedup_cluster_minhash argument). Contamination = any shared
    * `shingleW`-word shingle with the held-out eval split (broadcast
    * digests — detection rides the scan, see [[decontaminate]]).
    */
  def curationFunnel(docs: DataFrame, evalMod: Long = 97, shingleW: Int = 4,
                     dedupThreshold: Double = 0.5): DataFrame = {
    val train = docs.filter(col("doc_id") % evalMod =!= 0)
    val evalSet = docs.filter(col("doc_id") % evalMod === 0)
    // text and source ride the gate's corpus scan — no join back
    val gated = TextAnalysis.qualityGate(train, keepCols = Seq("source", "text"))
      .filter(col("keep") === 1)
      .select("doc_id", "source", "text")
      .persist().tracked
    val comp = Dedup.clusters(gated, precomputedPairs =
      Some(Dedup.minhashLsh(gated, threshold = dedupThreshold)
        .select("doc1", "doc2")))
    val canonSrc = gated.select("doc_id", "source")
      .join(comp.filter(col("is_dup") === 0).select("doc_id"), "doc_id")
    val contaminated = decontaminate(gated, evalSet, shingleW)
      .select("doc_id").distinct()
    val cleanSrc = canonSrc.join(contaminated, Seq("doc_id"), "left_anti")
    val nd = (c: String) => col(c).cast("double")
    train.groupBy("source").agg(count(lit(1)).as("n_raw"))
      .join(gated.groupBy("source").agg(count(lit(1)).as("n_gate")),
        Seq("source"), "left")
      .join(canonSrc.groupBy("source").agg(count(lit(1)).as("n_canonical")),
        Seq("source"), "left")
      .join(cleanSrc.groupBy("source").agg(count(lit(1)).as("n_clean")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_gate", "n_canonical", "n_clean"))
      .withColumn("gate_rate", r4(nd("n_gate") / nd("n_raw")))
      .withColumn("clean_rate", r4(nd("n_clean") / nd("n_raw")))
  }

  /** Duplication-aware downsampling: keep each document with
    * probability 1/|its duplication group| instead of dropping
    * non-canonical copies outright — one expected survivor per group,
    * but unbiased across the copies (canonical-pick always keeps the
    * min id, which systematically prefers the earliest crawl of a
    * page; soft deduplication is the standard fix when duplication
    * count itself carries signal, e.g. upweighting popular boilerplate
    * exactly once). Groups key on the md5 of the first `headWords`
    * normalized words — the CCNet-style head digest that catches
    * same-page-re-crawled near-copies full-text md5 misses (this
    * corpus has zero byte-identical pairs but plenty of shared-head
    * ones). The keep verdict is the repo's deterministic md5 Bernoulli
    * on doc_id with threshold floor(2³²/gsize) — exact integers,
    * append-stable, partition-invariant.
    *
    * Shape: one digest aggregate for group sizes (text reduced to md5
    * in-task), one join back keyed on the digest, and a codegen filter
    * — the exact-dedup plan plus a filter, nothing more.
    */
  def dedupWeightedSample(docs: DataFrame, headWords: Int = 16): DataFrame = {
    val d = docs.select(col("doc_id"),
      md5(array_join(slice(split(lower(trim(col("text"))), "\\s+"),
        1, headWords), " ").cast("binary")).as("h"))
    val g = d.groupBy("h").agg(count(lit(1)).as("gsize"))
    d.join(g, "h")
      .filter(Sampling.hash32(col("doc_id").cast("string")) <
        expr("4294967296 div gsize"))
      .select("doc_id", "gsize")
  }

  /** Does near-dup membership correlate with quality? Per source: the
    * dup rate, mean quality of the documents dedup would REMOVE vs
    * keep, and the point-biserial correlation between the removal flag
    * and the quality score. A strongly negative r says dedup is doing
    * quality filtering's job (dups are junk); r ≈ 0 says the two
    * filters are independent and both earn their place — the standard
    * curation-ablation question answered from two passes already in
    * the pipeline.
    *
    * Plan: the clusters pass rides a precomputed edge set (the
    * curation_funnel convention — the candidate join must never run
    * twice), quality is one codegen scan, and the correlation is the
    * exact-moment Pearson machinery (quantized quality ×1e4, binary
    * flag): exact Long sums per source, the fixed IEEE sequence at the
    * edge. Sources with zero or all dups have no defined correlation
    * and drop (the corr NULL contract).
    */
  def qualityDupBias(docs: DataFrame,
                     precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val dup = Dedup.clusters(docs, precomputedPairs = precomputedPairs)
      .select(col("doc_id"), col("is_dup").cast("long").as("x"))
    val qsc = TextAnalysis.qualityScore(docs).select(col("doc_id"),
      floor((col("quality") + lit(1e-9)) * lit(1e4) + lit(0.5)).cast("long")
        .as("y"))
    val ma = Correlate.momentAggs("x", "y")
    val cells = docs.select(col("doc_id"), col("source"))
      .join(dup, "doc_id").join(qsc, "doc_id")
      .groupBy("source")
      .agg(ma.head, ma.tail: _*)
    val nd = col("n").cast("double")
    cells
      .withColumn("vx", nd * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", nd * col("syy") - col("sy") * col("sy"))
      .filter(col("n") >= 2 && col("vx") > 0 && col("vy") > 0)
      .select(col("source"), col("n"),
        r4(col("sx") / nd).as("dup_rate"),
        r4(col("sxy") / col("sx") / lit(1e4)).as("mean_q_dup"),
        r4((col("sy") - col("sxy")) / (nd - col("sx")) / lit(1e4))
          .as("mean_q_clean"),
        r4((nd * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("vx")) * sqrt(col("vy")))).as("r_pb"))
  }

  /** Best-fit-decreasing bin packing per stratum: documents sorted by
    * (n_tokens DESC, doc_id) each land in the FULLEST open bin that
    * still fits (lowest bin id on ties), else open a new bin — the
    * padding-minimizing alternative to [[packingPlan]]'s concat-and-cut
    * (which wastes no tokens but straddles documents across windows;
    * BFD keeps every document whole and pays tail padding instead —
    * pack_efficiency style telemetry quantifies the trade). Oversize
    * documents get their own bin.
    *
    * The greedy fold is sequential BY DESIGN (each placement depends on
    * all previous), so it runs per stratum in one task — exactly the
    * per-group kernel shape of the Holt family: strata parallelize,
    * per-stratum work is bounded by the stratum's doc count, and the
    * loop is pure integer arithmetic, so the oracle replays it as a
    * recursive CTE carrying the bin-load list. A corpus whose single
    * stratum outgrows one task shards the stratum first (mix keys are
    * the natural shard) and merges bins pairwise — the documented
    * scale path.
    */
  def packBfd(docs: DataFrame, budget: Long,
              strataCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(strataCol), col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (st: String, it: Iterator[(String, Long, Long)]) =>
        val ds = it.toArray.sortBy(r => (-r._3, r._2))
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        ds.iterator.map { case (_, id, n) =>
          var best = -1
          var bestLoad = -1L
          var i = 0
          while (i < loads.length) {
            val l = loads(i)
            // strict > keeps the FIRST (lowest-id) fullest fitting bin,
            // the oracle's list_filter(...)[1] tiebreak
            if (l + n <= budget && l > bestLoad) { best = i; bestLoad = l }
            i += 1
          }
          val bin = if (best >= 0) { loads(best) += n; best + 1 }
                    else { loads += n; loads.length }
          (st, id, n, bin.toLong)
        }
      }
      .toDF(strataCol, "doc_id", "n_tokens", "pack_id")
  }

  /** The packing trade-off on one screen: per stratum, BFD's bin count
    * and utilization next to concat-and-cut's bin count and straddler
    * count — the two ends of the padding-vs-wholeness trade
    * ([[packBfd]] vs [[packingPlan]]) measured on the same corpus, so
    * the context-window decision is made on numbers, not taste.
    */
  def packCompare(docs: DataFrame, budget: Long,
                  strataCol: String = "lang"): DataFrame = {
    val bfd = packBfd(docs, budget, strataCol).groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        max("pack_id").as("bins_bfd"))
    val cc = packingPlan(docs, budget, strataCol).groupBy(col(strataCol))
      .agg(sum("crosses").as("straddlers"))
    bfd.join(cc, strataCol)
      .select(col(strataCol), col("n_docs"), col("total_tokens"),
        col("bins_bfd"),
        (expr(s"(total_tokens - 1) div $budget") + 1).as("bins_concat"),
        col("straddlers"),
        r4(col("total_tokens").cast("double") /
          (col("bins_bfd") * lit(budget)).cast("double")).as("util_bfd"))
  }

  /** Achieved-vs-target mixture audit for [[temperatureSample]]: per
    * stratum, the natural share, the √p target share, the share the
    * deterministic Bernoulli ACTUALLY kept, their delta, and the
    * per-stratum KL contribution achieved·ln(achieved/target) — the
    * report that catches quantization/rounding drift between a mixing
    * SPEC and the corpus it produced (small strata land whole docs, so
    * achieved ≠ target by construction; the KL says by how much in one
    * number). Same machinery as the sampler itself: integer-quantized
    * weights, one counts aggregate + one sampled-counts aggregate,
    * unpartitioned windows over |strata| rows, the ×1e6-quantized ln
    * (ulp-absorbing, the perplexity convention).
    */
  def mixKlReport(df: DataFrame, strataCol: String,
                  keyCol: org.apache.spark.sql.Column,
                  beta: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val base = df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .withColumn("tot", sum(col("cnt").cast("long")).over(all).cast("double"))
      .withColumn("wq", floor(sqrt(col("cnt") / col("tot")) * lit(1e9)).cast("long"))
      .withColumn("wsum", sum(col("wq")).over(all))
      .withColumn("thr", floor(least(lit(1.0),
        (col("wq").cast("double") / col("wsum").cast("double")) * lit(beta) *
          col("tot") / col("cnt")) * lit(4294967296.0)).cast("bigint"))
    val kept = df.join(broadcast(base.select(col(strataCol), col("thr"))), strataCol)
      .filter(Sampling.hash32(keyCol) < col("thr"))
      .groupBy(col(strataCol)).agg(count(lit(1)).as("kept"))
    val j = base.join(kept, Seq(strataCol), "left")
      .withColumn("kept", coalesce(col("kept"), lit(0L)))
      .withColumn("ktot", sum(col("kept")).over(all).cast("double"))
    // an aggressive beta can keep NOTHING: 0/0 is NULL on Spark but NaN
    // on DuckDB (IEEE division) — pin the empty-sample share to 0.0 so
    // the degenerate corpus still replays
    val ach = when(col("ktot") > 0,
      col("kept").cast("double") / col("ktot")).otherwise(lit(0.0))
    val tgt = col("wq").cast("double") / col("wsum").cast("double")
    // ExactMath flat lnInt sum: ln((kept/ktot)/(wq/wsum)) =
    // L(kept)−L(ktot)−L(wq)+L(wsum) — cross-engine bit-exact; the
    // kept=0 case never surfaces (kl_term guards on kept > 0, and
    // both engines compute the same placeholder for the dead branch)
    val L = (c: org.apache.spark.sql.Column) =>
      graft.functions.ExactMath.lnIntCol(c)
    val qln = floor((L(col("kept")) - L(col("ktot")) - L(col("wq")) +
      L(col("wsum")) + lit(1e-9)) * lit(1e6) + lit(0.5))
      .cast("long")
    // two projections on purpose: r4's NaN/Inf guard references its
    // argument five times, so inlining ach/tgt/qln (each carrying
    // lnInt's ~30-term Horner chain) into every guard replicated the
    // log kernel ~20× in ONE generated method — past Janino's 64 KB
    // method limit, silently dropping the stage to interpreted mode
    // (the r10 verdict's codegen-fallback finding; this projection was
    // the only emitter in the whole suite). Materializing them as
    // aliases makes every r4 argument an attribute reference;
    // CollapseProject keeps the split because the aliases are
    // non-cheap and multiply referenced. Values are bit-identical —
    // same ops, shared instead of recomputed.
    j.select(col(strataCol), col("cnt"), col("tot"), col("kept"),
        ach.as("_ach"), tgt.as("_tgt"), qln.cast("double").as("_qln"))
      .select(col(strataCol), col("cnt").cast("bigint").as("n_docs"),
        col("kept"),
        r4(col("cnt") / col("tot")).as("natural_share"),
        r4(col("_tgt")).as("target_share"),
        r4(col("_ach")).as("achieved_share"),
        r4(col("_ach") - col("_tgt")).as("delta"),
        when(col("kept") > 0, r4(col("_ach") * col("_qln") / lit(1e6)))
          .otherwise(lit(0.0)).as("kl_term"))
  }

  /** Deterministic per-epoch shuffle keys: every (epoch, doc) gets an
    * md5-derived 32-bit sort key and a shard assignment — the standard
    * reshuffle-per-epoch trick for training pipelines, without a
    * global sort (shards ARE the deliverable; each shard sorts its own
    * sliver locally at write time). Append-stable (new docs get new
    * keys, existing keys never move) and partition-invariant.
    */
  def epochShuffle(docs: DataFrame, epochs: Int = 3,
                   shards: Int = 16): DataFrame =
    docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("skey", Sampling.hash32(
        concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      .withColumn("shard", (col("skey") % shards).cast("int"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely its HASHED-BIGRAM profile is
    * under the target domain's bucket distribution than under the raw
    * corpus's. log w(x) = Σ_bigram [ln p_target(bucket) −
    * ln p_raw(bucket)] with add-1 smoothing over `buckets` hash
    * buckets; documents scoring > 0 look target-like. Here the target
    * is the `targetLang` slice of the corpus itself (the
    * self-contained analogue of DSIR's Wikipedia target).
    *
    * Determinism/scale: buckets come from the md5-hash32 of the
    * bigram (the repo's cross-engine hash), the two bucket-count
    * tables are ≤ `buckets` rows (broadcast), and every ln is
    * ExactMath's bit-exact integer kernel quantized to ×1e6 integers
    * — per-doc scores are exact integer sums, so the oracle replays
    * them bit-for-bit. Docs with < 2 words carry weight 0 (no
    * bigrams), kept by the right join. Output is the per-source
    * scorecard (n_docs, mean weight, positive share) — bounded by
    * |sources|.
    */
  def dsirWeights(docs: DataFrame, buckets: Int = 4096,
                  targetLang: String = "en"): DataFrame = {
    dsirScores(docs, buckets, targetLang)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        r4((sum("sq").cast("double") / count(lit(1)).cast("double")) /
          lit(1e6)).as("mean_logw"),
        r4(sum((col("sq") > 0).cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("pos_share"))
      .orderBy("source")
  }

  /** Deterministic DSIR selection — the "resampling" step: keep the
    * `n` documents whose importance score ranks highest, with the
    * md5-rank + id tiebreak making equal-score cuts append-stable
    * (the deterministic stand-in for DSIR's Gumbel-top-k; at a fixed
    * score the choice within the tie set is arbitrary by the method's
    * own logic, so a hash rank loses nothing and gains replayability).
    * orderBy+limit plans as TakeOrdered — per-partition top-n, no
    * global sort.
    */
  def dsirSample(docs: DataFrame, n: Int = 50, buckets: Int = 4096,
                 targetLang: String = "en"): DataFrame =
    dsirScores(docs, buckets, targetLang)
      .withColumn("hk", Sampling.hash32(col("doc_id").cast("string")))
      .orderBy(col("sq").desc, col("hk").asc, col("doc_id").asc)
      .limit(n)
      .select(col("doc_id"), col("source"),
        r4(col("sq").cast("double") / lit(1e6)).as("logw"))

  /** Per-document integer DSIR scores (×1e6 quantized log-weight) —
    * the shared core of [[dsirWeights]] and [[dsirSample]]; see
    * [[dsirWeights]] for the model and determinism contract.
    */
  private def dsirScores(docs: DataFrame, buckets: Int,
                         targetLang: String): DataFrame = {
    val qln = (c: org.apache.spark.sql.Column) =>
      floor((graft.functions.ExactMath.lnIntCol(c) + lit(1e-9)) * lit(1e6) + lit(0.5))
        .cast("long")
    val ws = docs.select(col("doc_id"), col("source"), col("lang"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
    val bg = ws.select(col("doc_id"), col("source"), col("lang"),
        explode(when(size(col("ws")) >= 2,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => concat(element_at(col("ws"), i), lit(" "),
              element_at(col("ws"), i + 1))))
          .otherwise(array())).as("bg"))
      .withColumn("b", Sampling.hash32(col("bg")) % buckets)
      .select("doc_id", "source", "lang", "b")
      .persist().tracked // feeds the bucket counts AND the per-doc sums
    // ONE keyed aggregate carries both distributions (raw count and
    // target count per bucket — the target filter becomes a conditional
    // sum), and the two totals reduce from its ≤`buckets` rows: the
    // former three passes over the bigram frame plus a raw⋈tgt join
    // (r12: four extra driver-serialized jobs per dsir query) collapse
    // to one pass + one tiny reduce. Values are identical: ct is 0
    // where the old left join produced NULL→0, and the totals are the
    // same exact sums.
    val cnt = bg.groupBy("b").agg(count(lit(1)).as("cr"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"))
    val totals = cnt.agg(sum("cr").as("tot_r"), sum("ct").as("tot_t"))
    val llr = cnt
      .crossJoin(broadcast(totals))
      .select(col("b"),
        ((qln(col("ct") + 1) - qln(col("tot_t") + buckets)) -
          (qln(col("cr") + 1) - qln(col("tot_r") + buckets))).as("llr_q"))
    val scores = bg.join(broadcast(llr), "b")
      .groupBy("doc_id").agg(sum("llr_q").as("score_q"))
    docs.select(col("doc_id"), col("source"))
      .join(scores, Seq("doc_id"), "left_outer")
      .withColumn("sq", coalesce(col("score_q"), lit(0L)))
      .select("doc_id", "source", "sq")
  }
}
