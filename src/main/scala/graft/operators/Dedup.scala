package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.{sortedIntersect, vecDot, vecNorm}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Scale design: exact dedup is one hash-aggregate on a 128-bit digest
  * (never shuffles raw text). Near-dup methods are bucket-then-verify:
  * MinHash/LSH and SimHash shrink the candidate space with a groupBy on
  * small keys, and only candidate pairs are verified — the all-pairs
  * quadratic never materializes at scale.
  */
object Dedup {

  /** Lower-cased whitespace tokens, untrimmed (a leading blank yields
    * an empty first token, unlike TextAnalysis' trimmed split).
    */
  private[operators] def words(text: Column): Column = split(lower(text), "\\s+")

  /** Sorted distinct bigram shingles from a word array. Caller
    * guarantees size(w) ≥ 2 (sequence(1, 0) DESCENDS and
    * element_at(w, 0) throws).
    */
  private def bigramShingles(w: Column): Column =
    sort_array(array_distinct(transform(sequence(lit(1), size(w) - 1),
      i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))))

  /** Word k-shingles (k=2) — with a tiny vocabulary single words are
    * shared by every document; bigrams discriminate.
    *
    * Two-step projection on purpose: materialize the split once, THEN
    * index it. Inlining `split` into the transform lambda makes every
    * `element_at` re-run the regex split (no CSE across lambda
    * boundaries) — measured ~10× slower on the shingle stage.
    * Sorted ONCE per document so every downstream pair verification is
    * an allocation-free merge scan (see sorted_intersect_count).
    */
  private[graft] def withShingles(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), words(col("text")).as("w"))
      // single-word docs have no bigrams
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), bigramShingles(col("w")).as("sh"))

  /** A text corpus often arrives as few large files; per-doc expression
    * work (tokenize, shingle, hash) is CPU-bound, so spread it across
    * all cores first. Keyed repartition keeps results deterministic
    * (every downstream op aggregates by doc_id, and keyed aggregates
    * that include doc_id reuse this exchange). Shared by the dedup,
    * text and curation operators.
    */
  private[operators] def spread(docs: DataFrame): DataFrame =
    // r13: width from the measured corpus size, not the core count —
    // saturates to full width on any real corpus. DENSE budget: the
    // downstream shingle/minhash digests burn 10-20 s of CPU per MB,
    // so the 256 KB default serialized them at bench scale (measured:
    // dedup_jaccard 0.9→4.0 s on 2 tasks).
    docs.repartition(graft.Widths.forDense(docs), col("doc_id"))

  /** Exact dedup: canonical = min doc_id among docs sharing md5(text).
    * Window over the digest, not aggregate + join-back: the join form
    * embeds TWO copies of the corpus scan in the plan (each md5-ing the
    * full text), the window form is one scan + one digest-keyed
    * exchange — at corpus scale the md5 pass over the raw text is the
    * dominant cost and must run once.
    */
  def exact(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("h")
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
  }

  /** Exact token-set Jaccard self-join with AllPairs-style prefix
    * filtering. `sets` is (doc_id, tok: array<string> of DISTINCT
    * tokens). A naive inverted-index self-join costs Σ df² over all
    * tokens — dominated by the hottest tokens, which occur in nearly
    * every document. Prefix filter: order each doc's tokens by ascending
    * global document frequency (ties by value — one canonical total
    * order). Jaccard(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉ (and ⌈t·|B|⌉), so
    * the rarest |X| − ⌈t·|X|⌉ + 1 tokens of each side must already share
    * an element — only that prefix is indexed, and the head of the df
    * distribution never enters the join. Candidates are then verified
    * with the exact set intersection, so results are identical to the
    * naive join.
    */
  private def prefixJaccard(sets: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sets.persist().tracked // feeds the prefix index and both verify sides
    // set size rides along from before the explode — no window needed
    val toks = s.select(col("doc_id"), size(col("tok")).cast("long").as("n"),
      explode(col("tok")).as("s"))
    val dfreq = toks.groupBy("s").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    val prefix = toks.join(dfreq, "s")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("doc_id", "s", "n", "rk")
      .persist().tracked // both sides of the self-join — avoid building it twice
    // Positional filter (PPJoin): grouping the prefix matches per pair
    // costs the same shuffle the bare DISTINCT needed anyway, and the
    // group carries enough to bound the overlap. Common tokens are met
    // in the SAME canonical (df, value) order on both sides, so
    // max(rk_a) and max(rk_b) land on one matched token and every
    // unseen common token lies beyond BOTH — the true intersection is
    // ≤ m + min(n1 − ra, n2 − rb). J ≥ t needs I ≥ t(n1+n2)/(1+t);
    // pairs whose bound can't reach that die here instead of in the
    // verify join, which is the expensive stage (it carries the full
    // shingle arrays). Measured at sf0.1 t=0.5: 212k → 56k pairs.
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("n1") + col("n2")) - lit(1e-9))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: t·|A| ≤ |B| and t·|B| ≤ |A| is necessary for J ≥ t
          col("b.n") >= ceil(lit(threshold) * col("a.n")) &&
          col("a.n") >= ceil(lit(threshold) * col("b.n")))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("m"), max(col("a.rk")).as("ra"),
        max(col("b.rk")).as("rb"), first(col("a.n")).as("n1"),
        first(col("b.n")).as("n2"))
      .filter(col("m") + least(col("n1") - col("ra"), col("n2") - col("rb")) >= alpha)
      .select("doc1", "doc2")
    cands
      .join(s.select(col("doc_id").as("doc1"), col("tok").as("t1")), "doc1")
      .join(s.select(col("doc_id").as("doc2"), col("tok").as("t2")), "doc2")
      .withColumn("inter", sortedIntersect(col("t1"), col("t2")))
      .withColumn("n1", size(col("t1")).cast("long"))
      .withColumn("n2", size(col("t2")).cast("long"))
      .withColumn("jac", r4(col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter"))))
      .filter(col("jac") >= threshold)
      .select("doc1", "doc2", "inter", "n1", "n2", "jac")
  }

  /** Near-dup pairs by exact Jaccard over word-bigram shingles. With a
    * tiny vocabulary the hottest bigrams appear in every document, so the
    * inverted index is prefix-filtered (see [[prefixJaccard]]); even at a
    * low threshold that drops the head of the df distribution, which
    * carries most of the Σ df² join cost.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    prefixJaccard(withShingles(docs).select(col("doc_id"), col("sh").as("tok")),
      threshold)

  /** MinHash signatures per doc: min over shingles of the splitmix
    * permutation family applied to the md5-low-64 shingle hash.
    * A 64-column min-aggregate makes Catalyst generate (and Janino
    * compile) a multi-second giant class; a mapGroups loop is 16M
    * integer mixes — milliseconds — with the same one-shuffle shape.
    */
  private[graft] def signatures(sets: DataFrame, numHashes: Int): DataFrame = {
    val toks = sets
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), expr(
        "shiftleft(cast(conv(substring(md5(s), 17, 8), 16, 10) as bigint), 32) + " +
          "cast(conv(substring(md5(s), 25, 8), 16, 10) as bigint)").as("h0"))
    val spark2 = sets.sparkSession
    import spark2.implicits._
    val nh = numHashes
    toks.as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (docId: Long, it: Iterator[(Long, Long)]) =>
        val mins = Array.fill(nh)(Long.MaxValue)
        it.foreach { case (_, h0) =>
          var p = 0
          while (p < nh) {
            var z = h0 ^ (p * 0x9E3779B97F4A7C15L)
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z ^= z >>> 31
            if (z < mins(p)) mins(p) = z
            p += 1
          }
        }
        (docId, mins.toSeq)
      }
      .toDF("doc_id", "sig")
  }

  /** MinHash estimate calibration — measured signature quality, the
    * companion telemetry to [[minhashLsh]]: for every verified
    * near-dup pair, the signature-only Jaccard estimate (matching
    * components / numHashes) next to the exact shingle Jaccard. The
    * estimate is what LSH banding actually thresholds on; this query
    * makes its error measurable instead of trusted (the same move
    * ann_recall_ivf_pq made for the ANN ladder).
    */
  def minhashCalibration(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.6): DataFrame = {
    val pairs = minhashLsh(docs, numHashes, bands, threshold)
    val sig = signatures(withShingles(docs), numHashes)
    pairs
      .join(sig.select(col("doc_id").as("doc1"), col("sig").as("s1")), "doc1")
      .join(sig.select(col("doc_id").as("doc2"), col("sig").as("s2")), "doc2")
      .withColumn("n_match", aggregate(
        zip_with(col("s1"), col("s2"), (a, b) => (a === b).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .withColumn("est_j", r4(col("n_match").cast("double") / numHashes))
      .withColumn("abs_err", r4(abs(col("est_j") - col("jac"))))
      .select("doc1", "doc2", "n_match", "est_j", "jac", "abs_err")
  }

  /** Generic SALTED co-bucket pair enumeration — [[graft.operators.Clustering.inCellPairs]]
    * generalized to an arbitrary bucket key (r10 verdict #1): every
    * (id, pay) pair sharing a `bkey` emits exactly once as
    * (id1 < id2, pay1, pay2). Buckets at or under `saltCap` enumerate
    * in one task; a MEGA-BUCKET — a band slice or pigeonhole block
    * shared by a near-verbatim document family, the shape a
    * 30%-mirrored crawl corpus produces — tiles its pair triangle by
    * salt = id mod s ([[Tiles]]: the salt rule, the triangle fan-out
    * and the explicit-width run walk), so |bucket|²/2 enumerations
    * parallelize across the cluster instead of serializing onto the
    * single task a self-equijoin hashes one join key to. Per-task
    * state is ≤ 2·saltCap (id, pay) tuples — 16 bytes each; a row in
    * an s-salted bucket ships s times (the triangle fan-out price).
    *
    * The PAIR SET is identical to the self-equijoin it replaces
    * (`a.bkey = b.bkey AND a.id < b.id`): each unordered in-bucket pair
    * lands in exactly one tile (diagonal when salts match, one cross
    * tile otherwise), so downstream `.distinct()` + verify stages and
    * the DuckDB oracles are byte-for-byte unchanged (BucketPairsSpec
    * pins salted ≡ join on a manufactured mega-bucket).
    *
    * Salt-count discovery is a partial-aggregated groupBy count — the
    * count of a mega-bucket map-side-combines across tasks, never
    * single-tasking — filtered to buckets OVER the cap before the
    * driver collect, so driver state is one entry per HOT bucket (the
    * boilerplate tail: Σ|bucket| ≤ input rows bounds them by
    * rows/saltCap, and real corpora have a handful). The driver map is
    * keyed by `xxhash64(bkey)`, not the bucket string: the kernel only
    * needs "how many salts does this bucket get", and over-salting a
    * cold bucket whose hash collides with a hot one is
    * correctness-neutral (its triangle just tiles — the pair set is
    * unchanged, KernelPropertySpec's low-cap draws exercise exactly
    * that universal-over-salting shape), so 12-byte entries replace
    * 100+-byte band-slice strings and the 4M fail-loud ceiling costs
    * ≈ 240 MB of driver map + broadcast (Map overhead included)
    * instead of GBs. Tile keys stay the exact bucket STRING — colliding
    * buckets never mix rows, they only share a salt count.
    *
    * SKEW-FREE FAST PATH: when no bucket exceeds the cap — the common
    * production shape after exact dedup, and every uniform gate corpus
    * — the tiling machinery is pure constant-factor tax (the r11 idle
    * bench priced it at 1.3-2.7× across the minhashLsh family), so the
    * kernel plans the plain self-equijoin the tiling is property-tested
    * equal to. The tiled path engages exactly when it pays for itself:
    * some bucket would otherwise serialize |bucket|²/2 enumerations
    * onto the single task its join key hashes to.
    *
    * NULL bucket keys are dropped up front, matching the self-equijoin
    * contract (`a.bkey = b.bkey` never matches NULL — r11 ADVICE: the
    * tiled path used to group NULLs into one bucket and pair them).
    *
    * `pay` rides along so verify metadata (a 64-bit phash, a config
    * id) reaches the pair without a post-hoc n-row join; callers that
    * need none pass 0.
    *
    * Input columns: bkey (string), id (long), pay (long).
    * Output: id1, pay1, id2, pay2.
    */
  private[graft] def bucketPairs(rows: DataFrame,
                                 saltCap: Int = 1024): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    // r12: a LONG bkey is kept as a long end-to-end — the fast-path
    // self-equijoin then exchanges 8-byte keys instead of their ~20-byte
    // decimal strings (guide §2.3, narrower types), and key compare/sort
    // is integer work. Callers whose bucket key is naturally numeric
    // (substring window hashes, simhash/phash pigeonhole blocks) pass
    // the long. r13: a composite numeric key (minhash band slices —
    // band id + r signature longs) passes an ARRAY<LONG> and stays
    // binary end-to-end too: exact equality (no hash), 8·(r+1)+16
    // bytes per key on the exchange instead of the ~90-byte decimal
    // CSV string the r12 sliceKey built, and no per-row long→string
    // render + concat in the hot projection. Only a key whose parts
    // are not all longs takes the string form now.
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val keyIsLong = rows.schema("bkey").dataType == LongType
    val keyIsLongArray = rows.schema("bkey").dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    // persisted: the hot-count action materializes this projection
    // anyway, and the pair plan reads it 1-2 more times (both sides of
    // the fast-path self-equijoin, or the tiled flatMap) — without the
    // persist every read recomputes the caller's upstream (minhash
    // signatures, phash decode). MEMORY_AND_DISK, so a 100 TB banded
    // frame spills instead of OOMing; it is one pass's output either way.
    // NOT pre-partitioned here: a small cached frame self-joins as a
    // zero-exchange BroadcastHashJoin (cache stats are exact), and an
    // unconditional repartition only ADDS an exchange (r12 measured the
    // minhash family +6 MB shuffle each). A caller whose frame is too
    // big to broadcast (substringPairs' ~L× window amplification) passes
    // its rows already repartitioned by bkey — select/filter below are
    // narrow, so that partitioning reaches the cache and the fast-path
    // join runs with zero join-time exchanges (guide §2.4).
    val in = rows.select(
        (if (keyIsLong || keyIsLongArray) col("bkey")
         else col("bkey").cast("string")).as("bkey"),
        col("id").cast("long").as("id"), col("pay").cast("long").as("pay"))
      .filter(col("bkey").isNotNull)
      .persist().tracked
    // hot buckets and their salt counts (the salt rule: Tiles.salts)
    val hot = Tiles.salts(spark,
      in.groupBy(xxhash64(col("bkey")).as("bh")).count()
        .filter(col("count") > saltCap.toLong)
        .collect().map(r => r.getLong(0) -> r.getLong(1)), saltCap)
    require(hot.size <= (1 << 22),
      s"bucketPairs: ${hot.size} buckets over saltCap=$saltCap — the hot-" +
        "bucket map no longer fits driver state; raise saltCap or pre-split")
    if (hot.isEmpty)
      return in.as("x").join(in.as("y"),
          col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id1"), col("x.pay").as("pay1"),
          col("y.id").as("id2"), col("y.pay").as("pay2"))
    val bc = spark.sparkContext.broadcast(hot)
    // pairs of one tile, lazily: enumeration streams into the shuffle
    // writer, never materialized as a task-local collection
    def tilePairs(diagonal: Boolean, rows: Array[(Long, Long, Int)])
        : Iterator[(Long, Long, Long, Long)] = {
      val as = if (diagonal) rows else rows.filter(_._3 == 0)
      val bs = if (diagonal) rows else rows.filter(_._3 == 1)
      if (diagonal)
        as.indices.iterator.flatMap { i =>
          val (ai, ap, _) = as(i)
          // ai != bi guard: the join form (`a.id < b.id`) never pairs
          // an id with itself even if a caller ships duplicate ids
          (i + 1 until as.length).iterator
            .filter(j => as(j)._1 != ai)
            .map { j =>
              val (bi, bp, _) = as(j)
              if (ai < bi) (ai, ap, bi, bp) else (bi, bp, ai, ap)
            }
        }
      else
        as.iterator.flatMap { case (ai, ap, _) =>
          bs.iterator.map { case (bi, bp, _) =>
            if (ai < bi) (ai, ap, bi, bp) else (bi, bp, ai, ap)
          }
        }
    }
    def fanOut[K](bk: K, id: Long, pay: Long, bh: Long) =
      Tiles.triangle(bk, id, bc.value.getOrElse(bh, 1))(side => (id, pay, side))
    // the walk keeps the session width: only hot buckets reach it
    def walk[K](fanned: org.apache.spark.sql.Dataset[((K, Int, Int), (Long, Long, Int))])
        : DataFrame =
      Tiles.walk(fanned, graft.Widths.session(spark), Seq(col("_1")))(_._1, _._2) {
        (k, rows) => tilePairs(k._2 == k._3, rows)
      }.toDF("id1", "pay1", "id2", "pay2")
    val withH = in.withColumn("bh", xxhash64(col("bkey")))
    if (keyIsLong)
      walk(withH.as[(Long, Long, Long, Long)]
        .flatMap { case (bk, id, pay, bh) => fanOut(bk, id, pay, bh) })
    else if (keyIsLongArray)
      // Seq[Long] tile keys: tuple equality in the run walk is
      // structural (Seq.equals), repartition/sort on an array column
      // are both supported orderable/hashable shapes
      walk(withH.as[(Seq[Long], Long, Long, Long)]
        .flatMap { case (bk, id, pay, bh) => fanOut(bk, id, pay, bh) })
    else
      walk(withH.as[(String, Long, Long, Long)]
        .flatMap { case (bk, id, pay, bh) => fanOut(bk, id, pay, bh) })
  }

  /** The exact ARRAY<LONG> bucket key [[bucketPairs]] groups on for a
    * banded signature slice: the band id(s) prepended to the raw
    * signature slice — collision-free by construction (plain array
    * equality, no hash, fixed positions disambiguate bands/configs),
    * so bucket membership is IDENTICAL to the (band, slice-array)
    * equijoin key. r13: replaces the r12 decimal-CSV string key —
    * ~90 bytes and a per-row long→string render + concat — with the
    * 8·(r+1)-byte binary array (guide §2.3, narrower shuffle rows).
    */
  private def sliceKey(prefix: Seq[Column], slice: Column): Column =
    concat(array(prefix.map(_.cast("long")): _*), slice)

  /** MinHash signatures + LSH banding → candidate pairs, verified with
    * exact shingle Jaccard. numHashes=64, bands=16 (r=4) targets
    * J ≈ 0.5+ candidates.
    *
    * Each shingle is hashed ONCE (variable-length string → long); the
    * permutation family re-hashes that fixed-width long, so the per-row
    * cost is 1 string hash + numHashes integer hashes instead of
    * numHashes string hashes (~10× cheaper at corpus scale).
    *
    * ENGINE-EXACT (r4): the base hash is the repo's cross-engine
    * md5-low-64 (not xxhash64 — no DuckDB analogue), the permutation
    * family is pure wrapping-integer splitmix (replayable in HUGEINT
    * mod 2⁶⁴), and band keys are the RAW signature slices (array join
    * keys) instead of Spark's Murmur3 `hash` — so the ENTIRE
    * bucket-then-verify pipeline, candidates included, replays in the
    * DuckDB oracle.
    */
  def minhashLsh(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.6): DataFrame = {
    val rows = numHashes / bands
    // the shingle table feeds three branches (signatures + both sides of
    // the verify join) — persist it instead of recomputing the regex
    // split + shingle build per branch
    val sets = withShingles(docs).persist().tracked
    val sig = signatures(sets, numHashes)
    // band key: the band's RAW signature slice (array-equality join —
    // 8·r bytes per key; exact, engine-independent, no Murmur3)
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map(bd =>
        slice(col("sig"), bd * rows + 1, rows)): _*)).as(Seq("band", "bh")))
    // salted tiled enumeration, not a band self-equijoin: a (band,
    // slice) bucket shared by a near-verbatim document family (mirrors
    // differing by a timestamp line — they SURVIVE exact dedup and
    // collide on most bands) is ONE join key, serializing |bucket|²
    // candidate rows onto a single task (the r10 embskew failure class,
    // here in the flagship dedup path). bucketPairs tiles the triangle
    // across (salt × salt) tasks; the candidate SET is identical.
    val candidates = bucketPairs(banded.select(
        sliceKey(Seq(col("band")), col("bh")).as("bkey"),
        col("doc_id").as("id"), lit(0L).as("pay")))
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
      .distinct()
    // verify candidates with exact Jaccard
    candidates
      .join(sets.select(col("doc_id").as("doc1"), col("sh").as("sh1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("sh").as("sh2")), "doc2")
      .withColumn("inter", sortedIntersect(col("sh1"), col("sh2")))
      .withColumn("jac", r4(col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter"))))
      .filter(col("jac") >= threshold)
      .select("doc1", "doc2", "jac")
  }

  /** Incremental dedup — the daily-ingest shape at corpus scale: check
    * an incoming batch against the EXISTING corpus without ever
    * pairing corpus×corpus. Every batch document gets one verdict row:
    * `exact` (byte-identical to a corpus doc — md5 digest probe,
    * match_id = lowest matching corpus id, jac = 1.0), `near` (shares
    * a MinHash band with a corpus doc and verifies at exact shingle
    * Jaccard ≥ threshold — match_id/jac = the best verified match,
    * ties to the lowest corpus id), or `new`. Within-batch duplicates
    * are out of scope by design (that is a self-dedup of the increment,
    * [[minhashLsh]]'s job).
    *
    * Scale shape: candidate volume is ∝ batch × collision rate, never
    * corpus². The batch digest and band frames are BROADCAST (the
    * increment is small next to the corpus), so the probe rides the
    * corpus scan with no corpus shuffle and no join-key skew — a hot
    * band bucket (boilerplate slice) fans out across the corpus
    * partitions that hold it instead of serializing onto one task. In
    * production the corpus side is a pre-built signature/digest
    * index — deriving it in-query here stands in for that read.
    */
  def incremental(docs: DataFrame, batchPred: Column, numHashes: Int = 64,
                  bands: Int = 16, threshold: Double = 0.1,
                  broadcastBatch: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = numHashes / bands
    // broadcastBatch = the "increment is small next to the corpus"
    // assumption made EXPLICIT: the hint bypasses
    // autoBroadcastJoinThreshold, so a caller whose increment is
    // itself large (a week of backfill) must pass false — the probes
    // fall back to shuffle joins on the digest / band keys (hot-band
    // skew then costs a skewed join task instead of a driver OOM).
    def maybeB(df: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(df) else df
    val batch = docs.filter(batchPred)
    val corpus = docs.filter(!batchPred)
    // exact layer: only 128-bit digests move, never text
    val bDig = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val cDig = corpus.select(col("doc_id").as("cid"), md5(col("text")).as("h"))
    val ex = cDig.join(maybeB(bDig), "h")
      .groupBy("doc_id").agg(min("cid").as("ex_match"))
    // near layer: the same signature pipeline as minhashLsh, split at
    // the band join so only batch×corpus band collisions become
    // candidates
    val bSets = withShingles(batch).persist().tracked
    val cSets = withShingles(corpus).persist().tracked
    def banded(sig: DataFrame): DataFrame = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map(bd =>
        slice(col("sig"), bd * rows + 1, rows)): _*)).as(Seq("band", "bh")))
    val cand = banded(signatures(cSets, numHashes))
      .withColumnRenamed("doc_id", "cid")
      .join(maybeB(banded(signatures(bSets, numHashes))), Seq("band", "bh"))
      .select(col("doc_id"), col("cid")).distinct()
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("jac").desc, col("cid").asc)
    val nr = cand
      .join(bSets.select(col("doc_id"), col("sh").as("sh1")), "doc_id")
      .join(cSets.select(col("doc_id").as("cid"), col("sh").as("sh2")), "cid")
      .withColumn("inter", sortedIntersect(col("sh1"), col("sh2")))
      .withColumn("jac", r4(col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter"))))
      .filter(col("jac") >= threshold)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cid").as("near_match"), col("jac"))
    batch.select(col("doc_id"))
      .join(ex, Seq("doc_id"), "left")
      .join(nr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("new").as("verdict"),
        when(col("ex_match").isNotNull, col("ex_match"))
          .otherwise(col("near_match")).as("match_id"),
        when(col("ex_match").isNotNull, lit(1.0))
          .otherwise(col("jac")).as("jac"))
  }

  /** LSH banding tradeoff sweep — the measured S-curve the (bands,
    * rows) choice is actually made on: for each config over the SAME
    * 64-hash signatures, the candidate-pair count, recall against the
    * exact prefix-filtered pair set at `threshold`, and candidate
    * precision. minhash_calibration measures signature quality at one
    * operating point; this measures the operating points themselves
    * (more bands → higher recall, quadratically more candidates).
    *
    * Shape: signatures computed once (persisted), one band self-join
    * per config over |docs|·bands slice keys, the truth set computed
    * once by the production prefix-filtered exact join. Output is
    * |configs| rows; the per-config counts come back via count()
    * actions (exact integers, engine-deterministic).
    *
    * The r = 2 (32-band) end of the curve was measured once (sf0.001:
    * 4535 candidates for 28 true pairs, precision 0.006) and is
    * EXCLUDED from the default sweep: 2-hash band keys collide at
    * ≈ J² per band, which is exactly the quadratic candidate regime
    * the production 16×4 config exists to avoid — sweeping it at
    * every bench run would pay that quadratic cost for a data point
    * whose verdict never changes.
    */
  def lshBandSweep(docs: DataFrame, numHashes: Int = 64,
                   bandConfigs: Seq[Int] = Seq(4, 8, 16),
                   threshold: Double = 0.5,
                   sampleN: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // calibration runs on a FIXED-SIZE hash-ranked sample (the N docs
    // with the smallest md5-rank — deterministic, append-stable): the
    // S-curve is a property of the hash family and the similarity
    // distribution, not of corpus size, and the exact truth set is the
    // sweep's quadratic cost — a proportional sample (the first
    // version's doc_id % 2) made calibration scale WITH the corpus.
    // orderBy+limit plans as TakeOrderedAndProject: per-partition
    // top-N, no global sort, no single-partition shuffle.
    val sets = withShingles(docs
        .orderBy(Sampling.hash32(col("doc_id").cast("string")), col("doc_id"))
        .limit(sampleN))
      .persist().tracked
    val sig = signatures(sets, numHashes).persist().tracked
    val truth = prefixJaccard(sets.select(col("doc_id"), col("sh").as("tok")),
        threshold)
      .select("doc1", "doc2").persist().tracked
    val nTrue = truth.count()
    // ALL configs' band keys in one frame → ONE self-join keyed on
    // (config, band, slice) → one candidate frame; per-config counts
    // and truth hits are two aggregates over it. 3 actions total
    // instead of 2 per config (each a full signature-scan job).
    val bandedAll = bandConfigs.sorted.map { bands =>
      val rows = numHashes / bands
      sig.select(lit(bands).as("bands"), col("doc_id"),
        posexplode(array((0 until bands).map(bd =>
          slice(col("sig"), bd * rows + 1, rows)): _*)).as(Seq("band", "bh")))
    }.reduce(_ unionByName _)
    // the same tiled kernel as production minhashLsh (sweep buckets are
    // sample-bounded, but the plan shape should match what it measures);
    // the config id rides the pay column back out
    val cand = bucketPairs(bandedAll.select(
        sliceKey(Seq(col("bands"), col("band")), col("bh")).as("bkey"),
        col("doc_id").as("id"), col("bands").cast("long").as("pay")))
      .select(col("pay1").cast("int").as("bands"), col("id1").as("doc1"),
        col("id2").as("doc2"))
      .distinct()
    // r13 (VERDICT item 4, guide §5 batch the actions): candidate
    // count and truth hits in ONE aggregate over ONE pass of the
    // candidate frame — the r12 form persisted `cand` and ran two
    // actions (groupBy count + left_semi groupBy), i.e. three
    // materializations of the sweep's widest frame. `truth` pairs are
    // unique (prefixJaccard emits doc1<doc2 once), so a left join +
    // match count is value-identical to the left_semi count.
    val stats = cand
      .join(truth.withColumn("t", lit(1L)), Seq("doc1", "doc2"), "left")
      .groupBy("bands").agg(count(lit(1)).as("n_cand"),
        count(col("t")).as("hits"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    sets.unpersist()
    sig.unpersist()
    truth.unpersist()
    val out = bandConfigs.sorted.map { bands =>
      val (nCand, hits) = stats.getOrElse(bands, (0L, 0L))
      (bands, numHashes / bands, nCand, nTrue, hits,
        if (nTrue > 0) r4d(hits.toDouble / nTrue) else 0.0,
        if (nCand > 0) r4d(hits.toDouble / nCand) else 0.0)
    }
    out.toDF("bands", "rows_per_band", "n_cand", "n_true", "hits",
      "recall", "cand_precision")
  }

  /** Connected components of the near-dup graph: every document labeled
    * with the minimum doc_id of its cluster (the canonical survivor a
    * dedup pipeline keeps). Edges = word-shingle Jaccard ≥ threshold
    * (prefix-filtered, see [[prefixJaccard]]).
    *
    * Iterative min-label propagation: each round every vertex takes the
    * min of its own and its neighbors' labels — one join + one
    * aggregate per round, converging in O(component diameter) rounds.
    * Near-dup clusters are overwhelmingly tiny (pairs/triples), so this
    * settles in 2–4 rounds; the loop stops as soon as a round changes
    * nothing and is capped defensively. At 100 TB the edge list is the
    * prefix-filtered candidate output — orders of magnitude smaller
    * than the corpus — and each round is a single keyed shuffle.
    */
  def clusters(docs: DataFrame, threshold: Double = 0.5,
               maxRounds: Int = 50,
               precomputedPairs: Option[DataFrame] = None): DataFrame = {
    // a pipeline that already ran near-dup pair detection passes its
    // edge list in — at corpus scale the candidate join is the dominant
    // cost and must never run twice
    val pairs = precomputedPairs.getOrElse(jaccardPairs(docs, threshold))
      .select("doc1", "doc2")
    // the symmetric edge list is persisted (partitioned by the
    // round-join key) INSIDE minLabelLoop — see its header
    val edges = pairs.unionByName(
      pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
    // only vertices with an edge can ever change label — iterate over
    // the near-dup subgraph (a sliver of the corpus) and union the
    // isolated documents back as their own canonical at the end
    val labels = minLabelLoop(edges, maxRounds)
    val isolated = docs.select("doc_id")
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lab"))
    labels.unionByName(isolated)
      .select(col("doc_id"), col("lab").as("canonical_id"),
        (col("doc_id") =!= col("lab")).cast("int").as("is_dup"))
  }

  /** Distributed min-label propagation over a SYMMETRIC `(doc1, doc2)`
    * long edge list — the one connected-components loop, behind
    * [[clusters]] and so behind every dedup, ANN and curation query
    * and `Correlate.corrCluster` (whose `name|node` signals arrive as
    * dense long ids in string order). Returns `(doc_id, lab)` for every
    * vertex with ≥1 edge, `lab` the least id of its component.
    *
    * Round shape: the edge list is persisted hash-partitioned by the
    * round-join key (guide §2.4: operations keyed the same way share
    * one exchange), so each round shuffles only bare `(id, label)`
    * pairs. Each round's labels are locally checkpointed by the round's
    * one `count` — one driver round trip per round — which cuts the
    * lineage that would otherwise grow with every round. A
    * LongAccumulator counts the changed labels; a task retry can only
    * over-count, which at worst schedules one extra idempotent round.
    *
    * From round 3 on, each round also propagates label-of-label
    * (pointer jumping), so maxRounds = 50 covers any component a 64-bit
    * id space can hold. The jump is deferred because it costs an extra
    * n-row shuffle join per round, and the common near-dup graph (LSH
    * clusters are near-cliques, diameter ≤ 3) converges in ≤ 4 plain
    * rounds. If the loop still exits with labels changing it THROWS
    * rather than return non-canonical labels: a silently split
    * component is a wrong answer every consumer would inherit.
    *
    * Caches: once a round has counted, the previous round's labels are
    * released; only the returned final labels stay persisted, and they
    * are tracked, so `Caches.release()` frees them with every other
    * operator cache. When a round throws or the loop does not converge,
    * every cache the loop made is released.
    */
  private[graft] def minLabelLoop(edges: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the edge list is materialized once RAW (this is the only pass
    // over the caller's pair pipeline), COUNTED, and re-persisted
    // hash-partitioned by the per-round join key so the round join
    // never re-shuffles it. The count prices the loop exactly — the
    // round width derives from it (guide §2: partitioning scales with
    // the measured workload, saturating to the session width), so a
    // 3k-edge bench graph runs 1-wide rounds while the near-verbatim
    // audit corpora (17M-pair families) and any 100 TB edge list fan
    // out to full width. MEMORY_AND_DISK throughout — the DataFrame
    // persist default; a 100 TB edge sliver spills instead of OOMing.
    val ed0 = edges.select(col("doc1"), col("doc2")).as[(Long, Long)].rdd
      .persist(lvl)
    // both name the raw edge cache until the loop builds its own
    var ed = ed0
    var labels = ed0
    try {
      val nEdges = ed0.count()
      val partitioner = new org.apache.spark.HashPartitioner(
        graft.Widths.forEdges(spark, nEdges))
      ed = ed0.partitionBy(partitioner).persist(lvl)
      // seed folds in each vertex's neighbor minimum (one round for free);
      // reduceByKey reuses ed's partitioning — no shuffle
      labels = ed.reduceByKey(partitioner, math.min(_: Long, _: Long))
        .mapPartitions(_.map { case (d, m) => (d, math.min(d, m)) },
          preservesPartitioning = true)
      labels.localCheckpoint()
      labels.count()
      ed0.unpersist(false)
      var changed = 1L
      var round = 0
      while (changed > 0 && round < maxRounds) {
        val acc = sc.longAccumulator(s"graft.cc.changed.r$round")
        // one hop: neighbor labels arrive via the narrow join against the
        // cached pre-partitioned edges and fold map-side into the per-
        // vertex neighbor min — the round's ONE shuffle, bare (id, label)
        // pairs. least(old, nbr_min) then rides a NARROW rejoin: labels
        // and nbrMin share the partitioner, so the rejoin is
        // exchange-free.
        val nbrMin = ed.join(labels, partitioner)
          .map { case (_, (d2, lab)) => (d2, lab) }
          .reduceByKey(partitioner, math.min(_: Long, _: Long))
        val hopped = labels.leftOuterJoin(nbrMin, partitioner)
          .mapValues { case (old, nm) => (math.min(old, nm.getOrElse(old)), old) }
        val jumped =
          if (round < 3) hopped
          else hopped
            .map { case (d, (lab, old)) => (lab, (d, old)) }
            .leftOuterJoin(labels, partitioner)
            .map { case (lab, ((d, old), j)) => (d, (math.min(lab, j.getOrElse(lab)), old)) }
            .partitionBy(partitioner)
        val next = jumped.mapPartitions(_.map { case (d, (lab, old)) =>
          if (lab != old) acc.add(1L)
          (d, lab)
        }, preservesPartitioning = true)
        next.localCheckpoint()
        next.count()
        // next's lineage is cut at its checkpoint: nothing reads the
        // previous round's labels any more
        labels.unpersist(false)
        changed = acc.value
        labels = next
        round += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"minLabelLoop did not converge after $maxRounds rounds " +
            s"($changed labels still changing) — component labels would be " +
            "non-canonical; raise maxRounds")
      labels.tracked.toDF("doc_id", "lab")
    } catch {
      case e: Throwable => labels.unpersist(false); throw e
    } finally {
      ed0.unpersist(false)
      ed.unpersist(false)
    }
  }

  /** Char-n-gram Jaccard near-dup pairs (robust to tokenization).
    * Prefix-filtered inverted index — see [[prefixJaccard]]: frequent
    * grams occur in every document, so one hot token alone would
    * yield |corpus|² candidate rows in a naive self-join.
    *
    * Gram width is the SCALE knob: the one-decade audit (PLANS.md r4)
    * measured the trigram space saturating as the corpus grows
    * (distinct trigrams 4.9× for 10× docs → naive Σ df² 14×) — at
    * char-gram space ≪ corpus, "rare" grams stop existing and the
    * prefix filter loses its lever. A 100 TB deployment uses n ≥ 5
    * (27⁵ ≈ 14M gram space) or the minhash-LSH path; n = 3 is kept as
    * the oracle-pinned default for corpus-scale parity with the
    * classic trigram formulation.
    */
  def ngramCharPairs(docs: DataFrame, threshold: Double = 0.5,
                     n: Int = 3): DataFrame = {
    // same gram construction as the oracle: distinct char n-grams,
    // sorted once per doc for the merge-scan verify
    val grams = spread(docs).select(col("doc_id"),
      sort_array(array_distinct(expr(
        s"transform(sequence(1, char_length(text) - ${n - 1}), i -> substring(text, i, $n))"))).as("tok"))
    prefixJaccard(grams, threshold).select("doc1", "doc2", "jac")
  }

  /** Per-document nearest near-duplicate: for every doc with at least
    * one Jaccard-≥-threshold neighbor, its single most-similar neighbor
    * — the "who is my closest dup" report reviewed before committing a
    * dedup policy. Symmetrizes the prefix-filtered pair set and takes
    * the per-doc argmax (rounded jac, id tiebreak → deterministic).
    * Cost is the candidate join ([[prefixJaccard]]); the argmax is one
    * window over the pair list, which is ≪ corpus.
    */
  def nearestDup(docs: DataFrame, threshold: Double = 0.5,
                 precomputedPairs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a pipeline that already ran pair detection (LSH or exact) passes
    // its (doc1, doc2, jac) edge list in — same contract as clusters()
    val pairs = precomputedPairs.getOrElse(jaccardPairs(docs, threshold))
    val sym = pairs.select(col("doc1").as("doc_id"), col("doc2").as("nbr"), col("jac"))
      .unionByName(pairs.select(col("doc2").as("doc_id"), col("doc1").as("nbr"), col("jac")))
    val bySim = Window.partitionBy("doc_id").orderBy(col("jac").desc, col("nbr").asc)
    sym.withColumn("rk", row_number().over(bySim))
      .filter(col("rk") === 1)
      .select("doc_id", "nbr", "jac")
  }

  /** 64-bit SimHash over word hashes; near-dup = hamming distance ≤ k.
    * Pairs are found by exact match on 4 16-bit blocks (pigeonhole: any
    * pair within hamming ≤ 3 of 64 bits shares at least one of 4 blocks)
    * — a groupBy join, not an all-pairs scan.
    *
    * The word hash is the low 64 bits of md5 (big-endian hex parse) —
    * a cryptographic mix is as bit-uniform as any, and unlike
    * `xxhash64` both engines can compute it, so the whole operator
    * (bit tallies, signature, blocks, hamming) is verified end-to-end
    * against the SQL oracle instead of trusted as rows-only. The hex
    * parse rides inside the per-doc tally task.
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val w = explode(words(col("text")))
    val tok = spread(docs).select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), substring(md5(col("w")), 17, 16).as("hx"))
    // 64 bit-count sum-aggregates blow up codegen (see minhashLsh); the
    // per-doc bit tally is a tiny mapGroups loop instead.
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val sim = tok.as[(Long, String)]
      .groupByKey(_._1)
      .mapGroups { (docId: Long, it: Iterator[(Long, String)]) =>
        val counts = new Array[Int](64)
        it.foreach { case (_, hx) =>
          val h = java.lang.Long.parseUnsignedLong(hx, 16)
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
        var sh = 0L
        var bit = 0
        while (bit < 64) {
          if (counts(bit) > 0) sh |= (1L << bit)
          bit += 1
        }
        (docId, sh)
      }
      .toDF("doc_id", "simhash")
    val blocks = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(blk =>
        shiftright(col("simhash"), blk * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("blk", "bv")))
    // tiled pigeonhole enumeration, not a (blk, bv) self-equijoin: a
    // block value shared by a near-verbatim family is ONE join key →
    // single-task |bucket|² (the r10 mega-group class). The simhash
    // rides the pay column, so hamming needs no post-hoc n-row join.
    // long bkey: blk ∈ [0,3] and bv ∈ [0,65535] pack bijectively into
    // (blk << 16) | bv — same buckets, 8-byte keys on the exchange
    bucketPairs(blocks.select(
        (col("blk").cast("long") * 65536L + col("bv")).as("bkey"),
        col("doc_id").as("id"), col("simhash").as("pay")))
      .select(col("id1").as("doc1"), col("id2").as("doc2"),
        bit_count(col("pay1").bitwiseXOR(col("pay2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs by embedding cosine similarity above a threshold.
    * Brute pairwise on a keyed subset; the scale path is Similarity.lshAnn
    * (bucketed). Cosine folds the vector in array order on both engines →
    * identical doubles before rounding.
    */
  def embedCosinePairs(embs: DataFrame, mod: Int = 5, threshold: Double = 0.5): DataFrame = {
    val e = embs.filter(col("vec_id") % mod === 0)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val withNorm = e.withColumn("nrm", vecNorm(col("v")))
    withNorm.as("a").join(withNorm.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        r4(vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding near-dup at scale: IVF-bucketed variant of
    * [[embedCosinePairs]]. Every vector is assigned to its
    * nearest-centroid cell (centroids broadcast — one pass, no
    * shuffle of the corpus), then pairs are generated WITHIN cells
    * only: the all-pairs quadratic becomes Σ|cell|², and the only
    * shuffle is the cell-keyed exchange. Near-dup pairs whose members
    * land in different cells are missed — the standard IVF recall
    * trade, measured by ann_recall_eval on the ANN side; at
    * cos ≥ 0.95 true near-dups co-assign almost surely.
    *
    * Cell assignment and cosine use the same rounded-cosine +
    * id-tiebreak determinism as the rest of the embedding family.
    *
    * `nCells <= 0` derives the cell count from the corpus size
    * ([[graft.operators.Similarity.autoCells]], the balanced ceil(√n))
    * so assignment and Σ|cell|² both stay on the n^1.5 law as the
    * corpus grows; the gate query pins nCells = 8 so its oracle
    * replays unchanged on the fixed test corpus.
    */
  def embedCosinePairsIvf(embs: DataFrame, nCells: Int = 8,
                          threshold: Double = 0.9,
                          saltCap: Int = 4096): DataFrame = {
    val cells =
      if (nCells > 0) nCells else graft.operators.Similarity.autoCells(embs)
    val base = embs
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = graft.operators.Similarity.assignCells(base, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    // salted in-cell kernel (Clustering.inCellPairs): streams survivors
    // with bounded task memory instead of materializing Σ|cell|²
    // candidate rows through a self-join, and tiles any mega-cell past
    // saltCap across salts; the pair set and each cos_sim are
    // bit-identical to the join form (same IEEE dot sequence, same r4)
    Clustering.inCellPairs(assigned, threshold, saltCap)
  }

  /** Exact shared-substring detection: document pairs sharing at least
    * one verbatim `width`-char substring, with the count of distinct
    * shared windows — the "exact substring duplication" signal
    * (verbatim boilerplate, quoted passages, template reuse) that
    * token-set Jaccard is blind to, because shingle *sets* ignore
    * ordering and contiguity.
    *
    * Plan: every starting offset yields one window; windows are
    * deduplicated per document (DISTINCT on (doc_id, window)) and
    * self-joined on window equality — an equi-join Catalyst executes
    * as one hash shuffle on the window key. `n_shared` counts the
    * distinct shared windows per pair. With `stride > 1` only every
    * s-th offset anchors the join, probed against ALL offsets of the
    * other document (striding BOTH sides would miss runs whose
    * alignments differ mod s): any shared run of ≥ width+stride−1
    * chars contains a stride-aligned window of each document, so the
    * asymmetric join still finds the pair at 1/s the anchor rows.
    *
    * Bucket-then-verify: the window string dies inside the task that
    * hashes it — every exchange in the candidate join carries
    * (doc_id, xxhash64(window), position), 24 bytes, instead of the
    * raw ≥32-char window (≈ a 32× amplification of the corpus).
    * Hash-equal candidates are then verified VERBATIM: each side's
    * window is re-cut from the base docs table at its recorded
    * position (doc-keyed joins, so the text payload exchanges at most
    * once per doc — and not at all when the docs side broadcasts) and
    * must match as a string. An engineered xxhash64 collision produces
    * a candidate here and dies on the compare (EdgeCaseSpec pins
    * exactly that pair). The offset sequence is exploded BEFORE the
    * substring is cut, so exactly one window string materializes (and
    * is immediately hashed) per row.
    */
  def substringPairs(docs: DataFrame, width: Int = 32, stride: Int = 1): DataFrame =
    substringPairsHashed(docs, width, stride, c => xxhash64(c))

  /** [[substringPairs]] with an injectable window-hash — the test seam
    * that lets EdgeCaseSpec force a hash collision (infeasible to
    * engineer against real xxhash64) and pin that the verbatim verify
    * rejects hash-equal-but-unequal windows.
    */
  private[graft] def substringPairsHashed(docs: DataFrame, width: Int,
      stride: Int, hashFn: Column => Column): DataFrame = {
    // one row per distinct (doc, window-hash): 8-byte digest plus ONE
    // deterministic position (min) where the verify stage re-cuts it
    def windows(step: Int): DataFrame = spread(docs)
      .filter(length(col("text")) >= width)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (width - 1),
          lit(step))).as("p"), col("text"))
      .select(col("doc_id"), col("p"),
        hashFn(col("text").substr(col("p"), lit(width))).as("h"))
      .groupBy("doc_id", "h").agg(min("p").as("p"))
    // stride > 1: both sides of the asymmetric candidate join read the
    // full window table; persisted so the explode+hash pass over the
    // text runs once. stride == 1: bucketPairs persists internally, so
    // a second cache here would only double the memory footprint.
    lazy val all = windows(1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    val cands =
      if (stride == 1)
        // tiled enumeration keyed on the window hash — one boilerplate
        // passage shared corpus-wide is ONE join key (the r10
        // mega-group class); the window position rides the pay column.
        // (doc, h) is deduped above, so ids are unique per bucket.
        // long bkey (8-byte exchange rows instead of ~20-byte decimal
        // strings), pre-partitioned by it: this frame is ~L× the corpus
        // — far past broadcast range — so the fast-path self-join
        // inside bucketPairs reuses the cache partitioning instead of
        // exchanging both sides (91 → 38 MB shuffled, r12 measurement).
        // r13: explicit derived width — the frame's own explode-
        // amplified stats as the signal — so the persisted partitioning
        // stays exact and the self-join reuse holds. DENSE budget: the
        // per-window hash + substring compare kernel serialized on the
        // 4 MB cache budget (8 tasks over ~24 MB ⇒ 1.3→3.8 s wall);
        // the dense budget saturates it at bench scale (r12 width).
        bucketPairs {
          val keyed = windows(1)
            .select(col("h").as("bkey"), col("doc_id").as("id"),
              col("p").cast("long").as("pay"))
          keyed.repartition(graft.Widths.forDense(keyed), col("bkey"))
        }
          .select(col("id1").as("doc1"), col("pay1").cast("int").as("p1"),
            col("id2").as("doc2"), col("pay2").cast("int").as("p2"))
      else
        windows(stride).as("a").join(all.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc1"),
            when(col("a.doc_id") < col("b.doc_id"), col("a.p"))
              .otherwise(col("b.p")).as("p1"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc2"),
            when(col("a.doc_id") < col("b.doc_id"), col("b.p"))
              .otherwise(col("a.p")).as("p2"))
    // verbatim verification: re-cut both windows and compare in-task
    val verified = cands
      .join(docs.select(col("doc_id").as("doc1"), col("text").as("_t1")), "doc1")
      .join(docs.select(col("doc_id").as("doc2"), col("text").as("_t2")), "doc2")
      .withColumn("s1", col("_t1").substr(col("p1"), lit(width)))
      .filter(col("s1") === col("_t2").substr(col("p2"), lit(width)))
    if (stride == 1)
      // both sides deduped on (doc_id, h) → exactly one row per
      // (pair, shared hash): a plain count, so no window string ever
      // enters ANY exchange on the default path
      verified.groupBy("doc1", "doc2").agg(count(lit(1)).as("n_shared"))
    else
      // the asymmetric path can see the same shared window from both
      // anchor directions — distinct on the verified string (only
      // verified-shared windows, the true duplication signal, reach
      // this exchange)
      verified.groupBy("doc1", "doc2").agg(countDistinct(col("s1")).as("n_shared"))
  }
  /** Winnowing fingerprint dedup (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every k-char gram, slide a w-gram
    * window, keep the RIGHTMOST minimal hash per window — guaranteeing
    * any shared substring of length ≥ k + w − 1 shares a fingerprint,
    * at ~2/(w+1) the density of full gram sets. The POSITIONAL sibling
    * of the shingle-set family: it finds where the overlap is, with a
    * bounded fingerprint budget per document.
    *
    * Determinism: the house md5-low64 gram hash (signed-long compare
    * mirrored in the oracle), and ONE integer struct-min window —
    * min(struct(h, −pos)) — whose field order gives min-hash with
    * rightmost-position tiebreak. Every selection is exact integer
    * arithmetic; no per-window fan-out or self-join exists anywhere.
    *
    * Scale: one gram projection, one keyed window pass; the pair
    * stage is the standard inverted index on
    * fingerprint hashes — Σ df² bounded, with `dfMax` dropping
    * ultra-common fingerprints (boilerplate) the way every inverted-
    * index dedup here prunes its hot keys (0 = off; the gate leaves it
    * off so the oracle replays the untruncated index).
    */
  def winnowingPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
                     minShared: Long = 3, dfMax: Long = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread BEFORE the gram explode: the rightmost-min window (and the
    // per-doc count window, and both fingerprint distincts — all keyed
    // by doc_id or a doc_id-prefixed tuple) then reuse the small docs
    // exchange instead of shuffling the ~L× larger gram frame
    // (guide §2.3: move the exchange to the lightweight side)
    val grams = spread(docs)
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), explode(expr(s"sequence(1, length(text) - ${k - 1})")).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        Sketches.md5Low64(expr(s"substring(text, CAST(pos AS INT), $k)")).as("h"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    // rightmost-minimal selection as ONE window aggregate: min over
    // struct(h, −pos) picks the minimal hash with the RIGHTMOST
    // position as tiebreak (−pos minimized = pos maximized) — no ×w
    // explode, no gram self-join, no re-aggregate (the r5 verdict's
    // winnowing rewrite); the oracle replays the identical struct-min
    val valid = grams
      .withColumn("mn", min(struct(col("h"), (-col("pos")).as("np")))
        .over(wd.rowsBetween(0, w - 1)))
      .withColumn("lg", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("pos") <= col("lg") - lit(w - 1))
    val fps = valid
      .select(col("doc_id"), (-col("mn.np")).as("fp_pos"),
        col("mn.h").as("fp_h")).distinct()
    // one row per (doc, hash) BEFORE the pair join: a fingerprint
    // selected at several positions of one doc would otherwise enter
    // the join with multiplicity and square it in the candidate rows
    // (shared_fp counts DISTINCT shared fingerprints either way — this
    // moves the dedup from a post-join countDistinct to a pre-join
    // shrink). A PPJoin prefix filter was tried here (r7) and measured
    // 3× SLOWER at the sfx1 decade: with the fixed minShared = 3 the
    // lossless prefix is |S|−2 ≈ the whole fingerprint set, so it only
    // re-ran the full join plus a verify pass — the prefix device pays
    // off when the threshold scales with the set (the Jaccard family),
    // not for a small fixed overlap count.
    val docHs = {
      val base = fps.select("doc_id", "fp_h").distinct()
      if (dfMax > 0) {
        // df counts (doc, position) fingerprint rows — the operator's
        // declared prune contract, replayed verbatim by the oracle
        val df = fps.groupBy("fp_h").agg(count(lit(1)).as("dfc"))
        base.join(df.filter(col("dfc") <= dfMax).select("fp_h"), "fp_h")
      } else base
    }
    docHs.select(col("doc_id").as("id1"), col("fp_h"))
      .join(docHs.select(col("doc_id").as("id2"), col("fp_h").as("h2")),
        col("fp_h") === col("h2") && col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }
}
