package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: empty frames, constant signals, and
  * single-point series must produce empty-or-sane results, never throw
  * — at scale some partition or some signal always hits these.
  */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  private def grid(rows: (String, String, Long, Double)*) =
    rows.toDF("name", "node", "tsb", "gval")

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("sampling handles empty frames, unknown strata, and rate edges") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(Sampling.stratifiedSample(empty, "source",
      $"doc_id".cast("string"), Map("a" -> 1.0)).count() == 0)
    val d = (1 to 50).map(i => (i.toLong, "txt", "weird_source"))
      .toDF("doc_id", "text", "source")
    // unlisted stratum falls to defaultRate 0 → nothing kept
    assert(Sampling.stratifiedSample(d, "source",
      $"doc_id".cast("string"), Map("a" -> 1.0)).count() == 0)
    // rate 1.0 keeps everything, rate 0.0 nothing
    assert(Sampling.stratifiedSample(d, "source",
      $"doc_id".cast("string"), Map("weird_source" -> 1.0)).count() == 50)
    assert(Sampling.mixToTarget(empty, "source",
      $"doc_id".cast("string"), lit(1.0)).count() == 0)
  }

  test("substring pairs and tfidf cope with empty and single-doc corpora") {
    val empty = docs()
    assert(Dedup.substringPairs(empty).count() == 0)
    assert(TextAnalysis.tfidfTop(empty).count() == 0)
    val single = docs((1L, "only one document here with some words"))
    assert(Dedup.substringPairs(single, width = 8).count() == 0) // no pair with itself
    val t = TextAnalysis.tfidfTop(single, 3).collect()
    assert(t.nonEmpty && t.forall(_.getLong(0) == 1L))
    assert(TextAnalysis.piiScrub(empty).count() == 0)
    assert(TextAnalysis.heavyHitters(single, 3).count() == 3)
  }

  test("substring verify rejects hash-equal but verbatim-unequal windows") {
    // a constant hash makes EVERY window pair hash-equal — the
    // synthetic collision infeasible to engineer against xxhash64.
    // Only the verbatim-identical pair may survive the verify stage.
    val d = docs((1L, "abcdefgh"), (2L, "ijklmnop"), (3L, "abcdefgh"))
    val out = Dedup.substringPairsHashed(d, 8, 1, _ => lit(0L))
      .select("doc1", "doc2", "n_shared").as[(Long, Long, Long)]
      .collect().toSeq
    assert(out == Seq((1L, 3L, 1L)),
      s"verbatim verify must keep only the true pair: $out")
    // and the real hash path agrees
    val real = Dedup.substringPairs(d, 8)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSeq
    assert(real == Seq((1L, 3L)))
  }

  test("new text/media/changepoint ops cope with empty and tiny inputs") {
    val empty = docs()
    assert(TextAnalysis.repetitionStats(empty).count() == 0)
    assert(TextAnalysis.bigramEntropy(empty).count() == 0)
    assert(Multimodal.phashPairs(docs((1L, "only"))).count() == 0)
    // one-char text has no bigrams → drops out, never divides by zero
    assert(TextAnalysis.bigramEntropy(docs((1L, "x"))).count() == 0)
    val tiny = Seq(("m", "a", 0L, 1.0), ("m", "a", 3600L, 2.0))
      .toDF("name", "node", "tsb", "gval")
    assert(ChangePoints.pelt(tiny).count() == 0)
  }

  test("trend tests on tiny or constant series never throw") {
    val single = grid(("m", "a", 0L, 5.0))
    assert(Trend.mannKendall(single).count() == 0) // no pairs → drops out
    assert(Trend.theilSen(single).count() == 0)
    val two = grid(("m", "a", 0L, 5.0), ("m", "a", 3600L, 6.0))
    val mk = Trend.mannKendall(two).head()
    assert(mk.getAs[Long]("s") == 1L)
    assert(Trend.theilSen(two).head().getAs[Double]("slope_hr") == 1.0)
    val const = grid((0 until 10).map(i => ("m", "a", i * 3600L, 3.3)): _*)
    val mkc = Trend.mannKendall(const).head()
    assert(mkc.getAs[Long]("s") == 0L && mkc.getAs[Double]("z") == 0.0
      && mkc.getAs[Int]("trend") == 0)
  }

  test("esd handles series too short for a verdict") {
    import graft.functions.Stats
    assert(Stats.esdOutliers(Array.empty[Double], 3).isEmpty)
    assert(Stats.esdOutliers(Array(1.0), 3).isEmpty)
    assert(Stats.esdOutliers(Array(1.0, 99.0), 3).isEmpty) // n-2 = 0 rounds
  }

  test("centroid sim with one label yields no pairs; partial corr without ctrl is empty") {
    val e = (0 until 5).map(i => (i.toLong, Array(1.0f, 2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.labelCentroidSim(e).count() == 0)
    val g = TimeSeries.indexed(grid(
      (0 until 12).flatMap(i => Seq(
        ("obj", "a", i * 3600L, i.toDouble),
        ("other", "a", i * 3600L, (i % 3).toDouble))): _*), 3600L)
    // no 'ctrl' signal present → ryz empty → empty result, no error
    assert(Correlate.partialCorr(g, "obj", "ctrl").count() == 0)
  }

  test("anomaly detectors emit nothing on constant signals, never divide by zero") {
    val flat = grid((0 until 20).map(i => ("m", "a", i * 900L, 5.0)): _*)
    assert(Anomaly.ksigma(flat).count() == 0)
    assert(Anomaly.mad(flat).count() == 0)
    assert(Anomaly.iqr(flat).count() == 0)
    assert(Anomaly.noiseOutlier(flat).count() == 0)
  }

  test("e-divisive returns no change points for short or constant series") {
    assert(functions.EDivisive.changePoints(Array(1.0, 2.0, 3.0)).isEmpty)
    assert(functions.EDivisive.changePoints(Array.fill(40)(7.0)).isEmpty)
    assert(functions.EDivisive.changePoints(Array.empty[Double]).isEmpty)
  }

  test("clusters with no near-dups labels every doc as its own canonical") {
    val out = Dedup.clusters(docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")), 0.5)
      .orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1L, 0), (2L, 2L, 0)))
  }

  test("prefix jaccard on an empty corpus returns an empty frame") {
    assert(Dedup.jaccardPairs(docs(), 0.5).count() == 0)
    assert(Dedup.ngramCharPairs(docs(), 0.5).count() == 0)
  }

  test("interpLinear on a single-point signal returns the point") {
    val out = TimeSeries.interpLinear(grid(("m", "a", 900L, 3.0)), 900L)
      .select("tsb", "interp", "was_missing")
      .as[(Long, Double, Int)].collect().toSeq
    assert(out == Seq((900L, 3.0, 0)))
  }

  test("ewma and moving stats survive a one-row signal") {
    val g = grid(("m", "a", 0L, 2.0))
    assert(TimeSeries.ewma(g).count() == 1)
    assert(TimeSeries.movingAvg(g).count() == 1)
    assert(TimeSeries.movingMedian(g).count() == 1)
  }

  test("anomalyUnion on too-short series emits nothing and does not throw") {
    val out = ChangePoints.anomalyUnion(grid(
      ("m", "a", 0L, 1.0), ("m", "a", 3600L, 2.0)))
    assert(out.count() == 0)
  }

  test("autocorr drops constant signals (zero variance) and short series") {
    val flat = grid((0 until 20).map(i => ("m", "a", i * 900L, 5.0)): _*)
    assert(TimeSeries.autocorr(flat).count() == 0)
    val short = grid(("m", "a", 0L, 1.0), ("m", "a", 900L, 2.0))
    assert(TimeSeries.autocorr(short).count() == 0) // below minOverlap
  }

  test("cusum on a constant signal is zero everywhere and never drifts") {
    val flat = grid((0 until 10).map(i => ("m", "a", i * 900L, 5.0)): _*)
    val out = TimeSeries.cusum(flat).select("cusum", "drift")
      .as[(Double, Int)].collect()
    assert(out.forall(_ == ((0.0, 0))))
    // a single point has no sample variance -> excluded, no throw
    assert(TimeSeries.cusum(grid(("m", "a", 0L, 1.0))).count() == 0)
  }

  test("holt needs two points; seasonal-naive needs period+minScored") {
    assert(TimeSeries.holt(grid(("m", "a", 0L, 1.0))).count() == 0)
    val short = grid((0 until 5).map(i => ("m", "a", i * 900L, i * 1.0)): _*)
    assert(TimeSeries.seasonalNaiveError(short, period = 12).count() == 0)
  }

  test("quality gate survives empty and whitespace-only documents") {
    val out = TextAnalysis.qualityGate(docs((1L, ""), (2L, "   "), (3L, "ok fine the and is")))
      .orderBy("doc_id").select("doc_id", "keep").as[(Long, Int)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L)) // no rows lost, no throw
    assert(out.take(2).forall(_._2 == 0))    // degenerate docs never kept
  }

  test("recallAtK with an empty ANN result scores zero for every query") {
    val truth = Seq((0L, 1, 10L), (1L, 1, 20L)).toDF("qid", "rank", "nid")
    val empty = Seq.empty[(Long, Int, Long)].toDF("qid", "rank", "nid")
    val out = Similarity.recallAtK(empty, truth, k = 1).orderBy("qid")
      .select("recall").as[Double].collect().toSeq
    assert(out == Seq(0.0, 0.0))
  }

  test("curation ops survive degenerate documents") {
    // passage stats: a doc shorter than the chunk width is one partial
    // chunk; a single-word doc still yields one passage row
    val p = Curation.passageDupStats(docs((1L, "one"), (2L, "a b c")))
      .orderBy("doc_id").select("doc_id", "n_passages", "n_dup")
      .as[(Long, Long, Long)].collect().toSeq
    assert(p == Seq((1L, 1L, 0L), (2L, 1L, 0L)))
    // decontaminate: docs below the shingle width are clean by definition
    assert(Curation.decontaminate(
      docs((1L, "too short")), docs((97L, "also very short here")), w = 8).count() == 0)
    // containment: a single-word doc has no bigrams and never pairs
    assert(Curation.containmentPairs(
      docs((1L, "word"), (2L, "word other things here now")), 0.5).count() == 0)
    // temperature sampling over one stratum keeps ~beta of it
    val one = (0 until 100).map(i => (i.toLong, "en")).toDF("doc_id", "lang")
    val kept = Curation.temperatureSample(one, "lang", col("doc_id").cast("string"),
      beta = 0.5).count()
    assert(kept > 30 && kept < 70, s"single-stratum keep should be ~beta: $kept")
    // empty corpus: every op returns empty, never throws
    val empty = docs()
    assert(Curation.passageDupStats(empty).count() == 0)
    assert(Curation.containmentPairs(empty).count() == 0)
    assert(Curation.canonicalByQuality(empty).count() == 0)
  }

  test("psi and mutualInfo degenerate inputs: constant signal, empty grid") {
    // constant signal: single bin both halves → every term ln(1)·0 = 0
    val g = grid((0 until 20).map(i =>
      ("m", "n1", i * 900L, 5.0)): _*)
    val p = TimeSeries.psi(g).collect()
    assert(p.length == 1 && p.head.getAs[Double]("psi") == 0.0)
    assert(TimeSeries.psi(grid()).count() == 0)
    // MI of a signal against itself-shaped constant candidate is 0
    // (one joint cell = marginals), and an empty grid yields no rows
    val ig = g.withColumn("i", expr("tsb div 900"))
      .union(grid((0 until 20).map(i =>
        ("error", "n1", i * 900L, 5.0)): _*).withColumn("i", expr("tsb div 900")))
    val mi = Correlate.mutualInfo(ig, "error").collect()
    assert(mi.length == 1 && mi.head.getAs[Double]("mi_nats") == 0.0)
    assert(Correlate.mutualInfo(grid().withColumn("i", lit(0L)), "error").count() == 0)
  }

  test("sloBurn, incidents, and holtBacktest cope with tiny inputs") {
    val ev = Seq((1L, 3600L * 1000000000L, 1L, "error", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val b = Anomaly.sloBurn(ev).collect()
    // single all-error hour: burn = (1/1)/0.25 = 4 on both windows
    assert(b.length == 1 && b.head.getAs[Double]("burn_1h") == 4.0 &&
      b.head.getAs[Boolean]("page"))
    val emptyEv = Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Anomaly.sloBurn(emptyEv).count() == 0)
    // flat grid: no alerts → no incidents; short series → no backtest
    assert(Anomaly.incidents(grid((0 until 10).map(i =>
      ("m", "n1", i * 900L, 1.0)): _*)).count() == 0)
    assert(TimeSeries.holtBacktest(grid(("m", "n1", 0L, 1.0),
      ("m", "n1", 900L, 2.0))).count() == 0)
  }

  test("operator persists register with Caches and release on demand") {
    Caches.release() // start from a clean registry
    val d = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h i"))
    val out = Curation.passageDupStats(d, 2).persist()
    out.count()
    assert(Caches.trackedCount > 0,
      "passageDupStats must track its persisted chunk frame")
    Caches.release()
    assert(Caches.trackedCount == 0)
    // the operator's intermediate is gone; the caller's own persist
    // (out) is untouched — release is scoped to graft-created caches
    assert(out.storageLevel.useMemory)
    out.unpersist()
  }

  test("null array elements, sub-window payloads, and empty-eval sketches") {
    // sorted_intersect_count is in the SQL registry, so arbitrary
    // arrays reach it: null elements never match and never NPE
    // (sort_array places nulls first — the merge skips them)
    val reg = spark.sessionState.functionRegistry
    val (id, inf, builder) = graft.plans.GraftExtensions.sortedIntersectDescriptor
    reg.registerFunction(id, inf, builder)
    val r = spark.sql(
      """SELECT sorted_intersect_count(sort_array(array(NULL, 'a', 'b')),
        |         sort_array(array('b', NULL, 'c'))) AS c""".stripMargin).head()
    assert(r.getLong(0) == 1L)
    // payloads too short for a 4-byte shingle must not collapse to one
    // hash-0 profile and pair with each other at hamming 0
    assert(Multimodal.phashPairs(
      docs((1L, "a"), (2L, "z"), (3L, "ab"), (4L, "pq"))).count() == 0)
    // an eval set with no ≥ w-word doc yields a NULL bloom sketch; the
    // bloom path answers "clean" instead of failing analysis on lit(null)
    val evalShort = docs((97L, "too short"))
    assert(Curation.decontaminateBloom(
      docs((1L, "one two three four five six seven eight nine")),
      evalShort, w = 8).count() == 0)
  }

  test("exact PCA and the LSH sweep survive empty and single-vector corpora") {
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Clustering.pcaStats(empty).count() == 0)
    val single = Seq((1L, Array(1.0f, 2.0f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Clustering.pcaStats(single).count() == 0, "n=1 has no variance")
    val emptyDocs = docs()
    val sweep = Dedup.lshBandSweep(emptyDocs, bandConfigs = Seq(4, 8))
      .collect()
    assert(sweep.length == 2 &&
      sweep.forall(r => r.getAs[Long]("n_cand") == 0L &&
        r.getAs[Double]("recall") == 0.0))
    assert(ChangePoints.seasonalEsd(grid()).count() == 0)
  }

  test("r5 continuation operators survive degenerate inputs") {
    // text battery: empty corpus → empty profiles, never a throw
    val emptyDocs = docs()
    assert(TextAnalysis.gopherRules(emptyDocs).count() == 0)
    assert(TextAnalysis.dupLines(emptyDocs).count() == 0)
    // short series: discords need 2w; forecast needs 3 points;
    // trend strength needs variance
    val short = grid(("a", "n", 0L, 1.0), ("a", "n", 900L, 2.0))
    assert(Anomaly.discords(short).count() == 0)
    assert(TimeSeries.forecastInterval(short).count() == 0)
    assert(TimeSeries.trendStrength(
      grid((0 until 10).map(i => ("f", "n", i * 900L, 7.0)): _*)).count() == 0)
    // packing: an oversize doc gets its own bin, nothing lost
    val over = Seq((1L, Seq.fill(20)("w").mkString(" "), "en"),
      (2L, "small doc", "en")).toDF("doc_id", "text", "lang")
    val packed = Curation.packBfd(over, budget = 10).collect()
      .map(r => r.getLong(1) -> r.getAs[Long]("pack_id")).toMap
    assert(packed.size == 2 && packed(1L) != packed(2L))
    // single-stratum mix with enough docs that the Bernoulli keeps
    // some: achieved = target = 1, zero KL
    val one = Curation.mixKlReport(
      (1L to 10L).map(i => (i, s"x$i", "en")).toDF("doc_id", "text", "lang"),
      "lang", $"doc_id".cast("string")).collect()
    assert(one.length == 1)
    assert(one.head.getAs[Long]("kept") > 0)
    assert(one.head.getAs[Double]("achieved_share") == 1.0)
    assert(math.abs(one.head.getAs[Double]("kl_term")) < 1e-9)
    // two docs whose hashes both fall above the 0.5 threshold: the
    // sampler keeps NOTHING — shares must pin to 0.0, not NULL/NaN
    // (Spark 0/0 is NULL, DuckDB 0/0 is NaN; the guard makes them agree)
    val none = Curation.mixKlReport(
      Seq((1L, "x", "en"), (2L, "y", "en")).toDF("doc_id", "text", "lang"),
      "lang", $"doc_id".cast("string")).collect()
    assert(none.head.getAs[Long]("kept") == 0)
    assert(none.head.getAs[Double]("achieved_share") == 0.0)
    assert(none.head.getAs[Double]("kl_term") == 0.0)
  }

  test("r5 continuation-3 operators survive degenerate inputs") {
    // hurst needs ≥ 2 full windows at every scale (n ≥ 64); short and
    // constant series drop, never throw
    val shortG = grid((0 until 40).map(i => ("s", "n", i * 900L, i.toDouble)): _*)
    assert(TimeSeries.hurstRS(shortG).count() == 0)
    val constG = grid((0 until 80).map(i => ("c", "n", i * 900L, 3.0)): _*)
    assert(TimeSeries.hurstRS(constG).count() == 0, "zero variance windows drop")
    // kendall: an all-ties pair (both constant) has no concordance
    // denominator → dropped; a constant-vs-varying pair keeps ty=n0 → dropped
    val kk = (0 until 12).flatMap(i => Seq(
      ("k1", "n", 0L, i.toLong, 5.0), ("k2", "n", 0L, i.toLong, 5.0)))
      .toDF("name", "node", "b", "i", "gval")
    assert(Correlate.kendallMatrix(kk).count() == 0)
    // tail dependence: a constant signal never exceeds its own p90
    // (strict >) → na = 0 → dropped
    val td = (0L until 30L).flatMap(i => Seq(
      ("t1", "n", i, 1.0), ("t2", "n", i, i.toDouble)))
      .toDF("name", "node", "i", "gval")
    assert(Correlate.tailDependence(td, minOverlap = 24).count() == 0)
    // level shift: series shorter than before+after windows → empty
    assert(Anomaly.levelShift(grid((0 until 8).map(i =>
      ("l", "n", i * 900L, i.toDouble)): _*)).count() == 0)
    // motif: fewer sax windows than the word length → empty
    assert(TimeSeries.motifSax(grid((0 until 8).map(i =>
      ("m", "n", i * 900L, (i % 3).toDouble)): _*)).count() == 0)
    // readability: empty / wordless text drops (no divide-by-zero);
    // zipf needs ≥ 8 distinct head words
    val weird = Seq((1L, ""), (2L, "12 34 !!"), (3L, "ok word here")).toDF("doc_id", "text")
    val rd = TextAnalysis.readability(weird).collect()
    assert(rd.map(_.getLong(0)).toSet == Set(3L))
    val tiny = Seq((1L, "s0", "a b a")).toDF("doc_id", "source", "text")
    assert(TextAnalysis.zipfSlope(tiny).count() == 0, "k < 8 drops")
    assert(TextAnalysis.hapaxProfile(tiny).collect().head.getAs[Long]("hapax") == 1L)
    // curriculum: one distinct score still yields balanced integer phases
    val flat = (1 to 10).map(i => (i.toLong, 0.5)).toDF("doc_id", "sc")
    val ph = Sampling.curriculum(flat, $"doc_id", $"sc").collect()
      .map(_.getAs[Int]("phase"))
    assert(ph.sorted.toSeq == (1 to 10), "id tiebreak spreads one value across phases")
    // bitsketch: a singleton corpus has no pairs
    val one = Seq((0L, Array.fill(64)(0.5f), 0)).toDF("vec_id", "embedding", "label")
    assert(Similarity.bitSketchCalibration(one, nCells = 1).count() == 0)
    // active-users sketch path: single-user corpus → HLL == exact == 1
    val regs = Sketches.hllRegisters(
      Seq((0L, 5L)).toDF("day", "user_id"), "day", "user_id")
    assert(Sketches.hllFold(regs, "day").collect().head.getLong(1) == 1L)
  }

  test("r5 wave operators survive degenerate inputs") {
    // dcor: a constant cell has zero distance variance → dropped; a
    // perfectly linear pair scores dcor = 1
    val cells = (0 until 12).flatMap(i => Seq(
      ("c1", "n", 0L, i.toLong, 5.0), ("c2", "n", 0L, i.toLong, i.toDouble)))
      .toDF("name", "node", "b", "i", "gval")
    assert(Correlate.dcorMatrix(cells).count() == 0, "constant side drops")
    val lin = (0 until 12).flatMap(i => Seq(
      ("l1", "n", 0L, i.toLong, i.toDouble), ("l2", "n", 0L, i.toLong, 2.0 * i + 3)))
      .toDF("name", "node", "b", "i", "gval")
    val d = Correlate.dcorMatrix(lin).collect()
    assert(d.length == 1 && d.head.getAs[Double]("dcor") == 1.0, d.mkString)
    // twap: one sample holds to bucket end; co-timestamped samples
    // collapse to their exact mean before weighting
    val tw = TimeSeries.twap(Seq(
      ("g", "n", 10L, 4.0), ("g", "n", 86400L + 0L, 1.0),
      ("g", "n", 86400L + 0L, 3.0), ("g", "n", 86400L + 43200L, 10.0))
      .toDF("name", "node", "tsec", "value")).orderBy("b").collect()
    assert(tw.length == 2)
    assert(tw(0).getAs[Double]("twap") == 4.0, "single sample = its value")
    assert(tw(0).getAs[Long]("covered_sec") == 86390L, "lead-in excluded")
    assert(tw(1).getAs[Double]("twap") == 6.0, "(2.0 for half) + (10 for half)")
    // jsd: a single source yields no pairs; disjoint vocabularies pin
    // to ln 2 exactly (the closed-form tail is the whole divergence)
    val one = Seq((1L, "a b c", "s0")).toDF("doc_id", "text", "source")
    assert(TextAnalysis.sourceJsd(one).count() == 0)
    val disj = Seq((1L, "aa bb", "s0"), (2L, "cc dd", "s1"))
      .toDF("doc_id", "text", "source")
    val dj = TextAnalysis.sourceJsd(disj).collect().head
    assert(dj.getAs[Long]("shared_terms") == 0L)
    assert(dj.getAs[Double]("jsd") == 0.6931, dj.toString)
    // mmr: corpus smaller than k still returns every vector once
    val tiny = Seq(
      (0L, Array.fill(64)(0.1f), 0), (1L, Array.fill(64)(-0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val mm = Similarity.mmrSelect(tiny, candK = 32, k = 8).collect()
    assert(mm.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 1L))
    assert(mm.length == 2)
    // range search: an impossible threshold returns empty, not error
    assert(Similarity.rangeSearch(tiny, nQueries = 1, minCos = 0.99).count() == 0)
    // benford first digits come from cents: 0.004 rounds to 0 cents →
    // excluded; negative values excluded
    val ev = Seq((1L, 0L, 1L, "t", 0.004, "{}"), (2L, 0L, 1L, "t", -5.0, "{}"),
      (3L, 0L, 1L, "t", 93.27, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    withEventsDir(ev) { dir =>
      val bf = graft.SparkEntry.queries("profile_benford")(spark, dir)
        .filter(col("n") > 0).collect()
      assert(bf.length == 1 && bf.head.getAs[Long]("digit") == 9L)
    }
  }

  test("wave H/I operators survive degenerate inputs") {
    // corr_degree: no pair clears the threshold → empty, not error
    val uncorr = (0 until 12).flatMap(i => Seq(
      ("u1", "n", 0L, i.toLong, (i % 3).toDouble),
      ("u2", "n", 0L, i.toLong, ((i * 7) % 5).toDouble)))
      .toDF("name", "node", "b", "i", "gval")
    assert(Correlate.corrDegree(uncorr, threshold = 0.999).count() == 0)
    // hard negatives: a single label has no cross-label pairs
    val mono = (0L to 3L).map(i => (i, Array.fill(64)(0.1f), 7))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.hardNegatives(mono).count() == 0)
    // 1-NN accuracy: a vector alone in its cell drops; two same-label
    // vectors sharing a cell score acc 1.0
    val two = Seq((0L, Array.fill(64)(0.2f), 1), (1L, Array.fill(64)(0.21f), 1))
      .toDF("vec_id", "embedding", "label")
    val acc = Similarity.labelKnnAccuracy(two, nCells = 1).collect()
    assert(acc.length == 1 && acc.head.getAs[Double]("acc_1nn") == 1.0)
    // aspect hist: exact boundary ratios land in their buckets
    val meta = Seq((1L, 10L, "png", 900, 1000, 0L), (2L, 10L, "png", 1000, 1000, 0L),
      (3L, 10L, "png", 1112, 1000, 0L), (4L, 10L, "png", 899, 1000, 0L))
      .toDF("doc_id", "byte_len", "format", "width", "height", "checksum")
    val ah = Multimodal.aspectHist(meta).collect()
      .map(r => (r.getAs[String]("aspect"), r.getAs[Long]("n"))).toMap
    assert(ah == Map("portrait" -> 1L, "square" -> 2L, "landscape" -> 1L), ah.toString)
  }

  test("winnowing guarantees and code detection semantics") {
    // guarantee: any shared substring of length >= k+w-1 (11) shares a
    // fingerprint; identical docs share everything
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated content with zero overlap at all"),
      (4L, "short"))
    val pairs = Dedup.winnowingPairs(d, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs must pair")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "sub-window doc drops")
    // a doc embedding a >= 11-char run of another must share a fingerprint
    val e = docs(
      (1L, "xxxx THE-SHARED-RUN-IS-HERE yyyy zz qq ww ee rr tt"),
      (2L, "aaaa bbbb cccc THE-SHARED-RUN-IS-HERE dddd ffff gggg"))
    assert(Dedup.winnowingPairs(e, minShared = 1).count() >= 1)
    // code detection: a code-shaped doc flags, prose does not
    val cd = Seq(
      (1L, "def total_sum(xs):\n    return sum(xs);\nclass FooBar {\n    int myVar = 0;\n}"),
      (2L, "the gentle rain fell softly on the quiet village all through the evening"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.codeDetect(cd).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_code")).toMap
    assert(out(1L) && !out(2L), out.toString)
  }

  test("html strip removes markup and keys the stripped digest") {
    val d = Seq(
      (1L, "<html><body>hello <b>world</b></body></html>"),
      (2L, "hello world"))
      .toDF("doc_id", "text")
    val stripped = d.select(col("doc_id"),
      trim(regexp_replace(col("text"), "<[^>]*>", " ")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // tags become single spaces; the markup doc's words survive
    assert(stripped(1L).replaceAll("\\s+", " ") == "hello world", stripped(1L))
    assert(stripped(2L) == "hello world")
  }

  /** Write an events frame to a temp dir as parquet so dir-shaped
    * queries can run on synthetic rows.
    */
  private def withEventsDir(ev: org.apache.spark.sql.DataFrame)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ev").toFile
    ev.write.mode("overwrite").parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    f(dir.getAbsolutePath)
  }
}
