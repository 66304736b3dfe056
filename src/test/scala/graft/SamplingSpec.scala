package graft

import graft.operators.{Dedup, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private def docs: DataFrame =
    (1 to 400).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      val src = s"src${i % 4}"
      (i.toLong, s"document body number $i with filler text", lang, src)
    }.toDF("doc_id", "text", "lang", "source")

  test("cappedPerStratum keeps exactly n per stratum, deterministic and partition-invariant") {
    val out = Sampling.cappedPerStratum(docs, "source", $"doc_id".cast("string"), 20)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 20L), s"every source capped at 20: $counts")
    val ids = out.select("doc_id").as[Long].collect().toSet
    // same set regardless of partitioning — the hash rank is content-keyed
    val re = Sampling.cappedPerStratum(docs.repartition(13), "source",
        $"doc_id".cast("string"), 20)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == re)
    // a stratum below the cap passes through whole
    val small = Sampling.cappedPerStratum(docs.filter($"doc_id" <= 30), "source",
      $"doc_id".cast("string"), 20)
    assert(small.count() == 30)
  }

  test("stratifiedSample keeps per-stratum rates near target and is deterministic") {
    val rates = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25)
    val once = Sampling.stratifiedSample(docs, "lang", $"doc_id".cast("string"), rates)
    val twice = Sampling.stratifiedSample(docs, "lang", $"doc_id".cast("string"), rates)
    assert(once.collect().map(_.getLong(0)).sorted
      sameElements twice.collect().map(_.getLong(0)).sorted)

    val kept = once.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") == 133)                  // rate 1.0 keeps every en row
    assert(kept("de") > 30 && kept("de") < 100) // ~67 expected at 0.5
    assert(kept("fr") > 10 && kept("fr") < 60)  // ~33 expected at 0.25
  }

  test("samples are nested: lower rate selects a subset of higher rate") {
    def ids(rate: Double): Set[Long] =
      Sampling.stratifiedSample(docs, "lang", $"doc_id".cast("string"),
        Map("en" -> rate, "de" -> rate, "fr" -> rate))
        .collect().map(_.getLong(0)).toSet
    val quarter = ids(0.25)
    val half = ids(0.5)
    assert(quarter.subsetOf(half))
    assert(quarter.nonEmpty && quarter.size < half.size)
  }

  test("stratifiedSample is invariant to input partitioning") {
    val rates = Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.5)
    val a = Sampling.stratifiedSample(docs.repartition(7), "lang",
      $"doc_id".cast("string"), rates).collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(docs.coalesce(1), "lang",
      $"doc_id".cast("string"), rates).collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("mixToTarget hits the scarcest-stratum bound and weights the rest") {
    // counts per source: src0 = src1 = src2 = src3 = 100
    // weights: src0 → 3, others → 1; k = min(100/3, 100/1) = 33.33
    // so src0 keeps everything (rate 1.0) and the rest target ~33 rows
    val w = when($"source" === "src0", lit(3.0)).otherwise(lit(1.0))
    val kept = Sampling.mixToTarget(docs, "source", $"doc_id".cast("string"), w)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("src0") == 100)
    Seq("src1", "src2", "src3").foreach { s =>
      assert(kept(s) > 15 && kept(s) < 55, s"$s kept ${kept(s)}")
    }
  }

  test("mixToTarget drops strata with zero weight") {
    val w = when($"source" === "src0", lit(1.0)).otherwise(lit(0.0))
    val kept = Sampling.mixToTarget(docs, "source", $"doc_id".cast("string"), w)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(kept == Set("src0"))
  }

  test("splitAssign labels every row once, near fractions, append-stable") {
    val out = Sampling.splitAssign(docs, $"doc_id".cast("string"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byLabel = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(byLabel.values.sum == 400)
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > 280 && byLabel("train") < 360,
      s"train share off: $byLabel")
    // appending rows must not move existing assignments
    val more = (401 to 500).map(i =>
      (i.toLong, "extra", "en", "src0")).toDF("doc_id", "text", "lang", "source")
    val grown = Sampling.splitAssign(docs.unionByName(more),
        $"doc_id".cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter($"doc_id" <= 400)
    val before = out.select("doc_id", "split").as[(Long, String)].collect().sorted
    val after = grown.select("doc_id", "split").as[(Long, String)].collect().sorted
    assert(before.toSeq == after.toSeq)
  }

  test("importanceSample keeps each row with probability equal to its score") {
    val scored = docs.withColumn("p",
      when(col("doc_id") % 2 === 0, lit(1.0)).otherwise(lit(0.0)))
    val kept = Sampling.importanceSample(scored, col("doc_id").cast("string"),
      col("p")).select("doc_id").as[Long].collect().toSet
    assert(kept == (1 to 400).map(_.toLong).filter(_ % 2 == 0).toSet,
      "p=1 rows must all survive, p=0 rows must all drop")
    // a mid probability keeps a mid fraction, and raising p only ADDS rows
    val half = Sampling.importanceSample(docs.withColumn("p", lit(0.5)),
      col("doc_id").cast("string"), col("p")).select("doc_id").as[Long].collect().toSet
    val most = Sampling.importanceSample(docs.withColumn("p", lit(0.8)),
      col("doc_id").cast("string"), col("p")).select("doc_id").as[Long].collect().toSet
    assert(half.size > 150 && half.size < 250, s"~half expected, got ${half.size}")
    assert(half.subsetOf(most), "kept sets must be nested in the score")
  }

  test("grouped split sends every member of a dup group to the canonical's split") {
    // two exact copies of every text: doc i and doc i+400 collide
    val dup = docs.select(col("doc_id") + 400, col("text"), col("lang"), col("source"))
      .toDF("doc_id", "text", "lang", "source")
    val both = docs.union(dup)
    val out = Sampling.splitAssign(
        Dedup.exact(both).select("doc_id", "canonical_id"),
        col("canonical_id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "canonical_id", "split")
      .as[(Long, Long, String)].collect()
    val byCanon = out.groupBy(_._2).values
    assert(byCanon.forall(g => g.map(_._3).toSet.size == 1),
      "a dup group must never span splits")
    assert(byCanon.exists(_.size == 2), "fixture must actually form dup groups")
    val labels = out.map(_._3).toSet
    assert(labels == Set("train", "val", "test"), labels.toString)
  }

  test("substringPairs finds verbatim shared windows and counts them") {
    val boiler = "SHARED-BOILERPLATE-TEXT-THAT-IS-LONG-ENOUGH-TO-MATCH-EXACTLY"
    val d = Seq(
      (1L, s"unique prefix one $boiler unique suffix one"),
      (2L, s"different lead-in, $boiler and another tail"),
      (3L, "no shared content in this document at all, entirely distinct prose")
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(d, width = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.length == 1)
    val (a, b, n) = pairs.head
    assert(a == 1L && b == 2L)
    // the shared run is " <boiler> " (both docs surround the 60-char
    // boiler with spaces) = 62 chars → 62 - 32 + 1 = 31 windows
    assert(n == 31L)
  }

  test("substringPairs with stride still catches long shared runs") {
    val boiler = "SHARED-BOILERPLATE-TEXT-THAT-IS-LONG-ENOUGH-TO-MATCH-EXACTLY"
    val d = Seq(
      (1L, s"unique prefix one $boiler unique suffix one"),
      (2L, s"different lead-in!! $boiler and another tail")
    ).toDF("doc_id", "text")
    // stride 4 with width 32 catches any shared run >= 35 chars
    val pairs = Dedup.substringPairs(d, width = 32, stride = 4).collect()
    assert(pairs.length == 1)
  }

  test("ivf-bucketed embed dedup matches brute force on separated clusters") {
    // two tight, well-separated clusters: every true near-dup pair is
    // within-cluster, so bucketing loses nothing and IVF == brute force
    val e = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.05f * (i % 3))
                 else Array(0.0f, 1.0f, 0.05f * (i % 3))
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    // nCells = 2: centroids are vec 0 (cluster A) and vec 1 (cluster B),
    // one per cluster — more cells would split a cluster across cells
    // and demonstrate exactly the recall loss the scaladoc declares
    val ivf = Dedup.embedCosinePairsIvf(e, nCells = 2, threshold = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val brute = Dedup.embedCosinePairs(e, mod = 1, threshold = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(ivf == brute)
    assert(ivf.nonEmpty)
    // no cross-cluster pair can score >= 0.95 (clusters are orthogonal)
    assert(ivf.forall { case (a, b) => a % 2 == b % 2 })
  }

  test("substringPairs ignores docs shorter than the window") {
    val d = Seq((1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text")
    assert(Dedup.substringPairs(d, width = 32).count() == 0)
  }

  test("budgetFill keeps the straddler, ranks boundary ties by doc_id, " +
    "and reports under-budget strata whole") {
    val scored = Seq(
      // stratum a: 4 equal-size docs, quality-ordered — budget 800
      // crosses inside doc 3 (cum_before 600 < 800), doc 4 dropped
      ("a", 1L, 300L, 0.9), ("a", 2L, 300L, 0.9),
      ("a", 3L, 300L, 0.8), ("a", 4L, 300L, 0.7),
      // stratum b: fits entirely under the budget
      ("b", 10L, 100L, 0.5), ("b", 11L, 50L, 0.6),
      // stratum c: ALL docs share one quality value — the boundary
      // path must rank them by doc_id (22's cum_before = 800, not <)
      ("c", 20L, 400L, 0.9), ("c", 21L, 400L, 0.9), ("c", 22L, 400L, 0.9)
    ).toDF("source", "doc_id", "n_tokens", "quality")
    val out = Sampling.budgetFill(scored, "source", 800L)
      .orderBy("source")
      .select("source", "n_docs", "corpus_tokens", "n_kept", "tokens_kept",
        "cut_quality", "util")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("a", 4L, 1200L, 3L, 900L, 0.8, 1.125),
      ("b", 2L, 150L, 2L, 150L, 0.5, 0.1875),
      ("c", 3L, 1200L, 2L, 800L, 0.9, 1.0)))
  }

  test("incremental dedup verdicts: exact beats near, near verifies " +
    "jaccard, within-batch dups stay 'new'") {
    val d = Seq(
      // corpus
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "unrelated totally different content here now"),
      // batch (doc_id >= 100)
      (100L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (101L, "the quick brown fox jumps over the lazy cat"), // near dup of 2
      (102L, "completely novel words nobody else ever uses"),
      (103L, "completely novel words nobody else ever uses") // batch-internal dup
    ).toDF("doc_id", "text")
    val out = Dedup.incremental(d, col("doc_id") >= 100, threshold = 0.5)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq(
      (100L, "exact", Some(1L)),
      (101L, "near", Some(2L)),
      (102L, "new", None),
      (103L, "new", None)))
    assert(out.head._4.contains(1.0))
    // doc 2 has 8 bigram shingles, doc 101 shares 7 → jac 7/9
    assert(out(1)._4.contains(0.7778))
  }

  test("hash sampling is stateless and stream/batch identical") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1 to 200).map(i => (i.toLong, s"doc body $i", s"src${i % 3}"))
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
    val mem = MemoryStream[(Long, String, String)]
    val streamDF = mem.toDF().toDF("doc_id", "text", "source")
    val q = graft.operators.Sampling
      .stratifiedSample(streamDF, "source", col("doc_id").cast("string"), rates)
      .writeStream.format("memory").queryName("sampled").outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT doc_id FROM sampled")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    val batch = graft.operators.Sampling
      .stratifiedSample(rows.toDF("doc_id", "text", "source"), "source",
        col("doc_id").cast("string"), rates)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
