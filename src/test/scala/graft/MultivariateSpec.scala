package graft

import graft.operators.{Anomaly, TimeSeries}
import org.apache.spark.sql.functions.col

/** Specs for the r5 analytic additions: Mahalanobis multivariate
  * anomaly and SAX symbolization.
  */
class MultivariateSpec extends SparkTestBase {
  import spark.implicits._

  test("mahalanobis ranks the correlation-breaking cell first") {
    // two strongly-correlated metrics; one cell has A high while B is
    // low — both coordinates individually unremarkable (|z| < 2), but
    // the COMBINATION violates the joint structure
    val rows = (1 to 41).flatMap { t =>
      val a = t.toDouble
      val b = t.toDouble + (if (t % 2 == 0) 0.5 else -0.5)
      Seq(("ma", "n0", t * 3600L, a), ("mb", "n0", t * 3600L, b))
    } ++ Seq(("ma", "n0", 42 * 3600L, 32.0), ("mb", "n0", 42 * 3600L, 10.0))
    val grid = rows.toDF("name", "node", "tsb", "gval")
    val out = Anomaly.mahalanobis(grid, Seq("ma", "mb"), topN = 5).collect()
    assert(out.length == 5)
    val top = out.head
    assert(top.getAs[Long]("tsb") == 42 * 3600L,
      s"expected the joint-structure break on top, got ${top}")
    // its marginal z-scores are individually unremarkable
    assert(math.abs(top.getAs[Double]("z_ma")) < 2.0)
    assert(math.abs(top.getAs[Double]("z_mb")) < 2.0)
    // and its d2 dominates the runner-up decisively
    assert(top.getAs[Double]("d2") > 2.0 * out(1).getAs[Double]("d2"))
  }

  test("mahalanobis d2 equals the textbook (x-mu)' Sigma^-1 (x-mu) on random data") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 50).flatMap { t =>
      val a = rnd.nextGaussian() * 4.0 + 10.0
      val b = a * 0.5 + rnd.nextGaussian()
      Seq(("x", "n0", t * 3600L, a), ("y", "n0", t * 3600L, b))
    }
    val out = Anomaly.mahalanobis(rows.toDF("name", "node", "tsb", "gval"),
      Seq("x", "y"), topN = 1000).collect()
    // reference: sample covariance of the reported z-vectors (exactly
    // the operator's quantized inputs, recovered from z = qz/1e4),
    // inverted in closed form
    val zs = out.map(r => (r.getAs[Double]("z_x"), r.getAs[Double]("z_y")))
    val n = zs.length.toDouble
    val (mx, my) = (zs.map(_._1).sum / n, zs.map(_._2).sum / n)
    val sxx = zs.map(z => (z._1 - mx) * (z._1 - mx)).sum / (n - 1)
    val syy = zs.map(z => (z._2 - my) * (z._2 - my)).sum / (n - 1)
    val sxy = zs.map(z => (z._1 - mx) * (z._2 - my)).sum / (n - 1)
    val det = sxx * syy - sxy * sxy
    out.foreach { r =>
      val dx = r.getAs[Double]("z_x") - mx
      val dy = r.getAs[Double]("z_y") - my
      val ref = (dx * (syy * dx - sxy * dy) + dy * (sxx * dy - sxy * dx)) / det
      assert(math.abs(r.getAs[Double]("d2") - ref) < 2e-3,
        s"d2 ${r.getAs[Double]("d2")} vs textbook $ref")
    }
  }

  test("discords surface the planted spike and stay silent on pure periodicity") {
    val periodic = (0 until 40).map(i =>
      ("p", "n0", i * 900L, (i % 4 + 1).toDouble))
    val spiked = (0 until 40).map { i =>
      val v = (i % 4 + 1).toDouble + (if (i == 20) 50.0 else 0.0)
      ("s", "n0", i * 900L, v)
    }
    val grid = (periodic ++ spiked).toDF("name", "node", "tsb", "gval")
    val out = Anomaly.discords(grid, w = 8, k = 3).collect()
      .groupBy(_.getString(0))
    // pure periodicity: every window has an identical match 8 away →
    // the whole profile is zero
    assert(out("p").forall(_.getAs[Long]("dist2q") == 0L))
    // the spike's windows dominate the profile; the top discord covers
    // index 20 (windows 13..20)
    val sTop = out("s").maxBy(_.getAs[Long]("dist2q"))
    val i = sTop.getAs[Long]("i")
    assert(i >= 13 && i <= 20, s"top discord window $i should cover the spike")
    assert(sTop.getAs[Long]("dist2q") > 0L)
  }

  test("discords match a brute-force matrix profile on random series") {
    val rnd = new scala.util.Random(31)
    // brute-force reference: naive O(n²·w) profile + top-k
    def brute(vals: Array[Double], w: Int, k: Int): Seq[(Long, Long)] = {
      val q = vals.map(v => math.floor(v * 1e6 + 0.5).toLong)
      val m = q.length - w + 1
      if (m < w + 1) return Seq.empty
      val prof = Array.fill(m)(Long.MaxValue)
      for (i <- 0 until m; j <- 0 until m if math.abs(i - j) >= w) {
        var d = 0L
        var t = 0
        while (t < w) { val df = q(i + t) - q(j + t); d += df * df; t += 1 }
        if (d < prof(i)) prof(i) = d
      }
      (0 until m).sortBy(i => (-prof(i), i)).take(k).sorted
        .map(i => (i.toLong, prof(i)))
    }
    val series = (0 until 5).map { s =>
      s"r$s" -> Array.fill(24 + rnd.nextInt(30))(rnd.nextGaussian() * 3.0)
    }
    val grid = series.flatMap { case (nm, vals) =>
      vals.zipWithIndex.map { case (v, i) => (nm, "n0", i * 900L, v) }
    }.toDF("name", "node", "tsb", "gval")
    val got = Anomaly.discords(grid, w = 8, k = 3).collect()
      .groupBy(_.getString(0))
      .map { case (nm, rows) =>
        nm -> rows.sortBy(_.getAs[Long]("i"))
          .map(r => (r.getAs[Long]("i"), r.getAs[Long]("dist2q"))).toSeq
      }
    series.foreach { case (nm, vals) =>
      val exp = brute(vals, 8, 3)
      assert(got.getOrElse(nm, Seq.empty) == exp,
        s"$nm: kernel ${got.get(nm)} vs brute $exp")
    }
  }

  test("forecastInterval: tight band on a clean trend, breach counted for the spike") {
    // constant signal: zero residuals everywhere, zero band, zero
    // breaches (a trend would carry Holt's initial transient into the
    // band — the operator's q90 is honest about that)
    val clean = (0 until 30).map(i => ("c", "n0", i * 900L, 50.0))
    // linear trend with one mid-series level spike
    val spiked = (0 until 30).map { i =>
      ("s", "n0", i * 900L, 10.0 + i * 2.0 + (if (i == 15) 40.0 else 0.0))
    }
    val out = TimeSeries.forecastInterval((clean ++ spiked)
        .toDF("name", "node", "tsb", "gval"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("c").getAs[Long]("n_breach") == 0)
    assert(out("c").getAs[Double]("band_q90") == 0.0)
    assert(out("c").getAs[Double]("fc1") == 50.0)
    // the spike's residual breaches 2x its signal's band; the band
    // itself stays moderate (q90 over mostly-clean residuals)
    assert(out("s").getAs[Long]("n_breach") >= 1)
    assert(out("s").getAs[Double]("hi") > out("s").getAs[Double]("lo"))
    // the forecast recovers the trend after the spike decays: ~70
    assert(math.abs(out("s").getAs[Double]("fc1") - 70.0) < 5.0)
  }

  test("oodKnnDist ranks the isolated vector first, not the dense-mode members") {
    // two tight direction-modes + one isolated vector; seeds 0 and 1
    // define the cells (nCells = 2)
    val rows = Seq(
      (0L, Array(10.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 10.0f, 0.0f)),
      (2L, Array(10.1f, 0.2f, 0.0f)), (3L, Array(9.9f, 0.1f, 0.0f)),
      (4L, Array(10.2f, 0.0f, 0.1f)), (5L, Array(0.1f, 10.1f, 0.0f)),
      (6L, Array(0.0f, 9.8f, 0.2f)),
      (7L, Array(4.0f, 4.0f, 9.0f))) // isolated: oblique to both modes
      .map { case (id, v) => (id, v, 0) }
    val out = graft.operators.Similarity.oodKnnDist(
        rows.toDF("vec_id", "embedding", "label"), nCells = 2, k = 2, topN = 8)
      .collect()
    assert(out.head.getLong(0) == 7L, s"isolated vector should top OOD, got ${out.head}")
    assert(out.head.getAs[Double]("ood_score") >
      out(1).getAs[Double]("ood_score") + 0.05)
  }

  test("distributed min-label components match naive BFS on random string graphs") {
    // corrCluster labels every signal with its component's least
    // string: signalComponents gives each signal a dense id in Spark's
    // string order and runs the distributed Dedup.clusters on the ids.
    // Drive it over random string graphs, including long PATH graphs
    // (worst-case component diameter for label propagation), against a
    // naive BFS oracle.
    val rnd = new scala.util.Random(23)
    val cases = (0 until 4).map { _ =>
      val verts = (0 until 15).map(i => f"v$i%02d")
      (verts, (0 until 12).map(_ =>
        (verts(rnd.nextInt(15)), verts(rnd.nextInt(15)))).filter(e => e._1 != e._2))
    } :+ {
      // path v00-v01-…-v09: converges only through multi-round hops
      val verts = (0 until 10).map(i => f"v$i%02d")
      (verts, verts.sliding(2).map(p => (p(0), p(1))).toSeq)
    } :+ {
      // a path LONGER than maxRounds: plain min-label propagation needs
      // O(diameter) rounds; the pointer jump makes it O(log d) (~7
      // rounds for 120 hops), so this converges well inside the cap
      val verts = (0 until 120).map(i => f"v$i%03d")
      (verts, verts.sliding(2).map(p => (p(0), p(1))).toSeq)
    }
    cases.foreach { case (verts, edges) =>
      val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      def comp(start: String): Set[String] = {
        var seen = Set(start); var frontier = Set(start)
        while (frontier.nonEmpty) {
          val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= nxt; frontier = nxt
        }
        seen
      }
      val got = graft.operators.Correlate.signalComponents(verts.toDS(), edges.toDS())
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
      assert(got.keySet == verts.toSet, s"every vertex is labelled for edges $edges")
      verts.foreach { v =>
        val lab = comp(v).min // isolated vertices label themselves
        assert(got(v) == (lab, if (lab == v) 0 else 1),
          s"$v: ${got(v)} vs $lab for edges $edges")
      }
    }
  }

  test("minLabelLoop throws rather than return unconverged labels") {
    // a 7-hop path cannot converge in one round even with the jump —
    // the fail-loud contract: non-canonical labels must never be
    // returned silently, and Dedup.clusters (the path corrCluster's
    // signal ids take) passes the loop's failure through
    val docs = (0L until 8L).toDF("doc_id")
    val pairs = (0L until 7L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.clusters(docs, maxRounds = 1,
        precomputedPairs = Some(pairs)).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("sketch-pruned threshold corrMatrix keeps exactly the unpruned edge set") {
    // the r9 threshold-consumer prune (corr_degree / corr_cluster):
    // pruneAbsR must be output-invariant ABOVE the threshold — the PAA
    // lower bound is a proof, so filter(|r| >= thr) over the pruned
    // matrix equals the same filter over the exact matrix, including
    // on offset-range, gappy, anticorrelated and constant series (the
    // first two fall through to the exact path; the prune may only
    // fire on provably-equal dense index ranges)
    import org.apache.spark.sql.functions.abs
    val rnd = new scala.util.Random(97)
    val shared = Array.fill(60)(rnd.nextGaussian())
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long, Double)]()
    for (sig <- 0 until 14; t <- 0 until 60) {
      val w = sig / 13.0 * 2.0 - 1.0 // mixture weight spans [-1, 1]
      val keep = sig match {
        case 10 => t >= 7      // offset start → unequal index ranges
        case 11 => t < 50      // early stop
        case 12 => t % 3 != 1  // gappy
        case _ => true
      }
      val v = sig match {
        case 13 => 5.0 // constant → zero variance, dropped by vx>0
        case _ => w * shared(t) + (1.0 - math.abs(w)) * rnd.nextGaussian() * 0.3
      }
      if (keep) rows += ((f"s$sig%02d", "n0", (t / 30).toLong, t.toLong, v))
    }
    val grid = rows.toSeq.toDF("name", "node", "b", "i", "gval")
    for (thr <- Seq(0.5, 0.8)) {
      def edges(m: org.apache.spark.sql.DataFrame) =
        m.filter(abs(col("r")) >= thr)
          .select("a_name", "b_name", "b", "r", "n")
          .collect().map(_.toString).sorted.toSeq
      val exactAll = graft.operators.Correlate.corrMatrix(grid)
      val prunedAll = graft.operators.Correlate.corrMatrix(
        grid, pruneAbsR = Some(thr))
      assert(edges(prunedAll) == edges(exactAll),
        s"thr=$thr: pruned edge set diverged")
      // and the prune actually prunes: sub-threshold complete-range
      // pairs must not emit moment rows
      assert(prunedAll.count() < exactAll.count(),
        s"thr=$thr: prune fired on nothing")
    }
  }

  test("corrMatrix over several tiles equals the one-tile matrix") {
    // a random fleet of 16 signals (8 names × 2 nodes) over 3 buckets:
    // widthCap = 4 tiles the pair triangle 4 ways, so every pair is
    // scored in a diagonal or a cross tile; the matrix must not depend
    // on which. Offset, gappy and constant series exercise the
    // merge-intersect and the zero-variance drop; strongly coupled
    // pairs give the 0.8 prune something to keep.
    val rnd = new scala.util.Random(2024)
    val shared = Array.fill(72)(rnd.nextGaussian())
    val rows = for {
      sig <- 0 until 8; node <- Seq("n0", "n1"); t <- 0 until 72
      if !(sig == 5 && t < 9) && !(sig == 6 && t % 4 == 2)
    } yield {
      val w = (sig - 3.5) / 3.5
      val v =
        if (sig == 7 && node == "n1") 3.0
        else w * shared(t) + (1.0 - math.abs(w)) * rnd.nextGaussian()
      (f"s$sig%02d", node, (t / 24).toLong, t.toLong, v)
    }
    val grid = rows.toDF("name", "node", "b", "i", "gval")
    val cap = 4
    val width = grid.select("name", "node").distinct().count()
    assert(math.ceil(width.toDouble / cap) >= 3, "the small cap must give 3+ tiles")
    def matrix(widthCap: Int, same: Boolean, prune: Option[Double]) =
      graft.operators.Correlate.corrMatrix(grid, sameNodeOnly = same,
          widthCap = widthCap, pruneAbsR = prune)
        .collect().map(_.toString).sorted.toSeq
    for ((same, prune) <- Seq((false, None), (true, None), (false, Some(0.8)))) {
      val one = matrix(512, same, prune)
      val tiled = matrix(cap, same, prune)
      assert(one.nonEmpty, s"same=$same prune=$prune: empty matrix")
      assert(tiled == one, s"same=$same prune=$prune: tiled matrix diverged")
    }
  }

  test("corrCluster groups co-moving signals and leaves the independent one alone") {
    // a and b move together; c is independent noise. indexed-grid shape
    // (name, node, b, i, qv consumed via withQuant → needs gval, i, b)
    val rnd = new scala.util.Random(5)
    // ｱ (U+FF71) and 𐀀 (U+10000) co-move too: UTF-16 code units order
    // 𐀀 (a surrogate pair, 0xD800…) first, binary UTF-8 orders ｱ
    // (EF BD B1) first, and Spark's min is the UTF-8 one
    val rows = (0 until 30).flatMap { i =>
      val base = math.sin(i * 0.7) * 10.0
      val other = math.cos(i * 1.3) * 5.0
      Seq(("ma", "n0", i * 3600L, base, i.toLong, 0L),
        ("mb", "n0", i * 3600L, base * 2.0 + 1.0, i.toLong, 0L),
        ("mc", "n0", i * 3600L, rnd.nextGaussian(), i.toLong, 0L),
        ("\uFF71", "n0", i * 3600L, other, i.toLong, 0L),
        ("\uD800\uDC00", "n0", i * 3600L, other * 3.0 - 2.0, i.toLong, 0L))
    }
    val grid = rows.toDF("name", "node", "tsb", "gval", "i", "b")
    val out = graft.operators.Correlate.corrCluster(grid, threshold = 0.8)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out.size == 5)
    assert(out("ma|n0") == ("ma|n0", 0))
    assert(out("mb|n0") == ("ma|n0", 1), "mb joins ma's group")
    assert(out("mc|n0") == ("mc|n0", 0), "independent signal stays alone")
    assert(out("\uFF71|n0") == ("\uFF71|n0", 0), s"$out")
    assert(out("\uD800\uDC00|n0") == ("\uFF71|n0", 1), "the group is Spark's min, not UTF-16's")
  }

  test("sketch estimates are replay-invariant (the mergeable-state property)") {
    import graft.operators.Sketches
    // registers are max-based and KMV bottom-k keys on unique ids, so
    // re-delivering every row (the at-least-once scale scenario, and
    // the black-box face of mergeability) must not move either estimate
    val df = (1 to 3000).map(i => (s"t${i % 3}", i.toLong, (i % 700).toLong,
      (i % 97).toDouble)).toDF("event_type", "event_id", "user_id", "value")
    val doubled = df.unionAll(df)
    val one = Sketches.hllDistinct(df, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val two = Sketches.hllDistinct(doubled, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one == two, "HLL registers must absorb replays")
    // and the estimate lands inside the p=9 error regime (~4.6% typical)
    one.values.foreach(est =>
      assert(math.abs(est - 700.0) / 700.0 < 0.2, s"estimate $est vs 700"))
    // KMV keys its sample on the row id, so its contract is
    // exactly-once ids (dedup upstream under at-least-once) —
    // the property here is the one it does promise: the bottom-k
    // sample median tracks the exact median computed beside it
    val m = Sketches.kmvMedian(df, "event_type", "event_id", "value")
      .collect()
    m.foreach { r =>
      val approx = r.getDouble(1); val exact = r.getDouble(2)
      assert(math.abs(approx - exact) <= 10.0,
        s"sample median $approx should track exact $exact")
    }
  }

  test("hll registers fold to the exact small-range count per day") {
    import graft.operators.Sketches
    // two days, overlapping users; day 2 has exactly 3 distinct users
    val rows = (1 to 40).map(i =>
      (i.toLong, (i % 17).toLong * 3600L * 1000000000L, (i % 7).toLong)) ++
      Seq((100L, 90000L * 1000000000L, 1L), (101L, 91000L * 1000000000L, 2L),
        (102L, 92000L * 1000000000L, 1L), (103L, 93000L * 1000000000L, 9L))
    val df = rows.map { case (id, ts, user) => (id, ts / (86400L * 1000000000L), user) }
      .toDF("event_id", "d", "user_id")
    // folding the registers gives the exact small-range count (linear
    // counting is exact when every user occupies its own bucket)
    val est = Sketches.hllFold(Sketches.hllRegisters(df, "d", "user_id"), "d")
      .orderBy("d").collect().map(_.getLong(1)).toSeq
    assert(est == Seq(7L, 3L), est.toString)
  }

  test("the scoreboard composition surfaces each leg's signal") {
    val rnd = new scala.util.Random(21)
    // a trending signal with a level spike: trend strength high,
    // forecast breach present; a flat-noise signal: neither
    val spiky = (0 until 40).map { i =>
      ("sp", "n0", i * 900L,
        10.0 + i * 2.0 + (if (i == 25) 60.0 else 0.0) + rnd.nextGaussian() * 0.1)
    }
    val quiet = (0 until 40).map(i => ("qt", "n0", i * 900L, rnd.nextGaussian()))
    val gd = (spiky ++ quiet).toDF("name", "node", "tsb", "gval")
    val sigs = gd.select("name", "node").distinct()
    val ens = Anomaly.ensemble(gd).groupBy("name", "node").agg(
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("votes") >= 2, 1L).otherwise(0L))
        .as("n_flags2"))
    val out = sigs
      .join(TimeSeries.trendStrength(gd).select("name", "node", "trend_strength"),
        Seq("name", "node"), "left")
      .join(TimeSeries.forecastInterval(gd).select("name", "node", "n_breach"),
        Seq("name", "node"), "left")
      .join(ens, Seq("name", "node"), "left")
      .collect().map(r => r.getString(0) -> r).toMap
    // the spike itself inflates the residual leg a little
    assert(out("sp").getAs[Double]("trend_strength") > 0.8)
    assert(out("sp").getAs[Long]("n_breach") >= 1)
    assert(out("qt").getAs[Double]("trend_strength") < 0.7)
  }

  test("spectralEntropy: pure tone near 0, white noise near 1") {
    val rnd = new scala.util.Random(13)
    val tone = (0 until 64).map(i =>
      ("t", "n0", i * 900L, math.sin(i * 2 * math.Pi / 16.0)))
    val noise = (0 until 64).map(i => ("w", "n0", i * 900L, rnd.nextGaussian()))
    val out = graft.operators.ChangePoints.spectralEntropy(
        (tone ++ noise).toDF("name", "node", "tsb", "gval"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("spec_entropy")).toMap
    assert(out("t") < 0.2, s"pure tone should be near 0, got ${out("t")}")
    assert(out("w") > 0.75, s"white noise should be near 1, got ${out("w")}")
  }

  test("seasonalStrength separates a daily cycle from noise") {
    val rnd = new scala.util.Random(9)
    // three days of hourly samples: value is a pure function of
    // hour-of-day (+tiny noise) vs pure noise
    val cyc = (0 until 72).map { i =>
      val h = i % 24
      ("cy", "n0", i * 3600L, 10.0 + math.sin(h / 24.0 * 2 * math.Pi) * 5.0 +
        rnd.nextGaussian() * 0.05)
    }
    val wn = (0 until 72).map(i => ("wn", "n0", i * 3600L, rnd.nextGaussian()))
    val out = TimeSeries.seasonalStrength((cyc ++ wn)
        .toDF("name", "node", "tsb", "gval"))
      .collect().map(r => r.getString(0) ->
        r.getAs[Double]("seasonal_strength")).toMap
    assert(out("cy") > 0.95, s"daily cycle should dominate, got ${out("cy")}")
    assert(out("wn") < 0.6, s"noise should not, got ${out("wn")}")
  }

  test("trendStrength separates a ramp from noise-only") {
    val rnd = new scala.util.Random(3)
    val ramp = (0 until 40).map(i =>
      ("r", "n0", i * 900L, i * 5.0 + rnd.nextGaussian() * 0.2))
    val noise = (0 until 40).map(i =>
      ("w", "n0", i * 900L, rnd.nextGaussian()))
    val out = TimeSeries.trendStrength((ramp ++ noise)
        .toDF("name", "node", "tsb", "gval"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("trend_strength")).toMap
    assert(out("r") > 0.95, s"ramp should be trend-dominated, got ${out("r")}")
    assert(out("w") < 0.6, s"white noise should not, got ${out("w")}")
  }

  test("sax symbolizes a step signal as low/high quartile symbols and skips flat signals") {
    val step = (1 to 16).map(i =>
      ("s1", "n0", i * 900L, if (i <= 8) 0.0 else 10.0))
    val flat = (1 to 16).map(i => ("s2", "n0", i * 900L, 5.0))
    val grid = (step ++ flat).toDF("name", "node", "tsb", "gval")
    val out = TimeSeries.sax(grid, w = 4).collect()
      .map(r => (r.getString(0), r.getAs[Long]("win")) -> r).toMap
    // flat signal excluded (sigma = 0)
    assert(!out.keys.exists(_._1 == "s2"))
    assert(out.size == 4)
    assert(out(("s1", 0L)).getAs[String]("sym") == "a")
    assert(out(("s1", 1L)).getAs[String]("sym") == "a")
    assert(out(("s1", 2L)).getAs[String]("sym") == "d")
    assert(out(("s1", 3L)).getAs[String]("sym") == "d")
    assert(out(("s1", 0L)).getAs[Long]("n_pts") == 4)
    assert(out(("s1", 0L)).getAs[Long]("tsb_start") == 900L)
    // the PAA value is symmetric around zero for the symmetric step
    assert(math.abs(out(("s1", 0L)).getAs[Double]("paa") +
      out(("s1", 2L)).getAs[Double]("paa")) < 1e-9)
  }
}
