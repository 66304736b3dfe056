package graft

import org.apache.spark.sql.functions._

/** Seeded randomized trials pinning the native codegen kernels to their
  * reference formulations across adversarial inputs — duplicates-free
  * sorted sets of varying sizes, shared prefixes, empty sides, unicode.
  */
class KernelPropertySpec extends SparkTestBase {
  import spark.implicits._

  test("sortedIntersectCount equals array_intersect size over 200 random sorted set pairs") {
    val rng = new scala.util.Random(20260813L)
    // includes a supplementary-plane char (🎉): UTF-8 byte order (what
    // the kernel compares and sort_array produces) differs from Java's
    // UTF-16 order for those vs BMP chars ≥ U+E000 — sorting MUST go
    // through sort_array, exactly as the production operators do
    val alphabet = Vector("a", "b", "c", "aa", "ab", "ba", "zz", "日本", "ß",
      "x1", "x2", "!", " ", "🎉", "�")
    val cases = (0 until 200).map { i =>
      def randSet() = (0 until rng.nextInt(12))
        .map(_ => alphabet(rng.nextInt(alphabet.size))).distinct
      (i.toLong, randSet(), randSet())
    }
    val df = cases.toDF("id", "a0", "b0")
      .withColumn("a", sort_array(col("a0")))
      .withColumn("b", sort_array(col("b0")))
      .withColumn("native",
        org.apache.spark.sql.graft.VectorExpressions.sortedIntersect(col("a"), col("b")))
      .withColumn("builtin", size(array_intersect(col("a"), col("b"))).cast("long"))
    val bad = df.filter(col("native") =!= col("builtin")).collect()
    assert(bad.isEmpty, s"kernel disagrees with builtin: ${bad.mkString(";")}")
  }

  test("sortedIntersectCount is symmetric and bounded by min set size") {
    val rng = new scala.util.Random(7L)
    val cases = (0 until 100).map { i =>
      def randSet() = (0 until rng.nextInt(20)).map(_ => rng.nextInt(30).toString).distinct.sorted
      (i.toLong, randSet(), randSet())
    }
    val df = cases.toDF("id", "a", "b")
      .select(col("id"),
        org.apache.spark.sql.graft.VectorExpressions.sortedIntersect(col("a"), col("b")).as("ab"),
        org.apache.spark.sql.graft.VectorExpressions.sortedIntersect(col("b"), col("a")).as("ba"),
        least(size(col("a")), size(col("b"))).cast("long").as("cap"))
    assert(df.filter(col("ab") =!= col("ba")).isEmpty, "must be symmetric")
    assert(df.filter(col("ab") > col("cap")).isEmpty, "must be bounded by min size")
  }

  test("vec_dot equals the HOF formulation over 100 random vectors") {
    val rng = new scala.util.Random(99L)
    val cases = (0 until 100).map { i =>
      val n = 1 + rng.nextInt(16)
      (i.toLong, Array.fill(n)(rng.nextDouble() * 10 - 5), Array.fill(n)(rng.nextDouble() * 10 - 5))
    }
    val df = cases.toDF("id", "a", "b")
      .withColumn("native",
        org.apache.spark.sql.graft.VectorExpressions.vecDot(col("a"), col("b")))
      .withColumn("hof", expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)"))
    // same fold order → bit-identical, not merely close
    assert(df.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("positional-filtered jaccardPairs equals naive all-pairs over random corpora") {
    // the PPJoin positional bound must never drop a true pair: compare
    // against the naive formulation (no prefix filter, no positional
    // filter) on seeded random template-ish corpora at the thresholds
    // the queries use, including the hostile t=0.5 regime
    val rng = new scala.util.Random(0x44aL)
    val vocab = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "sort", "window")
    for (trial <- 0 until 3; threshold <- Seq(0.5, 0.6)) {
      val docs = (0 until 40).map { i =>
        val base = (0 until 6 + rng.nextInt(10))
          .map(_ => vocab(rng.nextInt(vocab.size)))
        // half the docs are near-copies of an earlier doc (template dup)
        (i.toLong, base.mkString(" "))
      } ++ (0 until 20).map { j =>
        val src = 5 + rng.nextInt(20)
        (100L + j, ((0 until 8).map(_ => vocab(src % vocab.size)) :+
          vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val fast = graft.operators.Dedup.jaccardPairs(df, threshold)
        .select("doc1", "doc2", "jac").as[(Long, Long, Double)].collect().toSet
      // naive reference: exact Jaccard over every pair, built in Scala
      val sets = docs.map { case (id, t) =>
        val w = t.toLowerCase.split("\\s+")
        id -> w.sliding(2).map(_.mkString(" ")).toSet
      }.toMap
      val naive = (for {
        (i, si) <- sets.toSeq; (j, sj) <- sets.toSeq if i < j && si.nonEmpty && sj.nonEmpty
        inter = (si & sj).size
        jac = math.floor((inter.toDouble / (si.size + sj.size - inter) + 1e-9) * 1e4 + 0.5) / 1e4
        if jac >= threshold
      } yield (i, j, jac)).toSet
      assert(fast == naive,
        s"t=$threshold trial=$trial missing=${naive -- fast} extra=${fast -- naive}")
    }
  }

  test("containmentPairs positional filter keeps every true containment pair") {
    val rng = new scala.util.Random(0x77bL)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until 4 + rng.nextInt(12))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    } ++ (0 until 10).map { j =>
      // engineered containment: doc j's text embedded in a longer one
      val inner = (0 until 5).map(_ => vocab(j % vocab.size)).mkString(" ")
      (50L + j, inner + " " + (0 until 10)
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val t = 0.8
    val fast = graft.operators.Curation.containmentPairs(df, t)
      .select("inner_id", "outer_id").as[(Long, Long)].collect().toSet
    val sets = docs.map { case (id, txt) =>
      val w = txt.toLowerCase.split("\\s+")
      id -> (if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.toMap
    val naive = (for {
      (i, si) <- sets.toSeq; (j, sj) <- sets.toSeq
      if si.nonEmpty && sj.nonEmpty &&
        (si.size < sj.size || (si.size == sj.size && i < j))
      c = math.floor(((si & sj).size.toDouble / si.size + 1e-9) * 1e4 + 0.5) / 1e4
      if c >= t
    } yield (i, j)).toSet
    assert(fast == naive, s"missing=${naive -- fast} extra=${fast -- naive}")
  }

  test("waterfillMix equals an exact BigInt reference waterfill over 30 random corpora") {
    val rng = new scala.util.Random(0x4f11L)
    (0 until 30).foreach { trial =>
      val nStrata = 2 + rng.nextInt(7)
      val strata = (0 until nStrata).map { k =>
        (s"l$k", 1 + rng.nextInt(2000))  // (lang, token count)
      }
      val docs = strata.zipWithIndex.map { case ((lang, n), i) =>
        (i.toLong, Seq.fill(n)("t").mkString(" "), lang)
      }.toDF("doc_id", "text", "lang")
      val got = graft.operators.Curation.waterfillMix(docs, budgetFrac = 0.5)
        .select("lang", "avail_tokens", "weight", "alloc_tokens", "saturated")
        .as[(String, Long, Long, Long, Int)].collect()
        .map(r => r._1 -> (r._4, r._5)).toMap

      // reference: exact rational waterfill, same weight quantization
      val avail = strata.toMap
      val weight = strata.map { case (l, a) =>
        l -> math.floor(math.sqrt(a.toDouble) * 10000.0 + 0.5).toLong
      }.toMap
      val total = strata.map(_._2.toLong).sum
      val t = math.floor(total * 0.5).toLong
      // ascending a/w, tie by lang — compare rationals by cross-product
      val order = strata.map(_._1).sortWith { (x, y) =>
        val c = (BigInt(avail(x)) * weight(y)).compare(BigInt(avail(y)) * weight(x))
        if (c != 0) c < 0 else x < y
      }
      var aBefore = 0L
      var sFrom = order.map(weight).sum
      var firstUnsat = Option.empty[(Long, Long)] // (remaining budget, suffix w)
      val want = order.map { l =>
        val sat = firstUnsat.isEmpty &&
          BigInt(avail(l)) * sFrom <= BigInt(t - aBefore) * weight(l)
        val alloc =
          if (sat) avail(l).toLong
          else {
            val (rem, wTot) = firstUnsat.getOrElse((t - aBefore, sFrom))
            if (firstUnsat.isEmpty) firstUnsat = Some((rem, wTot))
            (BigInt(rem) * weight(l) / wTot).toLong
          }
        aBefore += avail(l); sFrom -= weight(l)
        l -> (alloc, if (sat) 1 else 0)
      }.toMap
      assert(got == want, s"trial $trial: got=$got want=$want strata=$strata")

      // global invariants: never over avail, never over budget, and the
      // floor slack is < the number of unsaturated strata
      val allocSum = got.values.map(_._1).sum
      got.foreach { case (l, (alloc, satFlag)) =>
        assert(alloc <= avail(l), s"trial $trial: $l alloc over avail")
        if (satFlag == 1) assert(alloc == avail(l))
      }
      val nUnsat = got.values.count(_._2 == 0)
      assert(allocSum <= t || nUnsat == 0, s"trial $trial: budget exceeded")
      if (nUnsat > 0)
        assert(t - allocSum < nUnsat, s"trial $trial: left too much on the table")
    }
  }

  test("hash-keyed substringPairs equals the verbatim formulation on random docs") {
    val rng = new scala.util.Random(0x99cL)
    val chars = "abcdefgh "
    val docs = (0 until 25).map { i =>
      (i.toLong, (0 until 20 + rng.nextInt(30))
        .map(_ => chars(rng.nextInt(chars.length))).mkString)
    } ++ (0 until 5).map { j =>
      // planted verbatim run shared by ALL five docs → C(5,2) pairs
      // must survive the hash join and verbatim verify
      val run = "sharedrunxyz"
      (50L + j, run + (0 until 15).map(_ => chars(rng.nextInt(chars.length))).mkString + run)
    }
    val df = docs.toDF("doc_id", "text")
    val width = 8
    val fast = graft.operators.Dedup.substringPairs(df, width)
      .select("doc1", "doc2", "n_shared").as[(Long, Long, Long)].collect().toSet
    val naive = (for {
      (i, ti) <- docs; (j, tj) <- docs if i < j
      wi = ti.sliding(width).filter(_.length == width).toSet
      wj = tj.sliding(width).filter(_.length == width).toSet
      shared = (wi & wj).size if shared > 0
    } yield (i, j, shared.toLong)).toSet
    assert(fast == naive, s"missing=${naive -- fast} extra=${fast -- naive}")
  }

  /** Shared naive binning: equal-width `bins` over [lo, hi], the exact
    * IEEE sequence the operators use. */
  private def naiveBin(v: Double, lo: Double, hi: Double, bins: Int): Int =
    if (hi > lo) math.min(math.floor((v - lo) * bins.toDouble / (hi - lo)).toInt, bins - 1)
    else 0

  test("psi equals a naive in-memory PSI over random half-shifted series") {
    val rng = new scala.util.Random(42424L)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 17
      // second half drawn shifted so PSI is nonzero
      val vals = (0 until n).map(i =>
        math.floor((rng.nextDouble() * 10 + (if (i >= n / 2) trial * 2.0 else 0.0)) * 100) / 100)
      val g = vals.zipWithIndex.map { case (v, i) => ("m", "n1", i * 900L, v) }
        .toDF("name", "node", "tsb", "gval")
      val got = graft.operators.TimeSeries.psi(g, 8).collect()
      assert(got.length == 1)
      // naive replay with identical quantized-ln integer arithmetic
      val t0 = 0L; val t1 = (n - 1) * 900L
      val (h1, h2) = vals.zipWithIndex.partition { case (_, i) => i * 900L * 2 <= t0 + t1 }
      val lo = vals.min; val hi = vals.max
      def counts(h: Seq[(Double, Int)]) =
        h.groupBy { case (v, _) => naiveBin(v, lo, hi, 8) }.view.mapValues(_.size.toLong).toMap
      val c1 = counts(h1); val c2 = counts(h2)
      val n1 = h1.size.toLong; val n2 = h2.size.toLong
      val s = (c1.keySet ++ c2.keySet).toSeq.filter(b =>
          c1.getOrElse(b, 0L) > 0 && c2.getOrElse(b, 0L) > 0)
        .map { b =>
          val a = c1(b); val c = c2(b)
          val qln = math.floor((math.log((c * n1).toDouble / (a * n2)) + 1e-9) * 1e6 + 0.5).toLong
          (c * n1 - a * n2) * qln
        }.sum
      val want = math.floor((s.toDouble / (n1 * n2).toDouble / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4
      assert(got.head.getAs[Double]("psi") == want, s"trial $trial")
    }
  }

  test("mutualInfo equals a naive in-memory MI over random aligned signals") {
    val rng = new scala.util.Random(909090L)
    for (trial <- 0 until 3) {
      val n = 50 + trial * 11
      val obj = (0 until n).map(_ => math.floor(rng.nextDouble() * 1000) / 100)
      // candidate = noisy square of obj → nonlinear dependence
      val cand = obj.map(v => math.floor((v * v / 10 + rng.nextDouble()) * 100) / 100)
      val rows = obj.zipWithIndex.map { case (v, i) => ("error", "n1", i.toLong, v) } ++
        cand.zipWithIndex.map { case (v, i) => ("cand", "n1", i.toLong, v) }
      val g = rows.toDF("name", "node", "i", "gval")
      val got = graft.operators.Correlate.mutualInfo(g, "error", 8).collect()
      assert(got.length == 1)
      def bins(vs: Seq[Double]) = {
        val lo = vs.min; val hi = vs.max
        vs.map(v => naiveBin(v, lo, hi, 8))
      }
      val ob = bins(obj); val cb = bins(cand)
      val joint = cb.zip(ob).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nn = n.toLong
      val mx = joint.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
      val my = joint.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val s = joint.map { case ((c, o), cxy) =>
        val qln = math.floor((math.log((cxy * nn).toDouble / (mx(o) * my(c))) + 1e-9) * 1e6 + 0.5).toLong
        cxy * qln
      }.sum
      val want = math.floor((s.toDouble / nn / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4
      assert(got.head.getAs[Double]("mi_nats") == want, s"trial $trial")
      // sanity: the nonlinear pair must carry real information
      assert(got.head.getAs[Double]("mi_nats") > 0.3)
    }
  }

  test("bucketPairs equals the self-equijoin over 40 random bucket distributions") {
    // seeded adversarial shapes: skewed bucket sizes (Zipf-ish), empty
    // and singleton buckets, ids shared across buckets, random salt
    // caps forcing 1..12 salts — the kernel's pair MULTISET must equal
    // the join's for every draw (the r11 tiling contract, randomized)
    val rng = new scala.util.Random(20260816L)
    for (trial <- 0 until 40) {
      val nBuckets = 1 + rng.nextInt(6)
      val rows = (0 until nBuckets).flatMap { b =>
        val size = rng.nextInt(4) match {
          case 0 => rng.nextInt(2)            // empty/singleton
          case 1 => 2 + rng.nextInt(5)        // small
          case _ => 10 + rng.nextInt(40)      // hot
        }
        (0 until size).map { _ =>
          val id = rng.nextInt(60).toLong     // ids collide across buckets
          (s"b$b", id, id * 7L + b)
        }
      }.distinct // (bkey, id) unique per bucket — the caller contract
      if (rows.nonEmpty) {
        val df = rows.toDF("bkey", "id", "pay")
        val want = df.as("x").join(df.as("y"),
            col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
          .select(col("x.id"), col("x.pay"), col("y.id"), col("y.pay"))
          .as[(Long, Long, Long, Long)].collect().sorted.toSeq
        // low cap exercises the tiled path (and, since r12, universal
        // over-salting — the hash-collision failure mode is exactly "a
        // cold bucket gets s > 1 salts", which cap=1 draws force on
        // EVERY bucket); the huge cap pins the r12 skew-free fast path
        // (hot map empty → plain self-equijoin)
        for (cap <- Seq(1 + rng.nextInt(12), 1 << 30)) {
          val got = graft.operators.Dedup.bucketPairs(df, saltCap = cap)
            .as[(Long, Long, Long, Long)].collect().sorted.toSeq
          assert(got == want, s"trial=$trial cap=$cap rows=${rows.size}")
        }
      }
    }
  }

  test("bucketPairs drops NULL bucket keys on both paths (join semantics)") {
    // a.bkey = b.bkey never matches NULL — the tiled path must not
    // invent a "null bucket" and pair it (r11 ADVICE)
    val rows = Seq((Some("k"), 1L, 0L), (Some("k"), 2L, 0L),
      (None, 10L, 0L), (None, 11L, 0L), (None, 12L, 0L))
      .toDF("bkey", "id", "pay")
    for (cap <- Seq(1 << 30, 1)) {
      val got = graft.operators.Dedup.bucketPairs(rows, saltCap = cap)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)), s"cap=$cap: $got")
    }
  }

  test("mannKendall kernel equals the self-join formula over 60 random grids") {
    // the pre-kernel formulation, kept verbatim as the reference: S by
    // self-join over ta < tb, ties by value grouping, z by the same
    // column sequence
    def reference(g: org.apache.spark.sql.DataFrame) = {
      val a = g.select(col("name"), col("node"), col("tsb").as("ta"), col("gval").as("va"))
      val b = g.select(col("name"), col("node"), col("tsb").as("tb"), col("gval").as("vb"))
      val sAgg = a.join(b, Seq("name", "node")).filter(col("ta") < col("tb"))
        .groupBy("name", "node")
        .agg(sum(signum(col("vb") - col("va"))).cast("bigint").as("s"))
      val nAgg = g.groupBy("name", "node").agg(count(lit(1)).as("n"))
      val ties = g.groupBy("name", "node", "gval")
        .agg(count(lit(1)).as("t")).filter(col("t") > 1)
        .groupBy("name", "node")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_num"))
      val varS = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
        coalesce(col("tie_num"), lit(0L))).cast("double") / lit(18.0)
      val sd = col("s").cast("double")
      val z = when(col("s") > 0, (sd - 1.0) / sqrt(col("var_s")))
        .when(col("s") < 0, (sd + 1.0) / sqrt(col("var_s")))
        .otherwise(lit(0.0))
      nAgg.join(sAgg, Seq("name", "node"))
        .join(ties, Seq("name", "node"), "left")
        .withColumn("var_s", varS)
        .withColumn("z", Num.r4(z))
        .withColumn("trend",
          when(col("z") > 1.96, 1).when(col("z") < -1.96, -1).otherwise(0))
        .select("name", "node", "n", "s", "z", "trend")
    }
    val rng = new scala.util.Random(0x3a4bL)
    // few distinct values → many ties; −0.0 beside 0.0 must tie
    val palette = Array(-2.5, -1.0, -0.0, 0.0, 0.5, 1.0, 3.25)
    val special = Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val rows = (0 until 60).flatMap { gi =>
      val len = gi % 6 match {
        case 0 => 1
        case 1 => 2
        case _ => 3 + rng.nextInt(40)
      }
      val constant = gi % 7 == 3
      // every tenth grid repeats timestamps (no pair within a repeat);
      // every ninth carries a NaN or an infinity
      val ts = (0 until len).map(i => if (gi % 10 == 4) (i / 2) * 60L else i * 60L)
      val vs = (0 until len).map { i =>
        if (constant) 1.5
        else if (gi % 9 == 5 && i == len / 2) special(rng.nextInt(special.length))
        else if (rng.nextInt(4) == 0) rng.nextGaussian()
        else palette(rng.nextInt(palette.length)) + (if (gi % 5 == 2) i * 0.25 else 0.0)
      }
      ts.zip(vs).map { case (t, v) => (s"s$gi", "n" + (gi % 3), t, v) }
    }
    val g = rng.shuffle(rows).toDF("name", "node", "tsb", "gval")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("name", "node").as[(String, String, Long, Long, Double, Int)].collect().toSeq
    val kernel = graft.operators.Trend.mannKendall(g)
    assert(kernel.schema == reference(g).schema)
    val got = sorted(kernel)
    val want = sorted(reference(g))
    assert(got.map(_._1).toSet.size >= 40, s"too few signals survive: ${got.size}")
    assert(got.exists(_._6 != 0), "no grid drifts")
    assert(got.exists(r => r._4 == 0 && r._3 > 2), "no grid has a zero S")
    assert(got.size == want.size, s"signal sets differ: ${got.map(_._1)} vs ${want.map(_._1)}")
    got.zip(want).foreach { case (a, b) =>
      // z compares by bits: exact equality, NaN included
      assert(a.copy(_5 = 0.0) == b.copy(_5 = 0.0) &&
        java.lang.Double.compare(a._5, b._5) == 0, s"kernel $a vs self-join $b")
    }
  }

  test("nccLag kernel equals the exact-moment equi-join over random grids") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // the pre-kernel formulation, kept as the reference: quantize per
    // series, explode the lags on the objective rows, join on (bucket,
    // index + lag), exact DECIMAL moment sums, the shared Pearson step
    def reference(g: DataFrame, objNames: Seq[String], lagMax: Int, minOverlap: Int) = {
      val mRaw = max(abs(col("gval"))).over(Window.partitionBy("name", "node"))
      val q = g.withColumn("qv", floor((col("gval") / when(mRaw > 0, mRaw).otherwise(lit(1.0))) *
        lit(1e9) + lit(0.5)).cast(org.apache.spark.sql.types.DecimalType(18, 0)))
      val obj = q.filter(col("name").isin(objNames: _*))
        .select(col("name").as("obj_name"), col("node").as("obj_node"),
          col("b"), col("i"), col("qv").as("ov"))
        .withColumn("lag", explode(sequence(lit(-lagMax.toLong), lit(lagMax.toLong))))
      val cand = q.filter(!col("name").isin(objNames: _*))
        .select(col("name").as("cand_name"), col("node").as("cand_node"),
          col("b").as("cb"), col("i").as("ci"), col("qv").as("cv"))
      val moments = graft.operators.Correlate.momentAggs("ov", "cv")
      val cells = broadcast(obj)
        .join(cand, col("ci") === col("i") + col("lag") && col("cb") === col("b"))
        .groupBy("obj_name", "obj_node", "cand_name", "cand_node", "b", "lag")
        .agg(moments.head, moments.tail: _*)
      graft.operators.Correlate.pearsonFromMoments(cells, minOverlap)
    }
    val rng = new scala.util.Random(0x5cc1L)
    val palette = Array(-3.0, -1.0, -0.0, 0.0, 0.5, 1.0, 2.0)
    val objNames = Seq("o1", "o2")
    for (trial <- 0 until 3) {
      val width = Seq(6, 10, 24)(trial)
      val rows = for {
        name <- objNames ++ (0 until 6).map(c => s"c$c")
        node <- Seq("n0", "n1")
        series = rng.nextInt(1000)
        // series start mid-bucket and end anywhere, so objective and
        // candidate bucket sets differ and edge buckets are short
        start = rng.nextInt(3 * width)
        i <- start until start + 5 + rng.nextInt(8 * width)
        b = i / width * width * 60L
        // gated-out buckets: whole buckets missing from a series
        if (b / 60 / width + series) % 7 != 3
      } yield {
        val gval = series % 5 match {
          // ties, −0.0 beside 0.0
          case 0 => palette(rng.nextInt(palette.length))
          // ±M square wave: every q is ±1e9, so Σq² passes 2⁶³ within a bucket
          case 1 => if ((i + series) % 3 == 0) -7.5 else 7.5
          // constant within some buckets (zero variance there)
          case 2 => if ((b / 60 / width + series) % 2 == 0) 4.0 else rng.nextGaussian()
          // all zero: M = 0 quantizes with M = 1
          case 3 => if (series % 2 == 0) 0.0 else -0.0
          case _ => rng.nextGaussian() * 1e3
        }
        (name, node, i * 60L, gval, i.toLong, b)
      }
      val g = rng.shuffle(rows).toDF("name", "node", "tsb", "gval", "i", "b").repartition(3)
      for ((lagMax, minOverlap) <- Seq((3, 8), (0, 1), (1, 3), (5, 12))) {
        val tracked = Caches.trackedCount
        val kernel = graft.operators.Correlate.nccLag(g, objNames, lagMax, minOverlap)
        assert(Caches.trackedCount == tracked, "nccLag persisted a frame")
        val want = reference(g, objNames, lagMax, minOverlap)
        assert(kernel.schema == want.schema)
        def sorted(df: DataFrame) =
          df.as[(String, String, String, String, Long, Long, Long, Double)].collect()
            .sortBy(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSeq
        val got = sorted(kernel)
        val exp = sorted(want)
        assert(exp.nonEmpty || minOverlap > width, s"trial $trial lagMax $lagMax: no reference cells")
        assert(got.size == exp.size, s"trial $trial lagMax $lagMax minOverlap $minOverlap: " +
          s"${got.size} kernel cells vs ${exp.size} join cells")
        got.zip(exp).foreach { case (a, e) =>
          // r compares by bits
          assert(a.copy(_8 = 0.0) == e.copy(_8 = 0.0) &&
            java.lang.Double.doubleToRawLongBits(a._8) == java.lang.Double.doubleToRawLongBits(e._8),
            s"kernel $a vs join $e")
        }
      }
    }
  }

  test("the advisor's fused NCC kernel equals topCorr(nccLag(gateBuckets)) on anomalous buckets") {
    import graft.operators.Correlate
    import graft.report.AdvisorReport
    import org.apache.spark.sql.DataFrame
    val rng = new scala.util.Random(0xad71L)
    val objNames = Seq("o1", "o2")
    val width = 12
    for (trial <- 0 until 4) {
      // a few base shapes, reused under several names so that |r| ties
      // across candidates (copies) and across lags (periodic, negated)
      def shape(kind: Int, seed: Int)(i: Int, b: Long): Double = kind match {
        case 0 => ((i * 7919 + seed * 104729) % 1000) / 10.0 - 50.0
        // period 3: lags 0 and ±3 tie at |r| = 1 where the overlap allows
        case 1 => Array(1.0, 4.0, -2.0)((i + seed) % 3)
        // flat within some buckets: gated there on either side
        case 2 => if ((b / 60 / width + seed) % 2 == 0) 4.0 else math.sin(i * 0.7 + seed)
        // all zero: M = 0 quantizes with M = 1, gated everywhere
        case 3 => if (seed % 2 == 0) 0.0 else -0.0
        // ranges just at (gated) and just above (kept) the 0.005 gate
        case 4 => 4.0 + (if ((b / 60 / width) % 2 == 0) 0.005 else 0.0051) * ((i + seed) % 2)
        case _ => ((i * 31 + seed * 17) % 11) * 0.25
      }
      // per node, o1's shape cycles through the kinds by trial; c0 and
      // c1 copy it and c7 negates it (ties across candidates and, for a
      // periodic o1, across lags); every other series draws its own
      val spec = (for (name <- objNames ++ (0 until 8).map(c => s"c$c"); node <- Seq("n0", "n1"))
        yield (name, node) -> (rng.nextInt(6), rng.nextInt(5), 1.0)).toMap
      val copied = spec ++ Seq("n0", "n1").flatMap { node =>
        val o = (Seq(1, 2, 4, 0)(trial), rng.nextInt(5), 1.0)
        Seq(("o1", node) -> o, ("c0", node) -> o, ("c1", node) -> o,
          ("c7", node) -> o.copy(_3 = -1.0))
      }
      val rows = for {
        ((name, node), (kind, seed, sign)) <- copied.toSeq.sortBy(_._1)
        // series start mid-bucket and end anywhere, so edge buckets are
        // short and only some lags reach minOverlap there
        start = rng.nextInt(2 * width)
        i <- start until start + 2 * width + rng.nextInt(4 * width)
        b = i / width * width * 60L
      } yield (name, node, i * 60L, sign * shape(kind, seed)(i, b), i.toLong, b)
      val g = rng.shuffle(rows).toDF("name", "node", "tsb", "gval", "i", "b").repartition(3)
      val cfg = AdvisorReport.Config(objNames = objNames)
      // anomalous buckets: a random subset of each objective's buckets,
      // none at all for one objective series
      val objBuckets = rows.filter(r => objNames.contains(r._1))
        .map(r => (r._1, r._2, r._6)).distinct.sortBy(identity)
      val skipped = objBuckets.head._1 -> objBuckets.head._2
      val anomalous = objBuckets.filter(t => (t._1, t._2) != skipped && rng.nextInt(3) != 0)
      val anomalies = anomalous.map(t => (t._1, t._2, t._3 + 60L, "outlier", t._3))
        .toDF("name", "node", "tsb", "kind", "b")
      for ((k, minOverlap) <- Seq((5, 8), (2, 3), (10, 12))) {
        val objs = AdvisorReport.Objectives(anomalies.collect(), Correlate.collectSeries(g, objNames))
        val got = Correlate.rankCandidates(
          Correlate.adviseCells(g, objNames, objs.series, anomalous.toSet, cfg.minRange,
            minOverlap = minOverlap), k)
        val want = Correlate.topCorr(Correlate.nccLag(AdvisorReport.gateBuckets(g, cfg), objNames,
            minOverlap = minOverlap), k)
          .join(anomalies.select(col("name").as("obj_name"), col("node").as("obj_node"), col("b"))
            .distinct(), Seq("obj_name", "obj_node", "b"))
        def sorted(df: DataFrame) =
          df.select("obj_name", "obj_node", "b", "cand_name", "cand_node", "lag", "n", "r", "rank")
            .as[(String, String, Long, String, String, Long, Long, Double, Int)].collect()
            .sortBy(r => (r._1, r._2, r._3, r._9)).toSeq
        val (a, e) = (sorted(got), sorted(want))
        assert(e.nonEmpty, s"trial $trial k $k minOverlap $minOverlap: no reference rows")
        assert(a.size == e.size, s"trial $trial k $k minOverlap $minOverlap: " +
          s"${a.size} kernel rows vs ${e.size} reference rows")
        a.zip(e).foreach { case (x, y) =>
          assert(x.copy(_8 = 0.0) == y.copy(_8 = 0.0) &&
            java.lang.Double.doubleToRawLongBits(x._8) == java.lang.Double.doubleToRawLongBits(y._8),
            s"trial $trial: kernel $x vs reference $y")
        }
        // the same rows through the pass entry point, at its minOverlap
        if (minOverlap == 8)
          assert(sorted(AdvisorReport.adviseOnGrid(g, cfg.copy(topK = k), objs)) == a)
      }
    }
  }

  test("e-divisive change points equal the per-segment-sort permutation test") {
    import graft.functions.EDivisive.ChangePoint
    // the formulation before one argsort per permutation, kept verbatim
    // as the reference: every segment and permutation sorts boxed
    // (key, j) pairs and ranks the permuted values afresh
    object Reference {
      def permuted(x: Array[Long], lo: Int, hi: Int, keys: Array[Long]): Array[Long] = {
        val order = Array.range(lo, hi).sortBy(j => (keys(j), j))
        val out = new Array[Long](order.length)
        var i = 0
        while (i < order.length) { out(i) = x(order(i)); i += 1 }
        out
      }
      final class L1FenwickQ(n: Int) {
        private val cnt = new Array[Long](n + 1)
        private val sum = new Array[Long](n + 1)
        private var totalCnt = 0L
        private var totalSum = 0L
        def insert(rank: Int, v: Long): Unit = {
          var i = rank + 1
          while (i <= n) { cnt(i) += 1; sum(i) += v; i += i & (-i) }
          totalCnt += 1; totalSum += v
        }
        def l1To(rank: Int, p: Long): Long = {
          var cBelow = 0L; var sBelow = 0L
          var i = rank + 1
          while (i > 0) { cBelow += cnt(i); sBelow += sum(i); i -= i & (-i) }
          p * cBelow - sBelow + (totalSum - sBelow) - p * (totalCnt - cBelow)
        }
      }
      def bestSplitQ(x: Array[Long], lo: Int, hi: Int, minSize: Int): (Int, Double) = {
        val n = hi - lo
        if (n < 2 * minSize) return (-1, 0.0)
        val seg = java.util.Arrays.copyOfRange(x, lo, hi)
        val sortedVals = seg.clone()
        java.util.Arrays.sort(sortedVals)
        val rank = new Array[Int](n)
        var r = 0
        while (r < n) {
          var lb = 0; var ub = n
          val v = seg(r)
          while (lb < ub) {
            val mid = (lb + ub) >>> 1
            if (sortedVals(mid) < v) lb = mid + 1 else ub = mid
          }
          rank(r) = lb
          r += 1
        }
        val dLeft = new Array[Long](n)
        val fwd = new L1FenwickQ(n)
        var i = 0
        while (i < n) { dLeft(i) = fwd.l1To(rank(i), seg(i)); fwd.insert(rank(i), seg(i)); i += 1 }
        val dRight = new Array[Long](n)
        val bwd = new L1FenwickQ(n)
        i = n - 1
        while (i >= 0) { dRight(i) = bwd.l1To(rank(i), seg(i)); bwd.insert(rank(i), seg(i)); i -= 1 }
        val rightAt = new Array[Long](n + 1)
        i = n - 1
        while (i >= 0) { rightAt(i) = rightAt(i + 1) + dRight(i); i -= 1 }
        val total = rightAt(0)
        var left = 0L
        var j = 1
        while (j < minSize) { left += dLeft(j); j += 1 }
        var bestTau = -1; var bestQ = Double.NegativeInfinity
        var tau = lo + minSize
        while (tau <= hi - minSize) {
          val t = tau - lo
          val right = rightAt(t)
          val cross = total - left - right
          val m = t.toDouble; val k = (n - t).toDouble
          val t1 = cross.toDouble * (2.0 / (m * k))
          val t2 = if (m > 1) left.toDouble * (2.0 / (m * (m - 1))) else 0.0
          val t3 = if (k > 1) right.toDouble * (2.0 / (k * (k - 1))) else 0.0
          val q = (m * k / (m + k)) * (t1 - t2 - t3)
          if (q > bestQ) { bestQ = q; bestTau = tau }
          left += dLeft(t)
          tau += 1
        }
        (bestTau, bestQ)
      }
      def significantQ(x: Array[Long], lo: Int, hi: Int, q0: Double, pvalue: Double,
                       keys: Array[Array[Long]], minSize: Int): Boolean = {
        val permutations = keys.length
        if (permutations <= 0) return true
        val failAt = math.floor(pvalue * (permutations + 1)).toInt
        var exceed = 0
        var p = 0
        while (p < permutations && exceed < failAt) {
          val perm = permuted(x, lo, hi, keys(p))
          val (_, q) = bestSplitQ(perm, 0, perm.length, minSize)
          if (q >= q0) exceed += 1
          p += 1
        }
        (exceed + 1).toDouble / (permutations + 1) <= pvalue
      }
      def changePointsKeyed(q: Array[Long], keys: Array[Array[Long]], pvalue: Double,
                            minSize: Int, maxPoints: Int): Seq[ChangePoint] = {
        val found = scala.collection.mutable.ArrayBuffer.empty[ChangePoint]
        def recurse(lo: Int, hi: Int): Unit = {
          if (found.size >= maxPoints) return
          val (tau, qv) = bestSplitQ(q, lo, hi, minSize)
          if (tau < 0) return
          if (!significantQ(q, lo, hi, qv, pvalue, keys, minSize)) return
          found += ChangePoint(tau, qv)
          recurse(lo, tau)
          recurse(tau, hi)
        }
        recurse(0, q.length)
        found.sortBy(_.index).toSeq
      }
    }
    val rng = new scala.util.Random(0xed1L)
    // the argsort restricted to any segment is that segment's sort by
    // (key, position), colliding keys included
    for (trial <- 0 until 200) {
      val n = rng.nextInt(60)
      val keys = Array.fill(n)(if (trial % 2 == 0) rng.nextInt(4).toLong - 2 else rng.nextLong())
      val order = graft.functions.EDivisive.argsortKeys(keys)
      val lo = if (n == 0) 0 else rng.nextInt(n)
      val hi = lo + rng.nextInt(n - lo + 1)
      assert(order.filter(j => j >= lo && j < hi).toSeq == Array.range(lo, hi).sortBy(j => (keys(j), j)).toSeq,
        s"trial $trial: keys ${keys.toSeq}, segment [$lo, $hi)")
    }
    var withPoints = 0
    for (trial <- 0 until 80) {
      val n = trial % 8 match {
        case 0 => rng.nextInt(12) // shorter than two minimum segments, or just above
        case _ => 20 + rng.nextInt(220)
      }
      // steps, ties from a small palette, constant runs, negative values
      val shifts = Array.fill(1 + rng.nextInt(4))(rng.nextInt(math.max(1, n)))
      val level = Array.fill(shifts.length)(rng.nextInt(9) * 1.5 - 4.0)
      val x = Array.tabulate(n) { i =>
        val base = shifts.indices.filter(k => i >= shifts(k)).map(level(_)).sum
        trial % 5 match {
          case 0 => base
          case 1 => base + (rng.nextInt(4) - 2) * 0.5
          case _ => base + rng.nextGaussian() * (0.2 + rng.nextDouble())
        }
      }
      val q = x.map(v => math.floor((v + 1e-9) * 1e4 + 0.5).toLong)
      val permutations = Seq(0, 1, 19, 50, 100)(trial % 5)
      // md5 keys as the operators draw them, or keys from a tiny domain
      // so that equal keys fall back to the position order
      val keys =
        if (trial % 3 == 2) Array.fill(permutations, n)(rng.nextInt(6).toLong - 3)
        else graft.operators.ChangePoints.permKeys(s"s$trial", "n", permutations, n)
      val pvalue = Seq(0.05, 0.2, 0.5)(trial % 3)
      val minSize = 2 + trial % 5
      val maxPoints = Seq(64, 3, 1)(trial % 3)
      val got = graft.functions.EDivisive.changePointsKeyed(q, keys, pvalue, minSize, maxPoints)
      val want = Reference.changePointsKeyed(q, keys, pvalue, minSize, maxPoints)
      if (want.nonEmpty) withPoints += 1
      assert(got.map(_.index) == want.map(_.index) &&
        got.map(c => java.lang.Double.doubleToRawLongBits(c.qhat)) ==
          want.map(c => java.lang.Double.doubleToRawLongBits(c.qhat)),
        s"trial $trial (n $n, $permutations permutations): $got vs $want")
    }
    assert(withPoints >= 30, s"only $withPoints of 80 trials found a change point")
  }
}
