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
}
