package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Lagged cross-correlation between "objective" and "candidate" signals,
  * per time bucket — the reference's core question ("which metrics move
  * with the anomalous one?", metrics_advisor.py:183-196: mathbox
  * `ncc(a, b, lag_max=3)` then rank by |corr|).
  *
  * The reference loops obj×candidate×lag in Python on one core (~320 s).
  * Here [[nccLag]] is a per-candidate kernel: the objective slice (a
  * handful of metric names × nodes × retention) is quantized once on the
  * driver and broadcast; every candidate series is scored inside its own
  * (name, node) group on the grid's existing signal partitioning, so at
  * 100 TB the candidate grid is streamed in place — no exchange, no
  * joined-row fan-out, no pair-keyed aggregate.
  *
  * Two forms of the advisor's question live here. [[nccLag]] (every
  * cell of every lag and bucket) and [[topCorr]] (best lag, then top-k)
  * are the composed operators that the DuckDB oracle replays and that
  * `lagConsistency` and the suite call. [[adviseCells]] is the advisor
  * pass's fused kernel: it scores only the buckets where an objective
  * is anomalous and emits only the best lag per (objective, candidate,
  * bucket), equal to the composed form on those buckets bit for bit
  * (KernelPropertySpec), so the pass skips the cells it would discard.
  *
  * Cross-engine determinism: the built-in `corr` aggregate is a parallel
  * double co-moment whose summation order (and algorithm) differs per
  * engine — ill-conditioned series (large mean, small variance) amplify
  * the divergence far past any rounding epsilon. Instead the grid value
  * is quantized to an exact scaled integer ([[withQuant]]) and Pearson
  * is computed from exact integer moment sums: Σx, Σy, Σxy, Σx², Σy² are
  * order-independent in any engine, their int→double conversions are
  * correctly rounded (Spark's BigDecimal, the JDK's BigInteger, DuckDB's
  * HUGEINT), and the final Pearson formula is a fixed IEEE-754 op
  * sequence mirrored verbatim in the oracle SQL — so every engine
  * produces bit-identical r. Pearson is invariant under positive affine
  * maps, so quantization scale drops out; only the 1e-9 relative
  * quantization of the inputs is a (declared) semantic contract.
  */
object Correlate {

  /** Scale-invariant integer quantization: each signal's values are
    * divided by that signal's magnitude M = max|x| (an exact selection
    * — bit-identical on any engine) and quantized at 1e-9 RELATIVE
    * resolution into DECIMAL(18,0). An absolute quantization grid
    * would flatten small-magnitude signals (a 1e-4 grid cannot see a
    * metric that lives in [0, 3e-4]); Pearson is invariant under
    * per-variable positive scaling, so M and the 1e9 both drop out of
    * r while every moment sum stays exact. All-zero signals get M = 1
    * (they quantize to constant 0 and fall to the zero-variance
    * filter on both engines).
    */
  private[operators] def withQuant(grid: DataFrame, out: String = "qv"): DataFrame =
    grid.withColumn(out,
      TimeSeries.quantRel(col("gval"), TimeSeries.signalScale("gval")))

  /** Exact integer moment aggregates over quantized columns x, y.
    * Sums are DECIMAL (order-independent, exact); the cast to double is
    * the single correctly-rounded conversion both engines share.
    * Public: TimeSeries.autocorr reuses the same machinery.
    */
  def momentAggs(x: String, y: String): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col(x)).cast("double").as("sx"),
    sum(col(y)).cast("double").as("sy"),
    sum(col(x) * col(y)).cast("double").as("sxy"),
    sum(col(x) * col(x)).cast("double").as("sxx"),
    sum(col(y) * col(y)).cast("double").as("syy"))

  /** Pearson r from exact moments — fixed IEEE op sequence, mirrored in
    * the oracle SQL. Cells with zero variance on either side are dropped
    * (the built-in corr's NULL/NaN contract).
    */
  def pearsonFromMoments(cells: DataFrame, minOverlap: Int): DataFrame = {
    val nd = col("n").cast("double")
    cells
      .withColumn("vx", nd * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", nd * col("syy") - col("sy") * col("sy"))
      .filter(col("n") >= minOverlap && col("vx") > 0 && col("vy") > 0)
      .withColumn("r", r4((nd * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("vx")) * sqrt(col("vy")))))
      .drop("sx", "sy", "sxy", "sxx", "syy", "vx", "vy")
  }

  /** NCC cells: one row per (obj signal, cand signal, bucket, lag) with
    * Pearson r over aligned grid samples — objective sample i against
    * candidate sample i + lag of the same bucket. `minOverlap` drops
    * cells whose aligned sample count is too small to be meaningful.
    *
    * Exact-integer contract: each series is quantized as [[withQuant]]
    * does; per (objective, bucket, lag) the kernel sums n, Σx, Σy, Σxy,
    * Σx², Σy² in exact signed 128-bit integers ([[Sum128]]; Σx² passes
    * 2⁶³ after about ten samples near the series' magnitude), converts
    * each sum to double with one correctly rounded conversion, and
    * hands the moments to [[pearsonFromMoments]] — the same values the
    * DECIMAL sums of the equi-join formulation produce, bit for bit.
    *
    * Precondition: one row per (name, node, i) with a finite `gval`,
    * which every `TimeSeries.gridOnePass` grid (and any bucket-gated
    * slice of one) meets. The objective slice is collected to the
    * driver when this is called.
    *
    * The DuckDB oracle (`SparkEntry.SQL_NCC_CR_FROM`) still replays the
    * equi-join formulation — explode the lags, join on (bucket,
    * index + lag), aggregate exact moments — as the independent check.
    */
  def nccLag(indexedGrid: DataFrame, objNames: Seq[String], lagMax: Int = 3,
             minOverlap: Int = 8): DataFrame = {
    val spark = indexedGrid.sparkSession
    import spark.implicits._
    val isObj = col("name").isin(objNames: _*)
    val cols = Seq("name", "node", "b", "i", "gval").map(col)
    val objs = indexedGrid.filter(isObj).select(cols: _*)
      .as[(String, String, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).toArray
      .map { case ((name, node), rs) => quantSeries(name, node, rs.map(r => (r._3, r._4, r._5))) }
    val objBc = spark.sparkContext.broadcast(objs)
    val lags = (-lagMax.toLong to lagMax.toLong).toArray
    val cells = SignalKernel.perSignalBI(indexedGrid.filter(!isObj).select(cols: _*)) {
      (key: (String, String), it: Iterator[(String, String, Long, Long, Double)]) =>
        val c = quantSeries(key._1, key._2, it.map(r => (r._3, r._4, r._5)).toArray)
        for {
          o <- objBc.value.iterator
          (b, (oi, oq)) <- o.buckets.iterator
          (ci, cq) <- c.buckets.get(b).iterator
          lag <- lags.iterator
          m <- lagMoments(oi, oq, ci, cq, lag)
        } yield (o.name, o.node, c.name, c.node, b, lag, m._1, m._2, m._3, m._4, m._5, m._6)
    }.toDF("obj_name", "obj_node", "cand_name", "cand_node", "b", "lag",
      "n", "sx", "sy", "sxy", "sxx", "syy")
    pearsonFromMoments(cells, minOverlap)
  }

  /** One series of the [[nccLag]] kernel: per bucket, the ascending
    * sample indices and their [[withQuant]] values.
    */
  private final case class QSeries(name: String, node: String,
                                   buckets: Map[Long, (Array[Long], Array[Long])])

  /** [[withQuant]] over one whole series of (b, i, gval) rows: M is the
    * series' max |gval| (1 if that is 0), q = floor(gval / M · 1e9 + 0.5)
    * — the same IEEE op sequence, so the same integers.
    *
    * With `minRange`, a bucket whose r4(max − min) is not above it is
    * dropped first, as the advisor's per-bucket range gate drops it, so
    * M is taken over the gated rows only. `keep` then selects the
    * buckets that are quantized and returned; it does not change M.
    */
  private def quantSeries(name: String, node: String, rows: Array[(Long, Long, Double)],
                          minRange: Option[Double] = None,
                          keep: Long => Boolean = _ => true): QSeries = {
    val gated = rows.groupBy(_._1).filter { case (_, rs) =>
      minRange.forall { g =>
        var hi = rs(0)._3; var lo = hi
        rs.foreach { r => hi = math.max(hi, r._3); lo = math.min(lo, r._3) }
        r4d(hi - lo) > g
      }
    }
    var mRaw = 0.0
    gated.valuesIterator.foreach(_.foreach(r => mRaw = math.max(mRaw, math.abs(r._3))))
    val m = if (mRaw > 0) mRaw else 1.0
    QSeries(name, node, gated.collect { case (b, rs) if keep(b) =>
      val sorted = rs.sortBy(_._2)
      b -> (sorted.map(_._2), sorted.map(r => math.floor(r._3 / m * 1e9 + 0.5).toLong))
    })
  }

  /** One series of a grid slice collected to the driver: the bucket,
    * sample index and value of its rows, in `tsb` order. The advisor
    * pass collects its objectives in this form once and hands them to
    * both [[adviseCells]] and [[grangerF]].
    */
  final case class GridSeries(name: String, node: String, b: Array[Long],
                              i: Array[Long], gval: Array[Double])

  /** The `objNames` series of a grid (name, node, tsb, b, i, gval),
    * collected: one [[GridSeries]] per (name, node), in no particular
    * order.
    */
  def collectSeries(grid: DataFrame, objNames: Seq[String]): Array[GridSeries] = {
    val spark = grid.sparkSession
    import spark.implicits._
    grid.filter(col("name").isin(objNames: _*))
      .select(Seq("name", "node", "tsb", "b", "i", "gval").map(col): _*)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).toArray.map { case ((name, node), rs) =>
        val s = rs.sortBy(_._3)
        GridSeries(name, node, s.map(_._4), s.map(_._5), s.map(_._6))
      }
  }

  /** The advisor's NCC, anomaly first: for each anomalous (objective,
    * bucket) in `anomalous` and each candidate series, the one cell of
    * the best lag. It equals [[topCorr]]'s best-lag pick over
    * `nccLag(gate(grid))` restricted to those buckets, bit for bit in
    * `r`, where gate is the advisor's per-bucket range gate at
    * `minRange`; the `nccLag`/`topCorr` forms stay as the oracle-checked
    * composition.
    *
    * Plan: the objective series (`objs`, collected once by the caller)
    * are gated and quantized on the driver, M over their gated rows,
    * and only their anomalous buckets are broadcast. One
    * [[SignalKernel.perSignalBI]] kernel per candidate series gates its
    * buckets, quantizes, scores the 2·lagMax + 1 lags against each
    * broadcast bucket and emits the largest |r| (smallest lag on ties).
    * The grid's (name, node) layout carries the kernel, so nothing is
    * exchanged, joined or persisted. An objective row with a NULL node
    * has no anomalous bucket, as the anomalous-bucket equi-join had none.
    */
  private[graft] def adviseCells(grid: DataFrame, objNames: Seq[String],
                                 objs: Array[GridSeries], anomalous: Set[(String, String, Long)],
                                 minRange: Double, lagMax: Int = 3,
                                 minOverlap: Int = 8): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val objQ = objs.filter(_.node != null).map { o =>
      quantSeries(o.name, o.node, o.b.indices.map(k => (o.b(k), o.i(k), o.gval(k))).toArray,
        Some(minRange), b => anomalous((o.name, o.node, b)))
    }.filter(_.buckets.nonEmpty)
    val wanted = objQ.flatMap(_.buckets.keys).toSet
    val objBc = spark.sparkContext.broadcast(objQ)
    val lags = (-lagMax.toLong to lagMax.toLong).toArray
    val cols = Seq("name", "node", "b", "i", "gval").map(col)
    SignalKernel.perSignalBI(grid.filter(!col("name").isin(objNames: _*)).select(cols: _*)) {
      (key: (String, String), it: Iterator[(String, String, Long, Long, Double)]) =>
        val c = quantSeries(key._1, key._2, it.map(r => (r._3, r._4, r._5)).toArray,
          Some(minRange), wanted)
        for {
          o <- objBc.value.iterator
          (b, (oi, oq)) <- o.buckets.iterator
          (ci, cq) <- c.buckets.get(b).iterator
          (lag, n, r) <- bestLag(oi, oq, ci, cq, lags, minOverlap)
        } yield (o.name, o.node, c.name, c.node, b, lag, n, r)
    }.toDF("obj_name", "obj_node", "cand_name", "cand_node", "b", "lag", "n", "r")
  }

  /** The lag with the largest |r| over `lags` (ascending, so the
    * smallest lag wins a tie), as (lag, n, r); r is [[pearsonFromMoments]]'
    * op sequence on [[lagMoments]]' sums. None when no lag keeps a cell.
    */
  private def bestLag(xi: Array[Long], xq: Array[Long], yi: Array[Long], yq: Array[Long],
                      lags: Array[Long], minOverlap: Int): Option[(Long, Long, Double)] = {
    var best: Option[(Long, Long, Double)] = None
    var bestAbs = -1.0
    lags.foreach { lag =>
      lagMoments(xi, xq, yi, yq, lag).foreach { case (n, sx, sy, sxy, sxx, syy) =>
        val nd = n.toDouble
        val vx = nd * sxx - sx * sx
        val vy = nd * syy - sy * sy
        if (n >= minOverlap && vx > 0 && vy > 0) {
          val r = r4d((nd * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)))
          if (math.abs(r) > bestAbs) { best = Some((lag, n, r)); bestAbs = math.abs(r) }
        }
      }
    }
    best
  }

  /** Exact moments (n, Σx, Σy, Σxy, Σx², Σy²) of the pairs (x at index
    * i, y at index i + lag), the sums correctly rounded to double; None
    * when no index pairs up. Both index arrays are ascending.
    */
  private def lagMoments(xi: Array[Long], xq: Array[Long], yi: Array[Long],
                         yq: Array[Long], lag: Long)
      : Option[(Long, Double, Double, Double, Double, Double)] = {
    val sx = new Sum128; val sy = new Sum128
    val sxy = new Sum128; val sxx = new Sum128; val syy = new Sum128
    var n = 0L; var p = 0; var r = 0
    while (p < xi.length && r < yi.length) {
      val d = yi(r) - (xi(p) + lag)
      if (d < 0) r += 1
      else if (d > 0) p += 1
      else {
        val x = xq(p); val y = yq(r)
        n += 1; sx.add(x); sy.add(y)
        sxy.addProduct(x, y); sxx.addProduct(x, x); syy.addProduct(y, y)
        p += 1; r += 1
      }
    }
    if (n == 0) None
    else Some((n, sx.toDouble, sy.toDouble, sxy.toDouble, sxx.toDouble, syy.toDouble))
  }

  /** Exact signed 128-bit accumulator (two's complement hi:lo). */
  private final class Sum128 {
    private var hi = 0L
    private var lo = 0L

    def add(v: Long): Unit = add(v >> 63, v)

    /** Adds the exact 128-bit product a·b. */
    def addProduct(a: Long, b: Long): Unit = add(Math.multiplyHigh(a, b), a * b)

    private def add(h: Long, l: Long): Unit = {
      val s = lo + l
      hi += h + (if (java.lang.Long.compareUnsigned(s, lo) < 0) 1L else 0L)
      lo = s
    }

    /** The sum, correctly rounded to the nearest double. */
    def toDouble: Double =
      if (hi == (lo >> 63)) lo.toDouble
      else new java.math.BigInteger(
        java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array()).doubleValue
  }

  /** For each (obj, cand, bucket): the lag with max |r| (mathbox max_corr,
    * metrics_advisor.py:193); then the top-k candidates per obj signal and
    * bucket by |r| (:196, :209 keeps top 5). Ranking uses rounded r with
    * name/node/lag tiebreaks → engine-deterministic.
    */
  def topCorr(cells: DataFrame, k: Int = 5): DataFrame = {
    val bestLag = Window
      .partitionBy("obj_name", "obj_node", "cand_name", "cand_node", "b")
      .orderBy(abs(col("r")).desc, col("lag").asc)
    rankCandidates(cells
      .withColumn("rn", row_number().over(bestLag))
      .filter(col("rn") === 1).drop("rn"), k)
  }

  /** [[topCorr]]'s ranking of best-lag cells: the top-k candidates per
    * (obj_name, obj_node, b) by |r|, then cand_name, cand_node.
    */
  private[graft] def rankCandidates(best: DataFrame, k: Int): DataFrame = {
    val rankW = Window.partitionBy("obj_name", "obj_node", "b")
      .orderBy(abs(col("r")).desc, col("cand_name").asc, col("cand_node").asc)
    best.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  /** Lead-lag stability per (objective, candidate) pair: the best lag
    * is recomputed per bucket ([[topCorr]] semantics — max |r|, lag
    * tiebreak); a pair whose best lag is the SAME day after day is a
    * dependable leading indicator, while a pair whose lag wanders is a
    * coincidence the advisor should rank down. Reports the modal best
    * lag, its share of buckets, and the lag span — all integer
    * arithmetic over the already-rounded r frame, so membership and
    * ordering replay exactly. Output is one row per pair (the
    * |obj|×|signals|-bounded frame the NCC family already carries).
    */
  def lagConsistency(indexedGrid: DataFrame, objNames: Seq[String],
                     lagMax: Int = 3, minOverlap: Int = 8): DataFrame = {
    val pairCols = Seq("obj_name", "obj_node", "cand_name", "cand_node")
    val byCell = Window.partitionBy((pairCols :+ "b").map(col): _*)
      .orderBy(abs(col("r")).desc, col("lag").asc)
    val best = nccLag(indexedGrid, objNames, lagMax, minOverlap)
      .withColumn("rn", row_number().over(byCell)).filter(col("rn") === 1)
    val counts = best.groupBy((pairCols :+ "lag").map(col): _*)
      .agg(count(lit(1)).as("c"))
    val pairW = Window.partitionBy(pairCols.map(col): _*)
    val byMode = pairW.orderBy(col("c").desc, col("lag").asc)
    counts
      .withColumn("rn", row_number().over(byMode))
      .withColumn("nb", sum("c").over(pairW))
      .withColumn("lag_span", max("lag").over(pairW) - min("lag").over(pairW))
      .filter(col("rn") === 1)
      .select(col("obj_name"), col("obj_node"), col("cand_name"), col("cand_node"),
        col("nb").as("n_buckets"), col("lag").as("mode_lag"),
        r4(col("c").cast("double") / col("nb").cast("double")).as("mode_share"),
        col("lag_span"))
  }

  /** Spearman rank-correlation matrix: Pearson over average ranks
    * within each (signal, bucket) — the robust companion to
    * [[corrMatrix]] (monotone association, insensitive to outliers the
    * advisor itself flags). Average ranks for ties keep the statistic
    * well-defined on plateaued metrics. Same join shape and shuffle
    * profile as corrMatrix; ranking adds one window over the grid.
    *
    * The ranked grid feeds BOTH sides of the matrix self-join, and the
    * rank window sits on top of the whole events→resample→ffill
    * pipeline — persist it so that pipeline runs once. Caching contract:
    * released on `spark.catalog.clearCache()` (Bench does this per
    * query; long-lived callers should too after consuming the result).
    */
  def spearmanMatrix(indexedGrid: DataFrame, minOverlap: Int = 8): DataFrame = {
    val byVal = Window.partitionBy("name", "node", "b").orderBy("gval")
    val ties = Window.partitionBy("name", "node", "b", "gval")
    val ranked = indexedGrid.withColumn("ar",
      rank().over(byVal) + (count(lit(1)).over(ties) - 1) / 2.0)
      .drop("gval").withColumnRenamed("ar", "gval")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    corrMatrix(ranked, minOverlap)
  }

  /** Shared cell walker for the O(n²)-per-cell matrix kernels
    * ([[kendallMatrix]], [[dcorMatrix]]): the aligned pair rows go
    * through [[Tiles.walk]] keyed on the (pair, bucket) cell, at the
    * caller's workload-derived width (`Widths.forFrame` of the persisted
    * quantized-grid frame — the cells frame itself is a join whose size
    * estimate is a row-count product, useless as a signal). Per-cell
    * compute is order-independent (symmetric integer sums), so
    * sorted-run grouping is value-identical to flatMapGroups.
    */
  private def cellWalk(cells: DataFrame, width: Int)(
      f: ((String, String, String, String, Long), Array[(Long, Long)])
        => Option[(Double, Long)]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    Tiles.walk(cells.as[(String, String, String, String, Long, Long, Long)], width,
        Seq("a_name", "a_node", "b_name", "b_node", "b").map(col))(
        r => (r._1, r._2, r._3, r._4, r._5), r => (r._6, r._7)) { (k, pts) =>
        f(k, pts).iterator.map(v => (k._1, k._2, k._3, k._4, k._5, v._1, v._2))
      }
      .toDF("a_name", "a_node", "b_name", "b_node", "b", "stat", "n")
  }

  /** Kendall tau-b matrix per bucket: rank-concordance association,
    * the third leg of the correlation family (Pearson = linear,
    * Spearman = monotone-via-ranks, Kendall = pairwise concordance —
    * the most outlier-robust of the three and the one with a direct
    * probabilistic reading: P(concordant) − P(discordant)).
    *
    * Every statistic is computed from exact integer pair counts: for
    * each aligned (i < j) sample pair, dx/dy are differences of the
    * quantized values, so concordant/discordant/tied classification is
    * integer-exact; tau-b's tie correction uses the pair-form
    * identities tx = #{dx = 0}, ty = #{dy = 0}, n0 = #pairs, giving
    * tau = (C − D) / sqrt((n0 − tx)·(n0 − ty)) as one fixed IEEE
    * sequence over exact integers — bit-identical on any engine.
    *
    * Scale: the pairwise expansion is O(n²) per (pair, bucket) cell —
    * n is the per-bucket grid width (24 hourly samples per day
    * bucket), a constant fixed by retention and bucketing, never the
    * corpus; the only shuffles are the alignment join (keyed on
    * (bucket, index), same shape as [[corrMatrix]]) and the cell
    * aggregate. At 1000 signals × a year this is the same
    * signals²·buckets cell count every matrix query here carries.
    */
  def kendallMatrix(indexedGrid: DataFrame, minOverlap: Int = 8): DataFrame = {
    val spark = indexedGrid.sparkSession
    import spark.implicits._
    val q = withQuant(indexedGrid)
      .select(col("name"), col("node"), col("b"), col("i"),
        col("qv").cast("long").as("qv"))
      .persist().tracked
    val a = q.select(col("name").as("a_name"), col("node").as("a_node"),
      col("b"), col("i"), col("qv").as("av"))
    val bdf = q.select(col("name").as("b_name"), col("node").as("b_node"),
      col("b").as("bb"), col("i").as("bi"), col("qv").as("bv"))
    val cond = col("bi") === col("i") && col("bb") === col("b") &&
      (col("a_name") < col("b_name") ||
        (col("a_name") === col("b_name") && col("a_node") < col("b_node")))
    // the O(n²) pair classification runs IN-TASK over each cell's
    // value arrays (n = per-bucket grid width, a retention-bounded
    // constant) — a pairwise self-JOIN here would shuffle n²/2 rows
    // per cell with four string keys each (measured 3× the total cost
    // of this whole query at sf0.1); the alignment join is the only
    // exchange
    cellWalk(a.join(bdf, cond)
      .select(col("a_name"), col("a_node"), col("b_name"), col("b_node"),
        col("b"), col("av"), col("bv")), graft.Widths.forFrame(q)) { (_, pts) =>
      val n = pts.length
      if (n < minOverlap) None
      else {
        var c = 0L; var d = 0L; var tx = 0L; var ty = 0L
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val dx = java.lang.Long.compare(pts(i)._1, pts(j)._1)
            val dy = java.lang.Long.compare(pts(i)._2, pts(j)._2)
            if (dx == 0) tx += 1
            if (dy == 0) ty += 1
            if (dx * dy > 0) c += 1 else if (dx * dy < 0) d += 1
            j += 1
          }
          i += 1
        }
        val n0 = n.toLong * (n - 1) / 2
        if (n0 - tx <= 0 || n0 - ty <= 0) None
        else {
          val tau = (c - d).toDouble /
            math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)
          Some((r4d(tau), n.toLong))
        }
      }
    }.withColumnRenamed("stat", "tau")
  }

  /** Distance correlation (Székely–Rizzo) per signal pair per bucket —
    * zero iff independent (in the population), so it catches the
    * nonlinear/non-monotone couplings Pearson AND Kendall both miss
    * (V-shaped load curves, phase-locked oscillations). Uses the
    * V-statistic with double-centered distance matrices:
    * dCor² = Σ Â·B̂ / √(Σ Â² · Σ B̂²).
    *
    * Determinism: values are the per-signal 1e9-quantized integers
    * ([[withQuant]]); multiplying the centering through by n² keeps
    * every matrix entry integer (n²aⱼₖ − n·rowⱼ − n·rowₖ + total), so
    * the three moment sums are EXACT BigInt totals — the n⁶ scale
    * cancels in the ratio, and the only floating-point is the final
    * div/sqrt chain, bit-identical across engines.
    *
    * Scale: identical shape to [[kendallMatrix]] — the O(n²) centering
    * runs IN-TASK per (pair, bucket) cell (n = bucket grid width, a
    * retention-bounded constant), and the alignment join is the only
    * exchange. BigInt cost is 3n² multiplies per cell, n ≤ tens.
    */
  def dcorMatrix(indexedGrid: DataFrame, minOverlap: Int = 8): DataFrame = {
    val spark = indexedGrid.sparkSession
    import spark.implicits._
    val q = withQuant(indexedGrid)
      .select(col("name"), col("node"), col("b"), col("i"),
        col("qv").cast("long").as("qv"))
      .persist().tracked
    val a = q.select(col("name").as("a_name"), col("node").as("a_node"),
      col("b"), col("i"), col("qv").as("av"))
    val bdf = q.select(col("name").as("b_name"), col("node").as("b_node"),
      col("b").as("bb"), col("i").as("bi"), col("qv").as("bv"))
    val cond = col("bi") === col("i") && col("bb") === col("b") &&
      (col("a_name") < col("b_name") ||
        (col("a_name") === col("b_name") && col("a_node") < col("b_node")))
    cellWalk(a.join(bdf, cond)
      .select(col("a_name"), col("a_node"), col("b_name"), col("b_node"),
        col("b"), col("av"), col("bv")), graft.Widths.forFrame(q)) { (_, pts) =>
      val n = pts.length
      if (n < minOverlap) None
      else {
        val nL = n.toLong
          // row sums and totals of the two distance matrices (longs:
          // |q| ≤ 1e9 → row sum ≤ n·2e9, total ≤ n²·2e9)
          val rx = new Array[Long](n); val ry = new Array[Long](n)
          var tx = 0L; var ty = 0L
          var i = 0
          while (i < n) {
            var j = 0
            while (j < n) {
              val ax = math.abs(pts(i)._1 - pts(j)._1)
              val ay = math.abs(pts(i)._2 - pts(j)._2)
              rx(i) += ax; ry(i) += ay
              j += 1
            }
            tx += rx(i); ty += ry(i)
            i += 1
          }
          val n2 = nL * nL
          var sxy = BigInt(0); var sxx = BigInt(0); var syy = BigInt(0)
          i = 0
          while (i < n) {
            var j = 0
            while (j < n) {
              val ax = math.abs(pts(i)._1 - pts(j)._1)
              val ay = math.abs(pts(i)._2 - pts(j)._2)
              val cx = BigInt(n2 * ax - nL * rx(i) - nL * rx(j) + tx)
              val cy = BigInt(n2 * ay - nL * ry(i) - nL * ry(j) + ty)
              sxy += cx * cy; sxx += cx * cx; syy += cy * cy
              j += 1
            }
            i += 1
          }
          if (sxx.signum <= 0 || syy.signum <= 0) None
          else {
            val dcor = math.sqrt(
              sxy.doubleValue / math.sqrt(sxx.doubleValue * syy.doubleValue))
            Some((r4d(dcor), n.toLong))
          }
      }
    }.withColumnRenamed("stat", "dcor")
  }

  /** Upper-tail dependence per signal pair: when signal A is in its
    * own top decile, how often is B simultaneously in its own — the
    * co-spike question linear correlation dilutes (two metrics can be
    * uncorrelated in the bulk yet always saturate together, which is
    * the regime incidents live in).
    *
    * Each signal's threshold is the exact ascending-rank element at
    * position floor(0.9·(n−1)) + 1 of its OWN grid values (selection,
    * not interpolation → engine-deterministic; strict `>` exceedance).
    * Per aligned pair: n overlap samples, na/nb marginal exceedances,
    * nboth joint. `lift` = (nboth·n)/(na·nb) — the joint rate over the
    * independence rate (1 = independent, ≫1 = tail-coupled); `cond_ba`
    * = nboth/nb = P(A spikes | B spikes). All counts exact integers;
    * the two ratios are single IEEE divisions at the edge.
    *
    * Scale: two window functions per signal (rank + threshold pick),
    * one alignment self-join keyed on the grid index — the corrMatrix
    * shuffle shape; no pairwise expansion at all.
    */
  def tailDependence(indexedGrid: DataFrame, q: Double = 0.9,
                     minOverlap: Int = 24): DataFrame = {
    val quant = withQuant(indexedGrid)
      .select(col("name"), col("node"), col("i"), col("qv"))
    val sigW = Window.partitionBy("name", "node")
    val byVal = sigW.orderBy(col("qv").asc, col("i").asc)
    val flagged = quant
      .withColumn("rn", row_number().over(byVal))
      .withColumn("nsig", count(lit(1)).over(sigW))
      .withColumn("thr_rank",
        floor(lit(q) * (col("nsig") - 1)).cast("long") + 1)
      .withColumn("thr", max(when(col("rn") === col("thr_rank"), col("qv")))
        .over(sigW))
      .withColumn("ex", (col("qv") > col("thr")).cast("long"))
      .select(col("name"), col("node"), col("i"), col("ex"))
      .persist().tracked
    val a = flagged.select(col("name").as("a_name"), col("node").as("a_node"),
      col("i"), col("ex").as("aex"))
    val bdf = flagged.select(col("name").as("b_name"), col("node").as("b_node"),
      col("i").as("bi"), col("ex").as("bex"))
    val cond = col("bi") === col("i") &&
      (col("a_name") < col("b_name") ||
        (col("a_name") === col("b_name") && col("a_node") < col("b_node")))
    a.join(bdf, cond)
      .groupBy("a_name", "a_node", "b_name", "b_node")
      .agg(count(lit(1)).as("n"),
        sum(col("aex")).as("na"), sum(col("bex")).as("nb"),
        sum(col("aex") * col("bex")).as("nboth"))
      .filter(col("n") >= minOverlap && col("na") > 0 && col("nb") > 0)
      .withColumn("lift", r4((col("nboth") * col("n")).cast("double") /
        (col("na") * col("nb")).cast("double")))
      .withColumn("cond_ba", r4(col("nboth").cast("double") /
        col("nb").cast("double")))
  }

  /** Orthonormal-projection (PAA) sketch of a bucket series for the
    * THRESHOLD consumers' candidate pruning — unit-z-normalize the
    * quantized values (so pair Pearson r over an identical index range
    * is exactly the dot product x̂·ŷ, i.e. r = 1 − ‖x̂−ŷ‖²/2), then
    * project onto ≤8 disjoint normalized segment indicators. Disjoint
    * unit vectors are orthonormal, so the sketch distance LOWER-BOUNDS
    * the true distance (‖P(x̂−ŷ)‖ ≤ ‖x̂−ŷ‖) — a PROOF, not a recall
    * estimate: a pruned pair provably has |r| below the threshold
    * (StatStream's DFT-prefilter argument with PAA as the projection).
    * Zero variance → empty sketch (the pair is dropped by the vx>0
    * filter on any engine; the empty sketch routes it to the exact
    * path rather than encode that reasoning here).
    *
    * k = min(32, n): at the engine's grid shape (daily buckets of an
    * hourly grid → n ≤ 24 points) the "sketch" is the full z-series
    * and the bound is the exact distance — the prune then skips the
    * BigInt merge-intersect and the moment-row emission for every
    * sub-threshold pair, which is the actual cost. For longer buckets
    * the 32-segment projection keeps most of a smooth (resampled +
    * ffilled) series' energy; pruning power degrades gracefully on
    * noise-dominated series while completeness stays unconditional.
    */
  private def paaSketch(qs: Array[Long]): Array[Double] = {
    val n = qs.length
    var s = 0.0
    var i = 0
    while (i < n) { s += qs(i); i += 1 }
    val mu = s / n
    var ss = 0.0
    i = 0
    while (i < n) { val d = qs(i) - mu; ss += d * d; i += 1 }
    if (ss <= 0.0) return Array.empty
    val inv = 1.0 / math.sqrt(ss)
    val k = math.min(32, n)
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val start = (j.toLong * n / k).toInt
      val end = ((j + 1).toLong * n / k).toInt
      var acc = 0.0
      var t = start
      while (t < end) { acc += (qs(t) - mu) * inv; t += 1 }
      out(j) = acc / math.sqrt((end - start).toDouble)
      j += 1
    }
    out
  }

  /** Full pairwise correlation matrix per bucket (zero lag), upper
    * triangle only. Self-join on (bucket, index) → one shuffle. Same
    * exact-integer-moment determinism as [[nccLag]].
    *
    * `sameNodeOnly` restricts pairs to signals on the same node (the
    * node becomes an extra equi-join key, so the cross-node cells are
    * never generated, not generated-then-filtered).
    */
  def corrMatrix(indexedGrid: DataFrame, minOverlap: Int = 8,
                 sameNodeOnly: Boolean = false, widthCap: Int = 512,
                 pruneAbsR: Option[Double] = None): DataFrame = {
    // ALL-PAIRS over the fleet is width² by definition — the scale axis
    // here is signal WIDTH, and the r7 fourth-decade audit measured the
    // old row-level time-key self-join OOMing at 2 000 signals: it
    // shuffled width² · points joined rows into a pair-keyed partial
    // aggregation whose hash maps grow with the full matrix. This form
    // keeps the matrix but makes its cost the OUTPUT's: each (bucket)
    // holds every signal's short series (retention-bounded — ~KBs per
    // signal), pair moments are computed IN-TASK by merge-intersecting
    // the two sorted series, and only the width²/2 exact moment rows
    // ever exist. Width past `widthCap` tiles the pair triangle across
    // ⌈width/widthCap⌉ salts (Tiles.triangle), so one bucket
    // never pins one task and task memory stays ≤ 2·widthCap series.
    // The moments are the SAME order-independent exact integers as the
    // old momentAggs (Long/BigInt sums, one correctly-rounded toDouble
    // — ≡ sum(DECIMAL).cast(double)), so pearsonFromMoments and every
    // oracle replay are untouched.
    val spark = indexedGrid.sparkSession
    import spark.implicits._
    // persisted: the width count and the main pass are separate actions
    // and would otherwise each run the full grid-build pipeline
    // (events scan + resample + ffill + quant window)
    val q = withQuant(indexedGrid)
      .select(col("name"), col("node"), col("b"), col("i"),
        col("qv").cast("long").as("qv"))
      .persist().tracked
    // bounded driver state: the fleet width (one count)
    val width = q.select("name", "node").distinct().count()
    val tiles = math.max(1, math.ceil(width.toDouble / widthCap).toInt)
    val same = sameNodeOnly
    // Threshold-consumer pruning (corr_degree / corr_cluster): a pair
    // whose sketch distance proves |r| < threshold − 1e-3 never runs
    // the merge-intersect and never emits a moment row — the all-pairs-
    // before-prune pattern replaced by provably-complete candidates.
    // The 1e-3 margin covers the r4 rounding slop at the threshold
    // boundary and every FP rounding in the double-precision sketch
    // (both orders of magnitude smaller). pruneAbsR = None (the matrix
    // queries) skips sketch construction entirely — the plan is the
    // audited r8 corrMatrix, byte for byte.
    val pruneOn = pruneAbsR.isDefined
    val pruneBound = pruneAbsR.map(t => 2.0 * (1.0 - t + 1e-3)).getOrElse(0.0)
    val ser = q.as[(String, String, Long, Long, Long)]
      .groupByKey(r => (r._3, r._1, r._2)) // (b, name, node)
      .mapGroups { (key: (Long, String, String), it: Iterator[(String, String, Long, Long, Long)]) =>
        val pts = it.map(r => (r._4, r._5)).toArray.sortBy(_._1)
        val qs = pts.map(_._2)
        val sk = if (pruneOn) paaSketch(qs) else Array.empty[Double]
        (key._1, key._2, key._3, pts.map(_._1), qs, sk)
      }
    val tiled = ser.flatMap { case (b, name, node, is, qs, sk) =>
      Tiles.triangle(b, (name + "|" + node).hashCode.toLong, tiles)(
        side => (name, node, is, qs, sk, side))
    }
    val cells = tiled.groupByKey(_._1)
      .flatMapGroups { (key: (Long, Int, Int), it: Iterator[((Long, Int, Int), (String, String, Array[Long], Array[Long], Array[Double], Int))]) =>
        val rows = it.map(_._2).toArray
        val diagonal = key._2 == key._3
        val as = if (diagonal) rows else rows.filter(_._6 == 0)
        val bs = if (diagonal) rows else rows.filter(_._6 == 1)
        val b = key._1
        // prunable only when the pair's index sets are PROVABLY equal
        // and contiguous (same head/last/count + dense): then the
        // intersection is both full series and r = x̂·ŷ exactly — the
        // precondition the sketch bound needs. Gappy or offset series
        // fall through to the exact merge-intersect (no bound claimed).
        def pruned(x: (String, String, Array[Long], Array[Long], Array[Double], Int),
                   y: (String, String, Array[Long], Array[Long], Array[Double], Int)): Boolean = {
          if (!pruneOn || x._5.isEmpty || y._5.isEmpty) return false
          val xi = x._3; val yi = y._3
          if (xi.length != yi.length || xi.head != yi.head || xi.last != yi.last ||
            xi.last - xi.head + 1 != xi.length.toLong) return false
          val sa = x._5; val sb = y._5
          var lbm = 0.0; var lbp = 0.0
          var t = 0
          while (t < sa.length) {
            val d = sa(t) - sb(t); val s = sa(t) + sb(t)
            lbm += d * d; lbp += s * s
            t += 1
          }
          lbm > pruneBound && lbp > pruneBound
        }
        def moments(x: (String, String, Array[Long], Array[Long], Array[Double], Int),
                    y: (String, String, Array[Long], Array[Long], Array[Double], Int)) = {
          // canonical orientation: a_name < b_name, node tiebreak
          val cmp = if (x._1 != y._1) x._1.compareTo(y._1) else x._2.compareTo(y._2)
          if (cmp == 0 || (same && (x._2 != y._2 || x._1 == y._1))) None
          else if (pruned(x, y)) None
          else {
            val (p, r) = if (cmp < 0) (x, y) else (y, x)
            var ii = 0; var jj = 0; var n = 0L
            var sx = 0L; var sy = 0L
            var sxy = BigInt(0); var sxx = BigInt(0); var syy = BigInt(0)
            while (ii < p._3.length && jj < r._3.length) {
              if (p._3(ii) < r._3(jj)) ii += 1
              else if (p._3(ii) > r._3(jj)) jj += 1
              else {
                val xv = p._4(ii); val yv = r._4(jj)
                n += 1; sx += xv; sy += yv
                sxy += BigInt(xv) * yv; sxx += BigInt(xv) * xv; syy += BigInt(yv) * yv
                ii += 1; jj += 1
              }
            }
            if (n == 0) None
            else Some((p._1, p._2, r._1, r._2, b, n, sx.toDouble, sy.toDouble,
              sxy.toDouble, sxx.toDouble, syy.toDouble))
          }
        }
        if (diagonal)
          (for {
            i <- (0 until as.length).iterator
            j <- ((i + 1) until as.length).iterator
            m <- moments(as(i), as(j))
          } yield m)
        else
          (for {
            i <- as.indices.iterator
            j <- bs.indices.iterator
            m <- moments(as(i), bs(j))
          } yield m)
      }
      .toDF("a_name", "a_node", "b_name", "b_node", "b",
        "n", "sx", "sy", "sxy", "sxx", "syy")
    pearsonFromMoments(cells, minOverlap)
  }

  /** DTW distance obj×candidate per node — shape similarity that
    * tolerates local time distortion (a ramp taking 3 samples on one
    * node and 5 on another still matches), which fixed-lag NCC
    * structurally cannot express. Series are z-normalized (shape, not
    * scale) and compared under a Sakoe-Chiba band: O(n·band) per
    * pair, not O(n²). Plan: [[perObjective]].
    */
  def dtwDist(grid: DataFrame, objNames: Seq[String], band: Int = 6): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    perObjective(grid, objNames, objectiveValues(grid, objNames))(xs =>
      graft.functions.Dtw.znorm(graft.functions.Dtw.quantize(xs))) { (o, c, nd, os, cs) =>
      Iterator.single((o, c, nd, r4d(graft.functions.Dtw.distance(os, cs, band)), os.length))
    }.toDF("obj_name", "cand_name", "node", "dtw", "n")
  }

  /** Granger-causality F-test obj×candidate per node: does the
    * candidate's past improve an autoregression of the objective
    * (functions.Granger)? Correlation ranks "moves together"; this
    * ranks "its past predicts the objective" — direction-aware, so a
    * metric that merely reacts to the objective scores low where NCC
    * scores it the same as a driver. Plan: [[perObjective]]; a pair
    * whose series differ in length is skipped.
    */
  def grangerF(grid: DataFrame, objNames: Seq[String], p: Int = GrangerOrder): DataFrame =
    grangerOn(grid, objNames, objectiveValues(grid, objNames), p)

  private val GrangerOrder = 2

  /** [[grangerF]] at its default order against objective series the
    * caller already collected ([[collectSeries]] of the same grid and
    * `objNames`), so the slice is not collected again.
    */
  private[graft] def grangerF(grid: DataFrame, objNames: Seq[String],
                              objs: Array[GridSeries]): DataFrame =
    grangerOn(grid, objNames, objs.map(s => (s.name, s.node, s.gval)), GrangerOrder)

  private def grangerOn(grid: DataFrame, objNames: Seq[String],
                        objs: Array[(String, String, Array[Double])], p: Int): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    perObjective(grid, objNames, objs)(identity) { (o, c, nd, os, cs) =>
      if (os.length != cs.length) None
      else graft.functions.Granger.test(os, cs, p).map { r =>
        (o, c, nd, r4d(math.min(r.fStat, 1e6)), r4d(r.pValue), r.nEff)
      }
    }.toDF("obj_name", "cand_name", "node", "f_stat", "p_value", "n_eff")
  }

  /** The objective slice of `grid` (name, node, tsb, gval), collected
    * ([[SignalKernel.collect]] sorts each series by `tsb`), as (name,
    * node, values).
    */
  private def objectiveValues(grid: DataFrame, objNames: Seq[String])
      : Array[(String, String, Array[Double])] =
    SignalKernel.collect(grid.filter(col("name").isin(objNames: _*))
        .select(Seq("name", "node", "tsb", "gval").map(col): _*))
      .map(s => (s._1, s._2, s._4))

  /** The pairwise whole-series kernels' plan, the shape [[nccLag]] has:
    * the collected objective series `objs` (values in time order) are
    * passed through `prep` and broadcast by node; every candidate series
    * of `grid` (name, node, tsb, gval) gets the same `prep` inside its
    * own (name, node) group on the grid's signal partitioning and is
    * scored against each objective of its node as `score(obj_name,
    * cand_name, node, objective, candidate)`. No series frame is
    * persisted and nothing is joined; an objective with a NULL node is
    * skipped, as a node equi-join would skip it.
    */
  private def perObjective[U: Encoder](grid: DataFrame, objNames: Seq[String],
                                       objs: Array[(String, String, Array[Double])])(
      prep: Array[Double] => Array[Double])(
      score: (String, String, String, Array[Double], Array[Double]) => IterableOnce[U])
      : Dataset[U] = {
    val byNode = objs.filter(_._2 != null).groupBy(_._2)
      .map { case (node, ss) => node -> ss.map(s => (s._1, prep(s._3))) }
    val objBc = grid.sparkSession.sparkContext.broadcast(byNode)
    val cols = Seq("name", "node", "tsb", "gval").map(col)
    SignalKernel.series(grid.filter(!col("name").isin(objNames: _*)).select(cols: _*)) { (name, node, _, xs) =>
      val cs = prep(xs)
      objBc.value.getOrElse(node, Array.empty[(String, Array[Double])]).iterator
        .flatMap { case (o, os) => score(o, name, node, os, cs) }
    }
  }

  /** First-order partial correlation per (candidate, node, bucket):
    * r(cand, obj | ctrl) — does the candidate still move with the
    * objective once a shared driver (load, traffic, the `ctrl`
    * signal) is regressed out? The advisor's ranking question,
    * sharpened: raw |r| surfaces everything the control drags along;
    * the partial kills those spurious candidates.
    *
    * Computed from the same-node rounded correlation matrix via
    * r_p = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) — a fixed IEEE
    * sequence over engine-identical rounded inputs, so the output is
    * deterministic end-to-end. Cells where either control
    * correlation is ±1 (zero denominator) are dropped.
    *
    * Plan: ONE matrix pass feeds all three correlation roles (the
    * symmetric view is persisted — without it the whole
    * grid→quantize→join→moment pipeline would run three times); the
    * (node, bucket)-keyed obj-ctrl frame is a handful of rows and
    * broadcasts.
    */
  def partialCorr(indexedGrid: DataFrame, objName: String, ctrlName: String,
                  minOverlap: Int = 8): DataFrame = {
    val m = corrMatrix(indexedGrid, minOverlap, sameNodeOnly = true)
      .select(col("a_name").as("x"), col("b_name").as("y"),
        col("a_node").as("node"), col("b"), col("r"))
    val sym = m.union(m.select(col("y"), col("x"), col("node"), col("b"), col("r")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    val rxy = sym.filter(col("y") === objName && col("x") =!= ctrlName)
      .select(col("x").as("cand_name"), col("node"), col("b"), col("r").as("r_xy"))
    val rxz = sym.filter(col("y") === ctrlName && col("x") =!= objName)
      .select(col("x").as("cand_name"), col("node"), col("b"), col("r").as("r_xz"))
    val ryz = sym.filter(col("x") === objName && col("y") === ctrlName)
      .select(col("node"), col("b"), col("r").as("r_yz"))
    rxy.join(rxz, Seq("cand_name", "node", "b"))
      .join(broadcast(ryz), Seq("node", "b"))
      .withColumn("den",
        (lit(1.0) - col("r_xz") * col("r_xz")) *
        (lit(1.0) - col("r_yz") * col("r_yz")))
      .filter(col("den") > 0)
      .select(col("cand_name"), col("node"), col("b"), col("r_xy"),
        r4((col("r_xy") - col("r_xz") * col("r_yz")) / sqrt(col("den")))
          .as("r_partial"))
  }

  /** The grid slice (name, node, i, gval), persisted — it feeds the
    * range aggregate AND the bin join-back, so the grid-build pipeline
    * runs once (prefixJaccard release convention) — and each sample's
    * equal-width bin in [0, bins) over its series' [min, max] range (0
    * for a flat series) as (name, node, i, bin): the discretization
    * [[mutualInfo]] and [[transferEntropy]] count over.
    */
  private def binnedGrid(indexedGrid: DataFrame, bins: Int): (DataFrame, DataFrame) = {
    val g = indexedGrid.select("name", "node", "i", "gval").persist().tracked
    val rng = g.groupBy("name", "node")
      .agg(min("gval").as("lo"), max("gval").as("hi"))
    (g, g.join(rng, Seq("name", "node"))
      .withColumn("bin", when(col("hi") > col("lo"),
        least(floor((col("gval") - col("lo")) * lit(bins.toDouble) /
          (col("hi") - col("lo"))).cast("int"), lit(bins - 1)))
        .otherwise(lit(0)))
      .select("name", "node", "i", "bin"))
  }

  /** Binned mutual information I(obj; cand) per (candidate, node) —
    * the nonlinear complement to NCC/Spearman: a candidate driving the
    * objective through a V-shaped or saturating response has r ≈ 0
    * but MI ≫ 0, so ranking by MI surfaces drivers correlation misses.
    *
    * Each signal is quantized into `bins` equal-width bins over its own
    * global range (exact min/max of the exact-decimal grid values; a
    * fixed IEEE bin formula keeps the binning engine-deterministic).
    * All bin/joint/marginal counts are exact integers; the only
    * transcendental, ln(cxy·n / (cx·cy)), is quantized to ×1e6 per
    * joint cell so engine ulp noise is absorbed before the exact
    * integer Σ cxy·qln accumulation (the text_perplexity convention).
    *
    * Shape: one aligned obj⋈cand join on (node, sample index) — the
    * same co-partitioned grid join as the correlation family — into a
    * ≤ bins² cell frame per pair; marginals re-aggregate the joint
    * frame, never the grid. Output rows = |candidates|×|nodes|.
    */
  def mutualInfo(indexedGrid: DataFrame, objName: String = "error",
                 bins: Int = 8): DataFrame = {
    val (g, binned) = binnedGrid(indexedGrid, bins)
    val o = binned.filter(col("name") === objName)
      .select(col("node"), col("i"), col("bin").as("ob"))
    val c = binned.filter(col("name") =!= objName)
      .select(col("name").as("cand_name"), col("node"), col("i"),
        col("bin").as("cb"))
    // ONE explicit (cand, node) exchange carries the whole tail (guide
    // §2.4): hash(cand_name, node) satisfies ClusteredDistribution for
    // the ≤bins² joint aggregate, all three marginal WINDOW sums and
    // the final reduce — the former shape (3 marginal re-aggregates +
    // 3 joins back onto a persisted joint frame) planned ~7 more
    // exchanges and their AQE stage materializations over the same few
    // thousand rows. Marginals as window sums of exact integer counts
    // are value-identical to the aggregate+join form (every joint row
    // matched exactly its own group in those inner joins).
    // r13: width from the measured grid size (the joint frame is a join
    // whose size estimate is a row-count product — see cellWalk's note)
    val joint = c.join(o, Seq("node", "i"))
      .repartition(graft.Widths.forFrame(g), col("cand_name"), col("node"))
      .groupBy("cand_name", "node", "ob", "cb")
      .agg(count(lit(1)).as("cxy"))
    val wp = Window.partitionBy("cand_name", "node")
    joint
      .withColumn("cx", sum("cxy").over(wp.partitionBy(col("cand_name"),
        col("node"), col("ob"))))
      .withColumn("cy", sum("cxy").over(wp.partitionBy(col("cand_name"),
        col("node"), col("cb"))))
      .withColumn("n", sum("cxy").over(wp))
      .withColumn("qln",
        // ExactMath flat lnInt sum (cross-engine bit-exact, no product
        // overflow): ln(cxy·n/(cx·cy)) = L(cxy)+L(n)−L(cx)−L(cy)
        floor((graft.functions.ExactMath.lnIntCol(col("cxy")) +
          graft.functions.ExactMath.lnIntCol(col("n")) -
          graft.functions.ExactMath.lnIntCol(col("cx")) -
          graft.functions.ExactMath.lnIntCol(col("cy")) + lit(1e-9)) *
          lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("cand_name", "node", "n")
      .agg(sum(col("cxy") * col("qln")).as("s"))
      .select(col("cand_name"), col("node"), col("n"),
        r4(col("s").cast("double") / col("n") / lit(1e6)).as("mi_nats"))
      .orderBy("cand_name", "node")
  }

  /** Binned transfer entropy TE(cand → obj) per (candidate, node) —
    * the DIRECTED companion to [[mutualInfo]] and the model-free
    * alternative to Granger: how much knowing the candidate's previous
    * sample reduces uncertainty about the objective's next sample
    * beyond what the objective's own past already tells.
    *
    *   TE = Σ p(y_t, y_{t−1}, x_{t−1}) ·
    *          ln[ p(y_t | y_{t−1}, x_{t−1}) / p(y_t | y_{t−1}) ]
    *      = Σ c3/N · ln( c3·c1 / (c2a·c2b) )
    *
    * with c3 = #(y_t, y_{t−1}, x_{t−1}), c2a = #(y_{t−1}, x_{t−1}),
    * c2b = #(y_t, y_{t−1}), c1 = #(y_{t−1}). TE is ZERO when the
    * candidate adds nothing (a symmetric coupling MI can't orient),
    * so ranking by TE separates drivers from passengers.
    *
    * Determinism and shape are [[mutualInfo]]'s verbatim: equal-width
    * bins over each signal's own exact range, all four count frames
    * re-aggregate ONE joint lag-triple frame (≤ bins³ cells per
    * pair), and the only transcendental — the ratio-of-integers ln —
    * is ×1e6-quantized per cell before the exact Σ c3·qln sum. The
    * lag alignment is one extra join key shift (i ↔ i−1) on the same
    * co-partitioned grid join the correlation family uses.
    */
  def transferEntropy(indexedGrid: DataFrame, objName: String = "error",
                      bins: Int = 8): DataFrame = {
    val (g, binned) = binnedGrid(indexedGrid, bins)
    val wo = Window.partitionBy("node").orderBy("i")
    val o = binned.filter(col("name") === objName)
      .select(col("node"), col("i"), col("bin").as("yt"))
      .withColumn("y1", lag("yt", 1).over(wo))
      .filter(col("y1").isNotNull)
    val c = binned.filter(col("name") =!= objName)
      .select(col("name").as("cand_name"), col("node"),
        (col("i") + 1).as("i"), col("bin").as("x1"))
    // same one-exchange tail as mutualInfo: hash(cand, node) satisfies
    // the ≤bins³ joint aggregate, all FOUR marginal window sums and
    // the final reduce — replacing 4 re-aggregates + 4 joins over a
    // persisted joint frame with window sums of the same exact integer
    // counts (value-identical; see mutualInfo's note)
    // r13: width from the measured grid size (see mutualInfo's note)
    val joint = c.join(o, Seq("node", "i"))
      .repartition(graft.Widths.forFrame(g), col("cand_name"), col("node"))
      .groupBy("cand_name", "node", "yt", "y1", "x1")
      .agg(count(lit(1)).as("c3"))
    val wp = Window.partitionBy("cand_name", "node")
    joint
      .withColumn("c2a", sum("c3").over(wp.partitionBy(col("cand_name"),
        col("node"), col("y1"), col("x1"))))
      .withColumn("c2b", sum("c3").over(wp.partitionBy(col("cand_name"),
        col("node"), col("yt"), col("y1"))))
      .withColumn("c1", sum("c3").over(wp.partitionBy(col("cand_name"),
        col("node"), col("y1"))))
      .withColumn("n", sum("c3").over(wp))
      .withColumn("qln",
        // ExactMath flat lnInt sum — see mutualInfo's qln note
        floor((graft.functions.ExactMath.lnIntCol(col("c3")) +
          graft.functions.ExactMath.lnIntCol(col("c1")) -
          graft.functions.ExactMath.lnIntCol(col("c2a")) -
          graft.functions.ExactMath.lnIntCol(col("c2b")) +
          lit(1e-9)) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("cand_name", "node", "n")
      .agg(sum(col("c3") * col("qln")).as("s"))
      .select(col("cand_name"), col("node"), col("n"),
        r4(col("s").cast("double") / col("n") / lit(1e6)).as("te_nats"))
      .orderBy("cand_name", "node")
  }

  /** Engle–Granger cointegration screen obj~cand per node — the
    * spurious-regression guard for the correlation family: two trending
    * signals correlate strongly whether or not they are coupled; if the
    * OLS RESIDUAL obj − (α + β·cand) is stationary the pair shares a
    * long-run equilibrium, if the residual itself trends the high r is
    * an artifact. Stationarity is read with the Durbin–Watson statistic
    * DW = Σ(e_t − e_{t−1})² / Σe_t² (≈2 white residual, →0 unit root);
    * the verdict bins the ROUNDED DW at the classic [1.5, 2.5] band.
    *
    * Determinism: the OLS runs on ×1e4-quantized integers with exact
    * moment sums (the pearsonFromMoments machinery), α/β are one
    * mirrored IEEE sequence, the residual is re-quantized to unit
    * integers (floor(e + 0.5) — identical doubles floor identically),
    * and both DW sums are exact integer aggregates with one edge
    * division. Shape: the grid join feeds the moment aggregate AND the
    * residual pass (persisted once); one keyed window for the lag.
    */
  def cointegration(indexedGrid: DataFrame,
                    objName: String = "error"): DataFrame = {
    val qg = indexedGrid.select(col("name"), col("node"), col("i"),
      floor((col("gval") + lit(1e-9)) * lit(1e4) + lit(0.5))
        .cast("long").as("q"))
    val o = qg.filter(col("name") === objName)
      .select(col("node"), col("i"), col("q").as("y"))
    val c = qg.filter(col("name") =!= objName)
      .select(col("name").as("cand_name"), col("node"), col("i"),
        col("q").as("x"))
    val big = (cc: Column) => cc.cast(DecimalType(38, 0))
    val j = c.join(o, Seq("node", "i")).persist().tracked
    val nd = col("n").cast("double")
    val mom = j.groupBy("cand_name", "node").agg(
        count(lit(1)).as("n"),
        sum("x").cast("double").as("sx"),
        sum("y").cast("double").as("sy"),
        sum(big(col("x")) * col("y")).cast("double").as("sxy"),
        sum(big(col("x")) * col("x")).cast("double").as("sxx"))
      .filter(nd * col("sxx") - col("sx") * col("sx") > 0)
      .withColumn("beta", (nd * col("sxy") - col("sx") * col("sy")) /
        (nd * col("sxx") - col("sx") * col("sx")))
      .withColumn("alpha", (col("sy") - col("beta") * col("sx")) / nd)
    val wl = Window.partitionBy("cand_name", "node").orderBy("i")
    val e = j.join(mom.select("cand_name", "node", "n", "beta", "alpha"),
        Seq("cand_name", "node"))
      .withColumn("eq", floor((col("y").cast("double") - col("alpha")) -
        col("beta") * col("x").cast("double") + lit(0.5)).cast("long"))
      .withColumn("ep", lag("eq", 1).over(wl))
    e.groupBy("cand_name", "node", "n", "beta")
      .agg(
        sum(when(col("ep").isNotNull,
          big(col("eq") - col("ep")) * (col("eq") - col("ep")))).as("num"),
        sum(big(col("eq")) * col("eq")).as("den"))
      .filter(col("den") > 0)
      .withColumn("dw", r4(col("num").cast("double") / col("den").cast("double")))
      .select(col("cand_name"), col("node"), col("n"), r6(col("beta")).as("beta"),
        col("dw"),
        when(col("dw") >= 1.5 && col("dw") <= 2.5, lit("stationary_resid"))
          .otherwise(lit("autocorr_resid")).as("verdict"))
      .orderBy("cand_name", "node")
  }

  /** Correlation-graph degree telemetry: per signal, how many partners
    * it moves with (any-bucket max |r| over the threshold), its mean
    * and strongest coupling, and WHO the strongest partner is — the
    * hub/leaf read of the fleet graph that [[corrCluster]] groups,
    * answering "which metric drags the most others" before an incident
    * review. Edges compare the 1e4-quantized |r| (exact integers), so
    * membership and ordering are engine-deterministic; the output is
    * one row per signal, aggregated from the |signals|²-bounded matrix
    * every pairwise operator here already carries.
    */
  def corrDegree(indexedGrid: DataFrame, threshold: Double = 0.7,
                 minOverlap: Int = 8): DataFrame = {
    // pruneAbsR: the sketch prune drops only bucket cells PROVABLY
    // below threshold − 1e-3 (see corrMatrix) — such cells can neither
    // create an edge (mq >= thrq needs one cell at/above threshold)
    // nor change a surviving edge's mq (a max; every >= threshold cell
    // survives), so degree/mean/top aggregates are unchanged while the
    // w² merge-intersect + moment-row shuffle shrinks to candidates.
    val m = corrMatrix(indexedGrid, minOverlap, pruneAbsR = Some(threshold))
      .withColumn("aq",
        floor((abs(col("r")) + lit(1e-9)) * lit(1e4) + lit(0.5)).cast("long"))
    val pair = m.groupBy("a_name", "a_node", "b_name", "b_node")
      .agg(max("aq").as("mq"))
    val thrq = math.floor((threshold + 1e-9) * 1e4 + 0.5).toLong
    val edges = pair.filter(col("mq") >= thrq)
    val dirs = edges.select(col("a_name").as("name"), col("a_node").as("node"),
        concat(col("b_name"), lit("|"), col("b_node")).as("partner"), col("mq"))
      .unionByName(edges.select(col("b_name").as("name"), col("b_node").as("node"),
        concat(col("a_name"), lit("|"), col("a_node")).as("partner"), col("mq")))
    val w = Window.partitionBy("name", "node").orderBy(col("mq").desc, col("partner"))
    dirs.withColumn("rn", row_number().over(w))
      .groupBy("name", "node")
      .agg(count(lit(1)).as("degree"),
        r4(sum("mq").cast("double") /
          (count(lit(1)).cast("double") * lit(1e4))).as("mean_top_r"),
        max(when(col("rn") === 1, col("partner"))).as("top_partner"),
        r4(max("mq").cast("double") / lit(1e4)).as("top_r"))
  }

  /** Correlation-graph signal grouping: signals whose |r| reaches
    * `threshold` in ANY bucket are edges; connected components label
    * each signal with the lexicographically-smallest member of its
    * group — the "these metrics move together" structure a dashboard
    * collapses a fleet by, and the redundancy map an alert-routing
    * review reads (paging on five members of one group is one page).
    *
    * The vertex set is the SIGNAL fleet — millions at 100 TB — and a
    * hot correlated fleet's edge set is quadratic in its cliques, so
    * both stay distributed: each `name|node` signal gets a dense long
    * id in Spark's own string order (binary UTF-8, the order SQL `min`
    * compares strings by), so the least id of a component is its least
    * signal, and the thresholded edges run through [[Dedup.clusters]]
    * on those ids. The heavy object stays the corr matrix, which is
    * the already-audited [[corrMatrix]] plan.
    */
  def corrCluster(indexedGrid: DataFrame, threshold: Double = 0.8,
                  minOverlap: Int = 8): DataFrame = {
    val spark = indexedGrid.sparkSession
    import spark.implicits._
    val edges = corrMatrix(indexedGrid, minOverlap, pruneAbsR = Some(threshold))
      .filter(abs(col("r")) >= threshold)
      .select(concat(col("a_name"), lit("|"), col("a_node")),
        concat(col("b_name"), lit("|"), col("b_node")))
      .as[(String, String)]
    signalComponents(
      indexedGrid.select(concat(col("name"), lit("|"), col("node"))).as[String], edges)
  }

  /** Connected components of a string-keyed graph: `(signal, group_id,
    * is_member)` for every signal in `signals`, `group_id` the least
    * signal of its component under Spark's string order. `edges` may
    * repeat and need not be symmetric; every endpoint must be a signal.
    */
  private[graft] def signalComponents(signals: Dataset[String],
                                      edges: Dataset[(String, String)]): DataFrame = {
    val spark = signals.sparkSession
    import spark.implicits._
    // (signal, id), read by both edge endpoints, the vertex set and
    // both output columns. The id lookups are pair-RDD joins: they run
    // as stages of the jobs that read them, where a DataFrame join costs
    // one AQE job per exchange.
    val ids = signals.toDF("signal")
      .distinct().orderBy("signal").as[String].rdd.zipWithIndex()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked
    val signalOf = ids.map(_.swap)
    val idEdges = edges.rdd.distinct()
      .join(ids).map { case (_, (b, aId)) => (b, aId) }
      .join(ids).values
    Dedup.clusters(ids.values.toDF("doc_id"),
        precomputedPairs = Some(idEdges.toDF("doc1", "doc2")))
      .as[(Long, Long, Int)].rdd
      .map { case (id, canonical, dup) => (id, (canonical, dup)) }.join(signalOf)
      .map { case (_, ((canonical, dup), signal)) => (canonical, (signal, dup)) }.join(signalOf)
      .map { case (_, ((signal, dup), group)) => (signal, group, dup) }
      .toDF("signal", "group_id", "is_member")
  }

}
