package graft.operators

import graft.Caches._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.vecDot

/** Clustering over the embedding column — k-means as corpus structure
  * discovery and cluster-distance as an anomaly score (the "Spark SQL
  * aggregations + ML anomaly detection" leg of BASELINE.json's
  * north_star). Both k-means ([[lloydExact]]) and PCA ([[pcaStats]])
  * are engine-exact quantized formulations, so the correctness gate
  * replays the whole ML leg — no float-order or LAPACK dependence.
  */
object Clustering {

  /** Largest centroid count carried as plan LITERALS; above it
    * [[lloydExact]] and [[silhouette]] switch to the
    * broadcast-centroid mapPartitions kernel with bit-identical
    * arithmetic. Two ceilings stack here: janino rejects the
    * generated method outright around k ≈ 800 at d = 64 (measured
    * 36 000-line method at the sfx10 audit, interpreted fallback
    * ~60× slower), but Catalyst PLANNING of the k×d literal arrays
    * bites two decades earlier — at k = 45 the 6-iteration Lloyd
    * loop spent ~5 s re-folding ~3 000 literals per iteration
    * (semdedup_auto 8.2 s → 3.2 s when the kernel takes over at
    * k > 32, same results). 32 keeps the fixed-k gate queries
    * (k = 8/10) on the pure-SQL literal plan the oracles were
    * developed against and routes every derived-k consumer through
    * the kernel.
    */
  private val LiteralKMax = 32

  /** Engine-exact Lloyd's k-means over the embedding column.
    *
    * MLlib's KMeans (kmeans|| init, double centroids) is seeded but not
    * oracle-replayable: init depends on RDD sampling and the centroid
    * means on float summation order. This formulation makes every step
    * an exact integer computation, so an independent engine (the DuckDB
    * correctness gate) replays the whole clustering bit-for-bit:
    *
    *  - coordinates quantized once to ×1e6 integers (`floor((x+1e-9)
    *    *1e6+0.5)` — the repo-wide IEEE sequence);
    *  - init = the embeddings of the `k` lowest vec_ids (the declared
    *    first-k convention the IVF/PQ codebooks already use);
    *  - assignment = argmin of the exact integer squared distance,
    *    ties to the lowest cluster id (|q|≤2e6, d=64 → dist² ≤ 2.6e14,
    *    exact in double);
    *  - update = per-dimension floor-div of exact integer sums (the
    *    nonneg-mod subtraction makes the quotient an exact division on
    *    any engine); an emptied cluster keeps its previous centroid.
    *
    * Spark execution shape: centroids live in the plan as literals
    * up to [[LiteralKMax]] (broadcast by construction) and ride a
    * real broadcast + mapPartitions kernel past it (identical IEEE
    * arithmetic — see assignTo); each round is ONE scan of the
    * persisted quantized corpus into a k×(d+1)-cell hash aggregate
    * (map-side combined), and only that k×(d+1) frame reaches the
    * driver — Lloyd's at 100 TB is `iters` scans with O(k·d) driver
    * state, nothing else.
    *
    * Returns (assignment frame with `cluster` + exact `dist2q`, final
    * quantized centroids). The quantized input is persisted for the
    * duration of the iteration loop and released to the ContextCleaner
    * (prefixJaccard convention).
    */
  def lloydExact(embs: DataFrame, k: Int = 8,
                 iters: Int = 5,
                 trainCap: Int = 0): (DataFrame, Array[Array[Long]]) = {
    // the quantized coords, their double view, and the per-row self
    // dot are iteration-invariant — persisted once, reused 6×
    val q = embs.select(col("vec_id"), col("label"),
        transform(col("embedding"), x =>
          floor((x.cast("double") + lit(1e-9)) * lit(1e6) + lit(0.5))
            .cast("long")).as("q"))
      .withColumn("qd", transform(col("q"), _.cast("double")))
      .withColumn("selfq", vecDot(col("qd"), col("qd")))
      .persist().tracked
    def assignTo(in: DataFrame, cents: Array[Array[Long]]): DataFrame =
      if (cents.length <= LiteralKMax) {
        // one distance expression per centroid, gathered into an ARRAY:
        // array_min + first-position argmin keeps the plan LINEAR in k
        // (a when-chain fold duplicates the running best twice per step
        // — 3^k expression growth, measured as a 13 s codegen stall at
        // k = 8) and array_position's first-match IS the lowest-cluster
        // tiebreak
        val dcols = cents.map { cv =>
          val c = array(cv.map(v => lit(v.toDouble)).toSeq: _*)
          col("selfq") - lit(2.0) * vecDot(col("qd"), c) +
            lit(cv.map(v => v.toDouble * v.toDouble).sum)
        }
        in.withColumn("darr", array(dcols.toSeq: _*))
          .withColumn("dist2q", array_min(col("darr")))
          .withColumn("cluster",
            (array_position(col("darr"), col("dist2q")) - 1).cast("int"))
          .drop("darr")
      } else {
        // past ~10² centroids the literal form stops being a plan and
        // starts being a program: O(k·d) expression nodes blow the
        // generated hashAgg method past janino's limits (measured at
        // the sfx10 decade audit — autoCells-derived k = 782 produced
        // a 36 000-line method, compile failure, and an interpreted
        // fallback ~60× slower). At scale centroids are DATA, not
        // plan: they ride one broadcast and a mapPartitions kernel
        // computes the argmin with the IDENTICAL IEEE op order
        // ((selfq − 2·dot) + Σc², sequential dot exactly as VecDot's
        // loop, strict < keeping the first/lowest cluster on ties) —
        // bit-for-bit the literal plan's result, O(1) plan size and
        // O(k·d) broadcast bytes at any k. Same kernel contract as
        // the minhash/phash mapPartitions: justified here because no
        // composition of built-in operators is both O(1)-plan-size
        // and argmin-exact at unbounded k.
        val cd = cents.map(_.map(_.toDouble))
        val c2 = cents.map(_.map(v => v.toDouble * v.toDouble).sum)
        val bCd = in.sparkSession.sparkContext.broadcast(cd)
        val bC2 = in.sparkSession.sparkContext.broadcast(c2)
        val outSchema = org.apache.spark.sql.types.StructType(
          in.schema.fields ++ Seq(
            org.apache.spark.sql.types.StructField("dist2q",
              org.apache.spark.sql.types.DoubleType, nullable = false),
            org.apache.spark.sql.types.StructField("cluster",
              org.apache.spark.sql.types.IntegerType, nullable = false)))
        val qdIdx = in.schema.fieldIndex("qd")
        val sqIdx = in.schema.fieldIndex("selfq")
        in.mapPartitions { rows =>
          val cdv = bCd.value
          val c2v = bC2.value
          rows.map { r =>
            val qd = r.getSeq[Double](qdIdx)
            val x = new Array[Double](qd.length)
            var j = 0
            while (j < x.length) { x(j) = qd(j); j += 1 }
            val selfq = r.getDouble(sqIdx)
            var best = Double.PositiveInfinity
            var bi = 0
            var ci = 0
            while (ci < cdv.length) {
              val cv = cdv(ci)
              var acc = 0.0
              var i = 0
              while (i < x.length) { acc += x(i) * cv(i); i += 1 }
              val dist = selfq - 2.0 * acc + c2v(ci)
              if (dist < best) { best = dist; bi = ci }
              ci += 1
            }
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ best :+ bi)
          }
        }(org.apache.spark.sql.Encoders.row(outSchema))
      }
    // trainCap > 0: Lloyd ITERATES on a fixed-size md5-ranked sample
    // (the lsh_tune convention: deterministic, append-stable,
    // TakeOrdered — no global sort) and the corpus is assigned ONCE
    // against the final centroids. Training cost becomes O(cap·k·d)
    // — with cap = 8k and k = √n that is LINEAR in the corpus — and
    // the single full assignment pass is the only n·k·d term left
    // (the FAISS train-on-sample contract). trainCap <= 0 keeps the
    // exact full-corpus iteration.
    //
    // r12 (guide §1.2 — the distributed algorithm first): the sampled
    // loop runs LOCALLY. The sample is cap-bounded driver state by
    // contract (8k × d longs ≈ 2 MB — the same boundedness argument
    // as the per-iteration k×(d+1) collect the distributed loop
    // already paid 5×), so ONE TakeOrdered collect replaces
    // 5 × (assignment job + tiny-exchange AQE materializations +
    // aggregate collect) — a pure driver-round-trip tax on a frame
    // that never exceeds the cap (measured: dedup_semdedup_auto
    // 63 → ~45 jobs; FAISS trains on-sample in-process for the same
    // reason). The arithmetic is the assignTo kernel's, op for op:
    // ascending-index dot (VecDot's loop), dist = (selfq − 2·dot) + Σc²,
    // strict < / first-wins argmin, exact Long coordinate sums (order-
    // free), floorDiv centroid update, empty cluster keeps its old
    // centroid — LloydSpec pins local(cap ≥ n) ≡ distributed(cap = 0)
    // on both returned values. trainCap <= 0 (the full-corpus
    // contract) keeps the distributed iteration: n is unbounded there.
    var cents: Array[Array[Long]] = null
    if (trainCap > 0) {
      val sample = q
        .orderBy(Sampling.hash32(col("vec_id").cast("string")), col("vec_id"))
        .limit(trainCap)
        .select(col("vec_id"), col("q")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      val seed = sample.sortBy(_._1).take(k).map(_._2)
      require(seed.length == k, s"need at least $k vectors")
      cents = seed
      val dim = cents(0).length
      val xs = sample.map(_._2.map(_.toDouble))
      val selfqs = xs.map { x =>
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * x(i); i += 1 }
        acc
      }
      for (_ <- 1 to iters) {
        val cd = cents.map(_.map(_.toDouble))
        val c2 = cents.map(_.map(v => v.toDouble * v.toDouble).sum)
        val sums = Array.fill(k)(new Array[Long](dim))
        val ns = new Array[Long](k)
        var r = 0
        while (r < xs.length) {
          val x = xs(r)
          var best = Double.PositiveInfinity; var bi = 0; var ci = 0
          while (ci < k) {
            val cv = cd(ci)
            var acc = 0.0; var i = 0
            while (i < x.length) { acc += x(i) * cv(i); i += 1 }
            val dist = selfqs(r) - 2.0 * acc + c2(ci)
            if (dist < best) { best = dist; bi = ci }
            ci += 1
          }
          val qv = sample(r)._2
          var i = 0
          while (i < dim) { sums(bi)(i) += qv(i); i += 1 }
          ns(bi) += 1L
          r += 1
        }
        cents = Array.tabulate(k) { ci =>
          if (ns(ci) > 0L)
            Array.tabulate(dim)(i => Math.floorDiv(sums(ci)(i), ns(ci)))
          else cents(ci)
        }
      }
    } else {
      cents = q.orderBy("vec_id").limit(k)
        .select("q").collect().map(_.getSeq[Long](0).toArray)
      require(cents.length == k, s"need at least $k vectors")
      val dim = cents(0).length
      for (_ <- 1 to iters) {
        val sums = (0 until dim).map(i =>
          sum(element_at(col("q"), i + 1)).as(s"s$i")) :+ count(lit(1)).as("n")
        val rows = assignTo(q, cents).groupBy("cluster")
          .agg(sums.head, sums.tail: _*).collect()
        val byC = rows.map(r => r.getInt(0) -> r).toMap
        cents = (0 until k).map { ci =>
          byC.get(ci) match {
            case Some(r) =>
              val n = r.getLong(dim + 1)
              (0 until dim).map(i => Math.floorDiv(r.getLong(i + 1), n)).toArray
            case None => cents(ci)
          }
        }.toArray
      }
    }
    (assignTo(q, cents), cents)
  }

  /** Simplified silhouette over the [[lloydExact]] assignment — the
    * cluster-quality scorecard read before trusting k or shipping the
    * cells to IVF/SemDeDup: per vector, a = distance to its OWN final
    * centroid and b = distance to the nearest OTHER centroid, so
    * s = (b − a)/b ∈ [0, 1) (a is the argmin by construction, so
    * max(a,b) = b and the classic formula collapses; b = 0 → s = 0).
    * A cluster whose mean s hugs 0 is bisected by a competing
    * centroid; near 1 it is isolated. The simplified (centroid-based)
    * variant replaces the O(n²) pairwise silhouette — at 100 TB the
    * full variant is the one quadratic nobody ships, and the
    * centroid form needs only the k distances the assignment already
    * computes.
    *
    * Determinism: a and b are EXACT integer squared distances (the
    * Lloyd invariant); b is the second order statistic of the
    * distance array (own distance IS the min). The per-vector score
    * takes two IEEE sqrts and one divide, is ×1e4-quantized, and the
    * per-cluster mean is an exact integer sum with one edge division.
    */
  def silhouette(embs: DataFrame, k: Int = 8, iters: Int = 5): DataFrame = {
    val (assigned, cents) = lloydExact(embs, k, iters)
    val withB = if (cents.length <= LiteralKMax) {
      val dcols = cents.map { cv =>
        val c = array(cv.map(v => lit(v.toDouble)).toSeq: _*)
        col("selfq") - lit(2.0) * vecDot(col("qd"), c) +
          lit(cv.map(v => v.toDouble * v.toDouble).sum)
      }
      assigned
        .withColumn("sorted", array_sort(array(dcols.toSeq: _*)))
        .withColumn("b", element_at(col("sorted"), 2))
        .drop("sorted")
    } else {
      // the assignTo kernel's sibling: track the two smallest
      // distances in one broadcast-centroid pass; the second order
      // statistic (duplicates counted) is exactly what
      // element_at(array_sort(darr), 2) yields in the literal plan
      val cd = cents.map(_.map(_.toDouble))
      val c2 = cents.map(_.map(v => v.toDouble * v.toDouble).sum)
      val bCd = assigned.sparkSession.sparkContext.broadcast(cd)
      val bC2 = assigned.sparkSession.sparkContext.broadcast(c2)
      val outSchema = org.apache.spark.sql.types.StructType(
        assigned.schema.fields :+ org.apache.spark.sql.types.StructField(
          "b", org.apache.spark.sql.types.DoubleType, nullable = false))
      val qdIdx = assigned.schema.fieldIndex("qd")
      val sqIdx = assigned.schema.fieldIndex("selfq")
      assigned.mapPartitions { rows =>
        val cdv = bCd.value
        val c2v = bC2.value
        rows.map { r =>
          val qd = r.getSeq[Double](qdIdx)
          val x = new Array[Double](qd.length)
          var j = 0
          while (j < x.length) { x(j) = qd(j); j += 1 }
          val selfq = r.getDouble(sqIdx)
          var m1 = Double.PositiveInfinity
          var m2 = Double.PositiveInfinity
          var ci = 0
          while (ci < cdv.length) {
            val cv = cdv(ci)
            var acc = 0.0
            var i = 0
            while (i < x.length) { acc += x(i) * cv(i); i += 1 }
            val dist = selfq - 2.0 * acc + c2v(ci)
            if (dist < m1) { m2 = m1; m1 = dist }
            else if (dist < m2) { m2 = dist }
            ci += 1
          }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ m2)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }
    withB
      .withColumn("sil", when(col("b") > 0,
        (sqrt(col("b")) - sqrt(col("dist2q"))) / sqrt(col("b")))
        .otherwise(lit(0.0)))
      .withColumn("sq",
        floor((col("sil") + lit(1e-9)) * lit(1e4) + lit(0.5)).cast("long"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("sq").as("ssq"), min("sq").as("mnq"))
      .select(col("cluster"), col("n"),
        graft.Num.r4(col("ssq").cast("double") / col("n") / lit(1e4))
          .as("mean_sil"),
        (col("mnq").cast("double") / lit(1e4)).as("min_sil"))
      .orderBy("cluster")
  }

  /** Per-cluster stats: size and label purity (majority label share). */
  def clusterStats(embs: DataFrame, k: Int = 8, iters: Int = 5): DataFrame = {
    val assigned = lloydExact(embs, k, iters)._1
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
    val majority = assigned.groupBy("cluster", "label")
      .agg(count(lit(1)).as("nl"))
      .groupBy("cluster").agg(max("nl").as("max_label_n"))
    sizes.join(majority, "cluster")
      .select(col("cluster"), col("n"),
        graft.Num.r4(col("max_label_n") / col("n")).as("purity"))
      .orderBy("cluster")
  }

  /** PCA diagnostics over the embedding column: per-component explained
    * variance ratio plus the projection variance — the dimensionality
    * audit run before quantizing or truncating vectors.
    *
    * ENGINE-EXACT, replacing the MLlib Gramian+SVD (whose kmeans‖-free
    * determinism still rests on float summation order and LAPACK):
    *
    *  1. ONE distributed pass builds the exact integer second moments
    *     of the ×1e6-quantized coordinates — m_i = Σ qx_i and
    *     S_ij = Σ qx_i·qx_j — so the scaled covariance Gram
    *     G = n·S − m·mᵀ is an exact BigInt matrix (the standard
    *     n·(n−1)-scaled moment identity; no centering pass, no float
    *     cancellation).
    *  2. Top-k eigenpairs by QUANTIZED POWER ITERATION with deflation,
    *     driver-side over the d×d Gram: every matvec is exact integer
    *     arithmetic (G · qv); each round rescales by the exact max
    *     component (nonneg-mod floor-div), takes the norm of the ≤1e6
    *     integer vector (Σw² < 2⁵³ — exact in double, order-free), and
    *     re-quantizes with the repo's IEEE floor sequence. Fixed 12
    *     rounds; λ = ⌊qvᵀGqv / qvᵀqv⌋; deflation G ← G − ⌊λ·qv qvᵀ/1e12⌋
    *     stays integer. Every step is replayed verbatim by the DuckDB
    *     oracle (unrolled CTEs, like the Lloyd oracle).
    *
    * explained_var_ratio = λ_c / trace(G) (trace = Σ all eigenvalues,
    * exact); proj_var = λ_c / (n(n−1)) / 1e12 (de-quantized sample
    * variance of the projection). Output is engine-deterministic and
    * partition-invariant by construction.
    *
    * λ is the Rayleigh quotient of the FIXED-ITERATION iterate, not an
    * exact eigenvalue: on a well-separated spectrum (the case the
    * audit exists for — "is there a dominant axis worth truncating
    * to?") 12 rounds converge to 4 dp; on a near-isotropic spectrum
    * the components are interchangeable and the reported λs answer
    * the audit question ("no dominant axis") without ordering
    * guarantees.
    */
  /** Exact-integer Gram pipeline shared by [[pcaStats]] and
    * [[pcaWhiten]]: quantized cells → (n, dim, column sums m,
    * G = n·S − m·mᵀ as BigInt). None when n < 2 (no sample variance).
    */
  private def gramExact(embs: DataFrame)
      : Option[(Long, Int, Array[Long], Array[Array[BigInt]])] = {
    val cells = embs.select(col("vec_id"),
        posexplode(transform(col("embedding"), x =>
          floor((x.cast("double") + lit(1e-9)) * lit(1e6) + lit(0.5))
            .cast("long"))).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"), col("x"))
      .persist().tracked // feeds m, S, and n
    val n = cells.select(countDistinct(col("vec_id"))).head().getLong(0)
    if (n < 2) { cells.unpersist(); return None }
    val dim = cells.select(max("j")).head().getInt(0)
    val m = new Array[Long](dim)
    cells.groupBy("j").agg(sum("x").as("m")).collect()
      .foreach(r => m(r.getInt(0) - 1) = r.getLong(1))
    val S = Array.ofDim[Long](dim, dim)
    cells.as("a").join(cells.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.j").as("i"), col("b.j").as("jj"))
      .agg(sum(col("a.x") * col("b.x")).as("s"))
      .collect()
      .foreach(r => S(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getLong(2))
    cells.unpersist()
    val g = Array.tabulate(dim, dim)((i, j) =>
      BigInt(n) * S(i)(j) - BigInt(m(i)) * m(j))
    Some((n, dim, m, g))
  }

  private def fd(a: BigInt, b: BigInt): BigInt = (a - ((a % b + b) % b)) / b

  /** Quantized power iteration with deflation (MUTATES g): the engine-
    * exact component extraction both PCA queries share. Returns the
    * final ×1e6 eigenvector and Rayleigh eigenvalue per component.
    */
  private def powerComponents(g: Array[Array[BigInt]], dim: Int, k: Int,
                              iters: Int): Seq[(Array[Long], BigInt)] = {
    val initQ = math.floor((1.0 / math.sqrt(dim.toDouble) + 1e-9) * 1e6 + 0.5).toLong
    (0 until k).map { _ =>
      var qv = Array.fill(dim)(initQ)
      for (_ <- 0 until iters) {
        val y = Array.tabulate(dim)(i =>
          (0 until dim).map(j => g(i)(j) * qv(j)).sum)
        val mm = y.map(_.abs).max
        val w = if (mm == 0) qv.map(BigInt(_))
                else y.map(v => fd(v * 1000000, mm))
        val n2 = w.map(x => x * x).sum
        val norm = math.sqrt(n2.toDouble)
        if (norm > 0)
          qv = w.map(x =>
            math.floor((x.toDouble / norm + 1e-9) * 1e6 + 0.5).toLong)
      }
      val num = (0 until dim).map(i =>
        BigInt(qv(i)) * (0 until dim).map(j => g(i)(j) * qv(j)).sum).sum
      val den = qv.map(x => BigInt(x) * x).sum
      val lam = if (den == 0) BigInt(0) else fd(num, den)
      for (i <- 0 until dim; j <- 0 until dim)
        g(i)(j) = g(i)(j) - fd(lam * qv(i) * qv(j), BigInt(1000000000000L))
      (qv, lam)
    }
  }

  def pcaStats(embs: DataFrame, k: Int = 4, iters: Int = 12): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    gramExact(embs) match {
      case None =>
        // no sample variance to audit — empty result, never a division
        // by zero or a null dim probe
        Seq.empty[(Int, Long, Double, Double)]
          .toDF("component", "n", "proj_var", "explained_var_ratio")
      case Some((n, dim, _, g)) =>
        val trace = (0 until dim).map(i => g(i)(i)).sum
        val lambdas = powerComponents(g, dim, k, iters).map(_._2)
        val r4d = (v: Double) => math.floor((v + 1e-9) * 1e4 + 0.5) / 1e4
        lambdas.zipWithIndex.map { case (lam, c) =>
          (c, n,
            r4d(lam.toDouble / (n.toDouble * (n - 1)) / 1e12),
            if (trace > 0) r4d(lam.toDouble / trace.toDouble) else 0.0)
        }.toDF("component", "n", "proj_var", "explained_var_ratio")
          .orderBy("component")
    }
  }

  /** PCA whitening: each embedding projected on the power-iteration
    * components and scaled to unit variance — the decorrelated
    * features product quantizers and OOD scorers want. The centered
    * projection Σⱼ(n·qxⱼ − mⱼ)·qvⱼ is EXACT integer arithmetic (the
    * per-term dot stays under 2⁵³ so the codegen'd double vecDot is
    * exact; the n-scaling and centering happen in Long); one fixed
    * IEEE division chain de-scales at the edge. Component vectors and
    * eigenvalues are bounded driver state (dim·k), broadcast as
    * literals into a single projection scan.
    */
  def pcaWhiten(embs: DataFrame, k: Int = 4, iters: Int = 12): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.vecDot
    gramExact(embs) match {
      case None =>
        embs.select(col("vec_id") +:
          (0 until k).map(c => lit(0.0).as(s"w$c")): _*).limit(0)
      case Some((n, dim, m, g)) =>
        val comps = powerComponents(g, dim, k, iters)
        val qd = transform(col("embedding"), x =>
          floor((x.cast("double") + lit(1e-9)) * lit(1e6) + lit(0.5))
            .cast("double"))
        val cols = comps.zipWithIndex.map { case ((qv, lam), c) =>
          val mqv = (0 until dim).map(j => BigInt(m(j)) * qv(j)).sum
          require(mqv.isValidLong, "centering term exceeds Long")
          val qvLit = array(qv.map(v => lit(v.toDouble)).toSeq: _*)
          val cy = (lit(n) * vecDot(qd, qvLit).cast("long") -
            lit(mqv.toLong)).cast("double")
          val sigma = math.sqrt(
            lam.toDouble / (n.toDouble * (n.toDouble - 1.0)) / 1e12)
          graft.Num.r4(cy / lit(n.toDouble) / lit(1e12) / lit(sigma))
            .as(s"w$c")
        }
        embs.select(col("vec_id") +: cols: _*)
    }
  }

  /** Distance-to-nearest-centroid anomaly score (the clustering
    * analogue of k-sigma): the topN vectors farthest from their own
    * (= nearest) centroid. Ranking is on the EXACT integer distance
    * with a vec_id tiebreak, so the top-N set is engine-deterministic;
    * the reported score is the distance de-quantized back to input
    * units (÷1e12, the square of the ×1e6 coordinate scale).
    */
  def distanceOutliers(embs: DataFrame, k: Int = 8, topN: Int = 20,
                       iters: Int = 5): DataFrame = {
    val (assigned, _) = lloydExact(embs, k, iters)
    assigned
      .orderBy(col("dist2q").desc, col("vec_id").asc)
      .limit(topN)
      .select(col("vec_id"), col("cluster"),
        graft.Num.r4(col("dist2q") / lit(1e12)).as("min_dist2"))
  }

  /** The salted layout both in-cell kernels walk: the typed cell rows,
    * each cell's salt count ([[Tiles.salts]] over one cell-size collect
    * — bounded driver state, one count per cell, k = O(√n) cells),
    * broadcast, and the kernel width. A hot corpus (any cell over
    * saltCap) takes the session width — the tiles exist to spread it —
    * while a cold one is sized by its exact pair count
    * (`Widths.forPairs`), so a toy input stops fanning 32 near-empty
    * tasks and a 100 TB one saturates to the same plan.
    */
  private def saltedCells(av: DataFrame, saltCap: Int)
      : (Dataset[(Int, Long, Seq[Double], Double)], Broadcast[Map[Int, Int]], Int) = {
    val spark = av.sparkSession
    import spark.implicits._
    val cellsDf = av.select(col("cell").cast("int").as("cell"),
      col("vec_id").cast("long").as("vec_id"), col("v"), col("nrm"))
    val sizes = cellsDf.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val salts = Tiles.salts(spark, sizes, saltCap)
    val width =
      if (salts.values.exists(_ > 1)) graft.Widths.session(spark)
      else graft.Widths.forPairs(spark, sizes.iterator.map { case (_, n) => n * (n - 1) / 2 }.sum)
    (cellsDf.as[(Int, Long, Seq[Double], Double)], spark.sparkContext.broadcast(salts), width)
  }

  /** In-cell cosine pairs ≥ `threshold` via SALTED per-cell kernels —
    * the shared scale path for [[semDedup]] and the IVF near-dup
    * family. Cells at or under `saltCap` run as one task (the r6
    * streamed kernel, O(|cell|·d) memory). A MEGA-CELL — real 100 TB
    * corpora have boilerplate-dense cells holding a double-digit share
    * of the corpus — is salted by vec_id mod s and its pair triangle
    * is tiled into independent tasks ([[Tiles]]: the salt rule, the
    * triangle fan-out and the explicit-width run walk; diagonal tiles
    * pair within one salt, cross tiles across two), so the hot cell's
    * |cell|²/2 dot products parallelize across the cluster and
    * per-task state stays ≤ 2·saltCap·(d+2) doubles. The PAIR SET is
    * identical to the unsalted kernel — every i<j pair is computed
    * exactly once with the identical IEEE sequence (dot products are
    * term-commutative exactly) — so oracles and downstream components
    * are unchanged (SaltedPairsSpec pins salted ≡ unsalted on a
    * manufactured hot cell). Replication cost: a row in an s-salted cell is shipped s
    * times — the price of fanning the triangle out.
    *
    * `av` columns: cell (int), vec_id (long), v (array<double>),
    * nrm (double). Emits (id1 < id2, cos_sim) for survivors; cos_sim
    * is already 4-dp floored.
    */
  private[graft] def inCellPairs(av: DataFrame, threshold: Double,
                                 saltCap: Int = 4096): DataFrame = {
    val spark = av.sparkSession
    import spark.implicits._
    val (cells, bc, width) = saltedCells(av, saltCap)
    val thr = threshold
    // threshold ≤ −1 means "keep every pair": a rounded cosine is
    // ≥ −1, but a zero-norm vector's cosine is NaN (or ±Inf), and
    // `NaN >= thr` is false — silently dropping exactly the degenerate
    // pairs a keep-all caller (bitSketchCalibration's unconditional
    // oracle enumeration) needs to see. Bypass the test instead of
    // relying on the comparison (r10 ADVICE).
    val keepAll = threshold <= -1.0
    // one tile's surviving pairs, lazily (see the iterator note below)
    def tilePairs(diagonal: Boolean,
                  rows: Array[(Long, Seq[Double], Double, Int)])
        : Iterator[(Long, Long, Double)] = {
        val (as, bs) =
          if (diagonal) (rows.sortBy(_._1), Array.empty[(Long, Seq[Double], Double, Int)])
          else (rows.filter(_._4 == 0).sortBy(_._1), rows.filter(_._4 == 1).sortBy(_._1))
        val aIds = as.map(_._1); val aVs = as.map(_._2.toArray); val aNs = as.map(_._3)
        val bIds = bs.map(_._1); val bVs = bs.map(_._2.toArray); val bNs = bs.map(_._3)
        // LAZY pair iterator (the r6 semdedup contract): survivors
        // stream straight into the shuffle writer; candidates never
        // exist as rows and task memory is O(rows·d)
        new scala.collection.AbstractIterator[(Long, Long, Double)] {
          private var i = 0
          private var j = if (diagonal) 1 else 0
          private val jn = if (diagonal) aIds.length else bIds.length
          private val in =
            if (jn == 0) 0 else if (diagonal) aIds.length - 1 else aIds.length
          private var pending: (Long, Long, Double) = _
          private def advance(): Unit = {
            pending = null
            while (pending == null && i < in) {
              val a = aVs(i)
              val (b, bn, bid) =
                if (diagonal) (aVs(j), aNs(j), aIds(j)) else (bVs(j), bNs(j), bIds(j))
              var acc = 0.0
              var d = 0
              while (d < a.length) { acc += a(d) * b(d); d += 1 }
              val raw = acc / (aNs(i) * bn)
              val cs =
                if (java.lang.Double.isNaN(raw) || java.lang.Double.isInfinite(raw)) raw
                else math.floor((raw + 1e-9) * 1e4 + 0.5) / 1e4
              if (keepAll || cs >= thr) {
                val lo = math.min(aIds(i), bid); val hi = math.max(aIds(i), bid)
                pending = (lo, hi, cs)
              }
              j += 1
              if (j >= jn) { i += 1; j = if (diagonal) i + 1 else 0 }
            }
          }
          advance()
          override def hasNext: Boolean = pending != null
          override def next(): (Long, Long, Double) = {
            val p = pending; advance(); p
          }
        }
    }
    val fanned = cells.flatMap { case (c, id, v, nrm) =>
      Tiles.triangle(c, id, bc.value.getOrElse(c, 1))(side => (id, v, nrm, side))
    }
    Tiles.walk(fanned, width, Seq(col("_1")))(_._1, _._2) {
        (k, rows) => tilePairs(k._2 == k._3, rows)
      }
      .toDF("id1", "id2", "cos_sim")
  }

  /** Salted in-cell exact top-k neighbors — the kNN sibling of
    * [[inCellPairs]], and the fix for the r10 embskew audit's one real
    * finding: the kNN consumers (labelKnnAccuracy, oodKnnDist) built
    * their in-cell candidates with a plain self-equijoin on `cell`,
    * and a mega-cell is ONE join key — the measured result at the ×20
    * hot-cell corpus was a single task external-sorting ~10⁹ candidate
    * rows for 50+ minutes while 31 cores idled (the exact failure a
    * boilerplate-dense cell produces at 100 TB; the dedup family never
    * had it because inCellPairs tiles). Here every (query-salt,
    * neighbor-salt) tile is an independent task (the salt rule and the
    * run walk are [[Tiles]]'s; the fan-out is a square, not the
    * triangle): a row ships 2s−1 times (once per tile it participates
    * in), each task streams its ≤saltCap×saltCap sims keeping a k-slot
    * selection per query, and
    * only s·k candidate rows per vector reach the final global top-k
    * window — so the mega-cell's |cell|² dot products parallelize and
    * NOTHING quadratic is ever materialized, shuffled or sorted.
    *
    * Exactness: each neighbor belongs to exactly one salt, so the
    * global top-k over the per-salt top-k lists is the true top-k;
    * sims use the IDENTICAL IEEE sequence as inCellPairs (sequential
    * dot, raw divide, NaN/Inf passthrough, shared r4 floor) and the
    * comparator is Double.compare descending with nid-ascending ties —
    * bit-for-bit the `row_number OVER (ORDER BY sim DESC, nid)` result
    * on both engines (NaN greatest, the Spark/DuckDB convention).
    *
    * `av` columns: cell (int), vec_id (long), v (array<double>),
    * nrm (double). Emits (cell, vec_id, nid, sim, rn) with rn = 1..k
    * (fewer when the cell has under k+1 members; singleton-cell rows
    * emit nothing).
    */
  private[graft] def inCellTopK(av: DataFrame, k: Int,
                                saltCap: Int = 4096): DataFrame = {
    val spark = av.sparkSession
    import spark.implicits._
    val (cells, bc, width) = saltedCells(av, saltCap)
    val kk = k
    // per-tile k-slot selection, shared by every tile walk below
    def tileTopK(cell: Int, diagonal: Boolean,
                 rows: Array[(Long, Seq[Double], Double, Int)])
        : Iterator[(Int, Long, Long, Double)] = {
        val qs = if (diagonal) rows else rows.filter(_._4 == 0)
        val ns = if (diagonal) rows else rows.filter(_._4 == 1)
        val nIds = ns.map(_._1); val nVs = ns.map(_._2.toArray)
        val nNs = ns.map(_._3)
        qs.iterator.flatMap { case (qid, qv, qn, _) =>
          val a = qv.toArray
          // k-slot selection ordered (sim desc via Double.compare —
          // NaN greatest, the engine convention — then nid asc)
          val selSim = new Array[Double](kk)
          val selNid = new Array[Long](kk)
          var used = 0
          var j = 0
          while (j < nIds.length) {
            if (nIds(j) != qid) {
              var acc = 0.0
              var d = 0
              val b = nVs(j)
              while (d < a.length) { acc += a(d) * b(d); d += 1 }
              val raw = acc / (qn * nNs(j))
              val cs =
                if (java.lang.Double.isNaN(raw) || java.lang.Double.isInfinite(raw)) raw
                else math.floor((raw + 1e-9) * 1e4 + 0.5) / 1e4
              // insertion position among the current slots
              var p = used
              while (p > 0 && {
                val cmp = java.lang.Double.compare(cs, selSim(p - 1))
                cmp > 0 || (cmp == 0 && nIds(j) < selNid(p - 1))
              }) p -= 1
              if (p < kk) {
                val last = math.min(used, kk - 1)
                var q = last
                while (q > p) {
                  selSim(q) = selSim(q - 1); selNid(q) = selNid(q - 1)
                  q -= 1
                }
                selSim(p) = cs; selNid(p) = nIds(j)
                if (used < kk) used += 1
              }
            }
            j += 1
          }
          (0 until used).iterator.map(i => (cell, qid, selNid(i), selSim(i)))
        }
    }
    // a SQUARE fan-out, not the triangle: a row is a query in every
    // tile of its salt's row and a neighbor in every tile of its column
    val fanned = cells.flatMap { case (c, id, v, nrm) =>
      val s = bc.value.getOrElse(c, 1)
      if (s <= 1) Iterator.single(((c, 0, 0), (id, v, nrm, 0)))
      else {
        val my = java.lang.Math.floorMod(id, s.toLong).toInt
        // the diagonal copy serves both roles; elsewhere side 0 =
        // query member of tile (c, my, ns), side 1 = neighbor member
        // of tile (c, qs, my)
        Iterator.single(((c, my, my), (id, v, nrm, 0))) ++
          (0 until s).iterator.filter(_ != my)
            .map(ns => ((c, my, ns), (id, v, nrm, 0))) ++
          (0 until s).iterator.filter(_ != my)
            .map(qs => ((c, qs, my), (id, v, nrm, 1)))
      }
    }
    Tiles.walk(fanned, width, Seq(col("_1")))(_._1, _._2) {
        (k, rows) => tileTopK(k._1, k._2 == k._3, rows)
      }
      .toDF("cell", "vec_id", "nid", "sim")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("nid").asc)).cast("long"))
      .filter(col("rn") <= kk)
  }

  /** SemDeDup (Abbas et al. 2023, public): semantic deduplication by
    * k-means partitioning — cluster the embeddings, find cosine-similar
    * pairs WITHIN each cluster, connect them into duplicate groups, and
    * keep exactly one representative per group: the member FARTHEST
    * from its centroid (the paper's keep-policy — the boundary example
    * preserves more diversity than the mode). Differs from the IVF
    * near-dup path ([[Dedup.embedCosinePairsIvf]]) in both the
    * partitioner (converged k-means cells, not first-k seed cells) and
    * in producing a keep/drop verdict rather than an edge list.
    *
    * Scale: candidate pairs are Σ|cluster|² — k is the knob and must
    * grow ∝ corpus size to hold the mean cell at a constant (the IVF
    * argument); the keep decision is one window over the duplicate
    * sliver. Ranking uses the EXACT integer centroid distance (the
    * quantized Lloyd's dist2q) with a vec_id tiebreak, so the survivor
    * set is engine-deterministic and the whole composition — Lloyd,
    * pairs, components, keep — replays in the oracle.
    */
  def semDedup(embs: DataFrame, k: Int = 8, iters: Int = 5,
               threshold: Double = 0.3, trainCap: Int = -1,
               saltCap: Int = 4096): DataFrame = {
    import graft.Num.r4
    import org.apache.spark.sql.graft.VectorExpressions.vecNorm
    // k <= 0 → self-scaling cell count (Similarity.autoCells): the
    // balanced k = ceil(√n) holds BOTH cost terms — assignment n·k
    // and in-cell pairs Σ|cluster|² ≈ n²/k — on one n^1.5 law
    // (pinned k is n²/k on pairs; k ∝ n is n²/c on assignment) —
    // AND Lloyd trains on an 8k-vector md5-ranked sample with ONE
    // full assignment pass (training drops to O(8k²·d) = O(8n·d),
    // linear; the r6 sfx10 audit measured the 6 full-corpus passes
    // at 188 s with the kernel already at scalar-FMA peak — the
    // remaining 5 passes were the algorithm's cost, not the plan's).
    // Lloyd's assignment carries centroid literals only to
    // k = LiteralKMax; past that it switches to the
    // broadcast-centroid kernel, so the derived k can grow with the
    // corpus without plan blowup. Explicit k > 0 keeps exact
    // full-corpus training unless trainCap is passed explicitly.
    val kEff = if (k > 0) k else graft.operators.Similarity.autoCells(embs)
    val capEff =
      if (trainCap >= 0) trainCap else if (k > 0) 0 else 8 * kEff
    val (asgRaw, _) = lloydExact(embs, kEff, iters, capEff)
    val base = embs.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    // ONE cache: av is a superset of the assignment columns, so the
    // final keep-ranking joins av's slim projection instead of a
    // separately-persisted asg (r12: one fewer cache materialization
    // and half the cached bytes for identical results)
    val av = asgRaw.select(col("vec_id"), col("cluster"), col("dist2q"))
      .join(base, "vec_id").persist().tracked
    val asg = av.select(col("vec_id"), col("cluster"), col("dist2q"))
    // in-cell pairs via the SALTED per-cell kernel ([[inCellPairs]]),
    // not a self-join: the join form materializes Σ|cell|² candidate
    // ROWS each carrying two full vectors (~1 KB) BEFORE the threshold
    // filter — at the r6 sfx10 audit that was ~350 GB through the
    // join, a measured multi-hour stall. The kernel streams survivors
    // lazily with bounded task memory, and cells past saltCap tile
    // their pair triangle across salts (the r6 verdict's "documented
    // salting moment", now implemented).
    val pairs = inCellPairs(
        av.select(col("cluster").as("cell"), col("vec_id"), col("v"), col("nrm")),
        threshold, saltCap)
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
    val comp = Dedup.clusters(embs.select(col("vec_id").as("doc_id")),
      precomputedPairs = Some(pairs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("dist2q").desc, col("vec_id").asc)
    comp.select(col("doc_id").as("vec_id"), col("canonical_id").as("group_id"))
      .join(asg, "vec_id")
      .withColumn("n_group", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("group_id")))
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .select(col("vec_id"), col("cluster"), col("group_id"),
        col("n_group"), col("keep"))
  }
}
