package graft

import graft.operators.Clustering
import graft.sources.MetricsTar
import java.nio.file.{Files, Paths}

class ClusteringSpec extends SparkTestBase {
  import spark.implicits._

  private def twoBlobs = {
    (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0.0f, 0.0f) else Array(0.0f, 10.0f, 0.0f)
      (i.toLong, base.map(_ + (i % 5) * 0.1f), i % 2)
    }.toDF("vec_id", "embedding", "label")
  }

  test("kmeans separates two obvious blobs with pure clusters") {
    val stats = Clustering.clusterStats(twoBlobs, 2).collect()
    assert(stats.length == 2)
    assert(stats.forall(_.getDouble(2) == 1.0), "clusters should be label-pure")
    assert(stats.map(_.getLong(1)).sum == 20)
  }

  /** Naive in-memory replay of the engine-exact Lloyd contract:
    * ×1e6 quantization, first-k init, integer argmin (ties → lowest
    * cluster), floorDiv centroid update, empty-cluster carry-forward.
    */
  private def naiveLloyd(vecs: Seq[(Long, Array[Float])], k: Int,
                         iters: Int): Map[Long, Int] = {
    def quant(x: Float): Long =
      math.floor((x.toDouble + 1e-9) * 1e6 + 0.5).toLong
    val q = vecs.sortBy(_._1).map { case (id, v) => (id, v.map(quant)) }
    var cents = q.take(k).map(_._2.clone()).toArray
    def assign() = q.map { case (id, v) =>
      val dists = cents.map(c => c.indices.map { d =>
        val diff = (v(d) - c(d)).toDouble; diff * diff }.sum)
      var bi = 0
      for (i <- 1 until k) if (dists(i) < dists(bi)) bi = i
      (id, bi)
    }
    for (_ <- 1 to iters) {
      val byCluster = assign().groupBy(_._2)
      val qById = q.toMap
      cents = Array.tabulate(k) { c =>
        byCluster.get(c) match {
          case Some(members) =>
            val vs = members.map(m => qById(m._1))
            Array.tabulate(vs.head.length)(d =>
              Math.floorDiv(vs.map(_(d)).sum, vs.length.toLong))
          case None => cents(c)
        }
      }
    }
    assign().toMap
  }

  test("lloydExact matches the naive reference on random corpora") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 13
      val data = (0 until n).map { i =>
        (i.toLong, Array.fill(4)((rnd.nextFloat() - 0.5f) * 4f), i % 3)
      }
      val df = data.toDF("vec_id", "embedding", "label")
      val (assigned, _) = Clustering.lloydExact(df, k = 3, iters = 4)
      val got = assigned.select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = naiveLloyd(data.map(d => (d._1, d._2)), 3, 4)
      assert(got == want, s"trial $trial")
    }
  }

  test("sampled local Lloyd (cap >= n) equals the distributed full-corpus loop") {
    // trainCap > 0 runs the iteration LOCALLY on the collected sample
    // (r12); with cap >= n the sample IS the corpus, so centroids and
    // assignments must be bit-identical to the distributed trainCap=0
    // path — the strongest public-API pin of the local loop's
    // arithmetic (dot order, argmin tiebreak, floorDiv update,
    // empty-cluster carry)
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 2) {
      val n = 37 + trial * 18
      val data = (0 until n).map { i =>
        (i.toLong, Array.fill(5)((rnd.nextFloat() - 0.5f) * 6f), i % 2)
      }
      val df = data.toDF("vec_id", "embedding", "label")
      val (aDist, cDist) = Clustering.lloydExact(df, k = 4, iters = 5, trainCap = 0)
      val (aLoc, cLoc) = Clustering.lloydExact(df, k = 4, iters = 5, trainCap = 10000)
      assert(cLoc.map(_.toSeq).toSeq == cDist.map(_.toSeq).toSeq, s"trial $trial centroids")
      val gd = aDist.select("vec_id", "cluster", "dist2q").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      val gl = aLoc.select("vec_id", "cluster", "dist2q").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      assert(gl == gd, s"trial $trial assignments")
    }
  }

  test("lloydExact carries an emptied cluster's centroid forward") {
    // duplicated init points: both copies tie at distance 0 and the
    // tiebreak sends both to the lower cluster id, so cluster 1 is
    // empty from round 1 and must keep its (duplicate) centroid
    val data = Seq(
      (0L, Array(0.0f, 0.0f), 0), (1L, Array(0.0f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f), 1), (3L, Array(0.9f, 0.9f), 1))
    val df = data.toDF("vec_id", "embedding", "label")
    val (assigned, cents) = Clustering.lloydExact(df, k = 3, iters = 3)
    val got = assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 0, 2L -> 2, 3L -> 2), s"got $got")
    assert(cents(1).toSeq == Seq(0L, 0L), "empty cluster keeps its centroid")
    assert(got == naiveLloyd(data.map(d => (d._1, d._2)), 3, 3))
  }

  test("large-k kernel assignment matches the naive reference (k > LiteralKMax)") {
    // k = 140 crosses the literal-plan ceiling (32), so assignment
    // runs through the broadcast-centroid mapPartitions kernel; the
    // naive replay must agree exactly (all distances are exact
    // integers < 2^53, so FP summation order cannot split the paths)
    val rnd = new scala.util.Random(11)
    val data = (0 until 200).map { i =>
      (i.toLong, Array.fill(4)((rnd.nextFloat() - 0.5f) * 4f), i % 3)
    }
    val df = data.toDF("vec_id", "embedding", "label")
    val (assigned, _) = Clustering.lloydExact(df, k = 140, iters = 2)
    val got = assigned.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = naiveLloyd(data.map(d => (d._1, d._2)), 140, 2)
    assert(got == want)
  }

  test("silhouette kernel path (k > LiteralKMax) matches a naive replay") {
    val rnd = new scala.util.Random(13)
    val data = (0 until 200).map { i =>
      (i.toLong, Array.fill(4)((rnd.nextFloat() - 0.5f) * 4f), i % 3)
    }
    val df = data.toDF("vec_id", "embedding", "label")
    val got = Clustering.silhouette(df, k = 140, iters = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val (assigned, cents) = Clustering.lloydExact(df, k = 140, iters = 2)
    val rows = assigned.select("vec_id", "cluster", "dist2q", "q").collect()
    val perVec = rows.map { r =>
      val q = r.getSeq[Long](3).toArray
      val dists = cents.map { c =>
        q.indices.map { d =>
          val diff = (q(d) - c(d)).toDouble; diff * diff
        }.sum
      }.sorted
      val a = r.getDouble(2)
      val b = dists(1)
      assert(dists(0) == a, "own-centroid distance must be the argmin")
      val sil =
        if (b > 0) (math.sqrt(b) - math.sqrt(a)) / math.sqrt(b) else 0.0
      (r.getInt(1), math.floor((sil + 1e-9) * 1e4 + 0.5).toLong)
    }
    val byCluster = perVec.groupBy(_._1)
    got.foreach { case (cluster, n, meanSil, minSil) =>
      val sqs = byCluster(cluster).map(_._2)
      assert(n == sqs.length, s"cluster $cluster size")
      val em = math.floor(
        (sqs.sum.toDouble / n / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4
      assert(meanSil == em, s"cluster $cluster mean_sil")
      assert(minSil == sqs.min.toDouble / 1e4, s"cluster $cluster min_sil")
    }
  }

  test("distance outliers returns a ranked top-N deterministically") {
    val out1 = Clustering.distanceOutliers(twoBlobs, 2, 5).collect()
    val out2 = Clustering.distanceOutliers(twoBlobs, 2, 5).collect()
    assert(out1.length == 5)
    val dists = out1.map(_.getDouble(2)).toSeq
    assert(dists == dists.sorted.reverse, "must be ranked farthest-first")
    assert(out1.toSeq == out2.toSeq, "must be deterministic")
  }

  test("pq ann retrieves same-blob neighbors and is layout-invariant") {
    import graft.operators.Similarity
    // two tight 64-dim blobs; ids interleave so codebook seeds (first
    // 16 ids) and queries (first 4) cover both blobs
    val d = (0 until 40).map { i =>
      val base = Array.tabulate(64)(j =>
        if (i % 2 == 0) (if (j < 32) 10.0f else 0.0f)
        else (if (j < 32) 0.0f else 10.0f))
      (i.toLong, base.map(_ + (i % 7) * 0.05f), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.pqAnn(d, m = 4, kCent = 16, nQueries = 4, k = 5)
    val rows = out.select("qid", "rank", "nid").as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    // every retrieved neighbor shares the query's blob parity
    assert(rows.forall { case (q, _, n) => q % 2 == n % 2 },
      s"cross-blob neighbor: ${rows.filterNot { case (q, _, n) => q % 2 == n % 2 }.toSeq}")
    val out4 = Similarity.pqAnn(d.repartition(8), m = 4, kCent = 16,
      nQueries = 4, k = 5).select("qid", "rank", "nid")
      .as[(Long, Int, Long)].collect()
    assert(out4.sorted.toSeq == rows.sorted.toSeq)
  }

  test("pca finds the dominant axis of an elongated blob") {
    // points spread along x (variance ~dozens), tiny y jitter, zero z:
    // the first component must carry nearly all the variance
    val d = (0 until 30).map { i =>
      (i.toLong, Array(i.toFloat, (i % 3) * 0.01f, 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Clustering.pcaStats(d, 2).collect()
    assert(out.length == 2)
    val ratios = out.map(_.getAs[Double]("explained_var_ratio"))
    assert(ratios(0) > 0.99 && ratios(0) >= ratios(1))
    val v = out.map(_.getAs[Double]("proj_var"))
    assert(v(0) > 70.0 && v(1) < 0.1)
    // explained ratios from MLlib and projection variances must agree
    assert(math.abs(v(0) / v.sum - ratios(0)) < 0.01)
  }

  test("tar bundle extraction reads reference-format bundles") {
    // build a tiny tar.gz in reference layout: w/reshape/m:by_node.csv
    val tmp = Files.createTempDirectory("tartest")
    val csv = "timestamp,n1,n2\n" +
      (0 until 25).map(i => s"${100 + i * 15},$i,${i * 2}").mkString("\n")
    val bytes = csv.getBytes("UTF-8")
    val tarPath = tmp.resolve("bundle.tar.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(tarPath))
    def writeEntry(name: String, data: Array[Byte]): Unit = {
      val header = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, header, 0, nb.length)
      val sizeOct = ("%011o" format data.length) + "\u0000"
      System.arraycopy(sizeOct.getBytes("US-ASCII"), 0, header, 124, 12)
      header(156) = '0'
      out.write(header)
      out.write(data)
      val pad = (512 - (data.length % 512)) % 512
      out.write(new Array[Byte](pad))
    }
    writeEntry("w/reshape/metric_a:by_node.csv", bytes)
    out.write(new Array[Byte](1024))
    out.close()

    val sig = MetricsTar.read(spark, tarPath.toString, minSamples = 20)
    val names = sig.select("name").distinct().as[String].collect().toSet
    assert(names == Set("metric_a:by_node"))
    assert(sig.count() == 50)
  }

  test("pcaWhiten yields ~unit-variance, decorrelated coordinates") {
    // anisotropic cloud: dominant axis (1,1,0) with 10:1 spread over
    // the secondary (1,-1,0) axis
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map { i =>
      val a = rnd.nextGaussian() * 5.0
      val b = rnd.nextGaussian() * 0.5
      (i.toLong, Array((a + b).toFloat, (a - b).toFloat,
        (rnd.nextGaussian() * 0.1).toFloat), 0)
    }
    val out = Clustering.pcaWhiten(
        rows.toDF("vec_id", "embedding", "label"), k = 2)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val n = out.length
    def meanVar(xs: Seq[Double]) = {
      val mu = xs.sum / n
      (mu, xs.map(x => (x - mu) * (x - mu)).sum / (n - 1))
    }
    val (m0, v0) = meanVar(out.map(_._1))
    val (m1, v1) = meanVar(out.map(_._2))
    assert(math.abs(m0) < 0.05 && math.abs(m1) < 0.05, "centered")
    assert(math.abs(v0 - 1.0) < 0.1, s"unit variance on c0, got $v0")
    assert(math.abs(v1 - 1.0) < 0.1, s"unit variance on c1, got $v1")
    val cov = out.map { case (x, y) => (x - m0) * (y - m1) }.sum / (n - 1)
    assert(math.abs(cov) < 0.15, s"decorrelated, got cov $cov")
  }
}
