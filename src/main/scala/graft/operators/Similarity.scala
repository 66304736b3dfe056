package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.{vecDot, vecNorm}

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Scale design: brute-force is the correctness baseline (query side is
  * tiny → broadcast; one pass over the corpus, no shuffle of the corpus).
  * The scale paths bucket the corpus first — random-hyperplane LSH —
  * so each query only scans its bucket(s).
  */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  // native codegen Expression (see org.apache.spark.sql.graft) — the
  // HOF formulation aggregate(zip_with(...)) is CodegenFallback and ~5×
  // slower per row; fold order and results are identical.
  private def dot(a: Column, b: Column): Column = vecDot(a, b)

  private def norm(v: Column): Column = vecNorm(v)

  /** Shared IVF cell assignment: nearest centroid (highest ROUNDED
    * cosine, ties → lowest cid) for every `base` row, where `base`
    * carries (vec_id, v, nrm, …payload) and `cents` is the broadcast
    * (cid, cv, cn) centroid table. Returns base's columns + `cell`.
    *
    * Execution shape — an ARGMAX AGGREGATE, not a row_number window:
    * the broadcast cross product's n×k candidate rows collapse to one
    * slim (vec_id, cell) row per vector INSIDE the scan task
    * (map-side combine of min(struct(−csim, cid)), whose ordering IS
    * (csim DESC, cid ASC) — IEEE negation is exact and −0.0 sorts
    * below +0.0 on both engines, preserving the csim-DESC winner),
    * and the payload rejoins by vec_id — two n-row exchanges total.
    * The previous row_number-window form shuffled and SORTED all n×k
    * rows with the full vector payload, which at the sfx10 decade
    * audit (k = 782 derived cells, n = 50 k) was a 39 M-row ×
    * ~600 B exchange dominating every autoCells consumer. Results
    * are identical row-for-row; only the plan changed.
    */
  private[operators] def assignCells(base: DataFrame, cents: DataFrame): DataFrame = {
    val best = base.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cents), lit(true))
      .select(col("vec_id"),
        r4(vecDot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("csim"),
        col("cid"))
      .groupBy("vec_id")
      .agg(min(struct((-col("csim")).as("nc"), col("cid").as("cid"))).as("mc"))
      .select(col("vec_id"), col("mc.cid").as("cell"))
    base.join(best, "vec_id")
  }

  /** Brute-force cosine top-k: queries = vec_id < nQueries (self excluded).
    * Query side broadcast; ranking on rounded cosine + id tiebreak.
    */
  def knnBruteCosine(embs: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Filtered k-NN — vector search under a metadata predicate (here:
    * neighbor label ≠ query label, the cross-label retrieval shape —
    * "most similar vector from a DIFFERENT class/source"). The output
    * is the PRE-filter answer (predicate applied before ranking, the
    * correct semantics) with an `in_post` flag per hit: would the
    * cheaper POST-filter pipeline (rank everything, then drop
    * disallowed hits from the global top-k) have surfaced this
    * neighbor? Rows with in_post = 0 are post-filtering's recall loss
    * — the measured number behind "push the predicate into the index
    * scan, don't filter the results".
    *
    * Scale shape: one broadcast of the query rows, one corpus pass,
    * ONE exchange shared by both rankings (the two row_number windows
    * partition and sort identically, so Catalyst plans a single
    * shuffle+sort and the filtered ranking reuses it). The production
    * composition pushes the same predicate into the IVF cell scan
    * ([[ivfAnn]]) so disallowed vectors never reach the distance
    * kernel.
    */
  def filteredKnn(embs: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = embs.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("nid"), col("label"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank_all", row_number().over(w))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos_sim"),
        (col("rank_all") <= k).cast("int").as("in_post"))
  }

  /** Deterministic pseudo-random hyperplanes via splitmix64 — no RNG
    * state, reproducible across runs and engines.
    */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, j) =>
      (splitmix64(p.toLong * 131071L + j).toDouble / Long.MaxValue)
    }

  /** Random-hyperplane LSH ANN: bucket = sign-bit string over nPlanes
    * projections; per query, rank within its bucket. The bucket groupBy
    * is the only shuffle — at corpus scale each task handles a hash
    * bucket, and queries probe exactly one bucket.
    */
  def lshAnn(embs: DataFrame, nPlanes: Int = 8, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val dim = 64
    val planes = hyperplanes(nPlanes, dim)
    val planeCols = planes.toIndexedSeq.map(p => array(p.toIndexedSeq.map(lit): _*))
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val bucketed = base.withColumn("bucket",
      concat(planeCols.map(pc => when(dot(col("v"), pc) >= 0, "1").otherwise("0")): _*))
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("bucket").as("qbucket"))
    val scored = bucketed.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k of an ANN result against the brute-force ground truth —
    * the honesty metric every approximate index ships with (an ANN
    * operator without a recall harness can't be tuned). Both inputs
    * are (qid, rank, nid) frames; queries the ANN missed entirely
    * score 0. The truth side is top-k-bounded → the join is tiny.
    */
  def recallAtK(ann: DataFrame, truth: DataFrame, k: Int = 5): DataFrame = {
    val a = ann.filter(col("rank") <= k).select(col("qid"), col("nid"))
    val t = truth.filter(col("rank") <= k).select(col("qid"), col("nid"))
    val hits = a.join(t, Seq("qid", "nid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    // normalize by the actual truth size, not k: a query whose ground
    // truth has fewer than k neighbors (small bucket/corpus) must still
    // be able to score recall 1.0
    t.groupBy("qid").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
        r4(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall"))
  }

  /** IVF-style ANN: coarse-quantize the corpus to deterministic seed
    * centroids (the first nCells vectors by id — a deterministic stand-in
    * for trained centroids), assign each vector to its nearest centroid,
    * then search only the query's cell. Same plan shape as a trained IVF:
    * broadcast centroids, one corpus pass to assign, bucket join to probe.
    */
  def ivfAnn(embs: DataFrame, nCells: Int = 8, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(base, cents)
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("cell").as("qcell"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multi-probe IVF recall: the standard recall lever at fixed cell
    * count — the corpus stays assigned to ONE cell (the inverted
    * list), but each QUERY probes its `maxProbes` nearest cells, so
    * recall lost to a query landing near a cell boundary is bought
    * back for probes× the scan cost instead of a bigger index. This
    * harness measures recall@k against brute-force truth for every
    * probe depth 1..maxProbes side by side — the number a user reads
    * before picking nprobe. Query-side cell ranking is a window over
    * |queries|×|cells| rows (queries are few by contract); candidate
    * generation stays the bucket join; all ranks on rounded cosines
    * with id tiebreaks.
    */
  def ivfMultiProbeRecall(embs: DataFrame, nCells: Int = 8,
                          nQueries: Int = 10, k: Int = 5,
                          maxProbes: Int = 2): DataFrame = {
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = base.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(base, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val qw = Window.partitionBy("qid").orderBy(col("qcsim").desc, col("cid").asc)
    val qprobes = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(cents), lit(true))
      .select(col("qid"), col("qv"), col("qn"), col("cid"),
        r4(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("qcsim"))
      .withColumn("prk", row_number().over(qw))
      .filter(col("prk") <= maxProbes)
      .select("qid", "qv", "qn", "cid", "prk")
    val cand = assigned.join(broadcast(qprobes),
        col("cell") === col("cid") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("prk"), col("vec_id").as("nid"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
      .persist().tracked // every probe depth re-reads the candidate set
    val truth = knnBruteCosine(embs, nQueries, k)
      .select(col("qid").as("tqid"), col("nid").as("tnid"))
    val rw = Window.partitionBy("probes", "qid")
      .orderBy(col("cos_sim").desc, col("nid").asc)
    val perProbe = (1 to maxProbes).map { p =>
      cand.filter(col("prk") <= p).withColumn("probes", lit(p))
    }.reduce(_ unionByName _)
    val ranked = perProbe.withColumn("rnk", row_number().over(rw))
      .filter(col("rnk") <= k)
    val nq = truth.groupBy("tqid").agg(count(lit(1)).as("n_truth"))
    val hits = ranked.join(truth,
        col("qid") === col("tqid") && col("nid") === col("tnid"), "left_semi")
      .groupBy("probes", "qid").agg(count(lit(1)).as("hits"))
    val probesDf = embs.sparkSession.range(1, maxProbes + 1)
      .select(col("id").cast("int").as("tprobes"))
    nq.crossJoin(broadcast(probesDf))
      .join(hits,
        col("tqid") === col("qid") && col("tprobes") === col("probes"),
        "left_outer")
      .select(col("tprobes").as("probes"), col("tqid").as("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        r4(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall"))
      .orderBy("probes", "qid")
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid 2011): split each
    * vector into `m` subvectors, quantize each against a per-subspace
    * codebook of `kCent` centroids, and search with asymmetric distance
    * — the query stays exact, each corpus vector is approximated by its
    * code, and dist²(q, x) ≈ Σ_s table_s[code_s(x)] where table_s is
    * the query's distance to every centroid of subspace s.
    *
    * Why this is the memory-scale path: a 64-dim float corpus is 256
    * bytes/vector; its PQ codes are `m` bytes — at 100 TB of
    * embeddings the codes fit where the vectors cannot, and the scan
    * per query costs m table lookups instead of d multiplies. Codebooks
    * here are the subvectors of the first `kCent` ids — the same
    * deterministic stand-in for trained centroids as [[ivfAnn]]
    * (k-means training would drop in without changing any plan shape;
    * determinism of the stand-in keeps codes partition-invariant).
    *
    * Plan: codebooks are driver-side constants (m·kCent·(d/m) doubles,
    * KBs); encoding is one typed pass over the corpus; the query scan
    * broadcasts nQueries distance tables and streams the codes — the
    * only shuffle is the final per-query top-k window.
    */
  def pqAnn(embs: DataFrame, m: Int = 4, kCent: Int = 16, nQueries: Int = 10,
            k: Int = 5): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
    // Column filters, not typed lambdas: these reach the parquet scan
    // as pushed predicates; a lambda filter would deserialize the corpus
    val seedRows = embs.filter(col("vec_id") < kCent)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(seedRows.nonEmpty, "corpus smaller than one codebook")
    val dim = seedRows.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // codebooks(s)(c) = centroid c of subspace s
    val codebooks = Array.tabulate(m, seedRows.length) { (s, c) =>
      java.util.Arrays.copyOfRange(seedRows(c)._2, s * sub, (s + 1) * sub)
    }
    def encode(v: Array[Double]): Array[Int] = Array.tabulate(m) { s =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < codebooks(s).length) {
        val cent = codebooks(s)(c)
        var d2 = 0.0; var j = 0
        while (j < sub) {
          val diff = v(s * sub + j) - cent(j); d2 += diff * diff; j += 1
        }
        if (d2 < bestD) { bestD = d2; best = c } // first argmin: deterministic
        c += 1
      }
      best
    }
    val queries = embs.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    // per query: distance table to every centroid of every subspace
    val tables = queries.map { case (qid, qv) =>
      (qid, Array.tabulate(m, codebooks(0).length) { (s, c) =>
        val cent = codebooks(s)(c)
        var d2 = 0.0; var j = 0
        while (j < sub) {
          val diff = qv(s * sub + j) - cent(j); d2 += diff * diff; j += 1
        }
        d2
      })
    }
    val scored = base.mapPartitions { it =>
      it.flatMap { case (id, v) =>
        val code = encode(v)
        tables.iterator.filter(_._1 != id).map { case (qid, dt) =>
          var d2 = 0.0; var s = 0
          while (s < m) { d2 += dt(s)(code(s)); s += 1 }
          (qid, id, r4d(d2))
        }
      }
    }.toDF("qid", "nid", "adist")
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Int8 quantization audit per vector — the compression-planning
    * pass before storing an embedding corpus quantized (4× smaller
    * than float32, the standard ANN-index trade): per-vector min/max
    * range, the resulting scale, and the worst reconstruction error
    * under round-to-nearest affine quantization (bounded by scale/2
    * by construction — the spec pins it). Pure per-row array
    * expressions: no shuffle at all, scan-bound at any corpus size.
    * Constant vectors (scale 0) reconstruct exactly.
    */
  def int8QuantStats(embs: DataFrame): DataFrame = {
    // materialize the double array first: expressions inlined into
    // transform lambdas are re-evaluated per element (no CSE across
    // the lambda boundary)
    embs.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .withColumn("max_abs_err",
        when(col("scale") > 0,
          array_max(transform(col("v"), x =>
            abs(x - (col("mn") +
              floor((x - col("mn")) / col("scale") + lit(0.5)) * col("scale"))))))
          .otherwise(lit(0.0)))
      .select(col("vec_id"), col("label"),
        r6(col("mn")).as("mn"), r6(col("mx")).as("mx"),
        r6(col("scale")).as("scale"), r6(col("max_abs_err")).as("max_abs_err"))
  }

  /** Pairwise cosine similarity between per-label centroids — the
    * class-separation diagnostic for an embedding space (labels whose
    * centroids sit close are the ones a classifier or ANN index will
    * confuse; near-1 rows flag label leakage / duplicate classes).
    *
    * Exactness: cosine is scale-invariant, so the centroid (sum / n)
    * is replaced by the SUM vector and the division never happens.
    * Components quantize to ×1e6 exact integers; per-(label, dim)
    * sums and the cross-label dot/norm moments are exact DECIMAL
    * (order-independent — the float-sum nondeterminism that plagues
    * naive centroid code cannot arise); one fixed IEEE
    * dot/(‖a‖·‖b‖) sequence at the end, mirrored in the oracle.
    *
    * Plan: posexplode to (label, dim) cells — the only shuffle is the
    * (label, dim) aggregate (|labels|·|dims| output rows regardless of
    * corpus size); the label-pair self-join runs on that tiny frame.
    */
  def labelCentroidSim(embs: DataFrame): DataFrame = {
    val cells = embs.select(col("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        qint(col("x").cast("double"), 1e6).as("q"))
    val sums = cells.groupBy("label", "d")
      .agg(sum(col("q")).cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("sv"))
    val a = sums.select(col("label").as("label_a"), col("d"), col("sv").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("d").as("db"), col("sv").as("sb"))
    a.join(b, col("d") === col("db") && col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sa") * col("sb")).cast("double").as("sxy"),
        sum(col("sa") * col("sa")).cast("double").as("sxx"),
        sum(col("sb") * col("sb")).cast("double").as("syy"))
      .select(col("label_a"), col("label_b"),
        r4(col("sxy") / (sqrt(col("sxx")) * sqrt(col("syy")))).as("cos_sim"))
  }

  /** Embedding drift monitor: cosine of each ingest batch's centroid
    * against the corpus-wide centroid. The batch key is caller-supplied
    * (an ingest-date column in production; a deterministic id shard in
    * the harness) — a batch whose centroid swings away from the global
    * one signals an upstream encoder change or a content shift, the
    * standard day-over-day check before an index rebuild.
    *
    * Exactness and plan mirror [[labelCentroidSim]]: cosine is
    * scale-invariant so centroids are replaced by quantized-integer SUM
    * vectors (order-independent DECIMAL sums); the global vector is the
    * re-aggregate of the per-batch sums — one (batch, dim) shuffle of
    * |batches|·|dims| rows total, then a broadcast-sized join of the
    * per-batch frame against the single global row.
    */
  def batchDriftCosine(embs: DataFrame, batch: Column): DataFrame = {
    val cells = embs.select(batch.as("batch"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("batch"), col("d"),
        qint(col("x").cast("double"), 1e6).as("q"))
    val perBatch = cells.groupBy("batch", "d")
      .agg(sum(col("q")).cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("sb"),
        count(lit(1)).as("nd"))
    val global = perBatch.groupBy("d")
      .agg(sum(col("sb")).cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("sg"))
    perBatch.join(broadcast(global), "d")
      .groupBy("batch")
      .agg((sum(col("nd")) / count(lit(1))).cast("long").as("n_vecs"),
        sum(col("sb") * col("sg")).cast("double").as("sxy"),
        sum(col("sb") * col("sb")).cast("double").as("sxx"),
        sum(col("sg") * col("sg")).cast("double").as("syy"))
      .select(col("batch"), col("n_vecs"),
        r4(col("sxy") / (sqrt(col("sxx")) * sqrt(col("syy")))).as("cos_global"))
  }

  /** Estimated cosine per hamming band, cos(π·h/nPlanes) rounded 4 dp —
    * computed ONCE here (driver-side libm) and consumed as the SAME
    * double literals by the engine column and the oracle's VALUES list
    * (the BENFORD device): the argument grid is the integers 0..nPlanes,
    * so no engine ever computes a transcendental on the hashed path.
    */
  def cosEstTable(nPlanes: Int = 32): IndexedSeq[Double] =
    (0 to nPlanes).map(h => r4d(math.cos(math.Pi * h / nPlanes)))

  /** IVF cell-population telemetry: per-cell vector counts and corpus
    * share — the dashboard the mega-cell saltCap knob
    * (Clustering.inCellPairs) and the autoCells sizing decisions read.
    * A cell whose share approaches the corpus is the boilerplate-dense
    * hot cell the salting exists for; a long tail of near-empty cells
    * says the centroid seeds were unlucky. One assignment pass + one
    * |cells|-row aggregate.
    */
  def cellStats(embs: DataFrame, nCells: Int = 8): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(embs)
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val sizes = assignCells(base, cents)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    sizes
      .withColumn("total", sum("n_vecs").over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        graft.Num.r4(col("n_vecs").cast("double") / col("total").cast("double"))
          .as("share"))
  }

  /** Sign-sketch compression audit: fold each embedding to an
    * nPlanes-bit sign sketch (bit p = sign⟨v, plane_p⟩ over the shared
    * splitmix hyperplanes), then measure — per hamming distance — how
    * well the sketch's angular estimate cos(π·h/nPlanes) tracks the
    * true cosine over the IVF-cell candidate pairs. This is the
    * decision table for replacing 256-byte float vectors with 4-byte
    * sketches in the dedup/ANN exchanges (a 64× shuffle-width cut):
    * read mean_abs_err at the hamming band your threshold lives in.
    *
    * Determinism: sketches are integer bitmasks from sign comparisons
    * (the LSH bucketing contract); hamming is exact; true cosines
    * round 4 dp and aggregate as exact ×1e4 integers, so the per-band
    * means are single IEEE divisions over exact sums. Scale: the only
    * pair generation is in-cell (Σ|cell|², [[autoCells]]-governed);
    * sketch construction is one codegen scan.
    */
  def bitSketchCalibration(embs: DataFrame, nPlanes: Int = 32,
                           nCells: Int = 8, sampleN: Int = 4096): DataFrame = {
    val planes = hyperplanes(nPlanes, 64)
    val planeCols = planes.toIndexedSeq.map(p => array(p.toIndexedSeq.map(lit): _*))
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val sk = planeCols.zipWithIndex.map { case (pc, i) =>
      when(dot(col("v"), pc) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val cells = if (nCells > 0) nCells else autoCells(embs)
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    // the hamming→cos curve is a property of the hash family and the
    // similarity distribution, not of corpus size — so calibration runs
    // on a FIXED-SIZE md5-ranked sample (deterministic, append-stable;
    // the lshBandSweep/embed_hard_negatives convention). This is the
    // 100 TB contract AS CODE (r11 verdict #4): a naive caller used to
    // be one default away from materializing the full in-cell pair
    // volume (1.77·10¹⁰ pairs ≈ 425 GB at the embskew ×100 audit
    // shape); now the pair volume is ≤ sampleN²/2 regardless of corpus.
    // orderBy+limit plans as TakeOrderedAndProject: per-partition
    // top-N, no global sort, no single-partition shuffle.
    val assigned = assignCells(base, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .withColumn("sk", sk)
      .orderBy(Sampling.hash32(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleN)
      .persist().tracked // pair kernel input + both sketch lookups
    // salted pair kernel + broadcast sketch lookup instead of a cell
    // self-equijoin (a mega-cell is ONE join key → single-task |cell|²
    // enumeration, the r10 embskew finding; threshold ≤ −1 engages the
    // kernel's keep-ALL branch, which passes NaN/±Inf cosines from
    // zero-norm vectors too — matching this oracle's unconditional
    // pair enumeration, r10 ADVICE). The broadcast is the
    // sampleN-row (vec_id → 8-byte sketch) map — bounded by the cap.
    val pairsRaw = graft.operators.Clustering.inCellPairs(
      assigned.select(col("cell"), col("vec_id"), col("v"), col("nrm")),
      threshold = -2.0)
    val pairs = pairsRaw
      .join(broadcast(assigned.select(col("vec_id").as("id1"),
        col("sk").as("sk1"))), "id1")
      .join(broadcast(assigned.select(col("vec_id").as("id2"),
        col("sk").as("sk2"))), "id2")
      .select(
        bit_count(col("sk1").bitwiseXOR(col("sk2"))).cast("long").as("hamming"),
        col("cos_sim"))
      .withColumn("qc", floor(col("cos_sim") * lit(1e4) + lit(0.5)).cast("long"))
      // shared-literal lookup, not an engine cos (see cosEstTable)
      .withColumn("est", element_at(
        array(cosEstTable(nPlanes).map(lit): _*), col("hamming").cast("int") + lit(1)))
      .withColumn("qe", floor(col("est") * lit(1e4) + lit(0.5)).cast("long"))
    pairs.groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        max(col("est")).as("est_cos"),
        sum(col("qc")).as("sqc"),
        sum(abs(col("qc") - col("qe"))).as("sqd"))
      .select(col("hamming"), col("n_pairs"), col("est_cos"),
        r4(col("sqc").cast("double") /
          (col("n_pairs") * lit(10000L)).cast("double")).as("mean_cos"),
        r4(col("sqd").cast("double") /
          (col("n_pairs") * lit(10000L)).cast("double")).as("mean_abs_err"))
  }

  /** Sketch-prefilter ANN: rank the corpus by sketch hamming distance
    * to the query (4-byte integers — the index that fits in memory at
    * any corpus size), keep the best `cand`, then rerank those few by
    * EXACT cosine — the standard binary-prefilter + float-rerank
    * retrieval pipeline, whose recall [[bitSketchCalibration]] prices
    * and ann_recall_sketch measures. No float vector ever moves for a
    * non-candidate; the hamming pass is bitwise ops over a broadcast
    * query side.
    *
    * Determinism: hamming is exact; the candidate cut ranks
    * (hamming ASC, vec_id ASC) and the rerank ranks (rounded cosine
    * DESC, nid ASC) — both engine-exact.
    */
  def sketchRerankAnn(embs: DataFrame, nPlanes: Int = 32, cand: Int = 32,
                      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val planes = hyperplanes(nPlanes, 64)
    val planeCols = planes.toIndexedSeq.map(p => array(p.toIndexedSeq.map(lit): _*))
    val sk = planeCols.zipWithIndex.map { case (pc, i) =>
      when(dot(col("v"), pc) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("sk", sk)
      .persist().tracked // query side + probe side
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("sk").as("qsk"))
    val byHam = Window.partitionBy("qid")
      .orderBy(col("hamming").asc, col("vec_id").asc)
    val candidates = base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("hamming",
        bit_count(col("sk").bitwiseXOR(col("qsk"))).cast("long"))
      .withColumn("hrn", row_number().over(byHam))
      .filter(col("hrn") <= cand)
    val byCos = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("nid").asc)
    candidates
      .select(col("qid"), col("vec_id").as("nid"), col("hamming"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= k)
  }

  /** Self-scaling IVF cell knob: cells = max(minCells, ceil(√n)) —
    * the BALANCED cell count. IVF has two cost terms: centroid
    * assignment n·k·d and in-cell candidate verification Σ|cell|²·d
    * ≈ (n²/k)·d; their sum is minimized at k = √n, where BOTH terms
    * are n^1.5·d. The v1 formula (k = n/64, mean cell pinned at 64)
    * held the pair term linear but made ASSIGNMENT n²·d/64 —
    * quadratic, the dominant term past n ≈ 4 k and a 55× overhang
    * at n = 50 M vs √n (measured at the r6 sfx10 audit: the derived
    * k = 7 813 put 98 % of semdedup's time in the assignment scan).
    * √n keeps the whole pipeline on one n^1.5 law: at 10× data every
    * stage grows ~31.6×, never 100×. Cross-engine exactness: count()
    * is an exact integer, IEEE-754 requires sqrt and ceil correctly
    * rounded, so JVM `math.sqrt`/DuckDB `sqrt` agree bit-for-bit.
    * One count() action; every IVF consumer ([[oodKnnDist]],
    * [[graft.operators.Dedup.embedCosinePairsIvf]],
    * [[graft.operators.Clustering.semDedup]]) treats a non-positive
    * cells/k argument as "derive it here"; the `_auto` gate queries
    * replay this formula in their oracles while the fixed-k gates
    * keep passing explicit constants.
    */
  def autoCells(embs: DataFrame, minCells: Int = 8): Int = {
    val n = embs.count()
    math.max(minCells, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** kNN-distance OOD scoring: the top-N vectors FARTHEST from their
    * k-th nearest in-cell neighbor — the standard non-parametric
    * out-of-distribution detector (a point deep in a mode has close
    * neighbors; an outlier's k-th neighbor is far even when its
    * centroid distance looks normal, the case that fools
    * Clustering.distanceOutliers). Candidates come from the IVF cell
    * (the scale path: Σ|cell|² pairs, never all-pairs); vectors in
    * singleton cells have no neighbors and drop (unsupported, not
    * silently zero). Ranks compare ROUNDED similarities with neighbor
    * and vector id tiebreaks, so the k-th value and the top-N set are
    * engine-deterministic. Cells with fewer than k neighbors use the
    * farthest available (rank min(k, |cell|−1)).
    *
    * `nCells <= 0` derives the cell count via [[autoCells]] so the
    * Σ|cell|² candidate volume stays linear as the corpus grows.
    */
  def oodKnnDist(embs: DataFrame, nCells: Int = 8, k: Int = 5,
                 topN: Int = 50): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(embs)
    val base = embs.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(base, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .persist().tracked
    // salted top-k kernel (Clustering.inCellTopK) instead of a cell
    // self-equijoin: a mega-cell is ONE join key, so the join plan
    // single-tasks |cell|² candidate rows (measured 50+ min at the ×20
    // hot-cell audit); the tiled kernel parallelizes the same dot
    // products and only s·k candidates per vector ever leave a task.
    // m (= |cell|−1 candidates) now comes from the cell sizes instead
    // of a count window over the materialized sims — same number.
    val topk = graft.operators.Clustering.inCellTopK(
      assigned.select(col("cell"), col("vec_id"), col("v"), col("nrm")), k)
    val szs = assigned.groupBy("cell").agg(count(lit(1)).as("csz"))
    topk.join(broadcast(szs), "cell")
      .withColumn("m", col("csz") - 1L)
      .filter(col("rn") === least(lit(k.toLong), col("m")))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        (col("m") + 1).as("n_cell"),
        col("sim").as("knn_sim"), r4(lit(1.0) - col("sim")).as("ood_score"))
      .orderBy(col("ood_score").desc, col("vec_id"))
      .limit(topN)
  }

  /** Embedding-quality scorecard: leave-one-out 1-NN label agreement
    * per class over the IVF cells — if an embedding is any good for
    * retrieval/classification, a vector's nearest neighbor should
    * share its label; per-class accuracy exposes both a weak encoder
    * (all classes low) and confusable class pairs (two classes low —
    * then [[hardNegatives]] names the offending pairs). In-cell
    * candidates make it the oodKnnDist plan: Σ|cell|² pairs, rounded
    * sims, id tiebreaks; vectors alone in their cell drop (declared).
    */
  def labelKnnAccuracy(embs: DataFrame, nCells: Int = 8): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(embs)
    val base = embs.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(base, cents)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cell"))
      .persist().tracked
    // salted 1-NN kernel (Clustering.inCellTopK) instead of a cell
    // self-equijoin — the mega-cell single-task join the r10 embskew
    // audit measured (50+ min at ×20); labels rejoin on the k-bounded
    // winner rows, never on the candidate volume
    val labels = assigned.select(col("vec_id"), col("label"))
    val top1 = graft.operators.Clustering.inCellTopK(
        assigned.select(col("cell"), col("vec_id"), col("v"), col("nrm")), 1)
      .filter(col("rn") === 1L)
      .select(col("vec_id"), col("nid"))
    top1.join(labels, "vec_id")
      .join(labels.select(col("vec_id").as("nid"), col("label").as("nlabel")),
        "nid")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        r4(col("n_correct").cast("double") / col("n").cast("double")).as("acc_1nn"))
  }

  /** kNN-graph construction: per vector, its top-k in-cell neighbors
    * as directed edges (rank 1..k by rounded cosine, nid tiebreak) —
    * the graph stage that graph-based dedup, diversity sampling and
    * label propagation consume. Runs on the salted top-k kernel
    * ([[graft.operators.Clustering.inCellTopK]]), so a
    * boilerplate-dense mega-cell tiles across tasks instead of
    * single-tasking through one join key (the r10 embskew audit
    * finding); vectors alone in their cell emit no edges (declared,
    * the oodKnnDist contract), and cells with under k neighbors emit
    * what they have.
    */
  def knnGraph(embs: DataFrame, nCells: Int = 0, k: Int = 3): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(embs)
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(base, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .persist().tracked // kernel sizes collect + top-k scan (the
                         // labelKnnAccuracy/oodKnnDist pattern)
    graft.operators.Clustering.inCellTopK(
        assigned.select(col("cell"), col("vec_id"), col("v"), col("nrm")), k)
      .select(col("vec_id"), col("rn").as("rank"), col("nid"),
        col("sim").as("cos_sim"))
  }

  /** Radius (range) search: every corpus vector within a cosine
    * threshold of each query — the "find ALL near-duplicates / all
    * in-policy matches" sibling of top-k, where the result size is
    * data-driven rather than fixed. Queries broadcast; the threshold
    * applies to the ROUNDED cosine so row membership is
    * engine-deterministic.
    *
    * Scale: the query-side scan is one broadcast-join pass over the
    * corpus (codegen, no corpus shuffle) — linear for bounded query
    * sets. For corpus×corpus radius search use
    * [[Dedup.embedCosinePairsIvf]] — the IVF-bucketed all-pairs path.
    */
  def rangeSearch(embs: DataFrame, nQueries: Int = 10,
                  minCos: Double = 0.3): DataFrame = {
    val base = embs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        r4(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Hard-negative mining: per ordered label pair, the top-k CROSS-label
    * vector pairs by cosine — the confusable examples contrastive
    * training wants as negatives and a labeler wants re-checked.
    * Ranking compares the ROUNDED cosine with id tiebreaks.
    *
    * Scale: the join is label-blocked (Σ|la|·|lb| pairs over label
    * pairs, never the full corpus²); for web-scale classes cap each
    * label to a hash-ranked sample first (the sample_capped move) or
    * route through the IVF cells — class size is the declared knob.
    */
  def hardNegatives(embs: DataFrame, k: Int = 3,
                    maxPerLabel: Int = 256): DataFrame = {
    val base0 = embs.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    // the scale knob, engaged not just documented: classes above
    // `maxPerLabel` are cut to a deterministic md5-ranked sample (the
    // sample_capped move — append-stable, partition-invariant), so the
    // label-blocked pair volume is ≤ |pairs|·cap² — LINEAR in class
    // count — instead of Σ|la|·|lb|. Below the cap (the gate corpora)
    // the filter keeps everything and results are bit-identical.
    val capped = if (maxPerLabel > 0)
      base0.withColumn("hrk", row_number().over(
          Window.partitionBy("label")
            .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
        .filter(col("hrk") <= maxPerLabel).drop("hrk")
    else base0
    val base = capped.withColumn("nrm", norm(col("v")))
      .persist().tracked
    val a = base.select(col("label").as("la"), col("vec_id").as("ida"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("label").as("lb"), col("vec_id").as("idb"),
      col("v").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy("la", "lb")
      .orderBy(col("cos_sim").desc, col("ida"), col("idb"))
    // the (la, lb) pair list is a broadcast handful; routing through it
    // makes BOTH corpus joins keyed hash joins on the label (the
    // label-blocked exchange), never a nested-loop over corpus²
    val labels = base.select(col("label")).distinct()
    val pairsLl = labels.select(col("label").as("la"))
      .crossJoin(labels.select(col("label").as("lb")))
      .filter(col("la") < col("lb"))
    a.join(broadcast(pairsLl), "la").join(b, "lb")
      .select(col("la"), col("lb"), col("ida"), col("idb"),
        r4(dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("la"), col("lb"), col("rank"), col("ida"), col("idb"),
        col("cos_sim"))
  }

  /** Maximal-marginal-relevance selection: a k-item subset that is
    * both relevant (cosine to the corpus centroid) and mutually
    * diverse — the standard greedy for picking exemplar documents /
    * eval seeds from a cluster without taking k near-copies.
    * score(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).
    *
    * Determinism: centroid = per-dim DECIMAL sum of 1e6-quantized
    * coordinates (cosine is scale-invariant, so the un-divided sum
    * vector IS the centroid); every cosine is computed from exact
    * integer moments and 1e6-quantized BEFORE any comparison, and the
    * greedy compares pure-integer scores (λ as parts-per-million) with
    * id tiebreaks.
    *
    * Scale: relevance is one corpus scan + a 64-row broadcast;
    * only the top `candK` candidates (a distributed TakeOrdered, no
    * global sort) enter the O(candK²) sim matrix and the k-step
    * greedy, which run on a BOUNDED candK-sized frame — the greedy's
    * sequential nature never touches the corpus.
    */
  def mmrSelect(embs: DataFrame, candK: Int = 32, k: Int = 8,
                lamPpm: Long = 700000L): DataFrame =
    greedySelect(embs, candK, k) { (rq, ms) =>
      lamPpm * rq - (1000000L - lamPpm) * ms
    }

  /** Greedy k-center (farthest-point) selection: after the most
    * central seed, each step takes the candidate FARTHEST from the
    * already-selected set (min score = max-sim-to-selected) — the
    * classic 2-approximation coreset that covers a corpus's spread
    * where [[mmrSelect]] trades coverage against centrality. Same
    * integer-quantized machinery and bounded candidate frame.
    */
  def kcenterSelect(embs: DataFrame, candK: Int = 32, k: Int = 8): DataFrame =
    greedySelect(embs, candK, k) { (rq, ms) =>
      // seed step (ms = 0 for every candidate) falls back to
      // relevance; afterwards pure farthest-point: score = −max-sim,
      // scaled so relevance only breaks exact sim ties
      -ms * 10000000L + rq
    }

  /** Shared greedy-subset machinery (see [[mmrSelect]] for the
    * determinism and scale contract): integer relevance + pairwise
    * sim frames over a TakeOrdered candidate cut, then a k-step
    * argmax of `score(relq, maxSimToSelected)` with id tiebreaks on a
    * BOUNDED collect.
    */
  private def greedySelect(embs: DataFrame, candK: Int, k: Int)
                          (score: (Long, Long) => Long): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 0)
    // NaN (zero-norm side: zero centroid or zero vector) → relevance /
    // similarity 0, not a null that breaks the bounded collect
    val q6 = (sxy: Column, sxx: Column, syy: Column) =>
      coalesce(
        floor(((sxy / (sqrt(sxx) * sqrt(syy))) + lit(1e-9)) * lit(1e6) + lit(0.5))
          .cast("long"),
        lit(0L))
    val cells = embs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), qint(col("x").cast("double"), 1e6).as("q"))
      .persist().tracked
    val sg = cells.groupBy("d").agg(sum(col("q")).cast(dec18).as("sg"))
    val rel = cells.join(broadcast(sg), "d")
      .groupBy("vec_id")
      .agg(sum(col("q") * col("sg")).cast("double").as("sxy"),
        sum(col("q") * col("q")).cast("double").as("sxx"),
        sum(col("sg") * col("sg")).cast("double").as("syy"))
      .select(col("vec_id"), q6(col("sxy"), col("sxx"), col("syy")).as("relq"))
    val cand = rel.orderBy(col("relq").desc, col("vec_id").asc).limit(candK)
      .persist().tracked
    val cc = cand.select(col("vec_id")).join(cells, "vec_id")
    val aa = cc.select(col("vec_id").as("a"), col("d"), col("q").as("qa"))
    val bb = cc.select(col("vec_id").as("b"), col("d").as("db"), col("q").as("qb"))
    val sims = aa.join(bb, col("d") === col("db") && col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(sum(col("qa") * col("qb")).cast("double").as("sxy"),
        sum(col("qa") * col("qa")).cast("double").as("sxx"),
        sum(col("qb") * col("qb")).cast("double").as("syy"))
      .select(col("a"), col("b"), q6(col("sxy"), col("sxx"), col("syy")).as("simq"))
    // bounded driver state: candK relevances + candK² quantized sims
    val relArr = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    val simMap = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val remaining = scala.collection.mutable.LinkedHashMap(
      relArr.map(r => r._1 -> r._2): _*)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var step = 0
    while (step < k && remaining.nonEmpty) {
      val selIds = picks.map(_._2)
      val best = remaining.iterator.map { case (id, rq) =>
        val ms = if (selIds.isEmpty) 0L
          else selIds.map(sid => simMap.getOrElse((id, sid), 0L)).max
        (id, rq, ms, score(rq, ms))
      }.reduceLeft { (x, y) =>
        if (y._4 > x._4 || (y._4 == x._4 && y._1 < x._1)) y else x
      }
      picks += (((step + 1).toLong, best._1, best._2, best._3))
      remaining.remove(best._1)
      step += 1
    }
    picks.toSeq.toDF("rank", "vec_id", "relq", "msq")
      .select(col("rank"), col("vec_id"),
        r4(col("relq").cast("double") / lit(1e6)).as("rel"),
        r4(col("msq").cast("double") / lit(1e6)).as("max_sim_selected"))
  }

  /** Embedding-space decontamination — the SEMANTIC sibling of the
    * n-gram `Curation.decontaminate` family: training vectors whose
    * cosine to ANY held-out/eval vector reaches `threshold` are
    * paraphrase-level leaks that shingle overlap can't see (reworded
    * benchmark items share no 8-gram). The eval split here is the
    * declared `vec_id % evalMod` stand-in (the decontaminate
    * convention); a deployment passes the benchmark's own embeddings.
    *
    * Shape: ONE IVF cell assignment over the whole corpus (first-k
    * centroid convention shared with every IVF consumer), then an
    * in-cell eval⋈train join — Σ|cell_eval|·|cell_train| candidates,
    * never corpus². Per flagged train vector the report carries its
    * closest eval item (argmax on the ROUNDED cosine, min-eval-id
    * tiebreak, via one max(struct) aggregate) and the hit count.
    */
  def semanticDecontaminate(embs: DataFrame, evalMod: Int = 19,
                            nCells: Int = 8,
                            threshold: Double = 0.3): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(embs)
    val base = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    val cents = base.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(base, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .persist().tracked // eval and train splits share one assignment
    val ev = assigned.filter(col("vec_id") % evalMod === 0)
      .select(col("vec_id").as("eid"), col("v").as("ev"),
        col("nrm").as("en"), col("cell"))
    val tr = assigned.filter(col("vec_id") % evalMod =!= 0)
    tr.join(ev, Seq("cell"))
      .withColumn("cs", r4(vecDot(col("v"), col("ev")) / (col("nrm") * col("en"))))
      .filter(col("cs") >= threshold)
      .groupBy("vec_id")
      .agg(max(struct(col("cs"), (-col("eid")).as("ne"))).as("m"),
        count(lit(1)).as("n_eval_hits"))
      .select(col("vec_id"), (-col("m.ne")).as("eval_id"),
        col("m.cs").as("cos_sim"), col("n_eval_hits"))
      .orderBy("vec_id")
  }

  /** Matryoshka-truncation recall: how much top-k neighbor quality a
    * PREFIX of the embedding retains vs the full vector — the audit
    * run before shipping truncated embeddings (à la MRL) to cut ANN
    * index cost 2–8×. For each prefix width the same nQ queries rank
    * the corpus by prefix cosine; recall@k is measured against the
    * full-width ranking. One corpus×queries broadcast join computes
    * ALL widths (the per-width slice/dot rides the same pair row —
    * no extra exchange per width); rankings use the rounded-cosine +
    * id tiebreak determinism; zero-norm prefixes drop on both
    * engines. Output: one row per width with mean recall@k.
    */
  def matryoshkaRecall(embs: DataFrame, dims: Seq[Int] = Seq(8, 16, 32),
                       nQ: Int = 50, k: Int = 10,
                       fullDim: Int = 64): DataFrame = {
    val base = embs.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val widths = dims :+ fullDim
    val withW = base
      .withColumn("dim", explode(array(widths.map(lit(_)): _*)))
      .withColumn("pv", slice(col("v"), lit(1), col("dim")))
      .withColumn("pn", norm(col("pv")))
      .filter(col("pn") > 0)
      .select("vec_id", "dim", "pv", "pn")
    val qs = withW.filter(col("vec_id") < nQ)
      .select(col("dim").as("qdim"), col("vec_id").as("qid"),
        col("pv").as("qv"), col("pn").as("qn"))
    val byCos = Window.partitionBy("dim", "qid")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val ranked = withW.join(broadcast(qs),
        col("dim") === col("qdim") && col("vec_id") =!= col("qid"))
      .select(col("dim"), col("qid"), col("vec_id"),
        r4(dot(col("qv"), col("pv")) / (col("qn") * col("pn"))).as("cos_sim"))
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= k)
      .select("dim", "qid", "vec_id")
      .persist().tracked // truth (full width) joins every prefix width
    val truth = ranked.filter(col("dim") === fullDim)
      .select(col("qid").as("tqid"), col("vec_id").as("tnid"))
    val nq = truth.select("tqid").distinct().count()
    ranked.filter(col("dim") =!= fullDim)
      .join(truth, col("qid") === col("tqid") && col("vec_id") === col("tnid"),
        "left_semi")
      .groupBy("dim").agg(count(lit(1)).as("n_hits"))
      .select(col("dim"), lit(nq).as("n_queries"),
        r4(col("n_hits").cast("double") / lit(nq * k).cast("double"))
          .as("mean_recall"))
      .orderBy("dim")
  }
}
