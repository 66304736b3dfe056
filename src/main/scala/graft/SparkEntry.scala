package graft

import graft.Caches._
import graft.Num._
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §2 for the inventory each entry maps to.
  *
  * Conventions that make the DuckDB oracle hash-match:
  *  - every aggregate of 2-dp source doubles goes through exact DECIMAL
  *    sums (order-independent → bit-identical across engines);
  *  - every inherently-double statistic (stddev, corr, cosine) is rounded
  *    to 4 dp on both sides, and thresholds/rankings apply to the rounded
  *    value with unique-id tiebreaks;
  *  - counts are BIGINT on both sides (DuckDB sums cast from HUGEINT);
  *  - timestamps surface as epoch seconds (BIGINT);
  *  - every query is deterministically ordered by a unique key prefix.
  */
object SparkEntry {

  // ---- shared oracle-SQL fragments (events → long signals → 15-min grid) ----
  private val SQL_SIG =
    """signals AS (SELECT event_type AS name, 'u' || CAST(user_id % 8 AS VARCHAR) AS node,
      | CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events)""".stripMargin.replace("\n", " ")
  private val SQL_GRID =
    """grid AS (SELECT name, node, tsec // 900 * 900 AS tsb,
      | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS gval
      | FROM signals GROUP BY 1, 2, 3)""".stripMargin.replace("\n", " ")
  private val WITH_GRID = s"WITH $SQL_SIG, $SQL_GRID"

  /** The signal grid is built on an EXPLICIT (name, node) hash
    * partitioning (user repartition with an explicit count is exempt
    * from AQE partition coalescing): the per-signal compute that
    * dominates every grid consumer — rolling windows, Theil-Sen pair
    * slopes, PSI, e-divisive — hangs off ClusteredDistribution(name,
    * node[, ...]) requirements, so establishing the partitioning ONCE
    * here lets every downstream window/aggregate reuse it (guide §2.4)
    * at full width, while AQE's DEFAULT byte-based coalescing handles
    * every other exchange. This replaces the r11 session-wide
    * `minPartitionSize=64kb` floor, which kept the few-MB grid
    * exchanges wide but ALSO forced 32 near-empty tasks onto every
    * tiny exchange of the other ~200 queries (measured: the r12
    * 8-core bench beat the 32-core bench 163 vs 198 s — pure
    * scheduling tax at toy scale). Width where compute-density
    * demands it is now code (here and in the tiled kernels), not a
    * session constant tuned for local mode.
    */
  private def grid(s: SparkSession, dir: String,
                   dense: Boolean = false): DataFrame = {
    // r13: width is workload-derived (Widths — saturates to the
    // session width on any real corpus, sizes the exchange by the
    // measured input at bench scale) instead of the session constant;
    // same AQE-exempt (name, node) layout either way (VERDICT r12 #2).
    // A consumer whose per-signal kernel is DENSE (O(heavy) CPU per
    // byte — rescaled-range) asks for the dense budget so its single
    // grid exchange already carries the kernel's width.
    val sig = TimeSeries.signalsFromEvents(Tables.events(s, dir))
    val w = if (dense) Widths.forDense(sig) else Widths.forFrame(sig)
    TimeSeries.resample(sig.repartition(w, col("name"), col("node")))
  }

  /** Correlation runs on a dense grid: coarser step (1 h), fewer nodes,
    * forward-filled — so every bucket has full overlap (the reference
    * works on complete 15 s grids; raw events are sparse).
    */
  private def corrGrid(s: SparkSession, dir: String,
                       dense: Boolean = false): DataFrame =
    // fused one-exchange grid build (TimeSeries.gridOnePass) — feeds
    // ~30 oracle-checked queries, so the fused path's bit-equality to
    // the composed resample→fillForward→indexed form is re-proven by
    // every driver correctness run. The typed groupByKey's output
    // partitioning is opaque (struct key behind SerializeFromObject),
    // so the explicit (name, node) layout every consumer reuses is
    // established by one cheap exempt exchange of the GRID (≪ the raw
    // signal stream the fused build already shuffles once).
    {
      // r13: workload-derived width, same rationale as [[grid]] —
      // including the dense arm (matrix profile's subsequence kernel)
      val g = TimeSeries.gridOnePass(
        TimeSeries.signalsFromEvents(Tables.events(s, dir), nodeMod = 4), 3600L)
      val w = if (dense) Widths.forDense(g) else Widths.forFrame(g)
      g.repartition(w, col("name"), col("node"))
    }

  /** Oracle-SQL prefix replaying MediaDecoder.Stub.decode's byte fold in
    * HUGEINT mod-2⁶⁴ over `src` (must select doc_id, text; the corpus
    * is ASCII so character = byte). Yields CTE `meta(doc_id, byte_len,
    * format, width, height, checksum)`.
    */
  private def SQL_MM_META(src: String): String =
    s"""WITH src AS ($src),
       |f AS (SELECT doc_id, length(text) AS blen,
       |  list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
       |    (h, b) -> (31 * h + b) % 18446744073709551616) AS hu
       |  FROM src),
       |sgn AS (SELECT doc_id, blen,
       |  CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END AS hs
       | FROM f),
       |meta AS (SELECT doc_id, CAST(blen AS BIGINT) AS byte_len,
       |  CASE ((hs % 3) + 3) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
       |  CAST(64 + ((((hs - ((hs % 256) + 256) % 256) // 256) % 1856) + 1856) % 1856 AS INT) AS width,
       |  CAST(64 + ((((hs - ((hs % 65536) + 65536) % 65536) // 65536) % 1016) + 1016) % 1016 AS INT) AS height,
       |  CAST(hs AS BIGINT) AS checksum
       | FROM sgn)""".stripMargin

  /** The LSH hyperplane constants as a DuckDB VALUES list — the oracle
    * re-verifies everything downstream of the planes (bucketing, probe
    * join, ranking); the planes themselves are pure deterministic
    * splitmix64 arithmetic shared as literals. Scientific notation
    * keeps every literal DOUBLE (a bare decimal literal is DECIMAL in
    * DuckDB and would silently decimal-ize the fold).
    */
  /** Benford first-digit expectation ln(1+1/d)/ln(10), shared as the
    * SAME double literals by the engine and the oracle (%.17e
    * round-trips a double exactly) — no cross-engine libm dependence.
    */
  private lazy val BENFORD: Seq[Double] =
    (1 to 9).map(d => math.log1p(1.0 / d) / math.log(10.0))
  private lazy val SQL_BENFORD: String =
    BENFORD.zipWithIndex.map { case (e, i) => s"(${i + 1}, ${f"$e%.17e"})" }
      .mkString(", ")

  /** lnInt(1e9) as a shared literal — the exact-kernel constant the
    * quantized spectral entropy divides against on both engines.
    */
  private lazy val SQL_LN1E9: String =
    f"${graft.functions.ExactMath.lnInt(1000000000L)}%.17e"

  /** Twiddle-table CTE `tw(m, tc, ts)` — the engine's StrictMath
    * doubles as literals when the stash is populated (full gate runs:
    * every spectral kernel stashes before the oracle dump), else
    * computed in-engine from `mSrc`'s m set (focused-dump fallback;
    * engine cos, absorbed by the 4-dp guard — the r6 behavior).
    */
  private def sqlTwiddleCte(mSrc: String): String =
    graft.TwiddleStash.sqlValues match {
      case Some(v) => s"tw(m, tc, ts) AS (VALUES $v)"
      case None =>
        s"""tw AS (SELECT m, list(cos(2.0 * pi() * d / m) ORDER BY d) AS tc,
           |  list(sin(2.0 * pi() * d / m) ORDER BY d) AS ts
           | FROM (SELECT DISTINCT m FROM $mSrc) ms,
           |  LATERAL (SELECT unnest(range(0, m)) AS d) d GROUP BY m)""".stripMargin
    }

  /** Ordered-fold direct-DFT power chain over `base(name, node, n, xs)`
    * — the bit-exact replay of Dsp.dftPowers (i-ascending folds from a
    * prepended 0.0, twiddle lookup (i·k) mod m, totals folded
    * k-ascending). Yields `{p}mean(name,node,n,xs,mu,m)`,
    * `{p}pw(name,node,n,m,k,p)` and `{p}tot(name,node,n,m,total)`.
    */
  private def sqlDftPowers(base: String, p: String): String =
    s"""${p}mean AS (SELECT name, node, n, xs,
       |  list_reduce(xs, (a, b) -> a + b) / n AS mu,
       |  (CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END) AS m
       | FROM $base WHERE n >= 8),
       |${p}dft AS (SELECT b.name, b.node, b.n, b.m, k.k AS k,
       |  list_reduce(list_prepend(0.0, list_transform(range(0, b.n),
       |    i -> (b.xs[CAST(i AS INT) + 1] - b.mu) * tw.tc[CAST((i * k.k) % b.m AS INT) + 1])), (a, b) -> a + b) AS re,
       |  list_reduce(list_prepend(0.0, list_transform(range(0, b.n),
       |    i -> (b.xs[CAST(i AS INT) + 1] - b.mu) * tw.ts[CAST((i * k.k) % b.m AS INT) + 1])), (a, b) -> a + b) AS im
       | FROM ${p}mean b JOIN tw ON tw.m = b.m,
       |  LATERAL (SELECT unnest(range(1, b.m // 2 + 1)) AS k) k),
       |${p}pw AS (SELECT name, node, n, m, k, re * re + im * im AS p FROM ${p}dft),
       |${p}tot AS (SELECT name, node, n, m,
       |  list_reduce(list_prepend(0.0, list(p ORDER BY k)), (a, b) -> a + b) AS total
       | FROM ${p}pw GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Quantized spectral entropy over [[sqlDftPowers]]' chain — the
    * replay of Dsp.spectralEntropy: q_k = ⌊(p_k/total + 1e-12)·1e9 +
    * 0.5⌋, H = Σ q_k·(lnInt(1e9) − lnInt(q_k)) folded k-ascending,
    * entropy = (H/1e9)/lnInt(m/2). Yields `{p}ent(name, node, n, m,
    * spec_entropy)` (4-dp, only total > 0 rows).
    */
  private def sqlSpectralEntropy(p: String): String =
    s"""${p}q AS (SELECT name, node, n, m, k,
       |  CAST(floor((p / total + 1e-12) * 1e9 + 0.5) AS BIGINT) AS qp
       | FROM ${p}pw JOIN ${p}tot USING (name, node, n, m) WHERE total > 0),
       |${p}ln AS (SELECT name, node, n, m, k, qp,
       |  ${graft.functions.ExactMath.sqlLnCols(
            "CASE WHEN qp >= 1 THEN qp ELSE 1 END", s"${p}a", "lnqp")}
       | FROM ${p}q),
       |${p}tm AS (SELECT name, node, n, m, k,
       |  CASE WHEN qp >= 1 THEN CAST(qp AS DOUBLE) * ($SQL_LN1E9 - lnqp) ELSE 0.0 END AS term
       | FROM ${p}ln),
       |${p}hs AS (SELECT name, node, n, m,
       |  list_reduce(list_prepend(0.0, list(term ORDER BY k)), (a, b) -> a + b) AS hsum
       | FROM ${p}tm GROUP BY 1, 2, 3, 4),
       |${p}ent AS (SELECT name, node, n, m,
       |  floor(((hsum / 1e9) / lnm2 + 1e-9) * 1e4 + 0.5) / 1e4 AS spec_entropy
       | FROM (SELECT name, node, n, m, hsum,
       |  ${graft.functions.ExactMath.sqlLnCols("m // 2", s"${p}b", "lnm2")}
       |  FROM ${p}hs))""".stripMargin

  /** cos(π·h/32) per hamming band 0..32 — Spark-shared double literals
    * (Similarity.cosEstTable), so embed_bitsketch's `est` column never
    * runs an engine cos.
    */
  private lazy val SQL_COS_EST: String =
    Similarity.cosEstTable(32).zipWithIndex
      .map { case (e, h) => s"($h, ${f"$e%.17e"})" }.mkString(", ")

  private lazy val SQL_LSH_PLANES: String =
    Similarity.hyperplanes(8, 64).zipWithIndex.map { case (row, p) =>
      s"($p, [${row.map(d => f"$d%.17e").mkString(", ")}])"
    }.mkString(", ")

  // shared oracle fragments for the ANN ladder (64-dim embeddings;
  // queries = vec_id < 10, k = 5)
  private val SQL_ANN_BASE =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)""".stripMargin

  /** Brute-force top-k CTE (`truth`) over the shared base. */
  private val SQL_ANN_TRUTH =
    """bq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
      |bscored AS (SELECT qid, n.vec_id AS nid,
      |  floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
      | FROM n CROSS JOIN bq WHERE n.vec_id != qid),
      |truth AS (SELECT qid, nid FROM (SELECT qid, nid,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
      | FROM bscored) WHERE rank <= 5)""".stripMargin

  /** LSH bucket + probe + rank CTEs → `lranked(qid, rank, nid, cos_sim)`. */
  private lazy val SQL_ANN_LSH =
    s"""pl AS (SELECT p, w FROM (VALUES $SQL_LSH_PLANES) t(p, w)),
       |lbits AS (SELECT vec_id, p,
       |  CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * w[i])) >= 0
       |    THEN '1' ELSE '0' END AS bit
       | FROM n CROSS JOIN pl),
       |lbk AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       | FROM lbits GROUP BY vec_id),
       |lnb AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN lbk USING (vec_id)),
       |lq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket AS qb
       | FROM lnb WHERE vec_id < 10),
       |lscored AS (SELECT qid, lnb.vec_id AS nid,
       |  floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
       | FROM lnb JOIN lq ON lnb.bucket = lq.qb AND lnb.vec_id != lq.qid),
       |lranked AS (SELECT qid, nid, cos_sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS INT) AS rank
       | FROM lscored)""".stripMargin

  /** The 32-plane sign-sketch constants (embed_bitsketch) — same
    * splitmix family as [[SQL_LSH_PLANES]], first 8 rows shared with
    * the LSH index.
    */
  private lazy val SQL_SKETCH_PLANES: String =
    Similarity.hyperplanes(32, 64).zipWithIndex.map { case (row, p) =>
      s"($p, [${row.map(d => f"$d%.17e").mkString(", ")}])"
    }.mkString(", ")

  /** IVF assign + probe + rank CTEs → `iranked(qid, rank, nid, cos_sim)`. */
  private val SQL_ANN_IVF =
    """ic AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
      |iasg AS (SELECT vec_id, v, nrm, cid FROM (
      |  SELECT n.vec_id, n.v, n.nrm, ic.cid,
      |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * ic.cv[i]))
      |        / (n.nrm * ic.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
      |      ic.cid ASC) AS crn
      |  FROM n CROSS JOIN ic) WHERE crn = 1),
      |iq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, cid AS qc
      | FROM iasg WHERE vec_id < 10),
      |iscored AS (SELECT qid, iasg.vec_id AS nid,
      |  floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
      | FROM iasg JOIN iq ON iasg.cid = iq.qc AND iasg.vec_id != iq.qid),
      |iranked AS (SELECT qid, nid, cos_sim,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS INT) AS rank
      | FROM iscored)""".stripMargin

  /** PQ encode + asymmetric-distance + rank CTEs →
    * `pranked(qid, rank, nid, adist)`. The four per-subspace terms sum
    * left-associated to mirror the Scala accumulation order exactly.
    */
  private val SQL_ANN_PQ =
    """pcb AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 16),
      |pss AS (SELECT unnest(range(0, 4)) AS s),
      |pdist AS (SELECT e.vec_id, pss.s, pcb.c,
      |  list_sum(list_transform(range(1, 17), j ->
      |    (e.v[pss.s * 16 + j] - pcb.cv[pss.s * 16 + j]) *
      |    (e.v[pss.s * 16 + j] - pcb.cv[pss.s * 16 + j]))) AS d2
      | FROM e CROSS JOIN pss CROSS JOIN pcb),
      |penc AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
      |  row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, c ASC) AS rn
      | FROM pdist) WHERE rn = 1),
      |pqd AS (SELECT vec_id AS qid, s, c, d2 FROM pdist WHERE vec_id < 10),
      |pparts AS (SELECT pqd.qid, penc.vec_id AS nid, pqd.s, pqd.d2
      | FROM penc JOIN pqd ON penc.s = pqd.s AND penc.c = pqd.c
      | WHERE penc.vec_id != pqd.qid),
      |pad AS (SELECT qid, nid,
      |  floor(((((max(CASE WHEN s = 0 THEN d2 END) + max(CASE WHEN s = 1 THEN d2 END))
      |    + max(CASE WHEN s = 2 THEN d2 END)) + max(CASE WHEN s = 3 THEN d2 END))
      |    + 1e-9) * 1e4 + 0.5) / 1e4 AS adist
      | FROM pparts GROUP BY qid, nid),
      |pranked AS (SELECT qid, nid, adist,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) AS INT) AS rank
      | FROM pad)""".stripMargin

  /** Unrolled engine-exact Lloyd's k-means CTE chain replaying
    * `Clustering.lloydExact` (k=8, 5 iterations, d=64) step for step:
    * ×1e6 quantized integer coordinates, first-k init, exact integer
    * argmin assignment (ties → lowest cluster), nonneg-mod floor-div
    * centroid update with empty-cluster carry-forward. The loop is
    * UNROLLED rather than a recursive CTE because the update must
    * reference the previous round's centroids twice (assignment +
    * carry-forward), which recursive working-table rules disallow.
    * Yields `qv(vec_id, label, q)` and `af(vec_id, cluster, dist)` —
    * the final assignment with its exact integer squared distance.
    */
  private def sqlLloyd(kExpr: String, capExpr: Option[String] = None): String = {
    val iters = 5
    val sb = new StringBuilder
    sb.append("qv AS (SELECT vec_id, label, list_transform(embedding, " +
      "x -> CAST(floor((CAST(x AS DOUBLE) + 1e-9) * 1e6 + 0.5) AS BIGINT)) AS q FROM embeddings),\n")
    // tv = the TRAINING set Lloyd iterates on: with a cap, the capN
    // lowest md5-ranked vectors (Clustering.lloydExact's sampled
    // training — the lsh_tune fixed-size-sample convention); without,
    // the whole corpus. The final af assignment always covers qv.
    capExpr match {
      case Some(cap) =>
        sb.append("tv AS (SELECT vec_id, q FROM qv QUALIFY row_number() OVER (ORDER BY " +
          s"CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT), vec_id) <= ($cap)),\n")
      case None =>
        sb.append("tv AS (SELECT vec_id, q FROM qv),\n")
    }
    sb.append(s"c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, " +
      s"q AS cv FROM tv QUALIFY row_number() OVER (ORDER BY vec_id) <= ($kExpr)),\n")
    def distCte(name: String, src: String, prev: String): String =
      s"$name AS (SELECT $src.vec_id, c.cluster, " +
        "list_sum(list_transform(range(1, 65), j -> (q[j] - cv[j]) * (q[j] - cv[j]))) AS dist " +
        s"FROM $src CROSS JOIN $prev c),\n"
    for (i <- 1 to iters) {
      sb.append(distCte(s"d$i", "tv", s"c${i - 1}"))
      sb.append(s"a$i AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn FROM d$i) WHERE rn = 1),\n")
      sb.append(s"s$i AS (SELECT a.cluster, t.j, sum(q[t.j]) AS s, count(*) AS n " +
        s"FROM a$i a JOIN tv USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS j) t " +
        "GROUP BY a.cluster, t.j),\n")
      sb.append(s"u$i AS (SELECT cluster, list(CAST((s - ((s % n) + n) % n) / n AS BIGINT) ORDER BY j) AS cv " +
        s"FROM s$i GROUP BY cluster),\n")
      sb.append(s"c$i AS (SELECT c.cluster, COALESCE(u.cv, c.cv) AS cv " +
        s"FROM c${i - 1} c LEFT JOIN u$i u USING (cluster)),\n")
    }
    sb.append(distCte("df", "qv", s"c$iters"))
    sb.append("af AS (SELECT vec_id, cluster, dist FROM (SELECT vec_id, cluster, dist, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn FROM df) WHERE rn = 1)")
    sb.toString
  }

  private val SQL_LLOYD: String = sqlLloyd("8")

  /** The autoCells cell count (Similarity.autoCells: the balanced
    * k = max(8, ceil(√n))) as a DuckDB scalar subquery — the oracle
    * twin of the `nCells <= 0` production path. sqrt/ceil are IEEE
    * correctly-rounded on both engines, so the derived count is
    * engine-exact at any corpus size.
    */
  private val SQL_AUTOCELLS =
    "(SELECT greatest(8, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)"

  /** The DSIR per-document integer score chain (Curation.dsirScores'
    * oracle twin): hashed-bigram bucket counts, ExactMath quantized
    * log-likelihood ratios, per-doc exact integer sums → `ds(doc_id,
    * source, sq)`. Shared by curation_dsir and sample_dsir.
    */
  private lazy val SQL_DSIR_DS: String =
    s"""ws AS (SELECT doc_id, source, lang,
       |  regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |bgl AS (SELECT doc_id, source, lang,
       |  unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bgs
       | FROM ws),
       |bg AS (SELECT doc_id, source, lang,
       |  CAST('0x' || substr(md5(bgs), 1, 8) AS BIGINT) % 4096 AS b FROM bgl),
       |raw AS (SELECT b, count(*) AS cr FROM bg GROUP BY 1),
       |tgt AS (SELECT b, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS tot_r,
       |  (SELECT count(*) FROM bg WHERE lang = 'en') AS tot_t),
       |lx AS (SELECT raw.b, coalesce(tgt.ct, 0) + 1 AS ct1, raw.cr + 1 AS cr1,
       |  tot_t + 4096 AS tt, tot_r + 4096 AS tr
       | FROM raw LEFT JOIN tgt USING (b), tot),
       |lns AS (SELECT b,
       |  ${graft.functions.ExactMath.sqlLnCols("ct1", "da", "l_ct")},
       |  ${graft.functions.ExactMath.sqlLnCols("cr1", "db", "l_cr")},
       |  ${graft.functions.ExactMath.sqlLnCols("tt", "dc", "l_tt")},
       |  ${graft.functions.ExactMath.sqlLnCols("tr", "dd", "l_tr")}
       | FROM lx),
       |llr AS (SELECT b,
       |  (CAST(floor((l_ct + 1e-9) * 1e6 + 0.5) AS BIGINT) - CAST(floor((l_tt + 1e-9) * 1e6 + 0.5) AS BIGINT))
       |  - (CAST(floor((l_cr + 1e-9) * 1e6 + 0.5) AS BIGINT) - CAST(floor((l_tr + 1e-9) * 1e6 + 0.5) AS BIGINT)) AS llr_q
       | FROM lns),
       |sc AS (SELECT doc_id, CAST(sum(llr_q) AS BIGINT) AS score_q
       | FROM bg JOIN llr USING (b) GROUP BY 1),
       |ds AS (SELECT d.doc_id, d.source, coalesce(sc.score_q, 0) AS sq
       | FROM documents d LEFT JOIN sc USING (doc_id))""".stripMargin

  /** Label-kNN-accuracy oracle with a parametric centroid count —
    * shared by the fixed-cells gate and the autoCells gate.
    */
  private def sqlLabelKnn(cellsExpr: String): String =
    s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < ($cellsExpr)),
       |asg AS (SELECT vec_id, label, v, nrm, cid FROM (
       |  SELECT n.vec_id, n.label, n.v, n.nrm, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
       |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
       |      c.cid ASC) AS crn
       |  FROM n CROSS JOIN c) WHERE crn = 1),
       |ksims AS (SELECT a.vec_id, a.label,
       |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
       |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS sim,
       |  b.vec_id AS nid, b.label AS nlabel
       | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id != b.vec_id),
       |krk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |  ORDER BY sim DESC, nid ASC) AS rn FROM ksims)
       |SELECT label, count(*) AS n,
       | CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       | floor((CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS DOUBLE)
       |   / CAST(count(*) AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS acc_1nn
       |FROM krk WHERE rn = 1 GROUP BY label ORDER BY label""".stripMargin

  /** kNN-edge CTE chain (assignment at the autoCells knob → in-cell
    * sims → rank) shared by the ann_knn_graph / ann_knn_mutual
    * oracles; yields `krk(vec_id, sim, nid, rn)`.
    */
  private lazy val SQL_KNN_EDGES =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < ($SQL_AUTOCELLS)),
      |asg AS (SELECT vec_id, v, nrm, cid FROM (
      |  SELECT n.vec_id, n.v, n.nrm, c.cid,
      |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
      |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
      |      c.cid ASC) AS crn
      |  FROM n CROSS JOIN c) WHERE crn = 1),
      |ksims AS (SELECT a.vec_id,
      |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS sim,
      |  b.vec_id AS nid
      | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id != b.vec_id),
      |krk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |  ORDER BY sim DESC, nid ASC) AS rn FROM ksims)""".stripMargin

  /** SemDeDup oracle body over a Lloyd CTE chain — shared by the
    * fixed-k gate and the autoCells production-path gate.
    */
  private def sqlSemDedup(lloyd: String): String =
    s"""WITH RECURSIVE $lloyd,
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |av AS (SELECT af.vec_id, af.cluster, af.dist, n.v, n.nrm
       | FROM af JOIN n USING (vec_id)),
       |pr AS (SELECT a.vec_id AS doc1, b.vec_id AS doc2
       | FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       | WHERE floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
       |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.3),
       |edges AS (SELECT doc1 AS a, doc2 AS b FROM pr
       |  UNION ALL SELECT doc2, doc1 FROM pr),
       |comp AS (SELECT vec_id AS doc_id, vec_id AS lab FROM embeddings
       |  UNION
       |  SELECT ed.b AS doc_id, c.lab FROM comp c JOIN edges ed ON ed.a = c.doc_id),
       |grp AS (SELECT doc_id AS vec_id, min(lab) AS group_id FROM comp GROUP BY doc_id)
       |SELECT vec_id, cluster, group_id, n_group, keep FROM (
       | SELECT g.vec_id, av.cluster, g.group_id,
       |  count(*) OVER (PARTITION BY g.group_id) AS n_group,
       |  CAST(row_number() OVER (PARTITION BY g.group_id
       |    ORDER BY av.dist DESC, g.vec_id ASC) = 1 AS INT) AS keep
       | FROM grp g JOIN av USING (vec_id))
       |ORDER BY vec_id""".stripMargin

  /** Unrolled engine-exact PCA CTE chain replaying
    * `Clustering.pcaStats` (k=4, 12 iterations, d=64): exact integer
    * second moments → HUGEINT Gram G = n·S − m·mᵀ, then quantized
    * power iteration with deflation — integer matvecs, exact-max
    * rescale (nonneg-mod floor-div), integer norm², IEEE re-quantize.
    * Magnitude note: the Rayleigh numerator Σ qv·G·qv ≈ n²·d·1e24
    * stays under HUGEINT's 1.7e38 through n ≈ 1e6 rows; beyond that
    * the quantization scale drops a decade. Yields `nn(n)`,
    * `tr(trace)`, and `lam0..lam3(lam)`.
    */
  private val SQL_PCA: String = {
    val iters = 12
    val k = 4
    val initQ = math.floor((1.0 / 8.0 + 1e-9) * 1e6 + 0.5).toLong
    val sb = new StringBuilder
    sb.append("qc AS MATERIALIZED (SELECT vec_id, t.j, CAST(floor((CAST(embedding[t.j] AS DOUBLE) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS x " +
      "FROM embeddings, (SELECT unnest(range(1, 65)) AS j) t),\n")
    sb.append("nn AS (SELECT count(DISTINCT vec_id) AS n FROM qc),\n")
    sb.append("mv AS (SELECT j, CAST(sum(x) AS HUGEINT) AS m FROM qc GROUP BY j),\n")
    sb.append("sm AS MATERIALIZED (SELECT a.j AS i, b.j AS jj, CAST(sum(a.x * b.x) AS HUGEINT) AS s " +
      "FROM qc a JOIN qc b USING (vec_id) GROUP BY 1, 2),\n")
    sb.append("g0 AS MATERIALIZED (SELECT sm.i, sm.jj, CAST(nn.n AS HUGEINT) * sm.s - mi.m * mj.m AS g " +
      "FROM sm CROSS JOIN nn JOIN mv mi ON mi.j = sm.i JOIN mv mj ON mj.j = sm.jj),\n")
    sb.append("tr AS (SELECT CAST(sum(g) AS HUGEINT) AS trace FROM g0 WHERE i = jj),\n")
    for (c <- 0 until k) {
      sb.append(s"v${c}_0 AS MATERIALIZED (SELECT CAST(unnest(range(1, 65)) AS INT) AS j, CAST($initQ AS HUGEINT) AS qv),\n")
      for (t <- 1 to iters) {
        sb.append(s"y${c}_$t AS MATERIALIZED (SELECT g.i, CAST(sum(g.g * v.qv) AS HUGEINT) AS y " +
          s"FROM g$c g JOIN v${c}_${t - 1} v ON g.jj = v.j GROUP BY g.i),\n")
        sb.append(s"mm${c}_$t AS MATERIALIZED (SELECT max(abs(y)) AS mm FROM y${c}_$t),\n")
        sb.append(s"w${c}_$t AS MATERIALIZED (SELECT y.i, CASE WHEN mm = 0 THEN v.qv ELSE " +
          "(y * 1000000 - (((y * 1000000) % mm + mm) % mm)) // mm END AS w " +
          s"FROM y${c}_$t y CROSS JOIN mm${c}_$t JOIN v${c}_${t - 1} v ON v.j = y.i),\n")
        sb.append(s"nr${c}_$t AS MATERIALIZED (SELECT CAST(sum(w * w) AS HUGEINT) AS n2 FROM w${c}_$t),\n")
        sb.append(s"v${c}_$t AS MATERIALIZED (SELECT i AS j, CAST(CAST(floor((CAST(w AS DOUBLE) / " +
          "sqrt(CAST(n2 AS DOUBLE)) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS HUGEINT) AS qv " +
          s"FROM w${c}_$t CROSS JOIN nr${c}_$t),\n")
      }
      sb.append(s"ray$c AS MATERIALIZED (SELECT CAST(sum(vi.qv * g.g * vj.qv) AS HUGEINT) AS num " +
        s"FROM g$c g JOIN v${c}_$iters vi ON vi.j = g.i JOIN v${c}_$iters vj ON vj.j = g.jj),\n")
      sb.append(s"den$c AS MATERIALIZED (SELECT CAST(sum(qv * qv) AS HUGEINT) AS den FROM v${c}_$iters),\n")
      sb.append(s"lam$c AS MATERIALIZED (SELECT CASE WHEN den = 0 THEN CAST(0 AS HUGEINT) ELSE " +
        s"(num - ((num % den + den) % den)) // den END AS lam FROM ray$c CROSS JOIN den$c),\n")
      if (c < k - 1)
        sb.append(s"g${c + 1} AS MATERIALIZED (SELECT g.i, g.jj, g.g - " +
          "((lam * vi.qv * vj.qv) - (((lam * vi.qv * vj.qv) % 1000000000000 + 1000000000000) % 1000000000000)) // 1000000000000 AS g " +
          s"FROM g$c g CROSS JOIN lam$c JOIN v${c}_$iters vi ON vi.j = g.i " +
          s"JOIN v${c}_$iters vj ON vj.j = g.jj),\n")
    }
    sb.append("comps AS (" +
      (0 until k).map(c => s"SELECT $c AS component, lam FROM lam$c")
        .mkString(" UNION ALL ") + ")")
    sb.toString
  }

  /** Oracle-SQL prefix replaying MediaDecoder.Stub.phash over `src`
    * (doc_id, text; ASCII corpus → character = byte): 4-byte shingle
    * class histogram → ×1000/n fixed-point → mean threshold → 64-bit
    * pack. All small-integer arithmetic, so the replay is exact.
    * Yields CTE `ph(doc_id, phash)`; docs shorter than 4 bytes take
    * the byte-fallback path and are absent from this corpus.
    */
  private def SQL_PHASH(src: String): String =
    // RECURSIVE up front: harmless for the pair query, required when
    // the cluster query appends its recursive closure CTE
    s"""WITH RECURSIVE src AS ($src),
       |pn AS (SELECT doc_id, length(text) AS n FROM src),
       |hh AS (SELECT doc_id,
       |  ((ascii(substr(text, CAST(i - 3 AS INT), 1)) * 131
       |    + ascii(substr(text, CAST(i - 2 AS INT), 1))) * 131
       |    + ascii(substr(text, CAST(i - 1 AS INT), 1))) * 131
       |    + ascii(substr(text, CAST(i AS INT), 1)) AS h
       | FROM src, LATERAL (SELECT unnest(range(4, length(text) + 1)) AS i) r),
       |cc AS (SELECT doc_id, xor(h, h >> 7) & 63 AS cls, count(*) AS cnt
       | FROM hh GROUP BY 1, 2),
       |sc AS (SELECT cc.doc_id, cls, (cnt * 1000) // greatest(pn.n, 1) AS lum
       | FROM cc JOIN pn USING (doc_id)),
       |tot AS (SELECT doc_id, sum(lum) AS s FROM sc GROUP BY doc_id),
       |pbits AS (SELECT sc.doc_id,
       |  sum(CASE WHEN lum > (t.s // 64)
       |    THEN CAST(CAST(1 AS UBIGINT) << CAST(cls AS INT) AS HUGEINT)
       |    ELSE 0 END) AS u
       | FROM sc JOIN tot t USING (doc_id) GROUP BY sc.doc_id),
       |ph AS (SELECT doc_id,
       |  CAST(CASE WHEN CAST(u AS UBIGINT) >= 9223372036854775808
       |    THEN CAST(u AS UBIGINT) - 18446744073709551616
       |    ELSE CAST(u AS UBIGINT) END AS BIGINT) AS phash
       | FROM pbits)""".stripMargin

  /** Pigeonhole block join + hamming over `ph` → CTE
    * `ppairs(doc1, doc2, dist)` at hamming ≤ maxDist.
    */
  private def SQL_PHASH_PAIRS(maxDist: Int): String =
    s"""phu AS (SELECT doc_id,
       |  ((CAST(phash AS HUGEINT) % 18446744073709551616 + 18446744073709551616)
       |    % 18446744073709551616) AS u
       | FROM ph),
       |pblk AS (SELECT doc_id, u, k.k AS blk,
       |  (CAST(u AS UBIGINT) >> CAST(16 * k.k AS INT)) & 65535 AS bv
       | FROM phu CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k),
       |ppairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
       |  CAST(bit_count(xor(CAST(a.u AS UBIGINT), CAST(b.u AS UBIGINT))) AS INT) AS dist
       | FROM pblk a JOIN pblk b
       |   ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin

  // oracle-SQL fragments for the dense correlation grid
  /** The engine-exact MinHash pipeline (mirrors Dedup.signatures +
    * minhashLsh): md5-low-64 base hash, splitmix permutations in
    * HUGEINT mod 2⁶⁴ (64×64 multiply decomposed into 32-bit halves —
    * the full product overflows HUGEINT), signed-BIGINT mins, raw
    * 4-slice band keys, exact-Jaccard verify. Yields CTEs `sigl`
    * (doc_id, sig) and `verjac` (doc1, doc2, jac — ALL candidate
    * pairs with their rounded exact Jaccard, unthresholded).
    */
  private def SQL_MINHASH_CTES_FOR(where: String): String =
    s"""d AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents WHERE $where),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
      |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d WHERE len(w) >= 2),
      |h0s AS MATERIALIZED (SELECT doc_id,
      |  CAST(CAST('0x' || substr(md5(s), 17, 16) AS UBIGINT) AS HUGEINT) AS h0 FROM sh),
      |hp AS (SELECT doc_id, p,
      |  xor(h0, (p * 11400714819323198485) % 18446744073709551616) AS z0,
      |  xor(z0, z0 >> 30) AS a0,
      |  ((a0 % 4294967296) * 13787848793156543929
      |    + (((a0 // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
      |    % 18446744073709551616 AS z1,
      |  xor(z1, z1 >> 27) AS a1,
      |  ((a1 % 4294967296) * 10723151780598845931
      |    + (((a1 // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
      |    % 18446744073709551616 AS z2,
      |  xor(z2, z2 >> 31) AS z3
      | FROM h0s, (SELECT CAST(unnest(range(0, 64)) AS HUGEINT) AS p) t),
      |sigs AS (SELECT doc_id, p,
      |  min(CAST(z3 - CASE WHEN z3 >= 9223372036854775808 THEN 18446744073709551616
      |    ELSE 0 END AS BIGINT)) AS m
      | FROM hp GROUP BY 1, 2),
      |sigl AS MATERIALIZED (SELECT doc_id, list(m ORDER BY p) AS sig FROM sigs GROUP BY 1),
      |banded AS (SELECT doc_id, t.b AS band,
      |  sig[(t.b * 4 + 1):(t.b * 4 + 4)] AS bh
      | FROM sigl, range(0, 16) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      | FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
      |   AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |ver AS (SELECT c.doc1, c.doc2, count(*) AS inter
      | FROM cand c JOIN sh a ON a.doc_id = c.doc1 JOIN sh b ON b.doc_id = c.doc2
      |   AND a.s = b.s
      | GROUP BY 1, 2),
      |verjac AS (SELECT v.doc1, v.doc2,
      |  floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 AS jac
      | FROM ver v JOIN sz n1 ON n1.doc_id = v.doc1 JOIN sz n2 ON n2.doc_id = v.doc2)""".stripMargin

  private val SQL_MINHASH_CTES = SQL_MINHASH_CTES_FOR("TRUE")

  /** The same engine-exact pipeline over the fixed-size hash-ranked
    * sample — the calibration-sweep corpus (dedup_lsh_tune): the 1000
    * docs with the smallest md5 rank, so calibration cost is
    * corpus-size-independent.
    */
  private val SQL_MINHASH_SAMPLED = SQL_MINHASH_CTES_FOR(
    "doc_id IN (SELECT doc_id FROM documents ORDER BY " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT), doc_id " +
      "LIMIT 1000)")

  /** Oracle for [[Anomaly.mahalanobis]], generated from the SAME index
    * loops as the operator's driver-side Cholesky and per-cell forward
    * substitution, so the two IEEE sequences cannot drift. Structure:
    * the corr grid (ff36) → the proven zscore replay → complete-cell
    * pivot → exact-integer moments → G = n·Σqqᵀ − ssᵀ (BIGINT) → the
    * Cholesky entries as lateral aliases in canonical (i, j) order →
    * per-cell y = n·q − s, forward substitution, d² = Σw²·(n−1)/n.
    */
  private def sqlMahalanobis(metrics: Seq[String], topN: Int): String = {
    val k = metrics.length
    val qcols = metrics.zipWithIndex.map { case (mname, i) =>
      s"  max(CASE WHEN name = '$mname' THEN zq END) AS q$i" }.mkString(",\n")
    val having = (0 until k).map(i => s"q$i IS NOT NULL").mkString(" AND ")
    val moms = ((0 until k).map(i => s"  CAST(sum(q$i) AS BIGINT) AS s$i") ++
      (for { i <- 0 until k; j <- 0 to i }
        yield s"  CAST(sum(q$i * q$j) AS BIGINT) AS p$i$j")).mkString(",\n")
    val gs = (for { i <- 0 until k; j <- 0 to i }
      yield s"  CAST(n * p$i$j - s$i * s$j AS DOUBLE) AS g$i$j").mkString(",\n")
    val ls = (for { i <- 0 until k; j <- 0 to i } yield {
      val base = s"g$i$j" + (0 until j).map(t => s" - l$i$t * l$j$t").mkString
      if (i == j) s"  sqrt($base) AS l$i$j" else s"  ($base) / l$j$j AS l$i$j"
    }).mkString(",\n")
    val ys = (0 until k).map(i =>
      s"  CAST(n * q$i - s$i AS DOUBLE) AS y$i").mkString(",\n")
    val ws = (0 until k).map { i =>
      val base = s"y$i" + (0 until i).map(t => s" - l$i$t * w$t").mkString
      s"  ($base) / l$i$i AS w$i"
    }.mkString(",\n")
    val q2 = (0 until k).map(i => s"w$i * w$i").mkString(" + ")
    val zsel = metrics.zipWithIndex.map { case (mname, i) =>
      s" q$i / 1e4 AS z_$mname" }.mkString(",")
    s"""WITH $SQL_CORR_CTES,
       |mxm AS (SELECT name, node, tsb, gval,
       |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM ff36),
       |qdm AS (SELECT name, node, tsb,
       |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
       |    AS HUGEINT) AS d FROM mxm),
       |stm AS (SELECT name, node, tsb, d,
       |  CAST(count(*) OVER w AS DOUBLE) AS nd,
       |  CAST(sum(d) OVER w AS DOUBLE) AS s1,
       |  CAST(sum(d * d) OVER w AS DOUBLE) AS s2
       | FROM qdm WINDOW w AS (PARTITION BY name, node)),
       |zz AS (SELECT name, node, tsb,
       |  CAST(floor(((CAST(d AS DOUBLE) - s1 / nd)
       |    / sqrt((nd * s2 - s1 * s1) / (nd * (nd - 1.0))) + 1e-9) * 1e4 + 0.5)
       |    AS BIGINT) AS zq
       | FROM stm WHERE (nd * s2 - s1 * s1) > 0),
       |pv AS (SELECT node, tsb,
       |$qcols
       | FROM zz GROUP BY 1, 2 HAVING $having),
       |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |$moms
       | FROM pv),
       |gg AS (SELECT *,
       |$gs
       | FROM mom),
       |ll AS (SELECT *,
       |$ls
       | FROM gg),
       |sc AS (SELECT pv.node, pv.tsb, ${(0 until k).map(i => s"pv.q$i").mkString(", ")},
       |$ys,
       |$ws
       | FROM pv CROSS JOIN ll)
       |SELECT node, tsb,$zsel,
       | floor((($q2) * CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9) * 1e4
       |   + 0.5) / 1e4 AS d2
       |FROM sc CROSS JOIN mom ORDER BY d2 DESC, node, tsb LIMIT $topN""".stripMargin
  }

  /** Oracle for q33_markov, generated from the SAME index loops as the
    * driver-side power iteration (the Mahalanobis device): 5×5
    * conditional-sum transition counts in one row, row-normalized with
    * the absorbing-row (r=0 → self-loop) rule, then `iters` unrolled
    * π·P steps whose 5-term sums are written in ascending-i order —
    * the exact IEEE chain the Scala loop executes.
    */
  private def sqlMarkov(types: Seq[String], iters: Int): String = {
    val k = types.length
    val cs = (for { i <- 0 until k; j <- 0 until k } yield
      s"  CAST(sum(CASE WHEN a = '${types(i)}' AND nx = '${types(j)}' THEN 1 ELSE 0 END) AS BIGINT) AS c$i$j")
      .mkString(",\n")
    val rs = (0 until k).map(i =>
      s"  " + (0 until k).map(j => s"c$i$j").mkString(" + ") + s" AS r$i").mkString(",\n")
    val ps = (for { i <- 0 until k; j <- 0 until k } yield {
      val selfv = if (i == j) "1.0" else "0.0"
      s"  CASE WHEN r$i = 0 THEN $selfv ELSE CAST(c$i$j AS DOUBLE) / CAST(r$i AS DOUBLE) END AS p$i$j"
    }).mkString(",\n")
    val pi0 = (0 until k).map(j => s"  0.2 AS pi0_$j").mkString(",\n")
    val its = (1 to iters).map { t =>
      val cols = (0 until k).map { j =>
        s"  " + (0 until k).map(i => s"pi${t - 1}_$i * p$i$j").mkString(" + ") +
          s" AS pi${t}_$j"
      }.mkString(",\n")
      s"it$t AS (SELECT *,\n$cols\n FROM it${t - 1})"
    }.mkString(",\n")
    val vals = types.zipWithIndex.map { case (t, i) => s"($i, '$t')" }.mkString(", ")
    def pick(prefix: String): String =
      "CASE t.i " + (0 until k).map(i => s"WHEN $i THEN $prefix$i").mkString(" ") + " END"
    def pickIJ(f: Int => String): String =
      "CASE t.i " + (0 until k).map(i => s"WHEN $i THEN ${f(i)}").mkString(" ") + " END"
    s"""WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id, event_type FROM events),
       |b AS (SELECT user_id, tsec, event_id, event_type,
       |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL THEN 1 ELSE 0 END AS brk
       | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
       |sd AS (SELECT user_id, tsec, event_id, event_type,
       |  sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM b),
       |px AS (SELECT event_type AS a,
       |  lead(event_type) OVER (PARTITION BY user_id, sid ORDER BY tsec, event_id) AS nx
       | FROM sd),
       |cj AS (SELECT
       |$cs
       | FROM px WHERE nx IS NOT NULL),
       |pr AS (SELECT *,
       |$rs
       | FROM cj),
       |pp AS (SELECT *,
       |$ps
       | FROM pr),
       |it0 AS (SELECT *,
       |$pi0
       | FROM pp),
       |$its
       |SELECT t.event_type,
       | ${pick("r")} AS n_out,
       | floor((${pickIJ(i => s"p$i$i")} + 1e-9) * 1e4 + 0.5) / 1e4 AS p_self,
       | floor((${pick(s"pi${iters}_")} + 1e-9) * 1e4 + 0.5) / 1e4 AS stationary
       |FROM it$iters CROSS JOIN (VALUES $vals) t(i, event_type)
       |ORDER BY t.event_type""".stripMargin
  }

  private val SQL_CORR_CTES =
    """signals4 AS (SELECT event_type AS name, 'u' || CAST(user_id % 4 AS VARCHAR) AS node,
      | CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events),
      |grid36 AS (SELECT name, node, tsec // 3600 * 3600 AS tsb,
      | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS gval
      | FROM signals4 GROUP BY 1, 2, 3),
      |spans36 AS (SELECT name, node, min(tsb) AS t0, max(tsb) AS t1 FROM grid36 GROUP BY 1, 2),
      |dense36 AS (SELECT name, node, unnest(range(t0, t1 + 1, 3600)) AS tsb FROM spans36),
      |ff36 AS (SELECT name, node, tsb,
      |  last_value(gval IGNORE NULLS) OVER (PARTITION BY name, node ORDER BY tsb
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gval
      | FROM (SELECT d.name, d.node, d.tsb, g.gval
      |   FROM dense36 d LEFT JOIN grid36 g ON d.name = g.name AND d.node = g.node AND d.tsb = g.tsb) j),
      |g2 AS (SELECT name, node, tsb // 3600 AS i, tsb // 86400 * 86400 AS b, gval FROM ff36)""".stripMargin

  /** q34 family shared plumbing — ONE definition of the sessionized
    * transition pairs and the integer-only transition model, used by
    * q34_session_surprise and its two driver-gate probe rows
    * (q34_model, q34_session_sums; r8 verdict What's wrong #1). The
    * oracle CTEs below re-derive both from raw events on every render
    * — there is NO stash branch anywhere in this family, so whichever
    * run the harness pairs with the SQL, the oracle's inputs are the
    * raw parquet rows and the kernel is BIGINT-only arithmetic.
    */
  /** Sessionized event stream (user_id, tsec, event_id, event_type,
    * sid) — the shared first stage of the q34 family; also exposed
    * alone as the `q34_sessions` probe.
    */
  private def q34Sess(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
        col("event_id"), col("event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tsec", "event_id")
    val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
      lag("tsec", 1).over(w).isNull, 1).otherwise(0)
    ev.withColumn("brk", brk)
      .withColumn("sid", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
  }

  private def q34Pairs(s: SparkSession, dir: String): DataFrame = {
    val sess = q34Sess(s, dir)
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "sid").orderBy("tsec", "event_id")
    sess.withColumn("nxt", lead("event_type", 1).over(sw))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("sid"), col("event_type").as("a"),
        col("nxt").as("nx"))
  }

  /** The ≤|event_types|²-row transition model (a, nx, c, r, qln) with
    * qln = ExactMath.qlnFix(c, r) — bounded driver state (the k²
    * collect is the model, not the data). Sorted (a, nx) for a
    * deterministic toDF order.
    */
  private def q34Model(s: SparkSession, pairs: DataFrame)
      : Array[(String, String, Long, Long, Long)] = {
    val cnt = pairs.groupBy("a", "nx").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val rowSum = cnt.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    cnt.map { case (a, nx, c) =>
      (a, nx, c, rowSum(a), graft.functions.ExactMath.qlnFix(c, rowSum(a)))
    }
  }

  /** Sessionization CTEs shared by the q34 family oracles: yields
    * `pp(user_id, sid, a, nx)` — the transition pairs.
    */
  private val SQL_Q34_SESS =
    """ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id, event_type FROM events),
      |b AS (SELECT user_id, tsec, event_id, event_type,
      |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
      |sd AS (SELECT user_id, tsec, event_id, event_type,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM b),
      |px AS (SELECT user_id, sid, event_type AS a,
      |  lead(event_type) OVER (PARTITION BY user_id, sid ORDER BY tsec, event_id) AS nx
      | FROM sd),
      |pp AS (SELECT * FROM px WHERE nx IS NOT NULL)""".stripMargin

  /** Model CTEs over `pp`: counts `md`, row totals `mr`, and the
    * integer-only fixed-point log `mq(a, nx, qln)` — the oracle
    * re-derives the SAME integers the Scala kernel produces because
    * ExactMath.sqlQlnFromCounts is BIGINT shifts/multiplies/
    * floor-divides only (qlnFix ≡ sqlQlnFromCounts; tools/qlncheck.py
    * crosses 525 pairs incl. 63-bit extremes).
    */
  private val SQL_Q34_MODEL =
    s"""md AS (SELECT a, nx, count(*) AS c FROM pp GROUP BY 1, 2),
      |mr AS (SELECT *, sum(c) OVER (PARTITION BY a) AS r FROM md),
      |mq AS (${graft.functions.ExactMath.sqlQlnFromCounts("mr")})""".stripMargin

  /** Rosner-ESD replay (mirrors Stats.esdOutliersQ): expects a CTE
    * `qp(name, node, idx, q)` — the ×1e6-quantized per-signal series in
    * time order — and yields `oix(name, node, idx)`, the flagged
    * indices. The iteration is the exact-integer formulation the Scala
    * kernel runs (integer argmax of |q·m − S| with first-index
    * tie-break, HUGEINT moment S2 = m²Σq² − mS², fixed IEEE sequence
    * for R); the critical value λ is the kernel's OWN ×1e4 integer
    * (Stats.esdLam4), shared per active-count m through EsdLamStash —
    * the oracle replays the engine's integers instead of re-deriving λ
    * through an independent lgamma t-CDF. Focused dumps that skipped
    * the ESD queries fall back to that independent closed-form
    * integer-ν Student-t CDF (A&S 26.7.3/4) under the same 200-step
    * bisection (agrees to ~1e-12; 4-dp quantization absorbs it).
    */
  private def SQL_ESD_CTES =
    s"""eser AS MATERIALIZED (SELECT name, node, count(*) AS n,
      |  least(greatest(CAST(ceil(count(*) * 0.05) AS BIGINT), 1), count(*) - 2) AS k,
      |  list(q ORDER BY idx) AS qs,
      |  CAST(sum(q) AS BIGINT) AS s0,
      |  sum(CAST(q AS HUGEINT) * q) AS q20
      | FROM qp GROUP BY 1, 2),
      |${graft.EsdLamStash.sqlValues match {
        case Some(v) => s"elam(m, lam4) AS (VALUES $v),"
        case None =>
          """ems AS (SELECT DISTINCT n - unnest(range(0, k)) AS m FROM eser WHERE k >= 1),
            |emp AS (SELECT m, 1.0 - 0.05 / (2 * m) AS p, m - 2 AS nu FROM ems WHERE m >= 3),
            |ebis AS (
            |  SELECT m, p, nu, 0 AS it, -1e6 AS lo, 1e6 AS hi FROM emp
            |  UNION ALL
            |  SELECT m, p, nu, it + 1,
            |    CASE WHEN cdf < p THEN mid ELSE lo END,
            |    CASE WHEN cdf < p THEN hi ELSE mid END
            |  FROM (
            |    SELECT m, p, nu, it, lo, hi, mid,
            |      CASE WHEN nu % 2 = 0 THEN
            |        0.5 + 0.5 * (mid / sqrt(nu + mid*mid)) * coalesce(list_sum(
            |          list_transform(range(0, nu // 2), j ->
            |            exp(lgamma(2*j + 1.0) - 2*lgamma(j + 1.0) - j*ln(4.0))
            |              * power(nu / (nu + mid*mid), j))), 0.0)
            |      ELSE
            |        0.5 + (1.0/pi()) * (atan(mid / sqrt(CAST(nu AS DOUBLE)))
            |          + (mid / sqrt(nu + mid*mid)) * sqrt(nu / (nu + mid*mid))
            |            * coalesce(list_sum(list_transform(range(0, (nu - 1) // 2), j ->
            |                exp(2*lgamma(j + 1.0) + j*ln(4.0) - lgamma(2*j + 2.0))
            |                  * power(nu / (nu + mid*mid), j))), 0.0))
            |      END AS cdf
            |    FROM (SELECT *, 0.5*(lo + hi) AS mid FROM ebis)
            |  ) WHERE it < 200
            |),
            |elam AS MATERIALIZED (SELECT m,
            |  CAST(floor(((m - 1) * 0.5*(lo + hi)
            |    / sqrt((nu + 0.5*(lo + hi)*0.5*(lo + hi)) * m) + 1e-9) * 1e4 + 0.5) AS BIGINT) AS lam4
            | FROM ebis WHERE it = 200),""".stripMargin
      }}
      |esdr AS (
      |  SELECT name, node, n, k, qs, CAST(0 AS BIGINT) AS i,
      |    s0 AS s, q20 AS q2,
      |    CAST([] AS BIGINT[]) AS removed, CAST([] AS INT[]) AS flags
      |  FROM eser WHERE k >= 1
      |  UNION ALL
      |  SELECT x.name, x.node, x.n, x.k, x.qs, x.i + 1,
      |    x.s - x.qs[CAST(-x.bst.nix AS INT)],
      |    x.q2 - CAST(x.qs[CAST(-x.bst.nix AS INT)] AS HUGEINT) * x.qs[CAST(-x.bst.nix AS INT)],
      |    list_append(x.removed, -x.bst.nix),
      |    list_append(x.flags, CASE WHEN x.s2 = 0 THEN 0
      |      WHEN CAST(floor((CAST(x.bst.d AS DOUBLE) * sqrt(CAST(x.m - 1 AS DOUBLE))
      |          / sqrt(CAST(x.s2 AS DOUBLE)) + 1e-9) * 1e4 + 0.5) AS BIGINT) > l.lam4
      |        THEN 1 ELSE 0 END)
      |  FROM (
      |    SELECT e.*, e.n - e.i AS m,
      |      list_aggregate(list_transform(range(1, CAST(e.n AS INT) + 1), j ->
      |        struct_pack(d := CASE WHEN list_contains(e.removed, j) THEN -1
      |                        ELSE abs(e.qs[CAST(j AS INT)] * (e.n - e.i) - e.s) END,
      |                    nix := -j)), 'max') AS bst,
      |      CAST(e.n - e.i AS HUGEINT) * (e.n - e.i) * e.q2
      |        - CAST(e.n - e.i AS HUGEINT) * e.s * e.s AS s2
      |    FROM esdr e WHERE e.i < e.k
      |  ) x
      |  JOIN elam l ON l.m = x.m
      |),
      |efin AS (SELECT name, node, removed, flags FROM esdr WHERE i = k),
      |enout AS (SELECT name, node, removed,
      |  coalesce(list_max(list_transform(range(1, len(flags) + 1),
      |    r -> CASE WHEN flags[CAST(r AS INT)] = 1 THEN r ELSE 0 END)), 0) AS no
      | FROM efin),
      |oix AS (SELECT name, node, unnest(removed[1:CAST(no AS INT)]) AS idx
      | FROM enout WHERE no > 0)""".stripMargin

  /** Reference decomposition replay over `ff36` (mirrors
    * ChangePoints.seasonalNoise): centered 5-median trend, then the
    * ideal lowpass as the CIRCULAR CONVOLUTION with the Dirichlet
    * kernel K(d) = (1 + 2Σ_{k≤c} cos(2πkd/m))/m over the
    * last-value-padded power-of-two window — the EXACT op sequence
    * Dsp.lowpassDirichlet runs (shared StrictMath twiddles, j- and
    * k-ascending folds), so seasonal/noise are bit-identical, not just
    * 4-dp-close. Yields `dcr(name, node, tsb, idx, raw, trend,
    * seasonal, noise)` with noise already 4-dp.
    */
  private def SQL_LOWPASS_DECOMP =
    s"""dtr AS (SELECT name, node, tsb, gval,
      |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
      |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend,
      |  CAST(row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS BIGINT) AS idx
      | FROM ff36),
      |dser AS MATERIALIZED (SELECT name, node, count(*) AS n,
      |  list(gval - trend ORDER BY idx) AS detr
      | FROM dtr GROUP BY 1, 2),
      |dpad AS (SELECT name, node, n, m,
      |  list_concat(detr, list_transform(range(0, m - n), z -> detr[CAST(n AS INT)])) AS xp,
      |  CAST(m // 24 AS BIGINT) AS c
      | FROM (SELECT name, node, n,
      |   (CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END) AS m,
      |   detr FROM dser)),
      |${sqlTwiddleCte("(SELECT m FROM dpad)")},
      |dkern AS MATERIALIZED (SELECT mc.m, mc.c,
      |  CASE WHEN mc.c >= mc.m // 2
      |    THEN list_transform(range(0, mc.m), d -> CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END)
      |    ELSE list_transform(range(0, mc.m), d ->
      |      (1.0 + 2.0 * list_reduce(list_prepend(0.0, list_transform(range(1, CAST(mc.c AS INT) + 1),
      |        k -> tw.tc[CAST((k * d) % mc.m AS INT) + 1])), (a, b) -> a + b)) / mc.m) END AS kv
      | FROM (SELECT DISTINCT m, c FROM dpad) mc JOIN tw ON tw.m = mc.m),
      |dsx AS (SELECT p.name, p.node, i.i AS idx,
      |  list_reduce(list_prepend(0.0, list_transform(range(0, p.m),
      |    j -> p.xp[CAST(j AS INT) + 1] * kn.kv[CAST((i.i - 1 - j + 2 * p.m) % p.m AS INT) + 1])), (a, b) -> a + b) AS seasonal
      | FROM dpad p JOIN dkern kn ON kn.m = p.m AND kn.c = p.c,
      |  LATERAL (SELECT unnest(range(1, CAST(p.n AS INT) + 1)) AS i) i),
      |dcr AS (SELECT t.name, t.node, t.tsb, t.idx, t.gval AS raw,
      |  t.trend, s.seasonal,
      |  floor((t.gval - t.trend - s.seasonal + 1e-9) * 1e4 + 0.5) / 1e4 AS noise
      | FROM dtr t JOIN dsx s ON s.name = t.name AND s.node = t.node AND s.idx = t.idx)""".stripMargin

  /** Exact-integer-moment NCC cells: the equi-join formulation of
    * Correlate.nccLag (quantize gval at 1e-9 of the series' max |gval|
    * into HUGEINT, explode the lags, join on (bucket, index + lag),
    * exact order-independent sums, fixed IEEE Pearson sequence) — an
    * independent replay of the Spark per-candidate kernel, which must
    * agree bit for bit. `cr` = rounded r per (obj, cand, bucket, lag).
    */
  private def SQL_NCC_CR_FROM(src: String): String =
    s"""mx AS (SELECT name, node, b, i, gval,
      |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM $src),
      |mq AS (SELECT name, node, b, i,
      |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
      |    AS HUGEINT) AS qv FROM mx),
      |lags AS (SELECT unnest(range(-3, 4)) AS lag),
      |cells AS (SELECT o.name AS obj_name, o.node AS obj_node,
      |   c.name AS cand_name, c.node AS cand_node, o.b AS b, l.lag AS lag,
      |   count(*) AS n,
      |   CAST(sum(o.qv) AS DOUBLE) AS sx, CAST(sum(c.qv) AS DOUBLE) AS sy,
      |   CAST(sum(o.qv * c.qv) AS DOUBLE) AS sxy,
      |   CAST(sum(o.qv * o.qv) AS DOUBLE) AS sxx,
      |   CAST(sum(c.qv * c.qv) AS DOUBLE) AS syy
      | FROM mq o CROSS JOIN lags l JOIN mq c ON c.i = o.i + l.lag AND c.b = o.b
      | WHERE o.name IN ('click', 'error') AND c.name NOT IN ('click', 'error')
      | GROUP BY 1, 2, 3, 4, 5, 6),
      |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
      |   CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells),
      |cr AS (SELECT obj_name, obj_node, cand_name, cand_node, b, lag,
      |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
      |    + 1e-9) * 1e4 + 0.5) / 1e4 AS r, n
      | FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0)""".stripMargin

  private val SQL_NCC_CR = SQL_NCC_CR_FROM("g2")

  private val ObjSignals = Seq("click", "error")

  // ---- e-divisive oracle builder (ad_edivisive, ad_anomaly_union) ----
  // The one kernel the r4 verdict called inexpressible: the engine now
  // runs on ×1e4 integers with md5-keyed SORT-ORDER permutations
  // (EDivisive.permuted — a sort by precomputed keys is SQL; a
  // Fisher-Yates walk is not), so the whole hierarchical permutation
  // test replays as one recursive CTE. Exact-integer distance sums via
  // nested list lambdas; let-bindings via the single-element
  // list_transform idiom so dl/dr/total are computed once per segment.

  /** `list_transform([bind], v -> body)[1]` — a SQL let-binding. */
  private def sqlLet(bind: String, v: String, body: String): String =
    s"list_transform([$bind], $v -> $body)[1]"

  /** The BFD packing fold as CTEs `t`/`rk`/`st` (shared by pack_bfd
    * and pack_compare): docs ranked (n DESC, doc_id) per lang, the
    * recursion carrying the bin-load list; each step binds the fullest
    * fitting load via [[sqlLet]] and either tops that bin up or opens
    * a new one — the exact decision sequence of Curation.packBfd.
    */
  private def sqlBfdSt(budget: Int): String = {
    val mx = s"list_max(list_transform(list_filter(s.bins, b -> b.load + r.n <= $budget), b -> b.load))"
    val binsNew = sqlLet(mx, "mx",
      "CASE WHEN mx IS NULL THEN list_append(s.bins, {'id': len(s.bins) + 1, 'load': r.n}) " +
        "ELSE " + sqlLet("list_filter(s.bins, b2 -> b2.load = mx)[1].id", "bid",
          "list_transform(s.bins, b -> CASE WHEN b.id = bid " +
            "THEN {'id': b.id, 'load': b.load + r.n} ELSE b END)") +
        " END")
    val asg = sqlLet(mx, "mx",
      "CASE WHEN mx IS NULL THEN CAST(len(s.bins) + 1 AS BIGINT) " +
        "ELSE CAST(list_filter(s.bins, b2 -> b2.load = mx)[1].id AS BIGINT) END")
    s"""t AS (SELECT lang, doc_id,
       |  CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n
       | FROM documents),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, doc_id) AS rk
       | FROM t),
       |st AS (
       |  SELECT lang, rk, doc_id, n,
       |    [{'id': CAST(1 AS BIGINT), 'load': n}] AS bins, CAST(1 AS BIGINT) AS assigned
       |  FROM rk WHERE rk = 1
       |  UNION ALL
       |  SELECT r.lang, r.rk, r.doc_id, r.n,
       |    $binsNew,
       |    $asg
       |  FROM st s JOIN rk r ON r.lang = s.lang AND r.rk = s.rk + 1)""".stripMargin
  }

  /** Max-Q struct (v, nt := −t) of the engine's bestSplitQ over a
    * 1-based BIGINT list expr; NULL when the segment is shorter than
    * 2·minSize (= the engine's (−1, 0.0) leaf). Names suffixed 0 to
    * dodge lambda-param collisions when nested under the perm loop.
    */
  /** Shared base CTEs for the greedy-selection oracles (embed_mmr /
    * embed_kcenter): quantized cells, centroid-sum relevance, the
    * top-32 candidate cut, and the candidate pairwise-sim matrix.
    */
  private val SQL_GREEDY_BASE: String =
    """mc AS MATERIALIZED (SELECT vec_id, i.i - 1 AS d,
      |  CAST(floor((CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) + 1e-9) * 1e6 + 0.5) AS HUGEINT) AS q
      | FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) i),
      |mg AS MATERIALIZED (SELECT d, sum(q) AS sg FROM mc GROUP BY 1),
      |mrel AS MATERIALIZED (SELECT vec_id,
      |  CAST(floor((CAST(sum(q * sg) AS DOUBLE) / (sqrt(CAST(sum(q * q) AS DOUBLE)) * sqrt(CAST(sum(sg * sg) AS DOUBLE))) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS relq
      | FROM mc JOIN mg USING (d) GROUP BY 1),
      |mcand AS MATERIALIZED (SELECT vec_id, relq FROM mrel ORDER BY relq DESC, vec_id LIMIT 32),
      |mcc AS MATERIALIZED (SELECT c.vec_id, d, q FROM mc c JOIN mcand USING (vec_id)),
      |msim AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b,
      |  CAST(floor((CAST(sum(x.q * y.q) AS DOUBLE) / (sqrt(CAST(sum(x.q * x.q) AS DOUBLE)) * sqrt(CAST(sum(y.q * y.q) AS DOUBLE))) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS simq
      | FROM mcc x JOIN mcc y ON x.d = y.d AND x.vec_id != y.vec_id GROUP BY 1, 2)""".stripMargin

  /** Unrolled greedy-MMR CTE chain (k steps over `mcand`/`msim`) —
    * the k-step selection is sequential by definition, so the oracle
    * replays it as k chained argmax CTEs on the same integer scores.
    * Emits `mp0..mp{k-1}` pick CTEs and `mall` unioning them.
    */
  private def sqlMmrGreedy(k: Int, scoreSql: String): String = {
    val sb = new StringBuilder
    sb.append(
      """msel0 AS MATERIALIZED (SELECT vec_id FROM mcand ORDER BY relq DESC, vec_id LIMIT 1),
        |mp0 AS MATERIALIZED (SELECT 1 AS rank, c.vec_id, c.relq, CAST(0 AS BIGINT) AS msq
        | FROM mcand c WHERE c.vec_id IN (SELECT vec_id FROM msel0))""".stripMargin)
    for (t <- 1 until k) {
      sb.append(s""",
        |mst$t AS MATERIALIZED (SELECT c.vec_id, c.relq, m.ms
        |  FROM mcand c JOIN (SELECT a AS vec_id, max(simq) AS ms FROM msim
        |     WHERE b IN (SELECT vec_id FROM msel${t - 1})
        |       AND a NOT IN (SELECT vec_id FROM msel${t - 1})
        |     GROUP BY a) m ON m.vec_id = c.vec_id),
        |mp$t AS MATERIALIZED (SELECT ${t + 1} AS rank, vec_id, relq, ms AS msq FROM mst$t
        |  ORDER BY $scoreSql DESC, vec_id LIMIT 1),
        |msel$t AS MATERIALIZED (SELECT vec_id FROM msel${t - 1} UNION ALL SELECT vec_id FROM mp$t)""".stripMargin)
    }
    sb.append(",\nmall AS (" +
      (0 until k).map(t => s"SELECT * FROM mp$t").mkString(" UNION ALL ") + ")")
    sb.toString
  }

  private def sqlEdivMaxQ(xs: String): String = {
    val dl = s"list_transform(range(1, len($xs) + 1), b -> " +
      s"CAST(coalesce(list_sum(list_transform($xs[1:CAST(b - 1 AS INT)], " +
      s"a -> abs(a - $xs[CAST(b AS INT)]))), 0) AS BIGINT))"
    val dr = s"list_transform(range(1, len($xs) + 1), b -> " +
      s"CAST(coalesce(list_sum(list_transform($xs[CAST(b + 1 AS INT):CAST(len($xs) AS INT)], " +
      s"a -> abs(a - $xs[CAST(b AS INT)]))), 0) AS BIGINT))"
    val lr = "struct_pack(l := CAST(coalesce(list_sum(dl0[1:CAST(t AS INT)]), 0) AS BIGINT), " +
      "r := tot0 - CAST(coalesce(list_sum(dr0[1:CAST(t AS INT)]), 0) AS BIGINT))"
    // engine op order: q = (m·k/(m+k))·(t1 − t2 − t3), doubles from exact ints
    val q = "(CAST(t AS DOUBLE) * CAST(ns0 - t AS DOUBLE) / (CAST(t AS DOUBLE) + CAST(ns0 - t AS DOUBLE))) * (" +
      "CAST(tot0 - lr0.l - lr0.r AS DOUBLE) * (2e0 / (CAST(t AS DOUBLE) * CAST(ns0 - t AS DOUBLE)))" +
      " - CAST(lr0.l AS DOUBLE) * (2e0 / (CAST(t AS DOUBLE) * (CAST(t AS DOUBLE) - 1e0)))" +
      " - CAST(lr0.r AS DOUBLE) * (2e0 / (CAST(ns0 - t AS DOUBLE) * (CAST(ns0 - t AS DOUBLE) - 1e0))))"
    val tlam = sqlLet(lr, "lr0", s"struct_pack(v := $q, nt := -t)")
    var body = s"list_aggregate(list_transform(range(5, ns0 - 5 + 1), t -> $tlam), 'max')"
    body = sqlLet("CAST(coalesce(list_sum(dr0), 0) AS BIGINT)", "tot0", body)
    body = sqlLet(dr, "dr0", body)
    body = sqlLet(dl, "dl0", body)
    sqlLet(s"len($xs)", "ns0", body)
  }

  /** The recursive segmentation + final cp rows over `ff36`, on the
    * column `srcCol` CTE `esrc(name, node, tsb, med)` the caller
    * prepends (median-filtered series). Yields the full query text
    * from `eqs` on; 19 permutations (the smallest count admitting
    * p ≤ 0.05 — significance ⟺ no permutation reaches q0).
    */
  private def sqlEdivBody(perms: Int): String = {
    val permList = "list_transform(list_sort(list_transform(range(1, len(xs0) + 1), si -> " +
      "struct_pack(kk := k.kls[CAST(pp + 1 AS INT)][CAST(s.lo + si AS INT)], si := si, " +
      "vv := xs0[CAST(si AS INT)]))), st -> st.vv)"
    val qps = s"list_transform(range(0, $perms), pp -> " +
      sqlLet(permList, "pxs0", sqlEdivMaxQ("pxs0") + ".v") + ")"
    val res = sqlLet("e.qs[CAST(s.lo + 1 AS INT):CAST(s.hi AS INT)]", "xs0",
      sqlLet(sqlEdivMaxQ("xs0"), "bst0",
        "struct_pack(bst := bst0, sig := CASE WHEN bst0 IS NULL THEN FALSE ELSE " +
          s"(CAST(len(list_filter($qps, qq -> qq >= bst0.v)) + 1 AS DOUBLE) / CAST(${perms + 1} AS DOUBLE)) <= 5e-2 END)"))
    s"""eqs AS MATERIALIZED (SELECT name, node, count(*) AS n,
       |  list(CAST(floor((med + 1e-9) * 1e4 + 0.5) AS BIGINT) ORDER BY tsb) AS qs,
       |  list(tsb ORDER BY tsb) AS tsbs
       | FROM esrc GROUP BY 1, 2),
       |ekey AS MATERIALIZED (SELECT name, node, p, list(
       |    CAST(hu - CASE WHEN hu >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT)
       |    ORDER BY i) AS kl
       | FROM (SELECT e.name, e.node, pp.p, ii.i,
       |    CAST(CAST('0x' || substr(md5(e.name || '|' || e.node || '|' || CAST(pp.p AS VARCHAR) || '|' || CAST(ii.i AS VARCHAR)), 17, 16) AS UBIGINT) AS HUGEINT) AS hu
       |   FROM eqs e, LATERAL (SELECT unnest(range(0, $perms)) AS p) pp,
       |        LATERAL (SELECT unnest(range(0, e.n)) AS i) ii)
       | GROUP BY 1, 2, 3),
       |ekl AS MATERIALIZED (SELECT name, node, list(kl ORDER BY p) AS kls FROM ekey GROUP BY 1, 2),
       |eseg AS (
       |  SELECT name, node, CAST(0 AS BIGINT) AS lo, n AS hi, 'todo' AS kind,
       |    CAST(0 AS BIGINT) AS tau, 0e0 AS q
       |  FROM eqs
       |  UNION ALL
       |  SELECT g.name, g.node, u.r.lo, u.r.hi, u.r.kind, u.r.tau, u.r.q
       |  FROM (
       |    SELECT s.name, s.node, s.lo, s.hi, $res AS res
       |    FROM (SELECT * FROM eseg WHERE kind = 'todo') s
       |    JOIN eqs e ON e.name = s.name AND e.node = s.node
       |    JOIN ekl k ON k.name = s.name AND k.node = s.node
       |  ) g,
       |  LATERAL unnest(list_filter([
       |    struct_pack(kind := 'cp', lo := g.lo, hi := g.hi,
       |      tau := g.lo + (-g.res.bst.nt), q := g.res.bst.v),
       |    struct_pack(kind := 'todo', lo := g.lo, hi := g.lo + (-g.res.bst.nt),
       |      tau := CAST(0 AS BIGINT), q := 0e0),
       |    struct_pack(kind := 'todo', lo := g.lo + (-g.res.bst.nt), hi := g.hi,
       |      tau := CAST(0 AS BIGINT), q := 0e0)
       |  ], rr -> g.res.bst IS NOT NULL AND g.res.sig)) u(r)
       |),
       |ecp AS (SELECT c.name, c.node, q.tsbs[CAST(c.tau AS INT) + 1] AS cp_tsb,
       |  c.tau AS cp_idx,
       |  floor((c.q / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS qhat
       | FROM eseg c JOIN eqs q ON q.name = c.name AND q.node = c.node
       | WHERE c.kind = 'cp')""".stripMargin
  }

  /** The full anomaly-union CTE chain over a grid CTE `src(name,
    * node, tsb, gval)`: median-5 trend (dtr), measured lowpass cutoff
    * (DFT replay of Dsp.dominantPeriod gating a per-(m,c) Dirichlet
    * kernel), 4-dp noise (dcr), k-sigma outliers (outl), and the
    * e-divisive changepoint branch on the trend (esrc -> ecp via
    * [[sqlEdivBody]]). Shared by ad_anomaly_union (src = ff36) and
    * advisor_report (src = the gated objective slice).
    */
  private def sqlUnionAnomalies(src: String, perms: Int): String =
    s"""|dtr AS (SELECT name, node, tsb, gval,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend,
         |  CAST(row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS BIGINT) AS idx
         | FROM $src),
         |rser AS MATERIALIZED (SELECT name, node, count(*) AS n, list(gval ORDER BY tsb) AS xs
         | FROM $src GROUP BY 1, 2),
         |${sqlTwiddleCte("(SELECT (CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END) AS m FROM rser)")},
         |${sqlDftPowers("rser", "r")},
         |rfin AS (SELECT w.name, w.node, w.n, w.m, t.total,
         |  list_aggregate(list_filter(list_transform(list_zip(list(w.p ORDER BY w.k), list(w.k ORDER BY w.k)),
         |    z -> CASE WHEN z[2] >= greatest(1, CAST(ceil(3.0 * w.m / w.n) AS BIGINT))
         |         THEN struct_pack(v := z[1], nk := -z[2]) ELSE NULL END),
         |    s -> s IS NOT NULL), 'max') AS bst
         | FROM rpw w JOIN rtot t USING (name, node, n, m)
         | GROUP BY 1, 2, 3, 4, 5),
         |ccut AS (SELECT d.name, d.node, d.n, d.m,
         |  CASE WHEN r.bst IS NOT NULL AND r.total > 0 AND r.bst.v / r.total >= 0.2
         |    THEN greatest(0, CAST(trunc(((1.25 / ((CAST(d.m AS DOUBLE) / (-r.bst.nk)) * 3600.0)) * 3600.0) * d.m) AS BIGINT))
         |    ELSE greatest(0, CAST(trunc(((1e0 / 86400e0) * 3600e0) * d.m) AS BIGINT)) END AS c
         | FROM (SELECT name, node, count(*) AS n,
         |    (CASE WHEN count(*) <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(count(*) - 1)) END) AS m
         |   FROM $src GROUP BY 1, 2) d
         | LEFT JOIN rfin r ON r.name = d.name AND r.node = d.node),
         |dser AS MATERIALIZED (SELECT name, node, count(*) AS n,
         |  list(gval - trend ORDER BY idx) AS detr
         | FROM dtr GROUP BY 1, 2),
         |dpad AS (SELECT s.name, s.node, s.n, u.m,
         |  list_concat(s.detr, list_transform(range(0, u.m - s.n), z -> s.detr[CAST(s.n AS INT)])) AS xp,
         |  u.c
         | FROM dser s JOIN ccut u ON u.name = s.name AND u.node = s.node),
         |dkern AS MATERIALIZED (SELECT mc.m, mc.c,
         |  CASE WHEN mc.c >= mc.m // 2
         |    THEN list_transform(range(0, mc.m), d -> CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END)
         |    ELSE list_transform(range(0, mc.m), d ->
         |      (1.0 + 2.0 * list_reduce(list_prepend(0.0, list_transform(range(1, CAST(mc.c AS INT) + 1),
         |        k -> tw.tc[CAST((k * d) % mc.m AS INT) + 1])), (a, b) -> a + b)) / mc.m) END AS kv
         | FROM (SELECT DISTINCT m, c FROM dpad) mc JOIN tw ON tw.m = mc.m),
         |dsx AS (SELECT p.name, p.node, i.i AS idx,
         |  list_reduce(list_prepend(0.0, list_transform(range(0, p.m),
         |    j -> p.xp[CAST(j AS INT) + 1] * kn.kv[CAST((i.i - 1 - j + 2 * p.m) % p.m AS INT) + 1])), (a, b) -> a + b) AS seasonal
         | FROM dpad p JOIN dkern kn ON kn.m = p.m AND kn.c = p.c,
         |  LATERAL (SELECT unnest(range(1, CAST(p.n AS INT) + 1)) AS i) i),
         |dcr AS (SELECT t.name, t.node, t.tsb, t.idx,
         |  floor((t.gval - t.trend - s.seasonal + 1e-9) * 1e4 + 0.5) / 1e4 AS noise
         | FROM dtr t JOIN dsx s ON s.name = t.name AND s.node = t.node AND s.idx = t.idx),
         |nser AS (SELECT name, node, count(*) AS n, list(noise ORDER BY idx) AS nl,
         |  list(tsb ORDER BY idx) AS ntsb
         | FROM dcr GROUP BY 1, 2),
         |nstat AS (SELECT name, node, n, nl, ntsb,
         |  list_reduce(nl, (a, b) -> a + b) / n AS mu
         | FROM nser),
         |nsig AS (SELECT name, node, n, nl, ntsb, mu,
         |  CASE WHEN n > 1 THEN sqrt(list_reduce(list_transform(nl, v -> (v - mu) * (v - mu)),
         |    (a, x) -> a + x) / (n - 1)) ELSE 0.0 END AS sigma
         | FROM nstat),
         |outl AS (SELECT name, node, ntsb[CAST(i.i AS INT)] AS tsb
         | FROM nsig, LATERAL (SELECT unnest(range(1, n + 1)) AS i) i
         | WHERE sigma > 0
         |   AND floor((abs((nl[CAST(i.i AS INT)] - mu) / sigma) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3e0),
         |esrc AS (SELECT name, node, tsb, trend AS med FROM dtr),
         |${sqlEdivBody(perms)}""".stripMargin


  /** Flagship: the advisor's correlation ranking on sf0.001 (driver
    * smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame =
    Correlate.topCorr(Correlate.nccLag(corrGrid(spark, "/root/testdata/sf0.001"), ObjSignals), 5)

  private case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

  private def defs: Seq[Q] = Seq(

    // ================= A. relational / OLAP =================
    Q("q01_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          avgDec(col("l_quantity")).as("avg_qty"),
          avgDec(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q02_join_agg", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("oyear"))
        .agg(
          sum(dec(col("l_extendedprice")) * (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name", "oyear")
    }, Some(
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS oyear,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, oyear ORDER BY n_name, oyear""".stripMargin)),

    Q("q03_topk", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sumDec(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(10)
    }, Some(
      """SELECT c_custkey, c_name,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin)),

    Q("q04_window_rank", (s, dir) => {
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc)
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          rank().over(w).as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("c_nationkey", "rnk", "c_custkey")
    }, Some(
      """SELECT c_nationkey, c_custkey, c_acctbal, rnk FROM (
        | SELECT c_nationkey, c_custkey, c_acctbal,
        |  rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk
        | FROM customer) t
        |WHERE rnk <= 3 ORDER BY c_nationkey, rnk, c_custkey""".stripMargin)),

    Q("q05_star_broadcast", (s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"), sumDec(col("o_totalprice")).as("rev"))
        .orderBy("r_name", "n_name")
    }, Some(
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    Q("q06_distinct", (s, dir) => {
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          countDistinct(col("c_custkey")).as("n_unique_cust"),
          count(lit(1)).as("n_cust"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
        | count(DISTINCT c_custkey) AS n_unique_cust, count(*) AS n_cust
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("q07_semi_anti", (s, dir) => {
      val c = Tables.customer(s, dir)
      val oc = Tables.orders(s, dir).select("o_custkey").distinct()
      c.join(oc, c("c_custkey") === oc("o_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(
          sum(when(col("o_custkey").isNotNull, 1).otherwise(0)).cast("bigint").as("with_orders"),
          sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("bigint").as("without_orders"))
        .orderBy("c_nationkey")
    }, Some(
      """SELECT c_nationkey,
        | CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS without_orders
        |FROM customer LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        | ON c_custkey = o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    Q("q08_conditional_agg", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("oyear"))
        .agg(
          sum(when(col("o_orderpriority").like("1%"), 1).otherwise(0)).cast("bigint").as("n_urgent"),
          sum(when(col("o_orderpriority").like("2%"), 1).otherwise(0)).cast("bigint").as("n_high"),
          sum(when(col("o_totalprice") > 100000, dec(col("o_totalprice")))
            .otherwise(expr("CAST(0 AS DECIMAL(12,2))"))).cast("double").as("big_rev"),
          count(lit(1)).as("n_orders"))
        .orderBy("oyear")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS oyear,
        | CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        | CAST(sum(CASE WHEN o_orderpriority LIKE '2%' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | CAST(sum(CASE WHEN o_totalprice > 100000 THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS big_rev,
        | count(*) AS n_orders
        |FROM orders GROUP BY oyear ORDER BY oyear""".stripMargin)),

    Q("q09_rollup", (s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), sumDec(col("c_acctbal")).as("acct_sum"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_cust"), col("acct_sum"))
        .orderBy("region_name", "nation_name")
    }, Some(
      """SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
        | count(*) AS n_cust, CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acct_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name""".stripMargin)),

    Q("q10_sessionize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"), min("tsec").as("start_ts"), max("tsec").as("end_ts"))
        .orderBy("user_id", "sid")
    }, Some(
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id FROM events),
        |b AS (SELECT user_id, tsec, event_id,
        |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |s2 AS (SELECT user_id, tsec,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        | FROM b)
        |SELECT user_id, sid, count(*) AS n_events, min(tsec) AS start_ts, max(tsec) AS end_ts
        |FROM s2 GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)),

    Q("q29_session_cooccur", (s, dir) => {
      // market-basket affinity over sessions: which event types happen
      // TOGETHER in a session (unordered — q22_funnel is the ordered
      // counterpart). Per-session type set is bounded by the type
      // domain, so the pair expansion is in-task and the aggregate is
      // |types|² rows regardless of event volume.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).cast("bigint"))
        .groupBy("user_id", "sid")
        .agg(sort_array(collect_set(col("event_type"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(expr(
          "flatten(transform(ss, (a, i) -> transform(slice(ss, i + 2, size(ss)), " +
            "b -> struct(a AS ta, b AS tb))))")).as("pr"))
        .groupBy(col("pr.ta").as("type_a"), col("pr.tb").as("type_b"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("type_a", "type_b")
    }, Some(
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_id, event_type FROM events),
        |b AS (SELECT user_id, tsec, event_id, event_type,
        |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |s2 AS (SELECT user_id, event_type,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        | FROM b),
        |p AS (SELECT DISTINCT user_id, sid, event_type FROM s2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        | count(*) AS n_sessions
        |FROM p a JOIN p b ON a.user_id = b.user_id AND a.sid = b.sid
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q30_event_paths", (s, dir) => {
      // path mining: the frequency table of 3-step event-type
      // sequences WITHIN a session (q22_funnel fixes one target path;
      // this surfaces all of them). lead() windows stay in-partition,
      // the aggregate output is ≤ |types|³ rows regardless of volume.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      val ws = Window.partitionBy("user_id", "sid").orderBy("tsec", "event_id")
      ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).cast("bigint"))
        .withColumn("step2", lead("event_type", 1).over(ws))
        .withColumn("step3", lead("event_type", 2).over(ws))
        .filter(col("step3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy("step1", "step2", "step3")
    }, Some(
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_id, event_type FROM events),
        |b AS (SELECT user_id, tsec, event_id, event_type,
        |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |s2 AS (SELECT user_id, tsec, event_id, event_type,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        | FROM b),
        |p AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER ws AS step2,
        |  lead(event_type, 2) OVER ws AS step3
        | FROM s2 WINDOW ws AS (PARTITION BY user_id, sid ORDER BY tsec, event_id))
        |SELECT step1, step2, step3, count(*) AS n_paths
        |FROM p WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    Q("q31_attribution", (s, dir) => {
      // last-touch attribution: each purchase credits the most recent
      // NON-purchase event earlier in the same session; the session
      // break doubles as the lookback cutoff. One windowed pass —
      // no self-join of the event stream against itself.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      val ws = Window.partitionBy("user_id", "sid").orderBy("tsec", "event_id")
      val withTouch = ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).cast("bigint"))
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")), true)
          .over(ws.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("event_type") === "purchase" && col("touch").isNotNull)
      val byTouch = withTouch.groupBy(col("touch").as("touch_type"))
        .agg(count(lit(1)).as("n_conversions"))
      byTouch
        .withColumn("share", r4(col("n_conversions").cast("double") /
          sum("n_conversions").over(Window.partitionBy())))
        .orderBy("touch_type")
    }, Some(
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_id, event_type FROM events),
        |b AS (SELECT user_id, tsec, event_id, event_type,
        |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |s2 AS (SELECT user_id, tsec, event_id, event_type,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        | FROM b),
        |t AS (SELECT event_type,
        |  last_value(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id, sid ORDER BY tsec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM s2),
        |c AS (SELECT touch AS touch_type, count(*) AS n_conversions FROM t
        | WHERE event_type = 'purchase' AND touch IS NOT NULL GROUP BY 1)
        |SELECT touch_type, n_conversions,
        | floor((CAST(n_conversions AS DOUBLE) / sum(n_conversions) OVER () + 1e-9)
        |   * 1e4 + 0.5) / 1e4 AS share
        |FROM c ORDER BY touch_type""".stripMargin)),

    Q("q32_bounce_rate", (s, dir) => {
      // bounce rate by session entry type: single-event sessions over
      // all sessions, keyed by the first event — the engagement
      // diagnostic next to q23_retention. One session rollup, then a
      // |types|-row aggregate.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      val ws = Window.partitionBy("user_id", "sid").orderBy("tsec", "event_id")
      ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).cast("bigint"))
        .withColumn("rn", row_number().over(ws))
        .groupBy("user_id", "sid")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("entry_type"),
          count(lit(1)).as("sz"))
        .groupBy("entry_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum((col("sz") === 1).cast("long")).as("n_bounce"))
        .withColumn("bounce_rate",
          r4(col("n_bounce").cast("double") / col("n_sessions")))
        .orderBy("entry_type")
    }, Some(
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_id, event_type FROM events),
        |b AS (SELECT user_id, tsec, event_id, event_type,
        |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |s2 AS (SELECT user_id, tsec, event_id, event_type,
        |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        | FROM b),
        |r AS (SELECT user_id, sid, event_type,
        |  row_number() OVER (PARTITION BY user_id, sid ORDER BY tsec, event_id) AS rn
        | FROM s2),
        |ses AS (SELECT user_id, sid,
        |  max(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
        |  count(*) AS sz
        | FROM r GROUP BY 1, 2),
        |agg AS (SELECT entry_type, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce
        | FROM ses GROUP BY 1)
        |SELECT entry_type, n_sessions, n_bounce,
        | floor((CAST(n_bounce AS DOUBLE) / n_sessions + 1e-9) * 1e4 + 0.5) / 1e4 AS bounce_rate
        |FROM agg ORDER BY entry_type""".stripMargin)),

    Q("profile_table", (s, dir) => {
      // dataset profiling (the pre-ingest audit every pipeline runs):
      // null/distinct/min/max per column in ONE corpus scan — columns
      // unpivot to (name, value) rows in-task, then a single keyed
      // aggregate. Exact distinct counts here; the 100 TB path swaps
      // in HLL (sketch_approx_distinct) per column, same shape.
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      Tables.lineitem(s, dir)
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*)).as("kv"))
        .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v").isNull.cast("long")).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("col_name")
    }, Some(
      """WITH u AS (
        |  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', l_quantity FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT col_name, count(*) AS n_rows,
        | CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | count(DISTINCT v) AS n_distinct,
        | min(v) AS min_v, max(v) AS max_v
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("profile_drift", (s, dir) => {
      // train/serve skew monitor: per-column standardized mean
      // difference and variance ratio between two deterministic halves
      // of the table (in production: training snapshot vs serving
      // window). Same one-scan unpivot shape as profile_table; moments
      // are exact quantized integers, so the SMD is a fixed IEEE
      // sequence — the alarm fires identically on any engine.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = Tables.lineitem(s, dir)
        .withColumn("half", (col("l_orderkey") % 2).cast("int"))
      val cells = li.select(col("half"),
          explode(array(cols.map(c =>
            struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*)).as("kv"))
        .select(col("half"), col("kv.col_name").as("col_name"),
          qint(col("kv.v"), 1e4).as("q"))
      val m = cells.groupBy("col_name", "half")
        .agg(count(lit(1)).as("n"), sum("q").cast("double").as("s1"),
          sum(col("q") * col("q")).cast("double").as("s2"))
      val a = m.filter(col("half") === 0)
        .select(col("col_name"), col("n").as("n_a"), col("s1").as("s1a"), col("s2").as("s2a"))
      val b = m.filter(col("half") === 1)
        .select(col("col_name").as("cb"), col("n").as("n_b"), col("s1").as("s1b"))
      val nad = col("n_a").cast("double")
      val nbd = col("n_b").cast("double")
      a.join(b, col("col_name") === col("cb")).drop("cb")
        .withColumn("va", (nad * col("s2a") - col("s1a") * col("s1a")) / (nad * nad))
        .filter(col("va") > 0)
        .select(col("col_name"), col("n_a"), col("n_b"),
          r4(col("s1a") / nad / 1e4).as("mean_a"),
          r4(col("s1b") / nbd / 1e4).as("mean_b"),
          r4((col("s1b") / nbd - col("s1a") / nad) / sqrt(col("va"))).as("smd"))
        .orderBy("col_name")
    }, Some(
      """WITH u AS (
        |  SELECT l_orderkey % 2 AS half, 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        |  UNION ALL SELECT l_orderkey % 2, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey % 2, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey % 2, 'l_tax', l_tax FROM lineitem),
        |q AS (SELECT half, col_name,
        |  CAST(floor((v + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS q FROM u),
        |m AS (SELECT col_name, half, count(*) AS n,
        |  CAST(sum(q) AS DOUBLE) AS s1, CAST(sum(q * q) AS DOUBLE) AS s2
        | FROM q GROUP BY 1, 2),
        |j AS (SELECT a.col_name, a.n AS n_a, b.n AS n_b,
        |  a.s1 AS s1a, a.s2 AS s2a, b.s1 AS s1b,
        |  CAST(a.n AS DOUBLE) AS nad, CAST(b.n AS DOUBLE) AS nbd
        | FROM m a JOIN m b ON a.col_name = b.col_name AND a.half = 0 AND b.half = 1),
        |f AS (SELECT *, (nad * s2a - s1a * s1a) / (nad * nad) AS va FROM j)
        |SELECT col_name, n_a, n_b,
        | floor((s1a / nad / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_a,
        | floor((s1b / nbd / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_b,
        | floor(((s1b / nbd - s1a / nad) / sqrt(va) + 1e-9) * 1e4 + 0.5) / 1e4 AS smd
        |FROM f WHERE va > 0 ORDER BY col_name""".stripMargin)),

    Q("ts_calendar_profile", (s, dir) =>
      // the seasonal fingerprint ops teams read before setting alert
      // windows: per-signal hour-of-day mean and its deviation from
      // the signal's overall mean. One keyed aggregate (|signals|·24
      // output rows) + an in-frame window for the overall mean.
      {
        val qv = qint(col("gval"), 1e4)
        val byHour = grid(s, dir)
          .withColumn("hour", ((col("tsb") % 86400) / 3600).cast("int"))
          .select(col("name"), col("node"), col("hour"), qv.as("q"))
          .groupBy("name", "node", "hour")
          .agg(count(lit(1)).as("n"),
            // keep the exact DECIMAL sum: the overall mean re-aggregates
            // it in a window, which must stay order-independent
            sum("q").cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("s1d"))
        val w = Window.partitionBy("name", "node")
        byHour
          .withColumn("s1", col("s1d").cast("double"))
          .withColumn("gs", sum("s1d").over(w).cast("double"))
          .withColumn("gn", sum("n").over(w).cast("double"))
          .select(col("name"), col("node"), col("hour"), col("n"),
            r4(col("s1") / col("n") / 1e4).as("hour_mean"),
            r4((col("s1") / col("n") - col("gs") / col("gn")) / 1e4).as("dev"))
          .orderBy("name", "node", "hour")
      },
    Some(
      s"""$WITH_GRID,
         |q AS (SELECT name, node, CAST((tsb % 86400) // 3600 AS INTEGER) AS hour,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS q FROM grid),
         |h AS (SELECT name, node, hour, count(*) AS n, sum(q) AS s1h
         | FROM q GROUP BY 1, 2, 3),
         |wq AS (SELECT name, node, hour, n, CAST(s1h AS DOUBLE) AS s1,
         |  CAST(sum(s1h) OVER (PARTITION BY name, node) AS DOUBLE) AS gs,
         |  CAST(sum(n) OVER (PARTITION BY name, node) AS DOUBLE) AS gn FROM h)
         |SELECT name, node, hour, n,
         | floor((s1 / n / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS hour_mean,
         | floor(((s1 / n - gs / gn) / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS dev
         |FROM wq ORDER BY name, node, hour""".stripMargin)),

    Q("ts_stability", (s, dir) =>
      // tsfeatures stability/lumpiness: variance of day-tile means and
      // tile variances per signal — the two-number "did this signal
      // change character" feature for fleet-wide scans. Day tiles with
      // minTile 4 because the raw (unfilled) grid is sparse: ~9
      // occupied 15-min cells per signal-day at the driver's SF.
      TimeSeries.stabilityLumpiness(grid(s, dir), tileSec = 86400L, minTile = 4)
        .orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |qg AS (SELECT name, node, tsb // 86400 AS tile,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS q FROM grid),
         |tl AS (SELECT name, node, tile, count(*) AS nt, sum(q) AS s1, sum(q * q) AS s2
         | FROM qg GROUP BY 1, 2, 3),
         |tq AS (SELECT name, node,
         |  CAST(floor((CAST(s1 AS DOUBLE) / nt2 / 1e4 + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS qm,
         |  CAST(floor(((nt2 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |    / (nt2 * (nt2 - 1e0)) / 1e8 + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS qvr
         | FROM (SELECT *, CAST(nt AS DOUBLE) AS nt2 FROM tl WHERE nt >= 4) t),
         |rl AS (SELECT name, node, count(*) AS t,
         |  CAST(sum(qm) AS DOUBLE) AS m1, CAST(sum(qm * qm) AS DOUBLE) AS m2,
         |  CAST(sum(qvr) AS DOUBLE) AS v1, CAST(sum(qvr * qvr) AS DOUBLE) AS v2
         | FROM tq GROUP BY 1, 2)
         |SELECT name, node, t AS n_tiles,
         | floor(((td * m2 - m1 * m1) / (td * (td - 1e0)) / 1e8 + 1e-9) * 1e4 + 0.5) / 1e4 AS stability,
         | floor(((td * v2 - v1 * v1) / (td * (td - 1e0)) / 1e8 + 1e-9) * 1e4 + 0.5) / 1e4 AS lumpiness
         |FROM (SELECT *, CAST(t AS DOUBLE) AS td FROM rl WHERE t >= 2) f
         |ORDER BY name, node""".stripMargin)),

    Q("ts_flat_spots", (s, dir) =>
      // plateau / stuck-sensor detector: longest run of identical
      // quantized grid values per signal (gaps-and-islands run ids,
      // exact integers end to end)
      TimeSeries.flatSpots(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |qg AS (SELECT name, node, tsb,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS BIGINT) AS qv FROM grid),
         |r AS (SELECT name, node, qv,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb)
         |  - row_number() OVER (PARTITION BY name, node, qv ORDER BY tsb) AS grp
         | FROM qg),
         |runs AS (SELECT name, node, qv, grp, count(*) AS len FROM r GROUP BY 1, 2, 3, 4)
         |SELECT name, node, count(*) AS n_runs, max(len) AS flat_len
         |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("ts_crossings", (s, dir) =>
      // median-crossing count (catch22): high for noise, low for
      // trends/regimes; the median is an exact ELEMENT of the
      // quantized values, so every comparison is integer-exact
      TimeSeries.medianCrossings(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |qg AS (SELECT name, node, tsb,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS BIGINT) AS qv FROM grid),
         |st AS (SELECT name, node, qv, tsb,
         |  row_number() OVER (PARTITION BY name, node ORDER BY qv, tsb) AS rv,
         |  count(*) OVER (PARTITION BY name, node) AS n FROM qg),
         |md AS (SELECT name, node, qv AS med FROM st WHERE rv = (n + 1) // 2),
         |ab AS (SELECT q.name, q.node,
         |  CASE WHEN q.qv > m.med THEN 1 ELSE 0 END AS above,
         |  lag(CASE WHEN q.qv > m.med THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY q.name, q.node ORDER BY q.tsb) AS prev
         | FROM qg q JOIN md m ON m.name = q.name AND m.node = q.node)
         |SELECT name, node, count(*) AS n,
         | CAST(sum(CASE WHEN prev IS NOT NULL AND prev != above THEN 1 ELSE 0 END) AS BIGINT) AS crossings
         |FROM ab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("ts_turning_points", (s, dir) => {
      // turning-point rate (catch22 family): share of interior grid
      // samples that are strict local extrema — high for noise, low
      // for smooth trends; complements ts_crossings. Grid values are
      // exact-decimal-derived doubles, so the strict comparisons are
      // engine-deterministic.
      val w = Window.partitionBy("name", "node").orderBy("tsb")
      val turn = (col("gval") > col("pv") && col("gval") > col("nv")) ||
        (col("gval") < col("pv") && col("gval") < col("nv"))
      grid(s, dir)
        .withColumn("pv", lag("gval", 1).over(w))
        .withColumn("nv", lead("gval", 1).over(w))
        .filter(col("pv").isNotNull && col("nv").isNotNull)
        .groupBy("name", "node")
        .agg(count(lit(1)).as("n_interior"),
          sum(turn.cast("long")).as("n_turns"))
        .select(col("name"), col("node"), col("n_interior"), col("n_turns"),
          r4(col("n_turns") / col("n_interior")).as("turn_rate"))
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID,
         |nb AS (SELECT name, node, gval,
         |  lag(gval) OVER (PARTITION BY name, node ORDER BY tsb) AS pv,
         |  lead(gval) OVER (PARTITION BY name, node ORDER BY tsb) AS nv
         | FROM grid)
         |SELECT name, node, count(*) AS n_interior,
         | CAST(sum(CASE WHEN (gval > pv AND gval > nv) OR (gval < pv AND gval < nv)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_turns,
         | floor((CAST(sum(CASE WHEN (gval > pv AND gval > nv) OR (gval < pv AND gval < nv)
         |   THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS turn_rate
         |FROM nb WHERE pv IS NOT NULL AND nv IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("ts_psi", (s, dir) =>
      // Population Stability Index first-half vs second-half per
      // signal — the distribution-shift monitor (PSI > 0.25 = act);
      // exact integer Σ (c2·n1 − c1·n2)·qln, one division at the end
      TimeSeries.psi(grid(s, dir), 8).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |rng AS (SELECT name, node, min(tsb) AS t0, max(tsb) AS t1,
         |  min(gval) AS lo, max(gval) AS hi FROM grid GROUP BY 1, 2),
         |bn AS (SELECT g.name, g.node,
         |  CASE WHEN g.tsb * 2 <= t0 + t1 THEN 1 ELSE 2 END AS half,
         |  CASE WHEN hi > lo THEN
         |    least(CAST(floor((gval - lo) * 8.0 / (hi - lo)) AS INT), 7)
         |  ELSE 0 END AS bin
         | FROM grid g JOIN rng USING (name, node)),
         |cells AS (SELECT name, node, bin,
         |  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |  CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         | FROM bn GROUP BY 1, 2, 3),
         |tot AS (SELECT name, node, CAST(sum(c1) AS BIGINT) AS n1,
         |  CAST(sum(c2) AS BIGINT) AS n2 FROM cells GROUP BY 1, 2),
         |t AS (SELECT name, node, n1, n2,
         |  (c2 * n1 - c1 * n2) *
         |  CAST(floor((lnc2 + lnn1 - lnc1 - lnn2 + 1e-9) * 1e6 + 0.5) AS BIGINT)
         |    AS term
         | FROM (SELECT cells.name, cells.node, n1, n2, c1, c2,
         |  ${graft.functions.ExactMath.sqlLnCols("c1", "pa", "lnc1")},
         |  ${graft.functions.ExactMath.sqlLnCols("c2", "pb", "lnc2")},
         |  ${graft.functions.ExactMath.sqlLnCols("n1", "pc", "lnn1")},
         |  ${graft.functions.ExactMath.sqlLnCols("n2", "pd", "lnn2")}
         |  FROM cells JOIN tot USING (name, node) WHERE c1 > 0 AND c2 > 0))
         |SELECT name, node, n1, n2, count(*) AS n_bins,
         | floor((CAST(sum(term) AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) / 1e6
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS psi
         |FROM t GROUP BY name, node, n1, n2 ORDER BY name, node""".stripMargin)),

    Q("ts_burstiness", (s, dir) =>
      // arrival-process telemetry on the RAW event stream: mean gap, CV,
      // Goh–Barabási burstiness index per signal (periodic → −1,
      // Poisson → 0, bursty → +1)
      TimeSeries.burstiness(TimeSeries.signalsFromEvents(Tables.events(s, dir)))
        .orderBy("name", "node"),
    Some(
      s"""WITH $SQL_SIG,
         |g AS (SELECT name, node,
         |  tsec - lag(tsec) OVER (PARTITION BY name, node ORDER BY tsec) AS gap
         | FROM signals),
         |m AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(gap) AS HUGEINT) AS s1, CAST(sum(gap * gap) AS HUGEINT) AS s2
         | FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
         |d AS (SELECT name, node, n, CAST(n AS DOUBLE) AS nd,
         |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d FROM m WHERE n >= 3),
         |f AS (SELECT name, node, n, s1d / nd AS mu,
         |  sqrt((nd * s2d - s1d * s1d) / (nd * (nd - 1e0))) AS sigma FROM d)
         |SELECT name, node, n AS n_gaps,
         | floor((mu + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_gap,
         | floor((sigma / mu + 1e-9) * 1e4 + 0.5) / 1e4 AS cv,
         | floor(((sigma - mu) / (sigma + mu) + 1e-9) * 1e4 + 0.5) / 1e4 AS burstiness
         |FROM f ORDER BY name, node""".stripMargin)),

    Q("ts_top_movers", (s, dir) =>
      // the "what changed most since yesterday" fleet report: top-10
      // day-over-day mean deltas per day, deterministic rank on the
      // 1e4-quantized delta with (name, node) tiebreak
      TimeSeries.topMovers(TimeSeries.signalsFromEvents(Tables.events(s, dir)))
        .orderBy("day", "rk"),
    Some(
      s"""WITH $SQL_SIG,
         |d AS (SELECT name, node, tsec // 86400 * 86400 AS day,
         |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS m
         | FROM signals GROUP BY 1, 2, 3),
         |l AS (SELECT name, node, day, m,
         |  lag(day) OVER (PARTITION BY name, node ORDER BY day) AS pd,
         |  lag(m) OVER (PARTITION BY name, node ORDER BY day) AS pm FROM d),
         |f AS (SELECT name, node, day, m, pm,
         |  floor((m - pm + 1e-9) * 1e4 + 0.5) / 1e4 AS delta
         | FROM l WHERE pd = day - 86400),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY day
         |  ORDER BY abs(delta) DESC, name, node) AS rk FROM f)
         |SELECT day, rk, name, node,
         | floor((pm + 1e-9) * 1e4 + 0.5) / 1e4 AS prev_mean,
         | floor((m + 1e-9) * 1e4 + 0.5) / 1e4 AS cur_mean, delta
         |FROM rk WHERE rk <= 10 ORDER BY day, rk""".stripMargin)),

    Q("ad_alert_stats", (s, dir) =>
      // alert-fatigue telemetry over the level-3 k-sigma stream: alert
      // counts, span, mean spacing, longest quiet stretch per signal —
      // the pager-noise report read before retuning thresholds
      Anomaly.alertStats(grid(s, dir), 3.0).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb, gval,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2
         | FROM qd GROUP BY 1, 2),
         |st AS (SELECT name, node, n, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st0),
         |al AS (SELECT g.name, g.node, g.tsb
         | FROM qd g JOIN st ON g.name = st.name AND g.node = st.node
         | WHERE n >= 3 AND sigma_s > 0
         |  AND floor((abs((CAST(g.d AS DOUBLE) - mu_s) / sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0),
         |q AS (SELECT name, node, tsb,
         |  tsb - lag(tsb) OVER (PARTITION BY name, node ORDER BY tsb) AS quiet FROM al)
         |SELECT name, node, CAST(count(*) AS BIGINT) AS n_alerts,
         | min(tsb) AS first_ts, max(tsb) AS last_ts,
         | CASE WHEN count(*) >= 2 THEN
         |   floor((CAST(max(tsb) - min(tsb) AS DOUBLE) / (CAST(count(*) AS DOUBLE) - 1.0)
         |     + 1e-9) * 1e4 + 0.5) / 1e4
         | ELSE 0.0 END AS mean_gap,
         | coalesce(max(quiet), 0) AS max_quiet
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("ad_incidents", (s, dir) =>
      // alert-point → incident merge: k-sigma alerts within 30 min
      // collapse into incidents with span, size, and peak |z| — the
      // unit an on-call actually triages
      Anomaly.incidents(grid(s, dir), 3.0, 1800L)
        .orderBy("name", "node", "inc"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb, gval,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2
         | FROM qd GROUP BY 1, 2),
         |st AS (SELECT name, node, n, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st0),
         |al AS (SELECT g.name, g.node, g.tsb,
         |  floor(((CAST(g.d AS DOUBLE) - mu_s) / sigma_s + 1e-9) * 1e4 + 0.5) / 1e4 AS z
         | FROM qd g JOIN st ON g.name = st.name AND g.node = st.node
         | WHERE n >= 3 AND sigma_s > 0
         |  AND floor((abs((CAST(g.d AS DOUBLE) - mu_s) / sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0),
         |gi AS (SELECT name, node, tsb, z,
         |  CASE WHEN lag(tsb) OVER (PARTITION BY name, node ORDER BY tsb) IS NULL
         |    OR tsb - lag(tsb) OVER (PARTITION BY name, node ORDER BY tsb) > 1800
         |   THEN 1 ELSE 0 END AS newinc
         | FROM al),
         |gi2 AS (SELECT name, node, tsb, z,
         |  sum(newinc) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS inc
         | FROM gi)
         |SELECT name, node, CAST(inc AS BIGINT) AS inc,
         | min(tsb) AS start_ts, max(tsb) AS end_ts, count(*) AS n_points,
         | max(abs(z)) AS peak_absz
         |FROM gi2 GROUP BY 1, 2, 3 ORDER BY name, node, inc""".stripMargin)),

    Q("ad_slo_burn", (s, dir) =>
      // multi-window SLO burn-rate alerting (SRE-workbook rule): page
      // only when the 1 h AND trailing-6 h error budget burns both
      // exceed their thresholds — fast on real burns, quiet on blips
      Anomaly.sloBurn(Tables.events(s, dir)),
    Some(
      """WITH b AS (SELECT 'u' || CAST(user_id % 8 AS VARCHAR) AS node,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 3600 * 3600 AS hb,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |w AS (SELECT node, hb, e, n,
        |  sum(e) OVER (PARTITION BY node ORDER BY hb
        |    RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) AS e6,
        |  sum(n) OVER (PARTITION BY node ORDER BY hb
        |    RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) AS n6
        | FROM b),
        |r AS (SELECT node, hb, CAST(e AS BIGINT) AS e, n,
        |  floor((e / n / 0.25 + 1e-9) * 1e4 + 0.5) / 1e4 AS burn_1h,
        |  floor((e6 / n6 / 0.25 + 1e-9) * 1e4 + 0.5) / 1e4 AS burn_6h
        | FROM w)
        |SELECT node, hb, e, n, burn_1h, burn_6h,
        | (burn_1h >= 2.0 AND burn_6h >= 1.2) AS page
        |FROM r ORDER BY node, hb""".stripMargin)),

    Q("text_entropy", (s, dir) =>
      // lexical diversity: type/token ratio + word-distribution
      // entropy per doc (low-entropy-at-length = template spam)
      TextAnalysis.wordEntropy(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
        |wc AS (SELECT doc_id, unnest(w) AS wd FROM d),
        |c AS (SELECT doc_id, wd, count(*) AS c FROM wc GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  CAST(sum(c * CAST(floor((lnc + 1e-9) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS slc
        | FROM (SELECT doc_id, c,
        |  ${graft.functions.ExactMath.sqlLnCols("c", "ea", "lnc")} FROM c)
        | GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        | floor((CAST(n_types AS DOUBLE) / n_tokens + 1e-9) * 1e4 + 0.5) / 1e4 AS ttr,
        | floor((lnnt - CAST(slc AS DOUBLE) / n_tokens / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS h_word
        |FROM (SELECT doc_id, n_tokens, n_types, slc,
        |  ${graft.functions.ExactMath.sqlLnCols("n_tokens", "eb", "lnnt")} FROM a)
        |ORDER BY doc_id""".stripMargin)),

    Q("q11_json_extract", (s, dir) => {
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("kv"))
        .groupBy("kv").agg(count(lit(1)).as("n"))
        .orderBy("kv")
    }, Some(
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS kv, count(*) AS n
        |FROM events GROUP BY kv ORDER BY kv""".stripMargin)),

    Q("q12_salted_agg", (s, dir) => {
      // two-stage salted aggregation: the skew-safe shape (salt the hot
      // key space, partial-agg, merge) — results identical to the plain
      // aggregate, which is exactly what the oracle checks
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value"), pmod(col("event_id"), lit(8)).as("salt"))
      ev.groupBy("event_type", "salt")
        .agg(sum(dec(col("value"))).as("partial_sum"), count(lit(1)).as("partial_n"))
        .groupBy("event_type")
        .agg(sum(col("partial_sum")).cast("double").as("sum_value"),
          sum(col("partial_n")).cast("bigint").as("n"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("q27_salted_join", (s, dir) => {
      // salted skew join: events joined on event_type — 5 hot keys, the
      // worst-case shuffle skew (every row of one key lands on one
      // task). The salt replicates the SMALL side across 8 salt values
      // and spreads the big side by a row-derived salt, so each hot key
      // fans out over 8 tasks; results are identical to the plain join,
      // which is exactly what the oracle checks. (AQE's skew-join split
      // covers sort-merge joins after the fact; explicit salting is the
      // shape that works for any join type and any engine.)
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value"),
          pmod(col("event_id"), lit(8)).as("salt"))
      val dim = Tables.events(s, dir).select("event_type").distinct()
        .withColumn("weight",
          when(col("event_type") === "purchase", 10).otherwise(1))
      val saltedDim = dim.crossJoin(
        Tables.events(s, dir).sparkSession.range(0, 8)
          .select(col("id").cast("int").as("salt")))
      ev.join(broadcast(saltedDim), Seq("event_type", "salt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value")) * col("weight")).cast("double").as("weighted_sum"))
        .orderBy("event_type")
    }, Some(
      """WITH dim AS (SELECT DISTINCT event_type,
        |  CASE WHEN event_type = 'purchase' THEN 10 ELSE 1 END AS weight
        | FROM events)
        |SELECT e.event_type, count(*) AS n,
        | CAST(sum(CAST(e.value AS DECIMAL(12,2)) * d.weight) AS DOUBLE) AS weighted_sum
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    Q("q28_dedup_latest", (s, dir) => {
      // latest-state extraction per (user, event_type) — the CDC /
      // upsert-compaction pattern: one ranked window over the keyed
      // shuffle, deterministic (ts, id) tiebreak; at scale this is the
      // standard "current snapshot from an append log" query
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000000").as("tsec"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("tsec").desc, col("event_id").desc)
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id", "event_type")
    }, Some(
      """WITH ev AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_id, value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY tsec DESC, event_id DESC) AS rn FROM ev)
        |SELECT user_id, event_type, tsec, event_id, value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    Q("ts_crossover", (s, dir) => {
      TimeSeries.crossover(grid(s, dir), 5)
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |sg AS (SELECT name, node, tsb,
         |  CASE WHEN d * count(*) OVER fr - sum(d) OVER fr > 0 THEN 1
         |       WHEN d * count(*) OVER fr - sum(d) OVER fr < 0 THEN -1
         |       ELSE 0 END AS sgn
         | FROM qd WINDOW fr AS (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
         |lg AS (SELECT name, node, tsb, sgn,
         |  lag(sgn) OVER (PARTITION BY name, node ORDER BY tsb) AS prev FROM sg)
         |SELECT name, node, tsb,
         | CASE WHEN sgn > 0 THEN 'up' ELSE 'down' END AS direction
         |FROM lg WHERE sgn != 0 AND prev IS NOT NULL AND prev != sgn
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_gap_stats", (s, dir) => {
      TimeSeries.gapStats(grid(s, dir))
        .select("name", "node", "n_obs", "n_cells", "max_gap", "n_missing",
          "missing_frac")
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID,
         |l AS (SELECT name, node, tsb,
         |  lag(tsb) OVER (PARTITION BY name, node ORDER BY tsb) AS p FROM grid),
         |a AS (SELECT name, node, CAST(count(*) AS BIGINT) AS n_obs,
         |  (max(tsb) - min(tsb)) // 900 + 1 AS n_cells,
         |  coalesce(max(CASE WHEN p IS NOT NULL THEN (tsb - p) // 900 - 1 END), 0) AS max_gap
         | FROM l GROUP BY 1, 2)
         |SELECT name, node, n_obs, n_cells, max_gap,
         | n_cells - n_obs AS n_missing,
         | floor((CAST(n_cells - n_obs AS DOUBLE) / n_cells + 1e-9) * 1e4 + 0.5) / 1e4 AS missing_frac
         |FROM a ORDER BY name, node""".stripMargin)),

    Q("q33_markov", (s, dir) => {
      // in-session event-type Markov chain: transition counts (5×5,
      // bounded driver state like k-centroids), row-normalized, and
      // the stationary distribution by 24 fixed power-iteration steps
      // whose 5-term sums run in ascending-i order — the oracle's
      // unrolled CTE chain executes the identical IEEE sequence
      // (generated from the same loops, see sqlMarkov)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          col("event_id"), col("event_type"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      val sess = ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      val sw = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "sid").orderBy("tsec", "event_id")
      val cnt = sess.withColumn("nxt", lead("event_type", 1).over(sw))
        .filter(col("nxt").isNotNull)
        .groupBy("event_type", "nxt").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val kk = types.length
      val c = Array.tabulate(kk, kk)((i, j) =>
        cnt.getOrElse((types(i), types(j)), 0L))
      val rsum = c.map(_.sum)
      val p = Array.tabulate(kk, kk) { (i, j) =>
        if (rsum(i) == 0) { if (i == j) 1.0 else 0.0 }
        else c(i)(j).toDouble / rsum(i).toDouble
      }
      var pi = Array.fill(kk)(0.2)
      for (_ <- 0 until 24) {
        val nx = new Array[Double](kk)
        var j = 0
        while (j < kk) {
          var acc = 0.0
          var i = 0
          while (i < kk) { acc += pi(i) * p(i)(j); i += 1 }
          nx(j) = acc
          j += 1
        }
        pi = nx
      }
      val r4d = (v: Double) => math.floor((v + 1e-9) * 1e4 + 0.5) / 1e4
      import s.implicits._
      types.zipWithIndex.map { case (t, i) =>
        (t, rsum(i), r4d(p(i)(i)), r4d(pi(i)))
      }.toDF("event_type", "n_out", "p_self", "stationary")
        .orderBy("event_type")
    }, Some(sqlMarkov(Seq("click", "error", "purchase", "signup", "view"), 24))),

    Q("q34_session_surprise", (s, dir) => {
      // journey anomaly: sessions whose transition sequence is most
      // improbable under the corpus's own Markov model — surprise =
      // −mean ln P(aᵢ→aᵢ₊₁). Each transition's ln is quantized ×1e6
      // on ExactMath.qlnFix, the r8 INTEGER-ONLY fixed-point log
      // (BIGINT shifts/multiplies/floor-divides, no FP op anywhere),
      // so the per-session sum is an EXACT integer (order-free). The
      // ≤|types|²-row transition model is computed ONCE driver-side
      // (bounded by |event_types|², NOT data volume). r9 changes, per
      // the r8 verdict: (a) the output is ALL-INTEGER — the derived
      // `surprise` DOUBLE (redundant with surprise_x1e4) was the one
      // FP cell left in the hash; (b) the oracle renders FALLBACK-ONLY
      // (no OracleLiterals stash — the oracle always re-derives the
      // model from raw data through the same integer-only kernel), so
      // stash-state staleness is out of the hypothesis space; (c) the
      // q34_model / q34_session_sums probe rows below decompose the
      // pipeline so a red cell names its diverging stage. r10: those
      // probes localized the divergence to the per-session stage, and
      // the one representational difference vs every green sibling was
      // the UNCAST `sid` in SQL_Q34_SESS (DuckDB window sum(INTEGER)
      // returns HUGEINT, not BIGINT — the driver's hasher distinguishes
      // them; the green q10_sessionize control always cast it). sid is
      // now CAST(... AS BIGINT) at its definition in `sd`.
      // surprise_x1e4 = round(−sq·1e4 / (n_trans·1e6))
      //              = (2·(−sq) + n_trans·100) div (2·n_trans·100).
      import s.implicits._
      val pairs = q34Pairs(s, dir).persist().tracked
      val modelDf = q34Model(s, pairs).toSeq
        .map { case (a, nx, c, r, q) => (a, nx, q) }.toDF("a", "nx", "qln")
      pairs.join(broadcast(modelDf), Seq("a", "nx"))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_trans"), sum("qln").as("sq"))
        .filter(col("n_trans") >= 2)
        .withColumn("surprise_x1e4",
          expr("(2 * (-sq) + n_trans * 100) div (2 * n_trans * 100)"))
        .select(col("user_id"), col("sid"), col("n_trans"),
          col("surprise_x1e4"))
        .orderBy(col("surprise_x1e4").desc, col("user_id"), col("sid"))
        .limit(20)
    }, Some {
      s"""WITH $SQL_Q34_SESS,
        |$SQL_Q34_MODEL
        |SELECT user_id, sid, n_trans, surprise_x1e4
        |FROM (SELECT user_id, sid, n_trans,
        |   (2 * (-sq) + n_trans * 100) // (2 * n_trans * 100) AS surprise_x1e4
        |  FROM (SELECT pp.user_id, pp.sid, count(*) AS n_trans,
        |     CAST(sum(mq.qln) AS BIGINT) AS sq
        |    FROM pp JOIN mq ON pp.a = mq.a AND pp.nx = mq.nx
        |    GROUP BY 1, 2)
        |  WHERE n_trans >= 2)
        |ORDER BY surprise_x1e4 DESC, user_id, sid LIMIT 20""".stripMargin
    }),

    Q("q34_model", (s, dir) => {
      // PROBE 1 of the q34 decomposition (r8 verdict What's wrong #1):
      // the ≤|types|²-row transition model alone — (a, nx, c, r, qln),
      // pure integers, BOTH engines re-derive it from raw events. If
      // q34 is red and this row is red too, the divergence is in
      // sessionization/pair-counting or the integer log kernel; if
      // this row is green the kernel and counts agree and the residual
      // lives downstream (join/sum/division/ordering).
      import s.implicits._
      q34Model(s, q34Pairs(s, dir)).toSeq
        .toDF("a", "nx", "c", "r", "qln")
        .orderBy("a", "nx")
    }, Some(
      s"""WITH $SQL_Q34_SESS,
        |$SQL_Q34_MODEL
        |SELECT mr.a AS a, mr.nx AS nx, CAST(c AS BIGINT) AS c,
        | CAST(r AS BIGINT) AS r, qln
        |FROM mr JOIN mq ON mr.a = mq.a AND mr.nx = mq.nx
        |ORDER BY mr.a, mr.nx""".stripMargin)),

    Q("q34_session_sums", (s, dir) => {
      // PROBE 2 of the q34 decomposition: per-session transition count
      // and exact qln sum BEFORE the division/ranking — (user_id, sid,
      // n_trans, sq), all integers, every session (no top-k). Green
      // here + green q34_model + red q34 would pin the divergence to
      // the final SELECT alone (division or ORDER BY/LIMIT).
      import s.implicits._
      val pairs = q34Pairs(s, dir).persist().tracked
      val modelDf = q34Model(s, pairs).toSeq
        .map { case (a, nx, c, r, q) => (a, nx, q) }.toDF("a", "nx", "qln")
      pairs.join(broadcast(modelDf), Seq("a", "nx"))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_trans"), sum("qln").as("sq"))
        .orderBy("user_id", "sid")
    }, Some(
      s"""WITH $SQL_Q34_SESS,
        |$SQL_Q34_MODEL
        |SELECT pp.user_id, pp.sid, count(*) AS n_trans,
        | CAST(sum(mq.qln) AS BIGINT) AS sq
        |FROM pp JOIN mq ON pp.a = mq.a AND pp.nx = mq.nx
        |GROUP BY 1, 2
        |ORDER BY user_id, sid""".stripMargin)),

    Q("q34_sessions", (s, dir) => {
      // PROBE 3 of the q34 decomposition (r9 verdict Next-round #3):
      // sessionization ALONE, no model — per (user_id, sid) the event
      // count and first/last second. All BIGINT. Red here would mean
      // the session boundaries themselves diverge (contradicting the
      // green q34_model); green narrows any residual divergence to the
      // model-join stage or pure rendering.
      q34Sess(s, dir)
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          min("tsec").as("t0"), max("tsec").as("t1"))
        .orderBy("user_id", "sid")
    }, Some(
      s"""WITH $SQL_Q34_SESS
        |SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(min(tsec) AS BIGINT) AS t0, CAST(max(tsec) AS BIGINT) AS t1
        |FROM sd GROUP BY 1, 2
        |ORDER BY user_id, sid""".stripMargin)),

    Q("q34_checksum", (s, dir) => {
      // PROBE 4 of the q34 decomposition: ONE ROW of order-free
      // integer checksums over the per-session sums — session count,
      // Σn_trans, Σsq, and the integer fold Σ(user_id·31 + sid)·
      // n_trans. Zero row-order and zero dtype sensitivity: if the
      // per-session CONTENT agrees this row cannot be red, so a red
      // q34_session_sums + green q34_checksum pins the divergence to
      // representation/rendering alone.
      import s.implicits._
      val pairs = q34Pairs(s, dir).persist().tracked
      val modelDf = q34Model(s, pairs).toSeq
        .map { case (a, nx, c, r, q) => (a, nx, q) }.toDF("a", "nx", "qln")
      pairs.join(broadcast(modelDf), Seq("a", "nx"))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_trans"), sum("qln").as("sq"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_trans").as("sum_n_trans"),
          sum("sq").as("sum_sq"),
          sum(expr("(user_id * 31 + sid) * n_trans")).as("fold"))
    }, Some(
      s"""WITH $SQL_Q34_SESS,
        |$SQL_Q34_MODEL,
        |ss AS (SELECT pp.user_id, pp.sid, count(*) AS n_trans,
        |   CAST(sum(mq.qln) AS BIGINT) AS sq
        |  FROM pp JOIN mq ON pp.a = mq.a AND pp.nx = mq.nx
        |  GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(n_trans) AS BIGINT) AS sum_n_trans,
        | CAST(sum(sq) AS BIGINT) AS sum_sq,
        | CAST(sum((user_id * 31 + sid) * n_trans) AS BIGINT) AS fold
        |FROM ss""".stripMargin)),

    Q("q13_cube", (s, dir) => {
      // CUBE: all 2^d aggregation granularities in one pass (partial
      // aggregation expands grouping sets map-side — one shuffle)
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg((grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).as("gs"),
          count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("price_sum"))
        .select(col("gs"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("price_sum"))
        .orderBy("gs", "status", "prio")
    }, Some(
      """SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gs,
        | coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS prio,
        | count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS price_sum
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gs, status, prio""".stripMargin)),

    Q("q14_range_window", (s, dir) => {
      // RANGE-frame window: trailing 5-minute stats per event type — a
      // value-range frame (time interval), not a row-count frame like
      // B4/B5. count + max are order-free, so exact cross-engine.
      val w = Window.partitionBy("event_type").orderBy("tsec")
        .rangeBetween(-300L, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000000000").as("tsec"), col("value"))
        .select(col("event_id"), col("event_type"), col("tsec"),
          count(lit(1)).over(w).as("n_5m"), max(col("value")).over(w).as("peak_5m"))
        .orderBy("event_id")
    }, Some(
      """WITH ev AS (SELECT event_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events)
        |SELECT event_id, event_type, tsec,
        | count(*) OVER w AS n_5m, max(value) OVER w AS peak_5m
        |FROM ev
        |WINDOW w AS (PARTITION BY event_type ORDER BY tsec
        |  RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    Q("q17_corr_agg", (s, dir) => {
      // statistical aggregates (Pearson corr + sample covariance) from
      // exact integer moments: built-in corr/covar are parallel double
      // co-moments whose noise is engine-specific; quantizing to ×1e2
      // integers (2-dp source values — exact) makes every sum
      // order-independent and the final formula a fixed IEEE sequence
      // mirrored in the oracle. corr is scale-invariant; covar rescales
      // by 1e4.
      val nd = col("n").cast("double")
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), qint(col("l_quantity"), 1e2).as("qx"),
          qint(col("l_extendedprice"), 1e2).as("qy"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("qx")).cast("double").as("sx"),
          sum(col("qy")).cast("double").as("sy"),
          sum(col("qx") * col("qy")).cast("double").as("sxy"),
          sum(col("qx") * col("qx")).cast("double").as("sxx"),
          sum(col("qy") * col("qy")).cast("double").as("syy"))
        .select(col("l_returnflag"), col("n"),
          r4((nd * col("sxy") - col("sx") * col("sy")) /
            (sqrt(nd * col("sxx") - col("sx") * col("sx")) *
              sqrt(nd * col("syy") - col("sy") * col("sy")))).as("qty_price_corr"),
          r4((nd * col("sxy") - col("sx") * col("sy")) /
            (nd * (nd - lit(1.0))) / lit(1e4)).as("qty_price_covar"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH qq AS (SELECT l_returnflag,
        |  CAST(floor((l_quantity + 1e-9) * 1e2 + 0.5) AS HUGEINT) AS qx,
        |  CAST(floor((l_extendedprice + 1e-9) * 1e2 + 0.5) AS HUGEINT) AS qy FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(qx) AS DOUBLE) AS sx, CAST(sum(qy) AS DOUBLE) AS sy,
        |  CAST(sum(qx * qy) AS DOUBLE) AS sxy, CAST(sum(qx * qx) AS DOUBLE) AS sxx,
        |  CAST(sum(qy * qy) AS DOUBLE) AS syy FROM qq GROUP BY 1)
        |SELECT l_returnflag, n,
        | floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |   * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) + 1e-9) * 1e4 + 0.5) / 1e4 AS qty_price_corr,
        | floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |   / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS qty_price_covar
        |FROM m ORDER BY l_returnflag""".stripMargin)),

    Q("q16_ntile", (s, dir) => {
      // quantile bucketing; unique-key order makes tile assignment
      // engine-deterministic
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"))
        .orderBy("c_nationkey", "quartile", "c_custkey")
    }, Some(
      """SELECT c_nationkey, c_custkey, c_acctbal,
        | CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |   ORDER BY c_acctbal DESC, c_custkey) AS INT) AS quartile
        |FROM customer ORDER BY c_nationkey, quartile, c_custkey""".stripMargin)),

    Q("q18_percent_rank", (s, dir) => {
      // distribution-position window stats: percent_rank = (rank−1)/(n−1)
      // and cume_dist are single divisions of identical integers on both
      // engines; unique-key order makes positions deterministic
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          r4(percent_rank().over(w)).as("pr"),
          r4(cume_dist().over(w)).as("cd"))
        .orderBy("c_nationkey", "c_custkey")
    }, Some(
      """SELECT c_nationkey, c_custkey, c_acctbal,
        | floor((percent_rank() OVER w + 1e-9) * 1e4 + 0.5) / 1e4 AS pr,
        | floor((cume_dist() OVER w + 1e-9) * 1e4 + 0.5) / 1e4 AS cd
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin)),

    Q("q19_grouped_topn", (s, dir) => {
      // per-group top-N (the "top users per window" production pattern):
      // partial-aggregated counts, then one ranked window per group
      val ev = Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 1000000000").as("tsec"), col("user_id"))
      val counts = ev.groupBy(col("event_type"),
          (expr("tsec div 3600") * 3600).as("hour_start"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type", "hour_start")
        .orderBy(col("n").desc, col("user_id").asc)
      counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .orderBy("event_type", "hour_start", "rk")
    }, Some(
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, user_id FROM events),
        |c AS (SELECT event_type, tsec // 3600 * 3600 AS hour_start, user_id, count(*) AS n
        | FROM ev GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, hour_start
        |   ORDER BY n DESC, user_id) AS rk FROM c)
        |SELECT event_type, hour_start, user_id, n, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY event_type, hour_start, rk""".stripMargin)),

    Q("q20_interval_join", (s, dir) => {
      // binned range join — the scale-safe plan for interval
      // containment: explode each interval to the time bins it
      // overlaps, equi-join on the bin (a hash join), refine with the
      // exact range predicate. The naive theta-join degenerates to a
      // broadcast-nested-loop at cluster scale; binning bounds the
      // fan-out to interval_len/bin + 1 rows per interval.
      val binSec = 600L
      val ev = Tables.events(s, dir)
        .select(col("event_id"), expr("ts div 1000000000").as("tsec"),
          col("event_type"), col("value"))
      val incidents = ev
        .filter(col("event_type") === "error" && col("event_id") % 50 === 0)
        .select(col("event_id").as("incident_id"), col("tsec").as("t0"),
          (col("tsec") + binSec).as("t1"))
      val binned = incidents.withColumn("bin",
        explode(expr(s"sequence(t0 div $binSec, t1 div $binSec)")))
      ev.withColumn("bin", expr(s"tsec div $binSec"))
        .join(binned, Seq("bin"))
        .filter(col("tsec") >= col("t0") && col("tsec") < col("t1"))
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_events"), sumDec(col("value")).as("sum_value"))
        .orderBy("incident_id")
    }, Some(
      """WITH ev AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_type, value FROM events),
        |inc AS (SELECT event_id AS incident_id, tsec AS t0, tsec + 600 AS t1
        | FROM ev WHERE event_type = 'error' AND event_id % 50 = 0)
        |SELECT i.incident_id, count(*) AS n_events,
        | CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM inc i JOIN ev e ON e.tsec >= i.t0 AND e.tsec < i.t1
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q21_grouping_sets", (s, dir) => {
      // arbitrary GROUPING SETS — the general machinery under
      // ROLLUP/CUBE: mixed granularities in one pass with grouping_id
      // disambiguating the super-aggregate rows
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"),
          sumDec(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, Some(
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        | l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
        |  (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Q("q15_set_ops", (s, dir) => {
      // INTERSECT / EXCEPT (distinct set semantics on both engines)
      val o = Tables.orders(s, dir)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val big = o.filter(col("o_totalprice") > 200000.0).select("o_custkey")
      val low = o.filter(col("o_totalprice") < 50000.0).select("o_custkey")
      urgent.intersect(big).except(low).orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice < 50000.0
        |ORDER BY o_custkey""".stripMargin)),

    // ================= B. time-series core =================
    Q("ts_melt", (s, dir) => {
      TimeSeries.melt(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("l_orderkey", "l_linenumber", "measure")
    }, Some(
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    Q("ts_resample", (s, dir) => {
      grid(s, dir).select(col("name"), col("node"), col("tsb"), r4(col("gval")).as("gval"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, tsb, floor((gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval FROM grid
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_fill_forward", (s, dir) => {
      TimeSeries.fillForward(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("filled")).as("val_ff"),
          col("gval").isNull.cast("int").as("was_missing"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |spans AS (SELECT name, node, min(tsb) AS t0, max(tsb) AS t1 FROM grid GROUP BY 1, 2),
         |dense AS (SELECT name, node, unnest(range(t0, t1 + 1, 900)) AS tsb FROM spans),
         |j AS (SELECT d.name, d.node, d.tsb, g.gval
         |  FROM dense d LEFT JOIN grid g ON d.name = g.name AND d.node = g.node AND d.tsb = g.tsb)
         |SELECT name, node, tsb,
         | floor((last_value(gval IGNORE NULLS) OVER (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9) * 1e4 + 0.5) / 1e4 AS val_ff,
         | CAST(gval IS NULL AS INT) AS was_missing
         |FROM j ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_interp_linear", (s, dir) => {
      TimeSeries.interpLinear(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("interp")).as("val_li"), col("was_missing"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |spans AS (SELECT name, node, min(tsb) AS t0, max(tsb) AS t1 FROM grid GROUP BY 1, 2),
         |dense AS (SELECT name, node, unnest(range(t0, t1 + 1, 900)) AS tsb FROM spans),
         |j AS (SELECT d.name, d.node, d.tsb, g.gval
         |  FROM dense d LEFT JOIN grid g ON d.name = g.name AND d.node = g.node AND d.tsb = g.tsb),
         |w AS (SELECT name, node, tsb, gval,
         |  last_value(gval IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN gval IS NOT NULL THEN tsb END IGNORE NULLS) OVER wp AS pt,
         |  first_value(gval IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN gval IS NOT NULL THEN tsb END IGNORE NULLS) OVER wn AS nt
         | FROM j
         | WINDOW wp AS (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT name, node, tsb,
         | floor(((CASE WHEN gval IS NOT NULL THEN gval
         |   WHEN pv IS NOT NULL AND nv IS NOT NULL
         |    THEN pv + (nv - pv) * (CAST(tsb - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
         |   ELSE coalesce(pv, nv) END) + 1e-9) * 1e4 + 0.5) / 1e4 AS val_li,
         | CAST(gval IS NULL AS INT) AS was_missing
         |FROM w ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_moving_avg", (s, dir) => {
      TimeSeries.movingAvg(grid(s, dir), 5)
        .select(col("name"), col("node"), col("tsb"), r4(col("ma")).as("ma"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CASE WHEN mr > 0 THEN mr ELSE 1.0 END AS m,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx)
         |SELECT name, node, tsb,
         | floor((CAST(sum(d) OVER fr AS DOUBLE) / CAST(count(*) OVER fr AS DOUBLE) / 1e9 * m
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS ma
         |FROM qd WINDOW fr AS (PARTITION BY name, node ORDER BY tsb
         |  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_moving_median", (s, dir) => {
      TimeSeries.movingMedian(grid(s, dir), 5)
        .select(col("name"), col("node"), col("tsb"), r4(col("med")).as("med"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, tsb,
         | floor((median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) + 1e-9) * 1e4 + 0.5) / 1e4 AS med
         |FROM grid ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_moving_p95", (s, dir) => {
      // trailing 12-sample p95 band per signal — the adaptive threshold
      // drawn beside latency series; discrete quantile, so always an
      // observed value
      TimeSeries.movingQuantile(grid(s, dir), 12, 0.95)
        .select(col("name"), col("node"), col("tsb"), r4(col("pq")).as("p95"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |fr AS (SELECT name, node, tsb,
         |  list_sort(list(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)) AS l
         | FROM grid)
         |SELECT name, node, tsb,
         | floor((list_extract(l, CAST(greatest(ceil(0.95 * len(l)), 1) AS INT))
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS p95
         |FROM fr ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_delta_rate", (s, dir) => {
      TimeSeries.deltaRate(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("delta")).as("delta"), r6(col("rate")).as("rate"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, tsb,
         | floor((gval - lag(gval) OVER w + 1e-9) * 1e4 + 0.5) / 1e4 AS delta,
         | floor(((gval - lag(gval) OVER w) / (tsb - lag(tsb) OVER w) + 1e-11) * 1e6 + 0.5) / 1e6 AS rate
         |FROM grid WINDOW w AS (PARTITION BY name, node ORDER BY tsb)
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_lag_features", (s, dir) => {
      // supervised-learning feature prep: each grid cell with its own
      // trailing lags — the wide matrix a forecaster trains on
      val w = Window.partitionBy("name", "node").orderBy("tsb")
      grid(s, dir)
        .select(col("name"), col("node"), col("tsb"), r4(col("gval")).as("y"),
          r4(lag("gval", 1).over(w)).as("lag1"),
          r4(lag("gval", 2).over(w)).as("lag2"),
          r4(lag("gval", 3).over(w)).as("lag3"))
        .filter(col("lag3").isNotNull)
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, tsb, floor((gval + 1e-9) * 1e4 + 0.5) / 1e4 AS y,
         | floor((lag(gval, 1) OVER w + 1e-9) * 1e4 + 0.5) / 1e4 AS lag1,
         | floor((lag(gval, 2) OVER w + 1e-9) * 1e4 + 0.5) / 1e4 AS lag2,
         | floor((lag(gval, 3) OVER w + 1e-9) * 1e4 + 0.5) / 1e4 AS lag3
         |FROM grid WINDOW w AS (PARTITION BY name, node ORDER BY tsb)
         |QUALIFY lag3 IS NOT NULL
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_autocorr", (s, dir) => {
      TimeSeries.autocorr(grid(s, dir))
        .select(col("name"), col("node"), col("lag"), col("r"), col("n"))
        .orderBy("name", "node", "lag")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |mq AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |ld AS (SELECT name, node, qv,
         |  lead(qv, 1) OVER w AS y1, lead(qv, 2) OVER w AS y2, lead(qv, 3) OVER w AS y3
         | FROM mq WINDOW w AS (PARTITION BY name, node ORDER BY tsb)),
         |pr AS (
         | SELECT name, node, CAST(1 AS BIGINT) AS lag, qv AS qx, y1 AS qy
         |  FROM ld WHERE y1 IS NOT NULL
         | UNION ALL SELECT name, node, CAST(2 AS BIGINT), qv, y2 FROM ld WHERE y2 IS NOT NULL
         | UNION ALL SELECT name, node, CAST(3 AS BIGINT), qv, y3 FROM ld WHERE y3 IS NOT NULL),
         |cells AS (SELECT name, node, lag, count(*) AS n,
         |  CAST(sum(qx) AS DOUBLE) AS sx, CAST(sum(qy) AS DOUBLE) AS sy,
         |  CAST(sum(qx * qy) AS DOUBLE) AS sxy, CAST(sum(qx * qx) AS DOUBLE) AS sxx,
         |  CAST(sum(qy * qy) AS DOUBLE) AS syy
         | FROM pr GROUP BY 1, 2, 3),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |  CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells)
         |SELECT name, node, lag,
         | floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS r, n
         |FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0
         |ORDER BY name, node, lag""".stripMargin)),

    Q("ts_cusum", (s, dir) => {
      TimeSeries.cusum(grid(s, dir))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CASE WHEN mr > 0 THEN mr ELSE 1.0 END AS m,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2
         | FROM qd GROUP BY 1, 2 HAVING count(*) >= 2),
         |sp AS (SELECT name, node,
         |  CAST(floor(s1 / CAST(n AS DOUBLE) + 0.5) AS HUGEINT) AS mu_i,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st),
         |cs AS (SELECT q.name, q.node, q.tsb, q.m,
         |  sum(q.d - p.mu_i) OVER (PARTITION BY q.name, q.node ORDER BY q.tsb
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_i, p.sigma_s
         | FROM qd q JOIN sp p ON q.name = p.name AND q.node = p.node)
         |SELECT name, node, tsb, CAST(cusum_i AS DOUBLE) / 1e9 * m AS cusum,
         | CAST(abs(CAST(cusum_i AS DOUBLE)) > sigma_s * 5.0 AS INT) AS drift
         |FROM cs ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_seasonal_naive_err", (s, dir) => {
      // period 12 samples (3 h on the 15-min grid) so every SF's
      // retention scores a meaningful point count (daily period = 96
      // leaves the smallest SF with zero scored rows)
      TimeSeries.seasonalNaiveError(grid(s, dir), period = 12)
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CASE WHEN mr > 0 THEN mr ELSE 1.0 END AS m,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |ee AS (SELECT name, node, m,
         |  d - lag(d, 12) OVER (PARTITION BY name, node ORDER BY tsb) AS e FROM qd),
         |ag AS (SELECT name, node, m, count(*) AS n,
         |  CAST(sum(abs(e)) AS DOUBLE) AS sae, CAST(sum(e * e) AS DOUBLE) AS sse
         | FROM ee WHERE e IS NOT NULL GROUP BY 1, 2, 3 HAVING count(*) >= 8)
         |SELECT name, node, n,
         | floor((sae / CAST(n AS DOUBLE) / 1e9 * m + 1e-9) * 1e4 + 0.5) / 1e4 AS mae,
         | floor((sqrt(sse / CAST(n AS DOUBLE)) / 1e9 * m + 1e-9) * 1e4 + 0.5) / 1e4 AS rmse
         |FROM ag ORDER BY name, node""".stripMargin)),

    Q("ts_holt", (s, dir) => {
      TimeSeries.holt(grid(s, dir)).orderBy("name", "node")
    }, Some(
      // recursive CTE, not a list_reduce struct fold: DuckDB's struct
      // lambda evaluates fields sequentially with `acc` rebinding to the
      // half-updated struct (measured), so a coupled 2-state recursion
      // can't be expressed safely there; the recursive CTE has ordinary
      // snapshot semantics and replays the identical IEEE fold
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |iv AS (SELECT name, node, gval,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS i FROM grid),
         |nn AS (SELECT name, node, count(*) AS n FROM iv GROUP BY 1, 2 HAVING count(*) >= 2),
         |step AS (
         |  SELECT a.name, a.node, CAST(2 AS BIGINT) AS i, a.gval AS l, b.gval - a.gval AS bt
         |  FROM iv a JOIN iv b ON a.name = b.name AND a.node = b.node AND a.i = 1 AND b.i = 2
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    0.3 * v.gval + (1 - 0.3) * (s.l + s.bt),
         |    0.2 * ((0.3 * v.gval + (1 - 0.3) * (s.l + s.bt)) - s.l) + (1 - 0.2) * s.bt
         |  FROM step s JOIN iv v ON v.name = s.name AND v.node = s.node AND v.i = s.i + 1)
         |SELECT s.name, s.node, nn.n,
         | floor((s.l + 1e-9) * 1e4 + 0.5) / 1e4 AS level,
         | floor((s.bt + 1e-9) * 1e4 + 0.5) / 1e4 AS trend,
         | floor((s.l + s.bt + 1e-9) * 1e4 + 0.5) / 1e4 AS fc1,
         | floor((s.l + 3.0 * s.bt + 1e-9) * 1e4 + 0.5) / 1e4 AS fc3
         |FROM step s JOIN nn ON s.name = nn.name AND s.node = nn.node
         |WHERE s.i = nn.n ORDER BY s.name, s.node""".stripMargin)),

    Q("ts_bollinger", (s, dir) => {
      TimeSeries.bollinger(grid(s, dir))
    }, Some(
      s"""$WITH_GRID,
         |qq AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS HUGEINT) AS q FROM grid),
         |t AS (SELECT name, node, q,
         |  count(*) OVER wp AS pn, sum(q) OVER wp AS s1, sum(q * q) OVER wp AS s2
         | FROM qq WINDOW wp AS (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
         |f AS (SELECT name, node, 12 * q - s1 AS dev, 12 * s2 - s1 * s1 AS ssd
         | FROM t WHERE pn = 12),
         |b AS (SELECT name, node,
         |  CASE WHEN dev > 0 AND 11 * dev * dev > 48 * ssd THEN 1 ELSE 0 END AS hi,
         |  CASE WHEN dev < 0 AND 11 * dev * dev > 48 * ssd THEN 1 ELSE 0 END AS lo
         | FROM f)
         |SELECT name, node, count(*) AS n_eval,
         | CAST(sum(hi) AS BIGINT) AS n_hi, CAST(sum(lo) AS BIGINT) AS n_lo,
         | floor((CAST(sum(hi) + sum(lo) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS breach_rate
         |FROM b GROUP BY name, node ORDER BY name, node""".stripMargin)),

    Q("ts_peaks", (s, dir) => {
      TimeSeries.peaks(grid(s, dir)).orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |qq AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q FROM grid),
         |t AS (SELECT name, node, tsb, q,
         |  count(*) OVER wl AS nl, count(*) OVER wr AS nr,
         |  max(q) OVER wl AS ml, max(q) OVER wr AS mr,
         |  min(q) OVER bl AS minl, min(q) OVER br AS minr
         | FROM qq WINDOW
         |  wl AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
         |  wr AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING),
         |  bl AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING),
         |  br AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 1 FOLLOWING AND 12 FOLLOWING))
         |SELECT name, node, tsb,
         | floor((CAST(q AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS peak_val,
         | floor((CAST(q - greatest(minl, minr) AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS prominence
         |FROM t WHERE nl = 3 AND nr = 3 AND q > ml AND q > mr
         |  AND q - greatest(minl, minr) >= 0
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ad_ljungbox", (s, dir) => {
      TimeSeries.ljungBox(grid(s, dir))
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |mq AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |ld AS (SELECT name, node, qv,
         |  lead(qv, 1) OVER w AS y1, lead(qv, 2) OVER w AS y2, lead(qv, 3) OVER w AS y3
         | FROM mq WINDOW w AS (PARTITION BY name, node ORDER BY tsb)),
         |pr AS (
         | SELECT name, node, CAST(1 AS BIGINT) AS lag, qv AS qx, y1 AS qy
         |  FROM ld WHERE y1 IS NOT NULL
         | UNION ALL SELECT name, node, CAST(2 AS BIGINT), qv, y2 FROM ld WHERE y2 IS NOT NULL
         | UNION ALL SELECT name, node, CAST(3 AS BIGINT), qv, y3 FROM ld WHERE y3 IS NOT NULL),
         |cells AS (SELECT name, node, lag, count(*) AS n,
         |  CAST(sum(qx) AS DOUBLE) AS sx, CAST(sum(qy) AS DOUBLE) AS sy,
         |  CAST(sum(qx * qy) AS DOUBLE) AS sxy, CAST(sum(qx * qx) AS DOUBLE) AS sxx,
         |  CAST(sum(qy * qy) AS DOUBLE) AS syy
         | FROM pr GROUP BY 1, 2, 3),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |  CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells),
         |acf AS (SELECT name, node, lag,
         |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |    + 1e-9) * 1e4 + 0.5) / 1e4 AS r, n
         | FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0),
         |piv AS (SELECT name, node,
         |  max(CASE WHEN lag = 1 THEN r END) AS r1,
         |  max(CASE WHEN lag = 2 THEN r END) AS r2,
         |  max(CASE WHEN lag = 3 THEN r END) AS r3,
         |  max(CASE WHEN lag = 1 THEN n END) AS n1
         | FROM acf GROUP BY 1, 2),
         |ok AS (SELECT *, CAST(n1 + 1 AS DOUBLE) AS nd FROM piv
         | WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND r3 IS NOT NULL)
         |SELECT name, node, n1 + 1 AS n,
         | floor(((nd * (nd + 2.0)) * (((r1 * r1) / (nd - 1.0)) +
         |   ((r2 * r2) / (nd - 2.0)) + ((r3 * r3) / (nd - 3.0))) + 1e-9) * 1e4 + 0.5) / 1e4 AS q_lb,
         | CAST(floor(((nd * (nd + 2.0)) * (((r1 * r1) / (nd - 1.0)) +
         |   ((r2 * r2) / (nd - 2.0)) + ((r3 * r3) / (nd - 3.0))) + 1e-9) * 1e4 + 0.5) / 1e4
         |   > 7.8147 AS INT) AS nonwhite
         |FROM ok ORDER BY name, node""".stripMargin)),

    Q("ad_hampel", (s, dir) => {
      Anomaly.hampel(grid(s, dir)).orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |qq AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q FROM grid),
         |t AS (SELECT name, node, tsb, q,
         |  list_sort(list(q) OVER win) AS arr
         | FROM qq WINDOW win AS (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |f AS (SELECT name, node, tsb, q, arr, arr[4] AS med
         | FROM t WHERE len(arr) = 7),
         |m AS (SELECT name, node, tsb, q, med,
         |  list_sort(list_transform(arr, x -> abs(x - med)))[4] AS mad,
         |  abs(q - med) AS dev FROM f)
         |SELECT name, node, tsb,
         | floor((CAST(q AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS value,
         | floor((CAST(med AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS window_median,
         | floor((CAST(dev AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS deviation
         |FROM m WHERE dev * 10000 > 3 * 14826 * mad
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_macd", (s, dir) => {
      TimeSeries.macd(grid(s, dir)).orderBy("name", "node")
    }, Some(
      // the ts_holt recursive-CTE convention: raw-double EWMA folds
      // with exactly-representable binary-fraction constants replay
      // bit-for-bit; the histogram quantizes to 4-dp integers INSIDE
      // the fold, and the crossing count compares consecutive NONZERO
      // signs of those integers after the recursion
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |iv AS (SELECT name, node, gval,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS i FROM grid),
         |nn AS (SELECT name, node, count(*) AS n FROM iv GROUP BY 1, 2),
         |step AS (
         |  SELECT name, node, CAST(1 AS BIGINT) AS i, gval AS f, gval AS sl,
         |    CAST(0 AS DOUBLE) AS sig, CAST(0 AS BIGINT) AS qh
         |  FROM iv WHERE i = 1
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    0.25 * v.gval + 0.75 * s.f,
         |    0.0625 * v.gval + 0.9375 * s.sl,
         |    0.5 * ((0.25 * v.gval + 0.75 * s.f) - (0.0625 * v.gval + 0.9375 * s.sl)) + 0.5 * s.sig,
         |    CAST(floor(((((0.25 * v.gval + 0.75 * s.f) - (0.0625 * v.gval + 0.9375 * s.sl))
         |      - (0.5 * ((0.25 * v.gval + 0.75 * s.f) - (0.0625 * v.gval + 0.9375 * s.sl)) + 0.5 * s.sig))
         |      + 1e-9) * 1e4 + 0.5) AS BIGINT)
         |  FROM step s JOIN iv v ON v.name = s.name AND v.node = s.node AND v.i = s.i + 1),
         |hs AS (SELECT name, node, i,
         |  CASE WHEN qh > 0 THEN 1 WHEN qh < 0 THEN -1 ELSE 0 END AS sgn FROM step),
         |nz AS (SELECT name, node, i, sgn,
         |  lag(sgn) OVER (PARTITION BY name, node ORDER BY i) AS ps
         | FROM hs WHERE sgn <> 0),
         |xc AS (SELECT name, node,
         |  CAST(sum(CASE WHEN ps IS NOT NULL AND sgn <> ps THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
         | FROM nz GROUP BY 1, 2)
         |SELECT st.name, st.node, nn.n,
         | floor(((st.f - st.sl) + 1e-9) * 1e4 + 0.5) / 1e4 AS macd,
         | floor((st.sig + 1e-9) * 1e4 + 0.5) / 1e4 AS macd_signal,
         | CAST(st.qh AS DOUBLE) / 1e4 AS hist,
         | coalesce(xc.n_cross, 0) AS n_cross
         |FROM step st JOIN nn ON st.name = nn.name AND st.node = nn.node
         |LEFT JOIN xc ON st.name = xc.name AND st.node = xc.node
         |WHERE st.i = nn.n ORDER BY st.name, st.node""".stripMargin)),

    Q("ts_holt_backtest", (s, dir) => {
      TimeSeries.holtBacktest(grid(s, dir)).orderBy("name", "node")
    }, Some(
      // the error sums accumulate INSIDE the Holt recursion, so the
      // sequential addition order replays exactly (see ts_holt note)
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |iv AS (SELECT name, node, gval,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS i FROM grid),
         |nn AS (SELECT name, node, count(*) AS n FROM iv GROUP BY 1, 2 HAVING count(*) >= 3),
         |step AS (
         |  SELECT a.name, a.node, CAST(2 AS BIGINT) AS i, a.gval AS l,
         |    b.gval - a.gval AS bt, b.gval AS xp,
         |    CAST(0.0 AS DOUBLE) AS sae, CAST(0.0 AS DOUBLE) AS sse,
         |    CAST(0.0 AS DOUBLE) AS pae
         |  FROM iv a JOIN iv b ON a.name = b.name AND a.node = b.node
         |   AND a.i = 1 AND b.i = 2
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    0.3 * v.gval + (1 - 0.3) * (s.l + s.bt),
         |    0.2 * ((0.3 * v.gval + (1 - 0.3) * (s.l + s.bt)) - s.l) + (1 - 0.2) * s.bt,
         |    v.gval,
         |    s.sae + abs(v.gval - (s.l + s.bt)),
         |    s.sse + (v.gval - (s.l + s.bt)) * (v.gval - (s.l + s.bt)),
         |    s.pae + abs(v.gval - s.xp)
         |  FROM step s JOIN iv v ON v.name = s.name AND v.node = s.node AND v.i = s.i + 1)
         |SELECT s.name, s.node, nn.n - 2 AS n_fc,
         | floor((s.sae / (nn.n - 2) + 1e-9) * 1e4 + 0.5) / 1e4 AS holt_mae,
         | floor((sqrt(s.sse / (nn.n - 2)) + 1e-9) * 1e4 + 0.5) / 1e4 AS holt_rmse,
         | floor((s.pae / (nn.n - 2) + 1e-9) * 1e4 + 0.5) / 1e4 AS naive_mae,
         | CASE WHEN floor((s.pae / (nn.n - 2) + 1e-9) * 1e4 + 0.5) / 1e4 > 0 THEN
         |   floor(((1.0 - (floor((s.sae / (nn.n - 2) + 1e-9) * 1e4 + 0.5) / 1e4) /
         |     (floor((s.pae / (nn.n - 2) + 1e-9) * 1e4 + 0.5) / 1e4)) + 1e-9) * 1e4 + 0.5) / 1e4
         | ELSE 0.0 END AS skill
         |FROM step s JOIN nn ON s.name = nn.name AND s.node = nn.node
         |WHERE s.i = nn.n ORDER BY s.name, s.node""".stripMargin)),

    Q("ts_holtwinters", (s, dir) => {
      TimeSeries.holtWinters(corrGrid(s, dir)).orderBy("name", "node")
    }, Some {
      // recursive CTE carrying the 24-slot season LIST (the ts_holt
      // precedent plus list state); coefficients as SCIENTIFIC literals
      // so both engines fold with bit-identical doubles
      val xp = "s.xs[CAST(s.t + 1 AS INT)]"
      val slot = "CAST((s.t % 24) + 1 AS INT)"
      val lNew = s"(3e-1 * ($xp - s.sl[$slot]) + (1 - 3e-1) * (s.l + s.bt))"
      val snext = "s.sl[CAST((s.n % 24) + 1 AS INT)]"
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |hws AS MATERIALIZED (SELECT name, node, count(*) AS n, list(gval ORDER BY tsb) AS xs
         | FROM ff36 GROUP BY 1, 2 HAVING count(*) >= 49),
         |hwi AS (SELECT name, node, n, xs,
         |  list_sum(xs[1:24]) / 24 AS mean1,
         |  list_sum(xs[25:48]) / 24 AS mean2 FROM hws),
         |hwr AS (
         |  SELECT name, node, n, xs, CAST(24 AS BIGINT) AS t, mean1 AS l,
         |    (mean2 - mean1) / 24 AS bt,
         |    list_transform(range(1, 25), j -> xs[CAST(j AS INT)] - mean1) AS sl
         |  FROM hwi
         |  UNION ALL
         |  SELECT s.name, s.node, s.n, s.xs, s.t + 1,
         |    $lNew AS l,
         |    2e-1 * ($lNew - s.l) + (1 - 2e-1) * s.bt AS bt,
         |    list_transform(range(1, 25), k -> CASE WHEN k = (s.t % 24) + 1
         |      THEN 1e-1 * ($xp - $lNew) + (1 - 1e-1) * s.sl[$slot]
         |      ELSE s.sl[CAST(k AS INT)] END) AS sl
         |  FROM hwr s WHERE s.t < s.n)
         |SELECT s.name, s.node, s.n AS n,
         | floor((s.l + 1e-9) * 1e4 + 0.5) / 1e4 AS level,
         | floor((s.bt + 1e-9) * 1e4 + 0.5) / 1e4 AS trend,
         | floor(($snext + 1e-9) * 1e4 + 0.5) / 1e4 AS s_next,
         | floor((s.l + s.bt + $snext + 1e-9) * 1e4 + 0.5) / 1e4 AS fc1
         |FROM hwr s WHERE s.t = s.n ORDER BY s.name, s.node""".stripMargin
    }),

    Q("ts_model_compare", (s, dir) => {
      TimeSeries.modelCompare(corrGrid(s, dir)).orderBy("name", "node")
    }, Some {
      // one recursion carries BOTH models' state; the per-model MAE
      // sums accumulate inside it (holt_backtest precedent), scored
      // over the same post-warmup window
      val xp = "s.xs[CAST(s.t + 1 AS INT)]"
      val slot = "CAST((s.t % 24) + 1 AS INT)"
      val hlNew = s"(3e-1 * $xp + (1 - 3e-1) * (s.hl + s.hbt))"
      val lNew = s"(3e-1 * ($xp - s.sl[$slot]) + (1 - 3e-1) * (s.l + s.bt))"
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |mcs AS MATERIALIZED (SELECT name, node, count(*) AS n, list(gval ORDER BY tsb) AS xs
         | FROM ff36 GROUP BY 1, 2 HAVING count(*) >= 49),
         |mci AS (SELECT name, node, n, xs,
         |  list_sum(xs[1:24]) / 24 AS mean1, list_sum(xs[25:48]) / 24 AS mean2 FROM mcs),
         |mcr AS (
         |  SELECT name, node, n, xs, CAST(2 AS BIGINT) AS t,
         |    xs[1] AS hl, xs[2] - xs[1] AS hbt,
         |    mean1 AS l, (mean2 - mean1) / 24 AS bt,
         |    list_transform(range(1, 25), j -> xs[CAST(j AS INT)] - mean1) AS sl,
         |    0e0 AS hsae, 0e0 AS wsae, CAST(0 AS BIGINT) AS cnt
         |  FROM mci
         |  UNION ALL
         |  SELECT s.name, s.node, s.n, s.xs, s.t + 1,
         |    $hlNew AS hl,
         |    2e-1 * ($hlNew - s.hl) + (1 - 2e-1) * s.hbt AS hbt,
         |    CASE WHEN s.t >= 24 THEN $lNew ELSE s.l END AS l,
         |    CASE WHEN s.t >= 24 THEN 2e-1 * ($lNew - s.l) + (1 - 2e-1) * s.bt ELSE s.bt END AS bt,
         |    CASE WHEN s.t >= 24 THEN list_transform(range(1, 25), k2 -> CASE WHEN k2 = (s.t % 24) + 1
         |      THEN 1e-1 * ($xp - $lNew) + (1 - 1e-1) * s.sl[$slot] ELSE s.sl[CAST(k2 AS INT)] END)
         |    ELSE s.sl END AS sl,
         |    CASE WHEN s.t >= 48 THEN s.hsae + abs($xp - (s.hl + s.hbt)) ELSE s.hsae END AS hsae,
         |    CASE WHEN s.t >= 48 THEN s.wsae + abs($xp - (s.l + s.bt + s.sl[$slot])) ELSE s.wsae END AS wsae,
         |    CASE WHEN s.t >= 48 THEN s.cnt + 1 ELSE s.cnt END AS cnt
         |  FROM mcr s WHERE s.t < s.n)
         |SELECT name, node, n, cnt AS n_scored,
         | floor((hsae / cnt + 1e-9) * 1e4 + 0.5) / 1e4 AS holt_mae,
         | floor((wsae / cnt + 1e-9) * 1e4 + 0.5) / 1e4 AS hw_mae,
         | CASE WHEN floor((wsae / cnt + 1e-9) * 1e4 + 0.5) < floor((hsae / cnt + 1e-9) * 1e4 + 0.5) THEN 'hw'
         |      WHEN floor((hsae / cnt + 1e-9) * 1e4 + 0.5) < floor((wsae / cnt + 1e-9) * 1e4 + 0.5) THEN 'holt'
         |      ELSE 'tie' END AS winner
         |FROM mcr WHERE t = n ORDER BY name, node""".stripMargin
    }),

    Q("ad_hw_residual", (s, dir) => {
      Anomaly.hwResidual(corrGrid(s, dir)).orderBy("name", "node", "tsb")
    }, Some {
      // the ts_holtwinters recursion plus Welford residual moments —
      // scoring reads ONLY pre-update state (one-step-ahead, no
      // lookahead), so the flag replay is the same sequential fold
      val xp = "s.xs[CAST(s.t + 1 AS INT)]"
      val slot = "CAST((s.t % 24) + 1 AS INT)"
      val fc = s"(s.l + s.bt + s.sl[$slot])"
      val resid = s"($xp - $fc)"
      val muNew = s"(s.mu + ($resid - s.mu) / (s.kk + 1))"
      val lNew = s"(3e-1 * ($xp - s.sl[$slot]) + (1 - 3e-1) * (s.l + s.bt))"
      val zrE = s"floor((($resid - s.mu) / sqrt(s.m2 / (s.kk - 1)) + 1e-9) * 1e4 + 0.5) / 1e4"
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |hrs AS MATERIALIZED (SELECT name, node, count(*) AS n,
         |  list(gval ORDER BY tsb) AS xs, list(tsb ORDER BY tsb) AS ts
         | FROM ff36 GROUP BY 1, 2 HAVING count(*) >= 49),
         |hri AS (SELECT name, node, n, xs, ts,
         |  list_sum(xs[1:24]) / 24 AS mean1,
         |  list_sum(xs[25:48]) / 24 AS mean2 FROM hrs),
         |hrr AS (
         |  SELECT name, node, n, xs, ts, CAST(24 AS BIGINT) AS t, mean1 AS l,
         |    (mean2 - mean1) / 24 AS bt,
         |    list_transform(range(1, 25), j -> xs[CAST(j AS INT)] - mean1) AS sl,
         |    CAST(0 AS BIGINT) AS kk, 0e0 AS mu, 0e0 AS m2,
         |    false AS flg, 0e0 AS fcp, 0e0 AS xv, 0e0 AS zr
         |  FROM hri
         |  UNION ALL
         |  SELECT s.name, s.node, s.n, s.xs, s.ts, s.t + 1,
         |    $lNew AS l,
         |    2e-1 * ($lNew - s.l) + (1 - 2e-1) * s.bt AS bt,
         |    list_transform(range(1, 25), k2 -> CASE WHEN k2 = (s.t % 24) + 1
         |      THEN 1e-1 * ($xp - $lNew) + (1 - 1e-1) * s.sl[$slot]
         |      ELSE s.sl[CAST(k2 AS INT)] END) AS sl,
         |    s.kk + 1 AS kk,
         |    $muNew AS mu,
         |    s.m2 + ($resid - s.mu) * ($resid - $muNew) AS m2,
         |    (s.kk >= 48 AND s.m2 > 0 AND ($zrE > 3e0 OR $zrE < -3e0)) AS flg,
         |    floor(($fc + 1e-9) * 1e4 + 0.5) / 1e4 AS fcp,
         |    $xp AS xv,
         |    CASE WHEN s.kk >= 48 AND s.m2 > 0 THEN $zrE ELSE 0e0 END AS zr
         |  FROM hrr s WHERE s.t < s.n)
         |SELECT name, node, ts[CAST(t AS INT)] AS tsb, xv AS gval, fcp AS fc, zr AS z
         |FROM hrr WHERE flg ORDER BY name, node, tsb""".stripMargin
    }),

    Q("ts_kalman", (s, dir) => {
      TimeSeries.kalman(grid(s, dir)).orderBy("name", "node")
    }, Some(
      // same recursive-CTE technique as ts_holt: the coupled (level,
      // variance, gain) recursion replays the identical IEEE fold
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |iv AS (SELECT name, node, gval,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS i FROM grid),
         |nn AS (SELECT name, node, count(*) AS n FROM iv GROUP BY 1, 2 HAVING count(*) >= 2),
         |step AS (
         |  SELECT name, node, CAST(1 AS BIGINT) AS i, gval AS l,
         |    CAST(1.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS k
         |  FROM iv WHERE i = 1
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    s.l + ((s.p + 0.05) / ((s.p + 0.05) + 1.0)) * (v.gval - s.l),
         |    (1 - (s.p + 0.05) / ((s.p + 0.05) + 1.0)) * (s.p + 0.05),
         |    (s.p + 0.05) / ((s.p + 0.05) + 1.0)
         |  FROM step s JOIN iv v ON v.name = s.name AND v.node = s.node AND v.i = s.i + 1)
         |SELECT s.name, s.node, nn.n,
         | floor((s.l + 1e-9) * 1e4 + 0.5) / 1e4 AS level,
         | floor((s.k + 1e-9) * 1e4 + 0.5) / 1e4 AS gain,
         | floor((s.p + 1e-9) * 1e4 + 0.5) / 1e4 AS p_var
         |FROM step s JOIN nn ON s.name = nn.name AND s.node = nn.node
         |WHERE s.i = nn.n ORDER BY s.name, s.node""".stripMargin)),

    Q("ts_winsorize", (s, dir) => {
      TimeSeries.winsorize(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("clamped")).as("clamped"), col("was_clamped"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |bounds AS (SELECT name, node,
         |  quantile_cont(gval, 0.01) AS p_lo, quantile_cont(gval, 0.99) AS p_hi
         | FROM grid GROUP BY 1, 2)
         |SELECT g.name, g.node, g.tsb,
         | floor((least(greatest(g.gval, b.p_lo), b.p_hi) + 1e-9) * 1e4 + 0.5) / 1e4 AS clamped,
         | CAST(g.gval < b.p_lo OR g.gval > b.p_hi AS INT) AS was_clamped
         |FROM grid g JOIN bounds b ON g.name = b.name AND g.node = b.node
         |ORDER BY g.name, g.node, g.tsb""".stripMargin)),

    Q("ts_rate_reset", (s, dir) => {
      TimeSeries.counterRate(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("increase")).as("increase"), r6(col("rate")).as("rate"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, tsb,
         | floor(((CASE WHEN lag(gval) OVER w IS NULL THEN NULL
         |   WHEN gval >= lag(gval) OVER w THEN gval - lag(gval) OVER w
         |   ELSE gval END) + 1e-9) * 1e4 + 0.5) / 1e4 AS increase,
         | floor(((CASE WHEN lag(gval) OVER w IS NULL THEN NULL
         |   WHEN gval >= lag(gval) OVER w THEN gval - lag(gval) OVER w
         |   ELSE gval END) / (tsb - lag(tsb) OVER w) + 1e-11) * 1e6 + 0.5) / 1e6 AS rate
         |FROM grid WINDOW w AS (PARTITION BY name, node ORDER BY tsb)
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_zscore", (s, dir) => {
      TimeSeries.zscore(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"), r4(col("z")).as("z"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st AS (SELECT name, node, tsb, d,
         |  CAST(count(*) OVER w AS DOUBLE) AS nd,
         |  CAST(sum(d) OVER w AS DOUBLE) AS s1,
         |  CAST(sum(d * d) OVER w AS DOUBLE) AS s2
         | FROM qd WINDOW w AS (PARTITION BY name, node))
         |SELECT name, node, tsb,
         | floor(((CAST(d AS DOUBLE) - s1 / nd)
         |   / sqrt((nd * s2 - s1 * s1) / (nd * (nd - 1.0))) + 1e-9) * 1e4 + 0.5) / 1e4 AS z
         |FROM st ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_range_gate", (s, dir) => {
      TimeSeries.rangeGate(grid(s, dir))
        .select(col("name"), col("node"), r4(col("rng")).as("rng"), col("n"))
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, floor((max(gval) - min(gval) + 1e-9) * 1e4 + 0.5) / 1e4 AS rng, count(*) AS n
         |FROM grid GROUP BY name, node
         |HAVING floor((max(gval) - min(gval) + 1e-9) * 1e4 + 0.5) / 1e4 > 0.005
         |ORDER BY name, node""".stripMargin)),

    Q("ts_relative", (s, dir) => {
      TimeSeries.relative(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"), r6(col("rel")).as("rel"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID
         |SELECT name, node, tsb,
         | floor((gval / (abs(max(gval) OVER (PARTITION BY name, node)) + 1e-10) + 1e-11) * 1e6 + 0.5) / 1e6 AS rel
         |FROM grid ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_bucket_agg", (s, dir) => {
      TimeSeries.bucketAgg(TimeSeries.signalsFromEvents(Tables.events(s, dir)))
        .select(col("name"), col("node"), col("b"), col("n"),
          r4(col("mean_v")).as("mean_v"), col("min_v"), col("max_v"))
        .orderBy("name", "node", "b")
    }, Some(
      s"""WITH $SQL_SIG
         |SELECT name, node, tsec // 86400 * 86400 AS b, count(*) AS n,
         | floor((CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_v,
         | min(value) AS min_v, max(value) AS max_v
         |FROM signals GROUP BY name, node, b ORDER BY name, node, b""".stripMargin)),

    Q("ts_twap", (s, dir) => {
      TimeSeries.twap(TimeSeries.signalsFromEvents(Tables.events(s, dir)))
        .orderBy("name", "node", "b")
    }, Some(
      s"""WITH $SQL_SIG,
         |tsec2 AS (SELECT name, node, tsec, tsec // 86400 * 86400 AS b,
         |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS v
         | FROM signals GROUP BY 1, 2, 3, 4),
         |tq AS (SELECT name, node, tsec, b,
         |  CAST(floor((v + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS q FROM tsec2),
         |thw AS (SELECT name, node, b, q,
         |  coalesce(lead(tsec) OVER (PARTITION BY name, node, b ORDER BY tsec),
         |    b + 86400) - tsec AS hold
         | FROM tq),
         |tag AS (SELECT name, node, b, count(*) AS n,
         |  sum(q * hold) AS qw, sum(hold) AS wsum
         | FROM thw GROUP BY 1, 2, 3)
         |SELECT name, node, b, n,
         | floor((CAST(qw AS DOUBLE) / (CAST(wsum AS DOUBLE) * 1e4) + 1e-9) * 1e4 + 0.5) / 1e4 AS twap,
         | CAST(wsum AS BIGINT) AS covered_sec
         |FROM tag ORDER BY name, node, b""".stripMargin)),

    Q("ts_percentiles", (s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          r4(expr("percentile(value, 0.5)")).as("p50"),
          r4(expr("percentile(value, 0.9)")).as("p90"),
          r4(expr("percentile(value, 0.99)")).as("p99"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type,
        | floor((quantile_cont(value, 0.5) + 1e-9) * 1e4 + 0.5) / 1e4 AS p50,
        | floor((quantile_cont(value, 0.9) + 1e-9) * 1e4 + 0.5) / 1e4 AS p90,
        | floor((quantile_cont(value, 0.99) + 1e-9) * 1e4 + 0.5) / 1e4 AS p99,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("ts_histogram", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val mm = ev.groupBy("event_type")
        .agg(min("value").as("minv"), max("value").as("maxv"))
      ev.join(mm, "event_type")
        .withColumn("bin",
          least(floor((col("value") - col("minv")) / ((col("maxv") - col("minv")) / 10)), lit(9L))
            .cast("bigint"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }, Some(
      """WITH mm AS (SELECT event_type, min(value) AS minv, max(value) AS maxv
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        | CAST(least(floor((e.value - minv) / ((maxv - minv) / 10)), 9) AS BIGINT) AS bin,
        | count(*) AS n
        |FROM events e JOIN mm ON e.event_type = mm.event_type
        |GROUP BY e.event_type, bin ORDER BY e.event_type, bin""".stripMargin)),

    Q("ts_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("key"), expr("ts div 1000000000").as("tsec"),
          col("event_id").as("id"), col("value"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click").drop("event_type")
      val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
      AsOfJoin.asOf(clicks, purchases)
        .select(col("id").as("event_id"), col("key").as("user_id"), col("tsec"),
          col("asof_ts"), col("asof_value"),
          (col("tsec") - col("asof_ts")).as("gap_sec"))
        .orderBy("event_id")
    }, Some(
      """WITH ev AS (SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |  event_id AS id, value, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |tagged AS (SELECT key, tsec, id, value,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side FROM ev),
        |filled AS (SELECT key, tsec, id, value, side,
        |  last_value(CASE WHEN side = 0 THEN tsec END IGNORE NULLS) OVER w AS asof_ts,
        |  last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS asof_value
        | FROM tagged
        | WINDOW w AS (PARTITION BY key ORDER BY tsec, side, id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT id AS event_id, key AS user_id, tsec, asof_ts, asof_value,
        | tsec - asof_ts AS gap_sec
        |FROM filled WHERE side = 1 ORDER BY event_id""".stripMargin)),

    Q("ts_ewma", (s, dir) => {
      TimeSeries.ewma(grid(s, dir), 0.3)
        .orderBy("name", "node", "tsb")
    }, Some(
      // the recursion y_i = a·x_i + (1−a)·y_{i−1} as a left fold over the
      // full-history window list — same operation order and the same
      // (1 - 0.3) double as the Scala loop, so bit-identical before
      // rounding. O(n²) per signal is oracle-only cost.
      s"""$WITH_GRID
         |SELECT name, node, tsb,
         | floor((list_reduce(list(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  (acc, x) -> 0.3 * x + (1 - 0.3) * acc) + 1e-9) * 1e4 + 0.5) / 1e4 AS ewma
         |FROM grid ORDER BY name, node, tsb""".stripMargin)),

    // ================= C. anomaly & correlation =================
    Q("ts_drawdown", (s, dir) => {
      // max drawdown per signal: worst peak-to-trough fraction under
      // the running max — the "how far below its best has this metric
      // fallen" read (capacity headroom, error-budget burn, QPS
      // regressions). One per-signal window; argmax on the rounded
      // drawdown with earliest-trough tiebreak.
      val w = Window.partitionBy("name", "node").orderBy("tsb")
      val pk = grid(s, dir)
        .withColumn("peak", max("gval").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("peak") > 0)
        .withColumn("dd", r4((col("peak") - col("gval")) / col("peak")))
      pk.withColumn("rn", row_number().over(Window.partitionBy("name", "node")
          .orderBy(col("dd").desc, col("tsb"))))
        .filter(col("rn") === 1)
        .select(col("name"), col("node"), col("tsb").as("trough_tsb"),
          r4(col("peak")).as("peak"), r4(col("gval")).as("trough"),
          col("dd").as("max_drawdown"))
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID,
         |dpk AS (SELECT name, node, tsb, gval,
         |  max(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         | FROM grid),
         |ddd AS (SELECT *, floor(((peak - gval) / peak + 1e-9) * 1e4 + 0.5) / 1e4 AS dd
         | FROM dpk WHERE peak > 0),
         |drk AS (SELECT *, row_number() OVER (PARTITION BY name, node
         |   ORDER BY dd DESC, tsb) AS rn FROM ddd)
         |SELECT name, node, tsb AS trough_tsb,
         | floor((peak + 1e-9) * 1e4 + 0.5) / 1e4 AS peak,
         | floor((gval + 1e-9) * 1e4 + 0.5) / 1e4 AS trough,
         | dd AS max_drawdown
         |FROM drk WHERE rn = 1 ORDER BY name, node""".stripMargin)),

    Q("ad_flag_episodes", (s, dir) => {
      // anomaly episode structure: consecutive flagged grid steps
      // merge into episodes (gaps-and-islands on the k-sigma flag
      // frame) — the alert-fatigue read (one 2-hour incident vs 8
      // scattered blips) that decides paging policy.
      val fl = Anomaly.ksigma(grid(s, dir), 3.0).select("name", "node", "tsb")
      val w = Window.partitionBy("name", "node").orderBy("tsb")
      val eps = fl
        .withColumn("sid", expr("tsb div 900") - row_number().over(w))
        .groupBy("name", "node", "sid")
        .agg(count(lit(1)).as("run"), min("tsb").as("ep_start"))
      val wp = Window.partitionBy("name", "node")
      eps
        .withColumn("rn", row_number().over(
          wp.orderBy(col("run").desc, col("ep_start"))))
        .withColumn("n_flags", sum("run").over(wp))
        .withColumn("n_episodes", count(lit(1)).over(wp))
        .withColumn("max_run", max("run").over(wp))
        .filter(col("rn") === 1)
        .select(col("name"), col("node"), col("n_flags"), col("n_episodes"),
          col("max_run"), col("ep_start").as("longest_start"),
          r4(col("n_flags").cast("double") / col("n_episodes").cast("double"))
            .as("mean_run"))
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID,
         |fmx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |fqd AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM fmx),
         |fst0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2
         | FROM fqd GROUP BY 1, 2),
         |fst AS (SELECT name, node, n, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM fst0),
         |ffl AS (SELECT g.name, g.node, g.tsb
         | FROM fqd g JOIN fst ON g.name = fst.name AND g.node = fst.node
         | WHERE n >= 3 AND sigma_s > 0
         |  AND floor((abs((CAST(g.d AS DOUBLE) - mu_s) / sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0),
         |fis AS (SELECT name, node, tsb,
         |  tsb // 900 - row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS sid
         | FROM ffl),
         |fep AS (SELECT name, node, sid, count(*) AS run, min(tsb) AS ep_start
         | FROM fis GROUP BY 1, 2, 3),
         |fag AS (SELECT *, row_number() OVER (PARTITION BY name, node
         |   ORDER BY run DESC, ep_start) AS rn,
         |  sum(run) OVER (PARTITION BY name, node) AS n_flags,
         |  count(*) OVER (PARTITION BY name, node) AS n_episodes,
         |  max(run) OVER (PARTITION BY name, node) AS max_run
         | FROM fep)
         |SELECT name, node, CAST(n_flags AS BIGINT) AS n_flags, n_episodes, max_run,
         | ep_start AS longest_start,
         | floor((CAST(n_flags AS DOUBLE) / CAST(n_episodes AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_run
         |FROM fag WHERE rn = 1 ORDER BY name, node""".stripMargin)),

    Q("ad_ksigma", (s, dir) => {
      // level=3 mirrors the reference call site (metrics_advisor.py:150)
      Anomaly.ksigma(grid(s, dir), 3.0)
        .select(col("name"), col("node"), col("tsb"),
          r4(col("gval")).as("gval"), r4(col("z")).as("z"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb, gval,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2
         | FROM qd GROUP BY 1, 2),
         |st AS (SELECT name, node, n, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st0)
         |SELECT g.name, g.node, g.tsb, floor((g.gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval,
         | floor(((CAST(g.d AS DOUBLE) - mu_s) / sigma_s + 1e-9) * 1e4 + 0.5) / 1e4 AS z
         |FROM qd g JOIN st ON g.name = st.name AND g.node = st.node
         |WHERE n >= 3 AND sigma_s > 0
         | AND floor((abs((CAST(g.d AS DOUBLE) - mu_s) / sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0
         |ORDER BY g.name, g.node, g.tsb""".stripMargin)),

    Q("ad_spc_rules", (s, dir) => {
      Anomaly.spcRules(grid(s, dir))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st AS (SELECT name, node, tsb, d,
         |  CAST(count(*) OVER w AS DOUBLE) AS nd,
         |  CAST(sum(d) OVER w AS DOUBLE) AS s1,
         |  CAST(sum(d * d) OVER w AS DOUBLE) AS s2
         | FROM qd WINDOW w AS (PARTITION BY name, node)),
         |zz AS (SELECT name, node, tsb,
         |  (CAST(d AS DOUBLE) - s1 / nd)
         |    / sqrt((nd * s2 - s1 * s1) / (nd * (nd - 1.0))) AS z_raw FROM st),
         |z4 AS (SELECT name, node, tsb,
         |  floor((z_raw + 1e-9) * 1e4 + 0.5) / 1e4 AS z4
         | FROM zz WHERE NOT isnan(z_raw)),
         |r AS (SELECT name, node, tsb, z4,
         |  CAST(abs(z4) > 3.0 AS INT) AS rule1,
         |  CAST(sum(CASE WHEN z4 > 2.0 THEN 1 ELSE 0 END) OVER t3 >= 2
         |    OR sum(CASE WHEN z4 < -2.0 THEN 1 ELSE 0 END) OVER t3 >= 2 AS INT) AS rule2,
         |  CAST(sum(CASE WHEN z4 > 1.0 THEN 1 ELSE 0 END) OVER t5 >= 4
         |    OR sum(CASE WHEN z4 < -1.0 THEN 1 ELSE 0 END) OVER t5 >= 4 AS INT) AS rule3,
         |  CAST(sum(CASE WHEN z4 > 0.0 THEN 1 ELSE 0 END) OVER t8 >= 8
         |    OR sum(CASE WHEN z4 < 0.0 THEN 1 ELSE 0 END) OVER t8 >= 8 AS INT) AS rule4
         | FROM z4 WINDOW
         |  t3 AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |  t5 AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |  t8 AS (PARTITION BY name, node ORDER BY tsb ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT name, node, tsb, z4 AS z, rule1, rule2, rule3, rule4
         |FROM r WHERE rule1 = 1 OR rule2 = 1 OR rule3 = 1 OR rule4 = 1
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ad_mad", (s, dir) => {
      Anomaly.mad(grid(s, dir), 3.0)
        .select(col("name"), col("node"), col("tsb"),
          r4(col("gval")).as("gval"), r4(col("rz")).as("rz"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |med AS (SELECT name, node, quantile_cont(gval, 0.5) AS med FROM grid GROUP BY 1, 2),
         |dev AS (SELECT g.name, g.node, g.tsb, g.gval, g.gval - med.med AS d, abs(g.gval - med.med) AS ad
         |  FROM grid g JOIN med ON g.name = med.name AND g.node = med.node),
         |madv AS (SELECT name, node, quantile_cont(ad, 0.5) AS mad_v FROM dev GROUP BY 1, 2)
         |SELECT dev.name, dev.node, dev.tsb, floor((dev.gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval,
         | floor((0.6745 * dev.d / mad_v + 1e-9) * 1e4 + 0.5) / 1e4 AS rz
         |FROM dev JOIN madv ON dev.name = madv.name AND dev.node = madv.node
         |WHERE mad_v > 0 AND floor((abs(0.6745 * dev.d / mad_v) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0
         |ORDER BY dev.name, dev.node, dev.tsb""".stripMargin)),

    Q("ad_iqr", (s, dir) => {
      Anomaly.iqr(grid(s, dir), 1.5)
        .select(col("name"), col("node"), col("tsb"),
          r4(col("gval")).as("gval"), r4(col("q1")).as("q1"), r4(col("q3")).as("q3"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |q AS (SELECT name, node, quantile_cont(gval, 0.25) AS q1, quantile_cont(gval, 0.75) AS q3
         |  FROM grid GROUP BY 1, 2)
         |SELECT g.name, g.node, g.tsb, floor((g.gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval,
         | floor((q1 + 1e-9) * 1e4 + 0.5) / 1e4 AS q1, floor((q3 + 1e-9) * 1e4 + 0.5) / 1e4 AS q3
         |FROM grid g JOIN q ON g.name = q.name AND g.node = q.node
         |WHERE g.gval < q1 - 1.5 * (q3 - q1) OR g.gval > q3 + 1.5 * (q3 - q1)
         |ORDER BY g.name, g.node, g.tsb""".stripMargin)),

    Q("ad_decompose", (s, dir) => {
      Anomaly.decompose(grid(s, dir))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("gval")).as("gval"), r4(col("trend")).as("trend"), r4(col("resid")).as("resid"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |t AS (SELECT name, node, tsb, gval,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend
         | FROM grid)
         |SELECT name, node, tsb, floor((gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval, floor((trend + 1e-9) * 1e4 + 0.5) / 1e4 AS trend,
         | floor((gval - trend + 1e-9) * 1e4 + 0.5) / 1e4 AS resid
         |FROM t ORDER BY name, node, tsb""".stripMargin)),

    Q("ts_seasonal_strength", (s, dir) =>
      TimeSeries.seasonalStrength(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |mxs AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qds AS (SELECT name, node, (tsb % 86400) // 3600 AS h,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS dq FROM mxs),
         |hh AS (SELECT name, node, h, count(*) AS nh,
         |  CAST(sum(dq) AS DOUBLE) AS s1h, CAST(sum(dq * dq) AS DOUBLE) AS s2h
         | FROM qds GROUP BY 1, 2, 3),
         |ht AS (SELECT *, s2h - s1h * s1h / CAST(nh AS DOUBLE) AS term FROM hh),
         |ag AS (SELECT name, node,
         |  list(nh ORDER BY h) AS lnh, list(s1h ORDER BY h) AS ls1,
         |  list(s2h ORDER BY h) AS ls2, list(term ORDER BY h) AS lt
         | FROM ht GROUP BY 1, 2),
         |fin AS (SELECT name, node, CAST(len(lt) AS INT) AS n_hours,
         |  CAST(list_sum(lnh) AS BIGINT) AS n, list_sum(ls1) AS s1,
         |  list_sum(ls2) AS s2, list_sum(lt) AS ssw FROM ag),
         |sx AS (SELECT *, s2 - s1 * s1 / CAST(n AS DOUBLE) AS sst FROM fin)
         |SELECT name, node, n, n_hours,
         | floor((greatest(0.0, 1.0 - ssw / sst) + 1e-9) * 1e4 + 0.5) / 1e4 AS seasonal_strength
         |FROM sx WHERE sst > 0 ORDER BY name, node""".stripMargin)),

    Q("ts_features", (s, dir) => {
      // the per-signal feature vector for downstream fleet ML: the
      // Hyndman triple on ONE persisted grid; signals missing a leg
      // (short series, zero variance) carry NULL, not a fake zero
      val gd = grid(s, dir).persist().tracked
      gd.select("name", "node").distinct()
        .join(TimeSeries.trendStrength(gd)
          .select("name", "node", "trend_strength"), Seq("name", "node"), "left")
        .join(TimeSeries.seasonalStrength(gd)
          .select("name", "node", "seasonal_strength"), Seq("name", "node"), "left")
        .join(ChangePoints.spectralEntropy(gd)
          .select("name", "node", "spec_entropy"), Seq("name", "node"), "left")
        .orderBy("name", "node")
    }, Some(
      s"""$WITH_GRID,
         |t9 AS (SELECT name, node, tsb, gval,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend
         | FROM grid),
         |mx9 AS (SELECT *, CASE WHEN (max(abs(gval)) OVER (PARTITION BY name, node)) > 0
         |  THEN max(abs(gval)) OVER (PARTITION BY name, node) ELSE 1.0 END AS mm FROM t9),
         |q9 AS (SELECT name, node,
         |  CAST(floor((gval / mm) * 1e9 + 0.5) AS HUGEINT) AS qg,
         |  CAST(floor(((gval - trend) / mm) * 1e9 + 0.5) AS HUGEINT) AS qr
         | FROM mx9),
         |m9 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(qg) AS DOUBLE) AS sg, CAST(sum(qg * qg) AS DOUBLE) AS sgg,
         |  CAST(sum(qr) AS DOUBLE) AS sr, CAST(sum(qr * qr) AS DOUBLE) AS srr
         | FROM q9 GROUP BY 1, 2),
         |v9 AS (SELECT *, CAST(n AS DOUBLE) * sgg - sg * sg AS vg,
         |  CAST(n AS DOUBLE) * srr - sr * sr AS vr FROM m9),
         |tsl AS (SELECT name, node,
         |  floor((greatest(0.0, 1.0 - vr / vg) + 1e-9) * 1e4 + 0.5) / 1e4 AS trend_strength
         | FROM v9 WHERE n >= 3 AND vg > 0),
         |mxs AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qds AS (SELECT name, node, (tsb % 86400) // 3600 AS h,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS dq FROM mxs),
         |hh AS (SELECT name, node, h, count(*) AS nh,
         |  CAST(sum(dq) AS DOUBLE) AS s1h, CAST(sum(dq * dq) AS DOUBLE) AS s2h
         | FROM qds GROUP BY 1, 2, 3),
         |ht AS (SELECT *, s2h - s1h * s1h / CAST(nh AS DOUBLE) AS term FROM hh),
         |ag AS (SELECT name, node,
         |  list(s1h ORDER BY h) AS ls1, list(s2h ORDER BY h) AS ls2,
         |  list(nh ORDER BY h) AS lnh, list(term ORDER BY h) AS lt
         | FROM ht GROUP BY 1, 2),
         |fins AS (SELECT name, node, CAST(list_sum(lnh) AS BIGINT) AS n,
         |  list_sum(ls1) AS s1, list_sum(ls2) AS s2, list_sum(lt) AS ssw FROM ag),
         |sxs AS (SELECT *, s2 - s1 * s1 / CAST(n AS DOUBLE) AS sst FROM fins),
         |ssl AS (SELECT name, node,
         |  floor((greatest(0.0, 1.0 - ssw / sst) + 1e-9) * 1e4 + 0.5) / 1e4 AS seasonal_strength
         | FROM sxs WHERE sst > 0),
         |pser AS MATERIALIZED (SELECT name, node, count(*) AS n, list(gval ORDER BY tsb) AS xs
         | FROM grid GROUP BY 1, 2),
         |${sqlTwiddleCte("(SELECT (CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END) AS m FROM pser)")},
         |${sqlDftPowers("pser", "p")},
         |${sqlSpectralEntropy("p")},
         |sel AS (SELECT name, node, spec_entropy FROM pent),
         |sg AS (SELECT DISTINCT name, node FROM grid)
         |SELECT sg.name, sg.node, tsl.trend_strength, ssl.seasonal_strength,
         | sel.spec_entropy
         |FROM sg
         | LEFT JOIN tsl ON tsl.name = sg.name AND tsl.node = sg.node
         | LEFT JOIN ssl ON ssl.name = sg.name AND ssl.node = sg.node
         | LEFT JOIN sel ON sel.name = sg.name AND sel.node = sg.node
         |ORDER BY sg.name, sg.node""".stripMargin)),

    Q("ts_hurst", (s, dir) =>
      TimeSeries.hurstRS(grid(s, dir, dense = true)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |mxh AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qh AS (SELECT name, node,
         |  CAST(row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1 AS BIGINT) AS idx,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mxh),
         |scl AS (SELECT unnest([8, 16, 32]) AS w),
         |hb AS (SELECT q.name, q.node, s.w, q.idx // s.w AS wid, q.idx, q.qv FROM qh q, scl s),
         |hst AS (SELECT *,
         |  sum(qv) OVER (PARTITION BY name, node, w, wid ORDER BY idx) AS cum,
         |  CAST(row_number() OVER (PARTITION BY name, node, w, wid ORDER BY idx) AS BIGINT) AS j,
         |  sum(qv) OVER (PARTITION BY name, node, w, wid) AS s1,
         |  sum(qv * qv) OVER (PARTITION BY name, node, w, wid) AS s2,
         |  count(*) OVER (PARTITION BY name, node, w, wid) AS cnt FROM hb),
         |hwin AS (SELECT name, node, w, wid,
         |  max(w * cum - j * s1) AS maxp, min(w * cum - j * s1) AS minp,
         |  max(s1) AS s1, max(s2) AS s2
         | FROM hst WHERE cnt = w GROUP BY 1, 2, 3, 4),
         |hrs AS (SELECT name, node, w,
         |  CAST(floor((CAST(maxp - minp AS DOUBLE) / sqrt(CAST(w * s2 - s1 * s1 AS DOUBLE))
         |    + 1e-11) * 1e6 + 0.5) AS BIGINT) AS rq
         | FROM hwin WHERE w * s2 - s1 * s1 > 0),
         |hms AS (SELECT name, node, w, count(*) AS nw, sum(rq) AS srq
         | FROM hrs GROUP BY 1, 2, 3 HAVING count(*) >= 2 AND sum(rq) > 0),
         |hys AS (SELECT name, node, w, CAST(srq AS DOUBLE) / (nw * 1e6) AS mrs,
         |  ${graft.functions.ExactMath.sqlLnCols("srq", "ha", "lnsrq")},
         |  ${graft.functions.ExactMath.sqlLnCols("nw * 1000000", "hb", "lnnw6")},
         |  CAST(floor((lnsrq - lnnw6 + 1e-9) * 1e6 + 0.5) AS BIGINT) AS yq,
         |  CAST(CASE w WHEN 8 THEN 2079442 WHEN 16 THEN 2772589 ELSE 3465736 END AS BIGINT) AS xq
         | FROM hms),
         |hft AS (SELECT name, node, count(*) AS k, sum(xq) AS sx, sum(yq) AS sy,
         |  sum(xq * yq) AS sxy, sum(xq * xq) AS sxx,
         |  max(CASE WHEN w = 8 THEN mrs END) AS m8,
         |  max(CASE WHEN w = 16 THEN mrs END) AS m16,
         |  max(CASE WHEN w = 32 THEN mrs END) AS m32
         | FROM hys GROUP BY 1, 2)
         |SELECT name, node,
         | floor((m8 + 1e-9) * 1e4 + 0.5) / 1e4 AS rs8,
         | floor((m16 + 1e-9) * 1e4 + 0.5) / 1e4 AS rs16,
         | floor((m32 + 1e-9) * 1e4 + 0.5) / 1e4 AS rs32,
         | floor((CAST(3 * sxy - sx * sy AS DOUBLE) / CAST(3 * sxx - sx * sx AS DOUBLE)
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS hurst
         |FROM hft WHERE k = 3 ORDER BY name, node""".stripMargin)),

    Q("ts_trend_strength", (s, dir) =>
      TimeSeries.trendStrength(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |t AS (SELECT name, node, tsb, gval,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend
         | FROM grid),
         |mx AS (SELECT *, CASE WHEN (max(abs(gval)) OVER (PARTITION BY name, node)) > 0
         |  THEN max(abs(gval)) OVER (PARTITION BY name, node) ELSE 1.0 END AS mm FROM t),
         |q AS (SELECT name, node,
         |  CAST(floor((gval / mm) * 1e9 + 0.5) AS HUGEINT) AS qg,
         |  CAST(floor(((gval - trend) / mm) * 1e9 + 0.5) AS HUGEINT) AS qr
         | FROM mx),
         |m AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(qg) AS DOUBLE) AS sg, CAST(sum(qg * qg) AS DOUBLE) AS sgg,
         |  CAST(sum(qr) AS DOUBLE) AS sr, CAST(sum(qr * qr) AS DOUBLE) AS srr
         | FROM q GROUP BY 1, 2),
         |v AS (SELECT *, CAST(n AS DOUBLE) * sgg - sg * sg AS vg,
         |  CAST(n AS DOUBLE) * srr - sr * sr AS vr FROM m)
         |SELECT name, node, n,
         | floor((greatest(0.0, 1.0 - vr / vg) + 1e-9) * 1e4 + 0.5) / 1e4 AS trend_strength
         |FROM v WHERE n >= 3 AND vg > 0 ORDER BY name, node""".stripMargin)),

    Q("ad_noise_outlier", (s, dir) => {
      // level=3 mirrors the reference call site (metrics_advisor.py:150)
      Anomaly.noiseOutlier(grid(s, dir), 3.0)
        .select(col("name"), col("node"), col("tsb"),
          r4(col("resid")).as("resid"), r4(col("z")).as("z"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""$WITH_GRID,
         |t AS (SELECT name, node, tsb, gval,
         |  gval - median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS resid
         | FROM grid),
         |mx AS (SELECT name, node, tsb, resid,
         |  max(abs(resid)) OVER (PARTITION BY name, node) AS mr FROM t),
         |qd AS (SELECT name, node, tsb, resid,
         |  CAST(floor((resid / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2
         | FROM qd GROUP BY 1, 2),
         |st AS (SELECT name, node, n, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st0)
         |SELECT q.name, q.node, q.tsb, floor((q.resid + 1e-9) * 1e4 + 0.5) / 1e4 AS resid,
         | floor(((CAST(q.d AS DOUBLE) - mu_s) / sigma_s + 1e-9) * 1e4 + 0.5) / 1e4 AS z
         |FROM qd q JOIN st ON q.name = st.name AND q.node = st.node
         |WHERE n >= 3 AND sigma_s > 0
         | AND floor((abs((CAST(q.d AS DOUBLE) - mu_s) / sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0
         |ORDER BY q.name, q.node, q.tsb""".stripMargin)),

    Q("corr_ncc_lag", (s, dir) => {
      // r13: dense corrGrid arm — the NCC-at-lags moment aggregate
      // streams the candidate cache at the grid pin's width and is
      // O(lags × n) per pair (measured +0.3-0.4 s at the 256 KB width)
      Correlate.nccLag(corrGrid(s, dir, dense = true), ObjSignals)
        .select(col("obj_name"), col("obj_node"), col("cand_name"), col("cand_node"),
          col("b"), col("lag"), col("r"), col("n"))
        .orderBy("obj_name", "obj_node", "cand_name", "cand_node", "b", "lag")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |$SQL_NCC_CR
         |SELECT obj_name, obj_node, cand_name, cand_node, b, lag, r, n
         |FROM cr
         |ORDER BY obj_name, obj_node, cand_name, cand_node, b, lag""".stripMargin)),

    Q("corr_lag_consistency", (s, dir) => {
      // r13: dense corrGrid arm (shares nccLag's kernel — see corr_ncc_lag)
      Correlate.lagConsistency(corrGrid(s, dir, dense = true), ObjSignals)
        .orderBy("obj_name", "obj_node", "cand_name", "cand_node")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |$SQL_NCC_CR,
         |lcb AS (SELECT *, row_number() OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node, b
         |   ORDER BY abs(r) DESC, lag ASC) AS rn FROM cr),
         |lcc AS (SELECT obj_name, obj_node, cand_name, cand_node, lag, count(*) AS c
         | FROM lcb WHERE rn = 1 GROUP BY 1, 2, 3, 4, 5),
         |lcm AS (SELECT *, row_number() OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node
         |   ORDER BY c DESC, lag ASC) AS rn,
         |  sum(c) OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node) AS nb,
         |  max(lag) OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node)
         |   - min(lag) OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node) AS lag_span
         | FROM lcc)
         |SELECT obj_name, obj_node, cand_name, cand_node,
         | CAST(nb AS BIGINT) AS n_buckets, lag AS mode_lag,
         | floor((CAST(c AS DOUBLE) / CAST(nb AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS mode_share,
         | lag_span
         |FROM lcm WHERE rn = 1
         |ORDER BY obj_name, obj_node, cand_name, cand_node""".stripMargin)),

    Q("corr_topk", (s, dir) => {
      // r13: dense corrGrid arm (shares nccLag's kernel — see corr_ncc_lag)
      Correlate.topCorr(Correlate.nccLag(corrGrid(s, dir, dense = true), ObjSignals), 5)
        .select(col("obj_name"), col("obj_node"), col("cand_name"), col("cand_node"),
          col("b"), col("lag"), col("r"), col("rank"))
        .orderBy("obj_name", "obj_node", "b", "rank")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |$SQL_NCC_CR,
         |best AS (SELECT *, row_number() OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node, b
         |   ORDER BY abs(r) DESC, lag ASC) AS rn FROM cr),
         |ranked AS (SELECT obj_name, obj_node, cand_name, cand_node, b, lag, r,
         |   row_number() OVER (PARTITION BY obj_name, obj_node, b
         |     ORDER BY abs(r) DESC, cand_name, cand_node) AS rank
         | FROM best WHERE rn = 1)
         |SELECT obj_name, obj_node, cand_name, cand_node, b, lag, r, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY obj_name, obj_node, b, rank""".stripMargin)),

    Q("corr_matrix", (s, dir) => {
      Correlate.corrMatrix(corrGrid(s, dir))
        .select(col("a_name"), col("a_node"), col("b_name"), col("b_node"),
          col("b"), col("r"), col("n"))
        .orderBy("a_name", "a_node", "b_name", "b_node", "b")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |mx AS (SELECT name, node, b, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mq AS (SELECT name, node, b, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |cells AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.b AS b, count(*) AS n,
         |   CAST(sum(x.qv) AS DOUBLE) AS sx, CAST(sum(y.qv) AS DOUBLE) AS sy,
         |   CAST(sum(x.qv * y.qv) AS DOUBLE) AS sxy,
         |   CAST(sum(x.qv * x.qv) AS DOUBLE) AS sxx,
         |   CAST(sum(y.qv * y.qv) AS DOUBLE) AS syy
         | FROM mq x JOIN mq y ON y.i = x.i AND y.b = x.b
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))
         | GROUP BY 1, 2, 3, 4, 5),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |   CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells)
         |SELECT a_name, a_node, b_name, b_node, b,
         | floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS r, n
         |FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0
         |ORDER BY a_name, a_node, b_name, b_node, b""".stripMargin)),

    Q("corr_degree", (s, dir) => {
      Correlate.corrDegree(corrGrid(s, dir), threshold = 0.7)
        .orderBy("name", "node")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |mxg AS (SELECT name, node, b, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mqg AS (SELECT name, node, b, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mxg),
         |gcl AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.b AS b, count(*) AS n,
         |   CAST(sum(x.qv) AS DOUBLE) AS sx, CAST(sum(y.qv) AS DOUBLE) AS sy,
         |   CAST(sum(x.qv * y.qv) AS DOUBLE) AS sxy,
         |   CAST(sum(x.qv * x.qv) AS DOUBLE) AS sxx,
         |   CAST(sum(y.qv * y.qv) AS DOUBLE) AS syy
         | FROM mqg x JOIN mqg y ON y.i = x.i AND y.b = x.b
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))
         | GROUP BY 1, 2, 3, 4, 5),
         |gfn AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |   CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM gcl),
         |grm AS (SELECT a_name, a_node, b_name, b_node,
         |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |    + 1e-9) * 1e4 + 0.5) / 1e4 AS r
         | FROM gfn WHERE n >= 8 AND vx > 0 AND vy > 0),
         |gqd AS (SELECT a_name, a_node, b_name, b_node,
         |  max(CAST(floor((abs(r) + 1e-9) * 1e4 + 0.5) AS BIGINT)) AS mq
         | FROM grm GROUP BY 1, 2, 3, 4),
         |ged AS (SELECT * FROM gqd WHERE mq >= 7000),
         |gdd AS (SELECT a_name AS name, a_node AS node,
         |   b_name || '|' || b_node AS partner, mq FROM ged
         | UNION ALL SELECT b_name, b_node, a_name || '|' || a_node, mq FROM ged),
         |gdr AS (SELECT *, row_number() OVER (PARTITION BY name, node
         |   ORDER BY mq DESC, partner) AS rn FROM gdd)
         |SELECT name, node, count(*) AS degree,
         | floor((CAST(sum(mq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e4) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_top_r,
         | max(CASE WHEN rn = 1 THEN partner END) AS top_partner,
         | floor((CAST(max(mq) AS DOUBLE) / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS top_r
         |FROM gdr GROUP BY 1, 2 ORDER BY name, node""".stripMargin)),

    Q("corr_cluster", (s, dir) => {
      // correlation-graph signal grouping: edges where any bucket's
      // |r| ≥ 0.8, components over the fleet-bounded vertex set — the
      // "these metrics move together" dashboard grouping
      Correlate.corrCluster(corrGrid(s, dir), threshold = 0.8)
        .orderBy("signal")
    }, Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |mx AS (SELECT name, node, b, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mq AS (SELECT name, node, b, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |cells AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.b AS b, count(*) AS n,
         |   CAST(sum(x.qv) AS DOUBLE) AS sx, CAST(sum(y.qv) AS DOUBLE) AS sy,
         |   CAST(sum(x.qv * y.qv) AS DOUBLE) AS sxy,
         |   CAST(sum(x.qv * x.qv) AS DOUBLE) AS sxx,
         |   CAST(sum(y.qv * y.qv) AS DOUBLE) AS syy
         | FROM mq x JOIN mq y ON y.i = x.i AND y.b = x.b
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))
         | GROUP BY 1, 2, 3, 4, 5),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |   CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells),
         |ed AS (SELECT a_name || '|' || a_node AS s1, b_name || '|' || b_node AS s2
         | FROM fin
         | WHERE n >= 8 AND vx > 0 AND vy > 0
         |  AND abs(floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |    + 1e-9) * 1e4 + 0.5) / 1e4) >= 0.8
         | GROUP BY 1, 2),
         |edges AS (SELECT s1 AS a, s2 AS b FROM ed
         |  UNION ALL SELECT s2, s1 FROM ed),
         |vt AS (SELECT DISTINCT name || '|' || node AS sid FROM g2),
         |comp AS (SELECT sid, sid AS lab FROM vt
         |  UNION
         |  SELECT e.b AS sid, c.lab FROM comp c JOIN edges e ON e.a = c.sid)
         |SELECT sid AS signal, min(lab) AS group_id,
         | CAST(sid != min(lab) AS INT) AS is_member
         |FROM comp GROUP BY sid ORDER BY signal""".stripMargin)),

    Q("corr_spearman", (s, dir) => {
      Correlate.spearmanMatrix(corrGrid(s, dir))
        .select(col("a_name"), col("a_node"), col("b_name"), col("b_node"),
          col("b"), col("r"), col("n"))
        .orderBy("a_name", "a_node", "b_name", "b_node", "b")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |rk AS (SELECT name, node, b, i,
         |  rank() OVER (PARTITION BY name, node, b ORDER BY gval)
         |   + (count(*) OVER (PARTITION BY name, node, b, gval) - 1) / 2.0 AS ar
         | FROM g2),
         |mx AS (SELECT name, node, b, i, ar,
         |  max(abs(ar)) OVER (PARTITION BY name, node) AS mr FROM rk),
         |mq AS (SELECT name, node, b, i,
         |  CAST(floor((ar / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |cells AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.b AS b, count(*) AS n,
         |   CAST(sum(x.qv) AS DOUBLE) AS sx, CAST(sum(y.qv) AS DOUBLE) AS sy,
         |   CAST(sum(x.qv * y.qv) AS DOUBLE) AS sxy,
         |   CAST(sum(x.qv * x.qv) AS DOUBLE) AS sxx,
         |   CAST(sum(y.qv * y.qv) AS DOUBLE) AS syy
         | FROM mq x JOIN mq y ON y.i = x.i AND y.b = x.b
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))
         | GROUP BY 1, 2, 3, 4, 5),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |   CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells)
         |SELECT a_name, a_node, b_name, b_node, b,
         | floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS r, n
         |FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0
         |ORDER BY a_name, a_node, b_name, b_node, b""".stripMargin)),

    Q("corr_kendall", (s, dir) => {
      Correlate.kendallMatrix(corrGrid(s, dir))
        .orderBy("a_name", "a_node", "b_name", "b_node", "b")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |mxk AS (SELECT name, node, b, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mqk AS (SELECT name, node, b, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mxk),
         |al AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.b AS b, x.i AS i, x.qv AS av, y.qv AS bv
         | FROM mqk x JOIN mqk y ON y.i = x.i AND y.b = x.b
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))),
         |aln AS (SELECT *, count(*) OVER (PARTITION BY a_name, a_node, b_name, b_node, b) AS cn FROM al),
         |pr AS (SELECT p.a_name, p.a_node, p.b_name, p.b_node, p.b, p.cn,
         |   p.av - q.av AS dx, p.bv - q.bv AS dy
         | FROM aln p JOIN aln q ON q.a_name = p.a_name AND q.a_node = p.a_node
         |  AND q.b_name = p.b_name AND q.b_node = p.b_node AND q.b = p.b AND p.i < q.i),
         |ag AS (SELECT a_name, a_node, b_name, b_node, b, cn, count(*) AS n0,
         |   sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0) THEN 1 ELSE 0 END) AS c,
         |   sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0) THEN 1 ELSE 0 END) AS d,
         |   sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
         |   sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty
         | FROM pr GROUP BY 1, 2, 3, 4, 5, 6)
         |SELECT a_name, a_node, b_name, b_node, b,
         | floor(((CAST(c AS DOUBLE) - CAST(d AS DOUBLE))
         |   / sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE)) + 1e-9) * 1e4 + 0.5) / 1e4 AS tau,
         | CAST(cn AS BIGINT) AS n
         |FROM ag WHERE cn >= 8 AND (n0 - tx) > 0 AND (n0 - ty) > 0
         |ORDER BY a_name, a_node, b_name, b_node, b""".stripMargin)),

    Q("corr_dcor", (s, dir) => {
      Correlate.dcorMatrix(corrGrid(s, dir))
        .orderBy("a_name", "a_node", "b_name", "b_node", "b")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |mxd AS (SELECT name, node, b, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mqd AS (SELECT name, node, b, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mxd),
         |ald AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.b AS b, x.i AS i, x.qv AS av, y.qv AS bv
         | FROM mqd x JOIN mqd y ON y.i = x.i AND y.b = x.b
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))),
         |dcc AS (SELECT a_name, a_node, b_name, b_node, b, count(*) AS n,
         |   list(av ORDER BY i) AS xs, list(bv ORDER BY i) AS ys
         | FROM ald GROUP BY 1, 2, 3, 4, 5 HAVING count(*) >= 8),
         |djk AS (SELECT a_name, a_node, b_name, b_node, b, n, jj.j AS j, kk.k AS k,
         |   abs(xs[CAST(jj.j AS INT)] - xs[CAST(kk.k AS INT)]) AS ax,
         |   abs(ys[CAST(jj.j AS INT)] - ys[CAST(kk.k AS INT)]) AS ay
         | FROM dcc, LATERAL (SELECT unnest(range(1, n + 1)) AS j) jj,
         |   LATERAL (SELECT unnest(range(1, n + 1)) AS k) kk),
         |dcen AS (SELECT *,
         |   sum(ax) OVER wj AS rxj, sum(ax) OVER wk AS rxk, sum(ax) OVER wc AS tx,
         |   sum(ay) OVER wj AS ryj, sum(ay) OVER wk AS ryk, sum(ay) OVER wc AS ty
         | FROM djk WINDOW
         |   wj AS (PARTITION BY a_name, a_node, b_name, b_node, b, j),
         |   wk AS (PARTITION BY a_name, a_node, b_name, b_node, b, k),
         |   wc AS (PARTITION BY a_name, a_node, b_name, b_node, b)),
         |dterm AS (SELECT a_name, a_node, b_name, b_node, b, n,
         |   n * n * ax - n * rxj - n * rxk + tx AS cx,
         |   n * n * ay - n * ryj - n * ryk + ty AS cy
         | FROM dcen),
         |dagg AS (SELECT a_name, a_node, b_name, b_node, b, max(n) AS n,
         |   sum(cx * cy) AS sxy, sum(cx * cx) AS sxx, sum(cy * cy) AS syy
         | FROM dterm GROUP BY 1, 2, 3, 4, 5)
         |SELECT a_name, a_node, b_name, b_node, b,
         | floor((sqrt(CAST(sxy AS DOUBLE) / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))) + 1e-9) * 1e4 + 0.5) / 1e4 AS dcor,
         | CAST(n AS BIGINT) AS n
         |FROM dagg WHERE sxx > 0 AND syy > 0
         |ORDER BY a_name, a_node, b_name, b_node, b""".stripMargin)),

    Q("corr_tail_dep", (s, dir) => {
      Correlate.tailDependence(corrGrid(s, dir))
        .orderBy("a_name", "a_node", "b_name", "b_node")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |mx2 AS (SELECT name, node, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mq2 AS (SELECT name, node, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx2),
         |fl AS (SELECT name, node, i, qv,
         |  row_number() OVER (PARTITION BY name, node ORDER BY qv, i) AS rn,
         |  count(*) OVER (PARTITION BY name, node) AS nsig FROM mq2),
         |thr AS (SELECT name, node,
         |  max(CASE WHEN rn = CAST(floor(0.9 * (nsig - 1)) AS BIGINT) + 1 THEN qv END) AS thr
         | FROM fl GROUP BY 1, 2),
         |exq AS (SELECT f.name, f.node, f.i,
         |  CASE WHEN f.qv > t.thr THEN 1 ELSE 0 END AS ex
         | FROM fl f JOIN thr t ON f.name = t.name AND f.node = t.node),
         |prt AS (SELECT x.name AS a_name, x.node AS a_node, y.name AS b_name, y.node AS b_node,
         |   x.ex AS aex, y.ex AS bex
         | FROM exq x JOIN exq y ON y.i = x.i
         |  AND (x.name < y.name OR (x.name = y.name AND x.node < y.node))),
         |agt AS (SELECT a_name, a_node, b_name, b_node, count(*) AS n,
         |   CAST(sum(aex) AS BIGINT) AS na, CAST(sum(bex) AS BIGINT) AS nb,
         |   CAST(sum(aex * bex) AS BIGINT) AS nboth
         | FROM prt GROUP BY 1, 2, 3, 4)
         |SELECT a_name, a_node, b_name, b_node, n, na, nb, nboth,
         | floor((CAST(nboth * n AS DOUBLE) / CAST(na * nb AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS lift,
         | floor((CAST(nboth AS DOUBLE) / CAST(nb AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS cond_ba
         |FROM agt WHERE n >= 24 AND na > 0 AND nb > 0
         |ORDER BY a_name, a_node, b_name, b_node""".stripMargin)),

    // Converted from rows-only (r5) — the last kernel family the r4
    // verdict listed as SQL-inexpressible. Gate config: 19 permutations
    // (the smallest count admitting p ≤ 0.05, so significance ⟺ no
    // permutation reaches the observed Q — the operator default stays
    // 100) and an unbound maxPoints (the recursion exhausts at minSize
    // naturally; with the cap unhit, the engine's DFS and the oracle's
    // BFS accept identical sets). medianW=5: the reference detects on
    // moving_median(data, 5) (metrics_advisor.py:147-148), never the
    // raw series.
    Q("ad_edivisive", (s, dir) => {
      ChangePoints.eDivisive(corrGrid(s, dir).select("name", "node", "tsb", "gval"),
          permutations = 19, medianW = 5, maxPoints = Int.MaxValue)
        .orderBy("name", "node", "cp_tsb")
    }, Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |esrc AS (SELECT name, node, tsb,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS med
         | FROM ff36),
         |${sqlEdivBody(19)}
         |SELECT name, node, cp_tsb, qhat FROM ecp
         |ORDER BY name, node, cp_tsb""".stripMargin)),

    // Converted from rows-only (r4-late): the DP runs on 1e4-quantized
    // values, so costs are fixed IEEE sequences over exact integer
    // prefix moments and the oracle replays the UNPRUNED O(n²) DP
    // (pruning provably preserves the optimum — the same fact the
    // property spec pins) as a recursive CTE whose per-step argmin is
    // a pure list expression (a join-aggregate recursion re-evaluates
    // its inputs per iteration: 152 s; this form runs in ~5 s).
    Q("ad_pelt", (s, dir) => {
      ChangePoints.pelt(corrGrid(s, dir).select("name", "node", "tsb", "gval"))
        .orderBy("name", "node", "cp_tsb")
    }, Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |pts AS MATERIALIZED (SELECT name, node, tsb,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS qv,
         |  CAST(row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1 AS BIGINT) AS idx
         | FROM ff36),
         |pl AS MATERIALIZED (
         |  SELECT name, node, count(*) AS n,
         |    list_prepend(CAST(0 AS HUGEINT), list(sq ORDER BY idx)) AS ps1,
         |    list_prepend(CAST(0 AS HUGEINT), list(sq2 ORDER BY idx)) AS ps2
         |  FROM (SELECT name, node, idx,
         |      sum(qv) OVER (PARTITION BY name, node ORDER BY idx) AS sq,
         |      sum(qv * qv) OVER (PARTITION BY name, node ORDER BY idx) AS sq2
         |    FROM pts)
         |  GROUP BY name, node),
         |pen AS MATERIALIZED (
         |  SELECT name, node, n,
         |    greatest((2e0 * (((md * s2d - s1d * s1d) / (md * (md - 1e0))) / 2e0))
         |      * (floor(lnn * 1e9 + 0.5) / 1e9), 1e-12) AS beta
         |  FROM (
         |    SELECT name, node, n, md, s1d, s2d,
         |      ${graft.functions.ExactMath.sqlLnCols("n", "pl", "lnn")}
         |    FROM (
         |    SELECT dm.name, dm.node, g.n,
         |      CAST(count(*) AS DOUBLE) AS md,
         |      CAST(sum(dm.dd) AS DOUBLE) AS s1d,
         |      CAST(sum(dm.dd * dm.dd) AS DOUBLE) AS s2d
         |    FROM (SELECT p2.name, p2.node, p2.qv - p1.qv AS dd
         |      FROM pts p1 JOIN pts p2 ON p1.name = p2.name AND p1.node = p2.node
         |        AND p2.idx = p1.idx + 1) dm
         |    JOIN (SELECT name, node, count(*) AS n FROM pts GROUP BY 1, 2) g
         |      ON g.name = dm.name AND g.node = dm.node
         |    GROUP BY dm.name, dm.node, g.n) q0) q
         |  WHERE n >= 3),
         |dp AS (
         |  SELECT name, node, CAST(4 AS BIGINT) AS t,
         |    [-beta, 0e0, 0e0, 0e0, 0e0] AS f,
         |    [CAST(0 AS BIGINT), 0, 0, 0, 0] AS prevl
         |  FROM pen WHERE n >= 5
         |  UNION ALL
         |  SELECT d.name, d.node, d.t + 1,
         |    list_append(d.f, list_aggregate(list_transform(
         |      list_concat([CAST(0 AS BIGINT)], range(5, d.t - 3)),
         |      s -> struct_pack(
         |        v := (d.f[s + 1] + (CAST(p.ps2[d.t + 2] - p.ps2[s + 1] AS DOUBLE)
         |          - CAST(p.ps1[d.t + 2] - p.ps1[s + 1] AS DOUBLE)
         |            * CAST(p.ps1[d.t + 2] - p.ps1[s + 1] AS DOUBLE)
         |            / CAST(d.t + 1 - s AS DOUBLE))) + b.beta,
         |        s := s)), 'min').v),
         |    list_append(d.prevl, list_aggregate(list_transform(
         |      list_concat([CAST(0 AS BIGINT)], range(5, d.t - 3)),
         |      s -> struct_pack(
         |        v := (d.f[s + 1] + (CAST(p.ps2[d.t + 2] - p.ps2[s + 1] AS DOUBLE)
         |          - CAST(p.ps1[d.t + 2] - p.ps1[s + 1] AS DOUBLE)
         |            * CAST(p.ps1[d.t + 2] - p.ps1[s + 1] AS DOUBLE)
         |            / CAST(d.t + 1 - s AS DOUBLE))) + b.beta,
         |        s := s)), 'min').s)
         |  FROM dp d
         |  JOIN pl p ON p.name = d.name AND p.node = d.node AND d.t < p.n
         |  JOIN pen b ON b.name = d.name AND b.node = d.node),
         |fin AS MATERIALIZED (SELECT d.name, d.node, d.prevl
         |  FROM dp d JOIN pl g ON g.name = d.name AND g.node = d.node AND d.t = g.n),
         |bt AS (
         |  SELECT f2.name, f2.node, CAST(g.n AS BIGINT) AS at
         |  FROM fin f2 JOIN pl g ON g.name = f2.name AND g.node = f2.node
         |  UNION ALL
         |  SELECT b.name, b.node, f2.prevl[b.at + 1]
         |  FROM bt b JOIN fin f2 ON f2.name = b.name AND f2.node = b.node
         |  WHERE f2.prevl[b.at + 1] > 0),
         |cps AS (SELECT b.name, b.node, b.at AS cp FROM bt b
         |  JOIN pl g ON g.name = b.name AND g.node = b.node AND b.at < g.n),
         |cpo AS (SELECT c.name, c.node, c.cp, g.n, g.ps1,
         |  coalesce(lag(c.cp) OVER (PARTITION BY c.name, c.node ORDER BY c.cp), 0) AS lo,
         |  coalesce(lead(c.cp) OVER (PARTITION BY c.name, c.node ORDER BY c.cp), g.n) AS hi
         | FROM cps c JOIN pl g ON g.name = c.name AND g.node = c.node)
         |SELECT c.name, c.node, p.tsb AS cp_tsb,
         |  floor((CAST(c.ps1[c.cp + 1] - c.ps1[c.lo + 1] AS DOUBLE) / (c.cp - c.lo) / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_before,
         |  floor((CAST(c.ps1[c.hi + 1] - c.ps1[c.cp + 1] AS DOUBLE) / (c.hi - c.cp) / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_after
         |FROM cpo c
         |JOIN pts p ON p.name = c.name AND p.node = c.node AND p.idx = c.cp
         |ORDER BY c.name, c.node, cp_tsb""".stripMargin)),

    // Converted from rows-only (r5): the oracle replays the periodogram
    // as a DIRECT DFT over the mean-removed zero-padded window —
    // mathematically identical to the engine's radix-2 FFT
    // (Dsp.dominantPeriod), float noise ~1e-12 absorbed by the 4-dp
    // guard (the ad_lowpass_seasonal Dirichlet-kernel move). The
    // argmax bin and the strength ratio are verified at both gate
    // scales; first-max tie-break via the (power, −k) struct max.
    Q("ts_period_detect", (s, dir) => {
      ChangePoints.periodDetect(corrGrid(s, dir).select("name", "node", "tsb", "gval"))
        .orderBy("name", "node")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |pser AS MATERIALIZED (SELECT name, node, count(*) AS n, list(gval ORDER BY tsb) AS xs
         | FROM ff36 GROUP BY 1, 2),
         |${sqlTwiddleCte("(SELECT (CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END) AS m FROM pser)")},
         |${sqlDftPowers("pser", "p")},
         |pfin AS (SELECT w.name, w.node, w.n, w.m, t.total,
         |  list_aggregate(list_filter(list_transform(list_zip(list(w.p ORDER BY w.k), list(w.k ORDER BY w.k)),
         |    z -> CASE WHEN z[2] >= greatest(1, CAST(ceil(3.0 * w.m / w.n) AS BIGINT))
         |         THEN struct_pack(v := z[1], nk := -z[2]) ELSE NULL END),
         |    s -> s IS NOT NULL), 'max') AS bst
         | FROM ppw w JOIN ptot t USING (name, node, n, m)
         | GROUP BY 1, 2, 3, 4, 5)
         |SELECT name, node,
         | floor((CAST(m AS DOUBLE) / (-bst.nk) * 3600.0 + 1e-9) * 1e4 + 0.5) / 1e4 AS period_sec,
         | floor((bst.v / total + 1e-9) * 1e4 + 0.5) / 1e4 AS strength,
         | CAST(n AS BIGINT) AS n
         |FROM pfin WHERE total > 0 AND bst IS NOT NULL
         |ORDER BY name, node""".stripMargin)),

    Q("ts_spectral_entropy", (s, dir) => {
      ChangePoints.spectralEntropy(
          corrGrid(s, dir).select("name", "node", "tsb", "gval"))
        .orderBy("name", "node")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |pser AS MATERIALIZED (SELECT name, node, count(*) AS n, list(gval ORDER BY tsb) AS xs
         | FROM ff36 GROUP BY 1, 2),
         |${sqlTwiddleCte("(SELECT (CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END) AS m FROM pser)")},
         |${sqlDftPowers("pser", "p")},
         |${sqlSpectralEntropy("p")}
         |SELECT name, node, CAST(n AS BIGINT) AS n, spec_entropy
         |FROM pent ORDER BY name, node""".stripMargin)),

    Q("ad_lowpass_seasonal", (s, dir) => {
      ChangePoints.seasonalNoise(corrGrid(s, dir).select("name", "node", "tsb", "gval"))
        .select(col("name"), col("node"), col("tsb"),
          r4(col("gval")).as("gval"), col("trend"), col("seasonal"), col("noise"))
        .orderBy("name", "node", "tsb")
    }, Some(
      s"""WITH $SQL_CORR_CTES,
         |$SQL_LOWPASS_DECOMP
         |SELECT name, node, tsb,
         |  floor((raw + 1e-9) * 1e4 + 0.5) / 1e4 AS gval,
         |  floor((trend + 1e-9) * 1e4 + 0.5) / 1e4 AS trend,
         |  floor((seasonal + 1e-9) * 1e4 + 0.5) / 1e4 AS seasonal,
         |  noise
         |FROM dcr ORDER BY name, node, tsb""".stripMargin)),

    // Converted from rows-only (r5): the full reference anomaly set —
    // decomposition with the MEASURED lowpass cutoff (DFT replay of
    // dominantPeriod + Dirichlet-kernel convolution per (m, c)),
    // k-sigma on the 4-dp noise with sequential-fold mean/sd, and the
    // e-divisive changepoint branch on the trend reusing the exact
    // ad_edivisive machinery (the trend IS the medianW=5 series, so
    // one detector replay serves both queries). Gate config mirrors
    // ad_edivisive: 19 permutations, unbound maxPoints.
    Q("ad_anomaly_union", (s, dir) => {
      ChangePoints.anomalyUnion(corrGrid(s, dir).select("name", "node", "tsb", "gval"),
          permutations = 19, maxPoints = Int.MaxValue)
        .orderBy("name", "node", "tsb", "kind")
    }, Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |${sqlUnionAnomalies("ff36", 19)},
         |uni AS (
         |  SELECT name, node, tsb, 'outlier' AS kind FROM outl
         |  UNION ALL
         |  SELECT name, node, cp_tsb AS tsb, 'changepoint' AS kind FROM ecp)
         |SELECT name, node, tsb, kind, (tsb // 86400) * 86400 AS b
         |FROM uni ORDER BY name, node, tsb, kind""".stripMargin)),

    // Converted from rows-only (r5): the LAST rows-only query. The
    // whole composite replays — signal range gate, anomaly union on
    // the gated objective slice (sqlUnionAnomalies over gff), bucket
    // range gate, NCC cells over the gated grid, best-lag + top-k
    // ranking, and the anomalous-bucket join. Gate config pins the
    // detector knobs to the oracle-able (19, unbound) pair via Config;
    // library defaults stay (100, 64).
    Q("advisor_report", (s, dir) => {
      graft.report.AdvisorReport.advise(Tables.events(s, dir),
        graft.report.AdvisorReport.Config(permutations = 19, maxPoints = Int.MaxValue))
    }, Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |gsig AS (SELECT name, node FROM g2 GROUP BY 1, 2
         |  HAVING floor((max(gval) - min(gval) + 1e-9) * 1e4 + 0.5) / 1e4 > 5e-3),
         |gff AS (SELECT f.name, f.node, f.tsb, f.gval
         |  FROM ff36 f JOIN gsig g ON g.name = f.name AND g.node = f.node
         |  WHERE f.name IN ('click', 'error')),
         |${sqlUnionAnomalies("gff", 19)},
         |aob AS (SELECT DISTINCT obj_name, obj_node, b FROM (
         |   SELECT name AS obj_name, node AS obj_node, (tsb // 86400) * 86400 AS b FROM outl
         |   UNION ALL
         |   SELECT name, node, (cp_tsb // 86400) * 86400 FROM ecp)),
         |g2g AS (SELECT g.name, g.node, g.b, g.i, g.gval FROM g2 g
         |  JOIN gsig s2 ON s2.name = g.name AND s2.node = g.node),
         |g2b AS (SELECT name, node, b, i, gval FROM (
         |   SELECT g.*, floor((max(gval) OVER wb - min(gval) OVER wb + 1e-9) * 1e4 + 0.5) / 1e4 AS rng
         |   FROM g2g g WINDOW wb AS (PARTITION BY name, node, b))
         | WHERE rng > 5e-3),
         |${SQL_NCC_CR_FROM("g2b")},
         |best AS (SELECT *, row_number() OVER (PARTITION BY obj_name, obj_node, cand_name, cand_node, b
         |   ORDER BY abs(r) DESC, lag ASC) AS rn FROM cr),
         |ranked AS (SELECT obj_name, obj_node, cand_name, cand_node, b, lag, n, r,
         |   row_number() OVER (PARTITION BY obj_name, obj_node, b
         |     ORDER BY abs(r) DESC, cand_name, cand_node) AS rank
         | FROM best WHERE rn = 1)
         |SELECT r2.obj_name, r2.obj_node, r2.b, r2.cand_name, r2.cand_node,
         |  r2.lag, r2.n, r2.r, CAST(r2.rank AS INT) AS rank
         |FROM ranked r2 JOIN aob a ON a.obj_name = r2.obj_name AND a.obj_node = r2.obj_node AND a.b = r2.b
         |WHERE r2.rank <= 5
         |ORDER BY r2.obj_name, r2.obj_node, r2.b, r2.rank""".stripMargin)),

    // Converted from rows-only (r5): Spark's approx_count_distinct is
    // HLL++ with engine-internal bias tables — unreplayable by design.
    // Sketches.hllDistinct keeps the sketch properties that matter at
    // scale (512 mergeable integer registers, map-side partial max, one
    // fixed-size exchange) but pins the estimate to public arithmetic
    // (md5-low64, exact-integer register sum, one IEEE division), so
    // the oracle replays registers AND estimate bit-for-bit.
    Q("sketch_approx_distinct", (s, dir) => {
      val ev = Tables.events(s, dir)
      Sketches.hllDistinct(ev, "event_type", "user_id")
        .join(ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users")), "event_type")
        .orderBy("event_type")
    }, Some(
      s"""WITH hh AS (SELECT event_type,
         |  CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 17, 16) AS UBIGINT) AS HUGEINT) AS hu
         | FROM events),
         |hb AS (SELECT event_type, hu // 36028797018963968 AS bucket,
         |  CAST(hu % 36028797018963968 AS BIGINT) AS w FROM hh),
         |hr AS (SELECT event_type, bucket,
         |  max(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS r
         | FROM hb GROUP BY 1, 2),
         |ht AS (SELECT event_type, count(*) AS nb,
         |  sum(CAST(1 AS HUGEINT) << CAST(56 - r AS INT)) AS s_occ
         | FROM hr GROUP BY 1),
         |hf AS (SELECT event_type, 512 - nb AS v,
         |  CAST(s_occ + CAST(512 - nb AS HUGEINT) * (CAST(1 AS HUGEINT) << 56) AS DOUBLE) AS s_full
         | FROM ht),
         |hx AS (SELECT event_type, v, ${Sketches.hllCoefLiteral} / s_full AS e_raw,
         |  ${graft.functions.ExactMath.sqlLnCols("greatest(v, 1)", "hl", "lnv")}
         | FROM hf),
         |hest AS (SELECT event_type,
         |  CAST(CASE WHEN e_raw <= 1.28e3 AND v > 0
         |    THEN floor(5.12e2 * (${Sketches.lnHllMLiteral} - lnv) + 5e-1)
         |    ELSE floor(e_raw + 5e-1) END AS BIGINT) AS hll_users
         | FROM hx),
         |hexact AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         | FROM events GROUP BY 1)
         |SELECT e.event_type, hll_users, exact_users
         |FROM hest e JOIN hexact x ON x.event_type = e.event_type
         |ORDER BY e.event_type""".stripMargin)),

    // Converted from rows-only (r5): percentile_approx's KLL compaction
    // order is engine-internal. The KMV bottom-k sample sketch is
    // mergeable (union, re-take k smallest md5 ranks), deterministic,
    // and its median — like the exact median beside it — is computed
    // with portable rank arithmetic, so both columns hash-verify.
    Q("sketch_approx_quantiles", (s, dir) =>
      Sketches.kmvMedian(Tables.events(s, dir), "event_type", "event_id", "value")
        .orderBy("event_type"),
    Some(
      """WITH rk AS (SELECT event_type, event_id AS rid, CAST(value AS DOUBLE) AS v,
        |  CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 17, 16) AS UBIGINT) AS HUGEINT) AS hu
        | FROM events),
        |rs AS (SELECT event_type, rid, v,
        |  CAST(hu - CASE WHEN hu >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS hk
        | FROM rk),
        |samp AS (SELECT event_type, rid, v FROM (
        |  SELECT event_type, rid, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hk, rid) AS rn
        |  FROM rs) WHERE rn <= 1024),
        |smed AS (SELECT event_type, (min(v) + max(v)) / 2e0 AS p50_sketch FROM (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, rid) AS vr,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM samp) WHERE vr = (n + 1) // 2 OR vr = n // 2 + 1 GROUP BY 1),
        |emed AS (SELECT event_type, (min(v) + max(v)) / 2e0 AS p50_exact FROM (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, rid) AS vr,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM rs) WHERE vr = (n + 1) // 2 OR vr = n // 2 + 1 GROUP BY 1)
        |SELECT s.event_type,
        | floor((p50_sketch + 1e-9) * 1e4 + 0.5) / 1e4 AS p50_sketch,
        | floor((p50_exact + 1e-9) * 1e4 + 0.5) / 1e4 AS p50_exact
        |FROM smed s JOIN emed e ON e.event_type = s.event_type
        |ORDER BY s.event_type""".stripMargin)),

    Q("sketch_bloom_semi", (s, dir) => {
      // bloom-prefiltered semi-join — the runtime-filter pattern at the
      // library level: build Spark's mergeable bloom sketch over the
      // small side's join keys (one fixed-size binary reaches the
      // driver), probe it as a codegen'd constant predicate on the big
      // side's scan, then verify the survivors with the exact semi-join.
      // At 100 TB the probe prunes the big side before the shuffle —
      // the join only sees rows that might match — and false positives
      // are removed by the verify join, so the result is exactly the
      // semi-join (hence the SQL oracle).
      import org.apache.spark.sql.graft.VectorExpressions
      val keys = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F").select("o_custkey")
      val sketch = keys
        .agg(VectorExpressions.bloomAgg(col("o_custkey"), 100000L, 800000L)
          .as("bf")).head().getAs[Array[Byte]](0)
      val c = Tables.customer(s, dir)
      val pre = c.filter(
        VectorExpressions.bloomMightContain(lit(sketch), col("c_custkey")))
      pre.join(keys, pre("c_custkey") === keys("o_custkey"), "left_semi")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), sumDec(col("c_acctbal")).as("bal_sum"))
        .orderBy("c_nationkey")
    }, Some(
      """SELECT c_nationkey, count(*) AS n_cust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum
        |FROM customer WHERE c_custkey IN
        | (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ================= D. dedup =================
    Q("dedup_exact", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
        |c AS (SELECT hh, min(doc_id) AS canonical_id, count(*) AS group_size FROM h GROUP BY hh)
        |SELECT doc_id, canonical_id, group_size,
        | CAST(doc_id != canonical_id AS INT) AS is_dup
        |FROM h JOIN c ON h.hh = c.hh ORDER BY doc_id""".stripMargin)),

    Q("dedup_jaccard", (s, dir) => {
      // t = 0.1 is below the prefix filter's biting regime, and on a
      // template-dense corpus the t = 0.1 TRUE-pair set is itself
      // quadratic — so the gate runs the exact verify on a FIXED-SIZE
      // md5-ranked sample (the lsh_tune convention, r5 verdict #3):
      // cost pinned at any corpus size, semantics unchanged. The
      // corpus-wide scale path is dedup_minhash_lsh beside it; the
      // full exact sweep stays callable as Dedup.jaccardPairs(docs, t).
      Dedup.jaccardPairs(Tables.documents(s, dir)
          .orderBy(Sampling.hash32(col("doc_id").cast("string")), col("doc_id"))
          .limit(1000), 0.1)
        .orderBy("doc1", "doc2")
    }, Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents
        |  QUALIFY row_number() OVER (ORDER BY
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT), doc_id) <= 1000),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM d0),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc1, doc2, inter, n1.n AS n1, n2.n AS n2,
        | floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 AS jac
        |FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.1
        |ORDER BY doc1, doc2""".stripMargin)),

    Q("dedup_ngram_char", (s, dir) => {
      // char-trigram Jaccard (robust to tokenization; the word-bigram
      // variant is dedup_jaccard). Prefix-filtered — see Dedup.ngramCharPairs.
      Dedup.ngramCharPairs(Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), 0.5)
        .orderBy("doc1", "doc2")
    }, Some(
      """WITH d AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, length(text) - 1), i -> substr(text, CAST(i AS INT), 3))) AS g
        | FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, unnest(g) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        | FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc1, doc2,
        | floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 AS jac
        |FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5
        |ORDER BY doc1, doc2""".stripMargin)),

    Q("dedup_cluster", (s, dir) => {
      // keyed sample like the other exact-Jaccard queries: the template
      // corpus shares half its content across docs, so the exact pair
      // graph at scale goes through minhash-LSH; this checks the exact
      // clustering semantics
      Dedup.clusters(Tables.documents(s, dir).filter(col("doc_id") % 5 === 0), 0.5)
        .orderBy("doc_id")
    }, Some(
      // closure of the near-dup graph: DuckDB reaches the same fixpoint
      // recursively that the Spark side reaches iteratively
      """WITH RECURSIVE
        |docs5 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM docs5),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM docs5
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id)
        |SELECT doc_id, min(lab) AS canonical_id,
        | CAST(doc_id != min(lab) AS INT) AS is_dup
        |FROM comp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("quality_dup_bias", (s, dir) => {
      // does near-dup membership correlate with quality? clusters ride
      // the LSH edge set (the curation_funnel convention); the oracle
      // replays clustering over the exact Jaccard >= 0.5 edges (LSH
      // label equality argued + verified at dedup_cluster_minhash)
      val docs = Tables.documents(s, dir)
      Curation.qualityDupBias(docs, precomputedPairs =
          Some(Dedup.minhashLsh(docs, threshold = 0.5).select("doc1", "doc2")))
        .orderBy("source")
    }, Some(
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d WHERE len(w) >= 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id),
        |lb AS (SELECT doc_id, CAST(doc_id != min(lab) AS BIGINT) AS x
        |  FROM comp GROUP BY doc_id),
        |tq AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS wq,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents),
        |qq AS (SELECT doc_id, CAST(floor((1.0 - least(punct / len * 5.0, 0.3)
        |   - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(wq, x -> length(x) <= 2)) AS DOUBLE) / len(wq), 0.3)
        |   + 1e-9) * 1e4 + 0.5) AS BIGINT) AS y
        | FROM tq),
        |mm AS (SELECT d2.source, count(*) AS n,
        |  CAST(sum(lb.x) AS DOUBLE) AS sx, CAST(sum(qq.y) AS DOUBLE) AS sy,
        |  CAST(sum(lb.x * qq.y) AS DOUBLE) AS sxy,
        |  CAST(sum(lb.x * lb.x) AS DOUBLE) AS sxx,
        |  CAST(sum(qq.y * qq.y) AS DOUBLE) AS syy
        | FROM documents d2 JOIN lb USING (doc_id) JOIN qq USING (doc_id)
        | GROUP BY 1),
        |vv AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
        |  CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM mm)
        |SELECT source, n,
        | floor((sx / CAST(n AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS dup_rate,
        | floor((sxy / sx / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_q_dup,
        | floor(((sy - sxy) / (CAST(n AS DOUBLE) - sx) / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_q_clean,
        | floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)) + 1e-9) * 1e4 + 0.5) / 1e4 AS r_pb
        |FROM vv WHERE n >= 2 AND vx > 0 AND vy > 0 ORDER BY source""".stripMargin)),

    Q("sample_epoch_shuffle", (s, dir) =>
      Curation.epochShuffle(Tables.documents(s, dir), epochs = 3, shards = 16)
        .orderBy("doc_id", "epoch"),
    Some(
      """WITH e AS (SELECT doc_id, unnest(range(0, 3)) AS epoch FROM documents)
        |SELECT doc_id, CAST(epoch AS INT) AS epoch,
        | CAST('0x' || substr(md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS skey,
        | CAST(CAST('0x' || substr(md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS INT) AS shard
        |FROM e ORDER BY doc_id, epoch""".stripMargin)),

    Q("dedup_stats", (s, dir) =>
      // duplication telemetry every dedup run reports before deletion:
      // the cluster-size histogram of the near-dup components (exact
      // digests are useless here — this corpus has zero byte-identical
      // docs) and the doc mass in each size class. Edges come from the
      // LSH scale path (bucket-then-verify, never all-pairs); the
      // oracle stays the EXACT Jaccard edge set, so every driver run
      // re-proves LSH caught every exact edge (the dedup_cluster_minhash
      // argument: this corpus's dups sit at J ≥ 0.82 where 16-band/4-row
      // banding misses with p < 1e-7). The histogram is two tiny
      // aggregates over the |docs|-row component frame.
      { val docs3 = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
        Dedup.clusters(docs3, precomputedPairs =
          Some(Dedup.minhashLsh(docs3, threshold = 0.5).select("doc1", "doc2"))) }
        .groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum("cluster_size").as("n_docs"))
        .orderBy("cluster_size"),
    Some(
      """WITH RECURSIVE
        |docs5 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM docs5),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM docs5
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id),
        |lab AS (SELECT doc_id, min(lab) AS canonical_id FROM comp GROUP BY doc_id),
        |cs AS (SELECT canonical_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        | CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dedup_threshold_hist", (s, dir) =>
      // threshold-sweep telemetry: the similarity histogram of near-dup
      // pairs (0.1-wide Jaccard deciles) — what you read BEFORE picking
      // the dedup threshold, instead of guessing. Pairs come from the
      // LSH scale path at the 0.5 floor (verified exact jac rides out of
      // the bucket-then-verify join; the exact-join oracle re-proves
      // full recall every run — see dedup_stats) and bucket at 0.02
      // width (this corpus's dup structure lives entirely in
      // J ∈ [0.94, 1); decile bins would collapse to one row); the
      // 1e-6 nudge keeps grid-exact bin edges in the upper bucket on
      // both engines despite binary representation.
      Dedup.minhashLsh(Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
          threshold = 0.5)
        .withColumn("j_bin50", floor(col("jac") * 50 + 1e-6).cast("long"))
        .groupBy("j_bin50")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("j_bin50"),
    Some(
      """WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM docs2),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d WHERE len(w) >= 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jc AS (SELECT doc1, doc2,
        |  floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 AS jac
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id)
        |SELECT CAST(floor(jac * 50 + 1e-6) AS BIGINT) AS j_bin50, count(*) AS n_pairs
        |FROM jc WHERE jac >= 0.5
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dedup_cluster_minhash", (s, dir) => {
      // the scale-path composition: connected components over the
      // MinHash-LSH candidate edges (bucketed, never all-pairs) via the
      // precomputed-edge-list entry point — the pair graph is built
      // exactly once for detection AND clustering
      val docs = Tables.documents(s, dir)
      Dedup.clusters(docs, precomputedPairs =
          Some(Dedup.minhashLsh(docs, threshold = 0.5).select("doc1", "doc2")))
        .orderBy("doc_id")
    }, Some(
      // oracle = clustering over the EXACT Jaccard ≥ 0.5 edge set. The
      // LSH candidate stage is verified by exact Jaccard, so its edges
      // are a subset of the exact edges; equality of the label sets
      // additionally requires LSH to CATCH every exact edge — which
      // holds here non-vacuously: every near-dup pair in this corpus
      // has J ≥ 0.82 (measured), where 16-band/4-row banding misses
      // with p < 1e-7, and exact label equality is verified at sf0.01
      // and sf0.1. A corpus with edges near the 0.5 threshold would
      // demote this query to rows-only (the standard LSH recall trade,
      // measured by ann_recall_eval on the ANN side).
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d WHERE len(w) >= 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id)
        |SELECT doc_id, min(lab) AS canonical_id,
        | CAST(doc_id != min(lab) AS INT) AS is_dup
        |FROM comp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Converted from rows-only (r4-late): md5-low-64 base hash +
    // wrapping-integer splitmix permutations + raw-slice band keys make
    // the WHOLE pipeline (signatures, banding, candidates, verify)
    // engine-exact; the oracle replays it in HUGEINT mod 2^64 with the
    // 64-bit multiply decomposed into 32-bit halves (a full 64×64
    // product overflows HUGEINT).
    Q("dedup_minhash_lsh", (s, dir) => {
      Dedup.minhashLsh(Tables.documents(s, dir), threshold = 0.1).orderBy("doc1", "doc2")
    }, Some(
      s"""WITH $SQL_MINHASH_CTES
         |SELECT doc1, doc2, jac FROM verjac
         |WHERE jac >= 0.1 ORDER BY doc1, doc2""".stripMargin)),

    Q("dedup_incremental", (s, dir) => {
      // the daily-ingest shape: the doc_id % 10 = 7 slice stands in
      // for today's batch, checked against the rest (the existing
      // corpus) — exact digest probe, then MinHash band probe, never
      // corpus×corpus; batch side broadcast
      Dedup.incremental(Tables.documents(s, dir), col("doc_id") % 10 === 7)
        .orderBy("doc_id")
    }, Some(
      s"""WITH $SQL_MINHASH_CTES,
         |bb AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7),
         |cc AS (SELECT doc_id AS cid, md5(text) AS h FROM documents WHERE doc_id % 10 != 7),
         |ex AS (SELECT bb.doc_id, min(cid) AS ex_match FROM bb JOIN cc USING (h) GROUP BY 1),
         |cr AS (SELECT CASE WHEN doc1 % 10 = 7 THEN doc1 ELSE doc2 END AS doc_id,
         |  CASE WHEN doc1 % 10 = 7 THEN doc2 ELSE doc1 END AS cid, jac
         | FROM verjac WHERE (doc1 % 10 = 7) != (doc2 % 10 = 7) AND jac >= 0.1),
         |nr AS (SELECT doc_id, cid AS near_match, jac FROM (
         |  SELECT doc_id, cid, jac, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY jac DESC, cid) AS rn FROM cr) WHERE rn = 1),
         |b0 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7)
         |SELECT b0.doc_id,
         | CASE WHEN ex.ex_match IS NOT NULL THEN 'exact'
         |      WHEN nr.near_match IS NOT NULL THEN 'near'
         |      ELSE 'new' END AS verdict,
         | CASE WHEN ex.ex_match IS NOT NULL THEN ex.ex_match
         |      ELSE nr.near_match END AS match_id,
         | CASE WHEN ex.ex_match IS NOT NULL THEN 1.0 ELSE nr.jac END AS jac
         |FROM b0 LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    Q("minhash_calibration", (s, dir) => {
      // measured signature quality: the signature-only Jaccard estimate
      // (what LSH banding actually thresholds on) next to the exact
      // value, for every verified pair — the dedup analogue of
      // ann_recall_ivf_pq's measured-recall move
      Dedup.minhashCalibration(Tables.documents(s, dir), threshold = 0.1)
        .orderBy("doc1", "doc2")
    }, Some(
      s"""WITH $SQL_MINHASH_CTES,
         |pr AS (SELECT doc1, doc2, jac FROM verjac WHERE jac >= 0.1),
         |mm AS (SELECT pr.doc1, pr.doc2, pr.jac,
         |  CAST(len(list_filter(range(1, 65), p -> sa.sig[p] = sb.sig[p])) AS BIGINT) AS n_match
         | FROM pr JOIN sigl sa ON sa.doc_id = pr.doc1
         |   JOIN sigl sb ON sb.doc_id = pr.doc2),
         |es AS (SELECT doc1, doc2, n_match,
         |  floor((CAST(n_match AS DOUBLE) / 64 + 1e-9) * 1e4 + 0.5) / 1e4 AS est_j, jac
         | FROM mm)
         |SELECT doc1, doc2, n_match, est_j, jac,
         | floor((abs(est_j - jac) + 1e-9) * 1e4 + 0.5) / 1e4 AS abs_err
         |FROM es ORDER BY doc1, doc2""".stripMargin)),

    Q("dedup_lsh_tune", (s, dir) =>
      // banding tradeoff sweep over ONE signature set: candidates,
      // recall vs the exact pair set, and candidate precision per
      // (bands, rows) config — the measured S-curve the 16×4 default
      // was chosen on
      Dedup.lshBandSweep(Tables.documents(s, dir), bandConfigs = Seq(4, 8, 16),
          threshold = 0.5, sampleN = 1000)
        .orderBy("bands"),
    Some(
      s"""WITH $SQL_MINHASH_SAMPLED,
         |tv AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         | FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         | GROUP BY 1, 2),
         |truth AS (SELECT doc1, doc2 FROM tv
         | JOIN sz n1 ON n1.doc_id = tv.doc1 JOIN sz n2 ON n2.doc_id = tv.doc2
         | WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
         |cfg AS (SELECT unnest([4, 8, 16]) AS bands),
         |bnd0 AS (SELECT doc_id, bands, unnest(range(0, bands)) AS b, sig
         | FROM sigl CROSS JOIN cfg),
         |bnd AS (SELECT doc_id, bands, b,
         |  sig[(b * (64 // bands) + 1):(b * (64 // bands) + (64 // bands))] AS bh
         | FROM bnd0),
         |candc AS (SELECT DISTINCT a.bands, a.doc_id AS doc1, b.doc_id AS doc2
         | FROM bnd a JOIN bnd b ON a.bands = b.bands AND a.b = b.b
         |   AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |nc AS (SELECT bands, count(*) AS n_cand FROM candc GROUP BY 1),
         |ht AS (SELECT bands, count(*) AS hits FROM candc
         | JOIN truth USING (doc1, doc2) GROUP BY 1),
         |nt AS (SELECT count(*) AS n_true FROM truth)
         |SELECT cfg.bands, 64 // cfg.bands AS rows_per_band,
         | CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
         | nt.n_true, CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
         | CASE WHEN nt.n_true > 0 THEN
         |   floor((CAST(COALESCE(hits, 0) AS DOUBLE) / nt.n_true + 1e-9) * 1e4 + 0.5) / 1e4
         | ELSE 0.0 END AS recall,
         | CASE WHEN COALESCE(n_cand, 0) > 0 THEN
         |   floor((CAST(COALESCE(hits, 0) AS DOUBLE) / n_cand + 1e-9) * 1e4 + 0.5) / 1e4
         | ELSE 0.0 END AS cand_precision
         |FROM cfg LEFT JOIN nc USING (bands) LEFT JOIN ht USING (bands)
         | CROSS JOIN nt ORDER BY cfg.bands""".stripMargin)),

    Q("dedup_shingle_profile", (s, dir) => {
      // the Σ df² cost predictor, measured BEFORE running a dedup: the
      // bigram-shingle document-frequency histogram (log2 buckets) with
      // each bucket's share of Σ df² — the inverted-index join cost
      // every near-dup candidate stage here pays. A heavy top bucket
      // says "prune hot shingles / widen the gram" before the big run,
      // not after. Buckets via integer bit-length (no cross-engine
      // log2); df² sums exact.
      val sh = Tables.documents(s, dir)
        .select(split(lower(trim(col("text"))), "\\s+").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "array_distinct(transform(sequence(1, size(w) - 1), i -> concat(w[i - 1], ' ', w[i])))")).as("sv"))
      val dfc = sh.groupBy("sv").agg(count(lit(1)).as("dfc"))
      val prof = dfc
        .select((length(bin(col("dfc"))) - lit(1)).cast("long").as("df_bucket"),
          col("dfc"))
        .groupBy("df_bucket")
        .agg(count(lit(1)).as("n_shingles"), sum("dfc").as("sum_df"),
          sum((col("dfc") * col("dfc"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("df2"))
      prof
        .withColumn("df2_share", r4(col("df2").cast("double") /
          sum(col("df2")).over(Window.partitionBy()).cast("double")))
        .select(col("df_bucket"), col("n_shingles"), col("sum_df"),
          col("df2").cast("double").as("sum_df2"), col("df2_share"))
        .orderBy("df_bucket")
    }, Some(
      """WITH spw AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sps AS (SELECT unnest(list_distinct(list_transform(range(1, len(w)),
        |   i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]))) AS sv
        | FROM spw WHERE len(w) >= 2),
        |spd AS (SELECT sv, count(*) AS dfc FROM sps GROUP BY 1),
        |spb AS (SELECT CAST(length(bin(dfc)) - 1 AS BIGINT) AS df_bucket, dfc FROM spd),
        |spp AS (SELECT df_bucket, count(*) AS n_shingles,
        |  CAST(sum(dfc) AS BIGINT) AS sum_df,
        |  sum(CAST(dfc AS HUGEINT) * dfc) AS df2
        | FROM spb GROUP BY 1)
        |SELECT df_bucket, n_shingles, sum_df, CAST(df2 AS DOUBLE) AS sum_df2,
        | floor((CAST(df2 AS DOUBLE) / CAST(sum(df2) OVER () AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS df2_share
        |FROM spp ORDER BY df_bucket""".stripMargin)),

    Q("dedup_winnowing", (s, dir) => {
      // dfMax = 64 engaged: the template corpus's boilerplate grams
      // produce fingerprints shared by hundreds of docs — exactly the
      // hot keys the Σ df² bound exists for (measured 19 s → ~2 s at
      // sf0.1); MOSS itself drops ubiquitous fingerprints the same way
      Dedup.winnowingPairs(Tables.documents(s, dir).filter(col("doc_id") % 3 === 0),
          dfMax = 64)
        .orderBy("id1", "id2")
    }, Some(
      """WITH wd AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0 AND length(text) >= 11),
        |wg AS (SELECT doc_id, CAST(p.p AS BIGINT) AS pos,
        |  CAST(CAST('0x' || substr(md5(substr(text, CAST(p.p AS INT), 8)), 17, 16) AS UBIGINT) AS HUGEINT) AS hu
        | FROM wd, LATERAL (SELECT unnest(range(1, length(text) - 7 + 1)) AS p) p),
        |wsg AS (SELECT doc_id, pos,
        |  CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS h
        | FROM wg),
        |wmn AS (SELECT doc_id, pos,
        |  min(struct_pack(h := h, np := -pos)) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
        |  count(*) OVER (PARTITION BY doc_id) AS lg
        | FROM wsg),
        |wf0 AS (SELECT DISTINCT doc_id, -mn.np AS fp_pos, mn.h AS fp_h
        | FROM wmn WHERE pos <= lg - 3),
        |wdf AS (SELECT fp_h, count(*) AS dfc FROM wf0 GROUP BY 1),
        |wf AS (SELECT wf0.* FROM wf0 JOIN wdf USING (fp_h) WHERE dfc <= 64),
        |wp AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(DISTINCT a.fp_h) AS shared_fp
        | FROM wf a JOIN wf b ON a.fp_h = b.fp_h AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id1, id2, shared_fp FROM wp WHERE shared_fp >= 3
        |ORDER BY id1, id2""".stripMargin)),

    Q("dedup_simhash", (s, dir) => {
      // md5-low64 word hash (Dedup.simhash doc) → the whole pipeline
      // (bit tally, signature, pigeonhole blocks, hamming) is
      // hash-verified end-to-end; the oracle mirrors the operator's
      // declared bucket contract (pairs sharing ≥1 of 4 blocks)
      Dedup.simhash(Tables.documents(s, dir), maxHamming = 8).orderBy("doc1", "doc2")
    }, Some(
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS wd
        |  FROM documents),
        |h AS (SELECT doc_id, CAST('0x' || substr(md5(wd), 17, 16) AS UBIGINT) AS h FROM w),
        |bt AS (SELECT doc_id, b.bit AS bit,
        |  sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS c
        | FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b GROUP BY 1, 2),
        |shu AS (SELECT doc_id,
        |  sum(CASE WHEN c > 0 THEN CAST(CAST(1 AS UBIGINT) << CAST(bit AS INT) AS HUGEINT)
        |      ELSE 0 END) AS u
        | FROM bt GROUP BY doc_id),
        |sh AS (SELECT doc_id, CAST(u AS UBIGINT) AS u FROM shu),
        |blk AS (SELECT doc_id, u, k.k AS blk, (u >> CAST(16 * k.k AS INT)) & 65535 AS bv
        | FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(bit_count(xor(a.u, b.u)) AS INT) AS hamming
        | FROM blk a JOIN blk b
        |   ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT doc1, doc2, hamming FROM pairs WHERE hamming <= 8
        |ORDER BY doc1, doc2""".stripMargin)),

    Q("dedup_embed_cosine", (s, dir) => {
      Dedup.embedCosinePairs(Tables.embeddings(s, dir), 5, 0.3).orderBy("id1", "id2")
    }, Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        | floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.3
        |ORDER BY id1, id2""".stripMargin)),

    // ================= E. similarity search =================
    Q("knn_brute_cosine", (s, dir) => {
      Similarity.knnBruteCosine(Tables.embeddings(s, dir), 10, 10)
        .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
        .orderBy("qid", "rank")
    }, Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |scored AS (SELECT qid, n.vec_id AS nid,
        |  floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        | FROM n CROSS JOIN q WHERE n.vec_id != qid),
        |ranked AS (SELECT qid, nid, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS INT) AS rank
        | FROM scored)
        |SELECT qid, rank, nid, cos_sim FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    Q("ann_filtered", (s, dir) => {
      // filtered vector search: top-5 among label != query label, with
      // in_post flagging which hits the post-filter pipeline (filter
      // AFTER global top-k) would have surfaced — rows at 0 are its
      // recall loss
      Similarity.filteredKnn(Tables.embeddings(s, dir), 10, 5)
        .orderBy("qid", "rank")
    }, Some(
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        |scored AS (SELECT qid, qlabel, n.vec_id AS nid, n.label,
        |  floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        | FROM n CROSS JOIN q WHERE n.vec_id != qid),
        |ra AS (SELECT qid, qlabel, nid, label, cos_sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank_all
        | FROM scored),
        |fr AS (SELECT qid, nid, cos_sim, rank_all,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS INT) AS rank
        | FROM ra WHERE label != qlabel)
        |SELECT qid, rank, nid, cos_sim, CAST(rank_all <= 5 AS INT) AS in_post
        |FROM fr WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    Q("embed_norm_stats", (s, dir) => {
      // distribution of embedding L2 norms per label — the standard
      // sanity scan before cosine work (un-normalized rows distort
      // similarity). Norms are rounded to 6dp then summed as exact
      // decimals so the mean is order-independent across engines.
      val e = Tables.embeddings(s, dir)
        .select(col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      e.select(col("label"),
          org.apache.spark.sql.graft.VectorExpressions.vecNorm(col("v")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          r4(min("nrm")).as("min_n"), r4(max("nrm")).as("max_n"),
          (sum(r6(col("nrm")).cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_raw"))
        .select(col("label"), col("n"), col("min_n"), col("max_n"),
          r4(col("mean_raw")).as("mean_n"))
        .orderBy("label")
    }, Some(
      """WITH e AS (SELECT label,
        |  sqrt(list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    x -> x * x))) AS nrm FROM embeddings)
        |SELECT label, count(*) AS n,
        | floor((min(nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS min_n, floor((max(nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS max_n,
        | floor((CAST(sum(CAST(floor((nrm + 1e-11) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_n
        |FROM e GROUP BY label ORDER BY label""".stripMargin)),

    // the whole ANN ladder is deterministic by construction (splitmix64
    // planes, first-k centroids/codebooks, rounded-score rankings with
    // id tiebreaks) — so every rung is oracle-verified, not rows-only
    Q("ann_lsh", (s, dir) => {
      Similarity.lshAnn(Tables.embeddings(s, dir))
        .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
        .orderBy("qid", "rank")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_LSH
         |SELECT qid, rank, nid, cos_sim FROM lranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin)),

    Q("ann_ivf", (s, dir) => {
      Similarity.ivfAnn(Tables.embeddings(s, dir))
        .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
        .orderBy("qid", "rank")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_IVF
         |SELECT qid, rank, nid, cos_sim FROM iranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin)),

    Q("ann_recall_eval", (s, dir) => {
      // the honesty harness for the approximate paths: recall@5 of the
      // LSH index against brute-force ground truth per query
      val e = Tables.embeddings(s, dir)
      Similarity.recallAtK(Similarity.lshAnn(e),
          Similarity.knnBruteCosine(e, nQueries = 10, k = 5), k = 5)
        .orderBy("qid")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_TRUTH,
         |$SQL_ANN_LSH,
         |hits AS (SELECT a.qid, count(*) AS hits
         |  FROM (SELECT qid, nid FROM lranked WHERE rank <= 5) a
         |  JOIN truth USING (qid, nid) GROUP BY a.qid),
         |nt AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid)
         |SELECT nt.qid, CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
         | floor((CAST(COALESCE(hits, 0) AS DOUBLE) / n_truth + 1e-9) * 1e4 + 0.5) / 1e4 AS recall
         |FROM nt LEFT JOIN hits ON nt.qid = hits.qid
         |ORDER BY nt.qid""".stripMargin)),

    Q("ann_ivf_multiprobe", (s, dir) => {
      // recall@5 per probe depth 1..2 at fixed cells: the nprobe knob
      // measured, not guessed — the corpus stays single-cell-assigned,
      // queries probe their 2 nearest cells
      Similarity.ivfMultiProbeRecall(Tables.embeddings(s, dir))
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_TRUTH,
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
         |asgc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
         |  SELECT n.vec_id, n.v, n.nrm, c.cid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
         |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
         |      c.cid ASC) AS crn
         |  FROM n CROSS JOIN c) WHERE crn = 1),
         |qp AS (SELECT qid, qv, qn, cid, prk FROM (
         |  SELECT b.vec_id AS qid, b.v AS qv, b.nrm AS qn, c.cid,
         |    row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |      floor((list_sum(list_transform(range(1, 65), i -> b.v[i] * c.cv[i]))
         |        / (b.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
         |      c.cid ASC) AS prk
         |  FROM n b CROSS JOIN c WHERE b.vec_id < 10) WHERE prk <= 2),
         |cand AS (SELECT qp.qid, qp.prk, a.vec_id AS nid,
         |  floor((list_sum(list_transform(range(1, 65), i -> qp.qv[i] * a.v[i]))
         |    / (qp.qn * a.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
         | FROM asgc a JOIN qp ON a.cell = qp.cid AND a.vec_id != qp.qid),
         |pv AS (SELECT unnest([1, 2]) AS probes),
         |rk AS (SELECT probes, qid, nid FROM (SELECT pv.probes, cand.qid, cand.nid,
         |  row_number() OVER (PARTITION BY pv.probes, cand.qid
         |    ORDER BY cand.cos_sim DESC, cand.nid ASC) AS rnk
         | FROM cand JOIN pv ON cand.prk <= pv.probes) WHERE rnk <= 5),
         |hits AS (SELECT probes, rk.qid, count(*) AS hits
         | FROM rk JOIN truth ON rk.qid = truth.qid AND rk.nid = truth.nid
         | GROUP BY 1, 2),
         |nt AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid)
         |SELECT pv.probes, nt.qid, CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
         | floor((CAST(COALESCE(hits, 0) AS DOUBLE) / CAST(n_truth AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS recall
         |FROM nt CROSS JOIN pv
         |LEFT JOIN hits ON nt.qid = hits.qid AND pv.probes = hits.probes
         |ORDER BY pv.probes, nt.qid""".stripMargin)),

    Q("ann_range_search", (s, dir) => {
      Similarity.rangeSearch(Tables.embeddings(s, dir), nQueries = 10, minCos = 0.3)
        .orderBy(col("qid"), col("cos_sim").desc, col("nid"))
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |bq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |rsc AS (SELECT qid, n.vec_id AS nid,
         |  floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
         | FROM n CROSS JOIN bq WHERE n.vec_id != qid)
         |SELECT qid, nid, cos_sim FROM rsc WHERE cos_sim >= 3e-1
         |ORDER BY qid, cos_sim DESC, nid""".stripMargin)),

    Q("embed_mmr", (s, dir) => {
      Similarity.mmrSelect(Tables.embeddings(s, dir), candK = 32, k = 8)
        .orderBy("rank")
    }, Some(
      s"""WITH $SQL_GREEDY_BASE,
         |${sqlMmrGreedy(8, "700000 * relq - 300000 * ms")}
         |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
         | floor((CAST(relq AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS rel,
         | floor((CAST(msq AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS max_sim_selected
         |FROM mall ORDER BY rank""".stripMargin)),

    Q("embed_label_knn_acc", (s, dir) => {
      Similarity.labelKnnAccuracy(Tables.embeddings(s, dir), nCells = 8)
        .orderBy("label")
    }, Some(sqlLabelKnn("8"))),

    Q("embed_label_knn_auto", (s, dir) => {
      // the PRODUCTION path: nCells <= 0 derives the cell count via
      // Similarity.autoCells — hash-checked here so the self-scaling
      // Σ|cell|² knob users run is the knob the oracle proves (r5
      // verdict #4)
      Similarity.labelKnnAccuracy(Tables.embeddings(s, dir), nCells = 0)
        .orderBy("label")
    }, Some(sqlLabelKnn(SQL_AUTOCELLS))),

    Q("ann_knn_graph", (s, dir) =>
      // the kNN-graph stage (graph dedup / diversity sampling / label
      // propagation input): per vector its top-3 in-cell neighbors as
      // ranked directed edges, on the salted top-k kernel at the
      // autoCells production knob — the oracle replays assignment +
      // ranking with the shared rounded-cosine / id-tiebreak rules
      Similarity.knnGraph(Tables.embeddings(s, dir), nCells = 0, k = 3)
        .orderBy("vec_id", "rank"),
      Some(
        s"""WITH $SQL_KNN_EDGES
          |SELECT vec_id, CAST(rn AS BIGINT) AS rank, nid, sim AS cos_sim
          |FROM krk WHERE rn <= 3 ORDER BY vec_id, rank""".stripMargin)),

    Q("ann_knn_mutual", (s, dir) => {
      // mutual-kNN refinement: keep an edge only when BOTH endpoints
      // rank each other in their top-3 — the standard asymmetry filter
      // that strips hub edges before graph clustering (a hub vector is
      // many vectors' neighbor without reciprocating). One symmetric
      // undirected edge per pair (id1 < id2); the edge join is on the
      // k-bounded graph rows, never on candidate volume. The graph is
      // persisted before the self-join so the salted top-k kernel runs
      // once, not once per join side (r10 ADVICE)
      val g = Similarity.knnGraph(Tables.embeddings(s, dir), nCells = 0, k = 3)
        .select(col("vec_id"), col("nid"), col("cos_sim"))
        .persist().tracked
      val rev = g.select(col("nid").as("vec_id"), col("vec_id").as("nid"))
      g.join(rev, Seq("vec_id", "nid"))
        .filter(col("vec_id") < col("nid"))
        .select(col("vec_id").as("id1"), col("nid").as("id2"), col("cos_sim"))
        .orderBy("id1", "id2")
    }, Some(
      s"""WITH $SQL_KNN_EDGES,
        |ged AS (SELECT vec_id, nid, sim FROM krk WHERE rn <= 3)
        |SELECT a.vec_id AS id1, a.nid AS id2, a.sim AS cos_sim
        |FROM ged a JOIN ged b ON a.vec_id = b.nid AND a.nid = b.vec_id
        |WHERE a.vec_id < a.nid ORDER BY id1, id2""".stripMargin)),

    Q("ann_knn_components", (s, dir) => {
      // E31 (r10 verdict #5): the graph CONSUMER the kNN stages exist
      // for — connected components (min-label propagation, the shared
      // Dedup.minLabelLoop machinery) over the mutual-kNN edge set:
      // embedding-space communities for diversity sampling / cluster
      // telemetry. The mutual filter strips hub edges first, so
      // components are symmetric-neighborhood groups, not hub stars.
      // Scale: edges are k-bounded (≤ 3n/2 after the mutual filter),
      // each propagation round is one keyed shuffle, singleton vectors
      // rejoin as their own component — nothing touches candidate
      // volume. The graph persists so the salted top-k kernel runs
      // once across both mutual-join sides.
      val embs = Tables.embeddings(s, dir)
      val g = Similarity.knnGraph(embs, nCells = 0, k = 3)
        .select(col("vec_id"), col("nid"))
        .persist().tracked
      val rev = g.select(col("nid").as("vec_id"), col("vec_id").as("nid"))
      val mutual = g.join(rev, Seq("vec_id", "nid"))
        .filter(col("vec_id") < col("nid"))
        .select(col("vec_id").as("doc1"), col("nid").as("doc2"))
      Dedup.clusters(embs.select(col("vec_id").as("doc_id")),
          precomputedPairs = Some(mutual))
        .select(col("doc_id").as("vec_id"),
          col("canonical_id").as("component"))
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("component"))
          .cast("long"))
        .orderBy("vec_id")
    }, Some(
      s"""WITH RECURSIVE $SQL_KNN_EDGES,
        |ged AS (SELECT vec_id, nid FROM krk WHERE rn <= 3),
        |med AS (SELECT a.vec_id AS doc1, a.nid AS doc2
        |  FROM ged a JOIN ged b ON a.vec_id = b.nid AND a.nid = b.vec_id
        |  WHERE a.vec_id < a.nid),
        |eds AS (SELECT doc1 AS a, doc2 AS b FROM med
        |  UNION ALL SELECT doc2, doc1 FROM med),
        |comp AS (SELECT vec_id AS doc_id, vec_id AS lab FROM embeddings
        |  UNION
        |  SELECT ed.b AS doc_id, c.lab FROM comp c JOIN eds ed ON ed.a = c.doc_id),
        |grp AS (SELECT doc_id AS vec_id, min(lab) AS component FROM comp GROUP BY doc_id)
        |SELECT vec_id, component,
        |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
        |FROM grp ORDER BY vec_id""".stripMargin)),

    Q("embed_matryoshka", (s, dir) => {
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir))
    }, Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |w AS (SELECT unnest([8, 16, 32, 64]) AS dim),
        |pw AS (SELECT vec_id, dim, v[1:dim] AS pv FROM e CROSS JOIN w),
        |pn AS (SELECT vec_id, dim, pv,
        |  sqrt(list_sum(list_transform(pv, x -> x * x))) AS pnrm FROM pw),
        |ok AS (SELECT * FROM pn WHERE pnrm > 0),
        |qs AS (SELECT dim AS qdim, vec_id AS qid, pv AS qv, pnrm AS qn
        | FROM ok WHERE vec_id < 50),
        |sc AS (SELECT o.dim, q.qid, o.vec_id,
        |  floor((list_sum(list_transform(range(1, o.dim + 1), i -> q.qv[i] * o.pv[i]))
        |    / (q.qn * o.pnrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        | FROM ok o JOIN qs q ON o.dim = q.qdim AND o.vec_id != q.qid),
        |rk AS (SELECT dim, qid, vec_id FROM (SELECT dim, qid, vec_id,
        |  row_number() OVER (PARTITION BY dim, qid ORDER BY cos_sim DESC, vec_id) AS rank
        | FROM sc) WHERE rank <= 10),
        |tr AS (SELECT qid, vec_id FROM rk WHERE dim = 64),
        |nq AS (SELECT count(DISTINCT qid) AS nq FROM tr),
        |hit AS (SELECT r.dim, count(*) AS n_hits FROM rk r
        | JOIN tr t ON r.qid = t.qid AND r.vec_id = t.vec_id
        | WHERE r.dim != 64 GROUP BY r.dim)
        |SELECT dim, nq AS n_queries,
        | floor((CAST(n_hits AS DOUBLE) / CAST(nq * 10 AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_recall
        |FROM hit CROSS JOIN nq ORDER BY dim""".stripMargin)),

    Q("curation_dsir", (s, dir) => {
      Curation.dsirWeights(Tables.documents(s, dir))
    }, Some(
      s"""WITH $SQL_DSIR_DS
         |SELECT source, count(*) AS n_docs,
         | floor(((CAST(sum(sq) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_logw,
         | floor((CAST(sum(CASE WHEN sq > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS pos_share
         |FROM ds GROUP BY source ORDER BY source""".stripMargin)),

    Q("sample_dsir", (s, dir) => {
      // DSIR's resampling step made deterministic: top-50 docs by
      // integer score with the md5-rank + id tiebreak (append-stable;
      // TakeOrdered, no global sort)
      Curation.dsirSample(Tables.documents(s, dir), n = 50)
        .orderBy(col("logw").desc, col("doc_id"))
    }, Some(
      s"""WITH $SQL_DSIR_DS
         |SELECT doc_id, source,
         | floor((CAST(sq AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS logw
         |FROM ds
         |ORDER BY sq DESC,
         | CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) ASC,
         | doc_id ASC
         |LIMIT 50""".stripMargin)),


    Q("embed_hard_negatives", (s, dir) => {
      Similarity.hardNegatives(Tables.embeddings(s, dir), k = 3)
        .orderBy("la", "lb", "rank")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |hl0 AS (SELECT vec_id, label, v, nrm FROM embeddings
         |  JOIN n USING (vec_id)),
         |hl AS (SELECT vec_id, label, v, nrm FROM (
         |  SELECT vec_id, label, v, nrm, row_number() OVER (PARTITION BY label
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS hrk
         |  FROM hl0) WHERE hrk <= 256),
         |hp AS (SELECT a.label AS la, b.label AS lb, a.vec_id AS ida, b.vec_id AS idb,
         |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
         |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
         | FROM hl a JOIN hl b ON a.label < b.label),
         |hr AS (SELECT *, CAST(row_number() OVER (PARTITION BY la, lb
         |   ORDER BY cos_sim DESC, ida, idb) AS INT) AS rank FROM hp)
         |SELECT la, lb, rank, ida, idb, cos_sim FROM hr WHERE rank <= 3
         |ORDER BY la, lb, rank""".stripMargin)),

    Q("embed_kcenter", (s, dir) => {
      Similarity.kcenterSelect(Tables.embeddings(s, dir), candK = 32, k = 8)
        .orderBy("rank")
    }, Some(
      s"""WITH $SQL_GREEDY_BASE,
         |${sqlMmrGreedy(8, "-ms * 10000000 + relq")}
         |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
         | floor((CAST(relq AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS rel,
         | floor((CAST(msq AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS max_sim_selected
         |FROM mall ORDER BY rank""".stripMargin)),

    Q("ann_recall_sketch", (s, dir) => {
      // recall@5 of the sketch-prefilter + exact-rerank pipeline vs
      // brute truth — the honesty number for the 4-byte index
      val e = Tables.embeddings(s, dir)
      Similarity.recallAtK(Similarity.sketchRerankAnn(e),
          Similarity.knnBruteCosine(e, nQueries = 10, k = 5), k = 5)
        .orderBy("qid")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_TRUTH,
         |spl AS (SELECT p, w FROM (VALUES $SQL_SKETCH_PLANES) t(p, w)),
         |ssk AS (SELECT n.vec_id,
         |  CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> n.v[i] * w[i])) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sk
         | FROM n CROSS JOIN spl GROUP BY n.vec_id),
         |sbase AS (SELECT n.vec_id, n.v, n.nrm, ssk.sk
         | FROM n JOIN ssk ON n.vec_id = ssk.vec_id),
         |sq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, sk AS qsk
         | FROM sbase WHERE vec_id < 10),
         |scand AS (SELECT qid, vec_id, qv, qn, v, nrm FROM (
         |  SELECT sq.qid, sbase.vec_id, sq.qv, sq.qn, sbase.v, sbase.nrm,
         |    row_number() OVER (PARTITION BY sq.qid ORDER BY
         |      bit_count(xor(sbase.sk, sq.qsk)) ASC, sbase.vec_id ASC) AS hrn
         |  FROM sbase CROSS JOIN sq WHERE sbase.vec_id != sq.qid)
         | WHERE hrn <= 32),
         |srr AS (SELECT qid, vec_id AS nid FROM (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
         |        / (qn * nrm) + 1e-9) * 1e4 + 0.5) / 1e4 DESC, vec_id ASC) AS rank
         |  FROM scand) WHERE rank <= 5),
         |shits AS (SELECT srr.qid, count(*) AS hits
         | FROM srr JOIN truth ON truth.qid = srr.qid AND truth.nid = srr.nid
         | GROUP BY srr.qid),
         |snt AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid)
         |SELECT snt.qid, CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
         | floor((CAST(COALESCE(hits, 0) AS DOUBLE) / n_truth + 1e-9) * 1e4 + 0.5) / 1e4 AS recall
         |FROM snt LEFT JOIN shits ON snt.qid = shits.qid
         |ORDER BY snt.qid""".stripMargin)),

    Q("embed_bitsketch", (s, dir) =>
      Similarity.bitSketchCalibration(Tables.embeddings(s, dir))
        .orderBy("hamming"),
    Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_IVF,
         |bpl AS (SELECT p, w FROM (VALUES $SQL_SKETCH_PLANES) t(p, w)),
         |bsk AS (SELECT n.vec_id,
         |  CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> n.v[i] * w[i])) >= 0
         |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sk
         | FROM n CROSS JOIN bpl GROUP BY n.vec_id),
         |bav AS (SELECT vec_id, v, nrm, cid, sk FROM (
         | SELECT iasg.vec_id, iasg.v, iasg.nrm, iasg.cid, bsk.sk,
         |  row_number() OVER (ORDER BY
         |   CAST('0x' || substr(md5(CAST(iasg.vec_id AS VARCHAR)), 1, 8) AS BIGINT),
         |   iasg.vec_id) AS srn
         | FROM iasg JOIN bsk ON iasg.vec_id = bsk.vec_id) WHERE srn <= 4096),
         |bpr AS (SELECT CAST(bit_count(xor(a.sk, b.sk)) AS BIGINT) AS hamming,
         |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
         |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
         | FROM bav a JOIN bav b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |bce AS (SELECT h, est FROM (VALUES $SQL_COS_EST) t(h, est)),
         |bqq AS (SELECT hamming,
         |  CAST(floor(cos_sim * 1e4 + 0.5) AS BIGINT) AS qc,
         |  bce.est AS est
         | FROM bpr JOIN bce ON bce.h = bpr.hamming),
         |bq2 AS (SELECT *, CAST(floor(est * 1e4 + 0.5) AS BIGINT) AS qe FROM bqq),
         |bag AS (SELECT hamming, count(*) AS n_pairs, max(est) AS est_cos,
         |  CAST(sum(qc) AS BIGINT) AS sqc, CAST(sum(abs(qc - qe)) AS BIGINT) AS sqd
         | FROM bq2 GROUP BY 1)
         |SELECT hamming, n_pairs, est_cos,
         | floor((CAST(sqc AS DOUBLE) / CAST(n_pairs * 10000 AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_cos,
         | floor((CAST(sqd AS DOUBLE) / CAST(n_pairs * 10000 AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_abs_err
         |FROM bag ORDER BY hamming""".stripMargin)),

    Q("ann_recall_curve", (s, dir) => {
      // recall@k CURVE (k = 1, 3, 5) of the LSH index per query — one
      // scalar hides where an index fails (perfect @1, useless @5 or
      // the reverse); the curve is what index tuning actually reads.
      // One ann⋈truth rank join feeds every k; the k spine is a
      // 3-row broadcast.
      val e = Tables.embeddings(s, dir)
      val a = Similarity.lshAnn(e)
        .select(col("qid"), col("nid"), col("rank").as("arank"))
      val t = Similarity.knnBruteCosine(e, nQueries = 10, k = 5)
        .select(col("qid"), col("nid"), col("rank").as("trank"))
        .persist().tracked // spine + match join share the brute scan
      import s.implicits._
      val ks = Seq(1, 3, 5).toDF("k")
      val m = a.join(t, Seq("qid", "nid"))
      val hits = m.crossJoin(broadcast(ks))
        .filter(col("arank") <= col("k") && col("trank") <= col("k"))
        .groupBy("k", "qid").agg(count(lit(1)).as("hits"))
      val spine = t.groupBy("qid").agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(ks))
      spine.join(hits, Seq("k", "qid"), "left")
        .select(col("k"), col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          r4(coalesce(col("hits"), lit(0L)).cast("double") /
            least(col("k").cast("long"), col("n_truth"))).as("recall"))
        .orderBy("k", "qid")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_TRUTH,
         |$SQL_ANN_LSH,
         |tr AS (SELECT qid, nid,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS trank
         | FROM bscored),
         |ks AS (SELECT unnest([1, 3, 5]) AS k),
         |m AS (SELECT tr.qid, tr.nid, trank, rank AS arank
         | FROM tr JOIN lranked USING (qid, nid) WHERE trank <= 5 AND rank <= 5),
         |h AS (SELECT k, qid, count(*) AS hits FROM m CROSS JOIN ks
         | WHERE arank <= k AND trank <= k GROUP BY 1, 2),
         |nt AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid),
         |spine AS (SELECT k, qid, n_truth FROM ks CROSS JOIN nt)
         |SELECT spine.k, spine.qid, CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
         | floor((CAST(COALESCE(hits, 0) AS DOUBLE) / least(k, n_truth) + 1e-9)
         |   * 1e4 + 0.5) / 1e4 AS recall
         |FROM spine LEFT JOIN h USING (k, qid) ORDER BY k, qid""".stripMargin)),

    Q("ann_recall_ivf_pq", (s, dir) => {
      // the same honesty harness for the OTHER two approximate rungs:
      // recall@5 of the IVF and PQ indexes vs the identical brute
      // truth, one labeled row set per method — measured retrieval
      // quality, not just plumbing, for the full ANN ladder
      val e = Tables.embeddings(s, dir)
      // the brute truth feeds BOTH recall evaluations — persisted so
      // the exhaustive scan runs once, not once per method
      val truth = Similarity.knnBruteCosine(e, nQueries = 10, k = 5).persist().tracked
      Similarity.recallAtK(Similarity.ivfAnn(e, nQueries = 10, k = 5), truth, k = 5)
        .withColumn("method", lit("ivf"))
        .unionByName(
          Similarity.recallAtK(Similarity.pqAnn(e, nQueries = 10, k = 5), truth, k = 5)
            .withColumn("method", lit("pq")))
        .orderBy("method", "qid")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_TRUTH,
         |$SQL_ANN_IVF,
         |$SQL_ANN_PQ,
         |nt AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid),
         |ih AS (SELECT a.qid, count(*) AS hits
         |  FROM (SELECT qid, nid FROM iranked WHERE rank <= 5) a
         |  JOIN truth USING (qid, nid) GROUP BY a.qid),
         |ph AS (SELECT a.qid, count(*) AS hits
         |  FROM (SELECT qid, nid FROM pranked WHERE rank <= 5) a
         |  JOIN truth USING (qid, nid) GROUP BY a.qid),
         |u AS (
         |  SELECT nt.qid, CAST(COALESCE(ih.hits, 0) AS BIGINT) AS hits,
         |   floor((CAST(COALESCE(ih.hits, 0) AS DOUBLE) / n_truth + 1e-9) * 1e4 + 0.5) / 1e4 AS recall,
         |   'ivf' AS method
         |  FROM nt LEFT JOIN ih ON nt.qid = ih.qid
         |  UNION ALL
         |  SELECT nt.qid, CAST(COALESCE(ph.hits, 0) AS BIGINT) AS hits,
         |   floor((CAST(COALESCE(ph.hits, 0) AS DOUBLE) / n_truth + 1e-9) * 1e4 + 0.5) / 1e4 AS recall,
         |   'pq' AS method
         |  FROM nt LEFT JOIN ph ON nt.qid = ph.qid)
         |SELECT qid, hits, recall, method FROM u ORDER BY method, qid""".stripMargin)),

    Q("ann_pq", (s, dir) => {
      Similarity.pqAnn(Tables.embeddings(s, dir))
        .select(col("qid"), col("rank"), col("nid"), col("adist"))
        .orderBy("qid", "rank")
    }, Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_PQ
         |SELECT qid, rank, nid, adist FROM pranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin)),

    Q("embed_kmeans", (s, dir) => {
      Clustering.clusterStats(Tables.embeddings(s, dir), 8)
    }, Some(
      s"""WITH $SQL_LLOYD,
         |sz AS (SELECT cluster, count(*) AS n FROM af GROUP BY cluster),
         |ml AS (SELECT cluster, max(nl) AS max_label_n FROM
         |  (SELECT af.cluster, qv.label, count(*) AS nl FROM af
         |   JOIN qv USING (vec_id) GROUP BY af.cluster, qv.label)
         | GROUP BY cluster)
         |SELECT sz.cluster, sz.n,
         | floor((max_label_n / sz.n + 1e-9) * 1e4 + 0.5) / 1e4 AS purity
         |FROM sz JOIN ml USING (cluster) ORDER BY cluster""".stripMargin)),

    Q("embed_pca", (s, dir) => {
      Clustering.pcaStats(Tables.embeddings(s, dir), 4)
    }, Some(
      s"""WITH $SQL_PCA
         |SELECT component, nn.n AS n,
         | floor((CAST(lam AS DOUBLE) / (CAST(nn.n AS DOUBLE) * (nn.n - 1)) / 1e12
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS proj_var,
         | CASE WHEN trace > 0 THEN
         |   floor((CAST(lam AS DOUBLE) / CAST(trace AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4
         | ELSE 0.0 END AS explained_var_ratio
         |FROM comps CROSS JOIN nn CROSS JOIN tr ORDER BY component""".stripMargin)),

    Q("embed_pca_whiten", (s, dir) => {
      Clustering.pcaWhiten(Tables.embeddings(s, dir), 4).orderBy("vec_id")
    }, Some(
      s"""WITH $SQL_PCA,
         |pr AS (SELECT qc.vec_id,
         |  CAST(sum((nn.n * qc.x - mv.m) * v0.qv) AS DOUBLE) AS cy0,
         |  CAST(sum((nn.n * qc.x - mv.m) * v1.qv) AS DOUBLE) AS cy1,
         |  CAST(sum((nn.n * qc.x - mv.m) * v2.qv) AS DOUBLE) AS cy2,
         |  CAST(sum((nn.n * qc.x - mv.m) * v3.qv) AS DOUBLE) AS cy3
         | FROM qc CROSS JOIN nn JOIN mv ON mv.j = qc.j
         |   JOIN v0_12 v0 ON v0.j = qc.j JOIN v1_12 v1 ON v1.j = qc.j
         |   JOIN v2_12 v2 ON v2.j = qc.j JOIN v3_12 v3 ON v3.j = qc.j
         | GROUP BY qc.vec_id)
         |SELECT vec_id,
         | floor((cy0 / n / 1e12 / sqrt(CAST((SELECT lam FROM lam0) AS DOUBLE)
         |   / (n * (n - 1.0)) / 1e12) + 1e-9) * 1e4 + 0.5) / 1e4 AS w0,
         | floor((cy1 / n / 1e12 / sqrt(CAST((SELECT lam FROM lam1) AS DOUBLE)
         |   / (n * (n - 1.0)) / 1e12) + 1e-9) * 1e4 + 0.5) / 1e4 AS w1,
         | floor((cy2 / n / 1e12 / sqrt(CAST((SELECT lam FROM lam2) AS DOUBLE)
         |   / (n * (n - 1.0)) / 1e12) + 1e-9) * 1e4 + 0.5) / 1e4 AS w2,
         | floor((cy3 / n / 1e12 / sqrt(CAST((SELECT lam FROM lam3) AS DOUBLE)
         |   / (n * (n - 1.0)) / 1e12) + 1e-9) * 1e4 + 0.5) / 1e4 AS w3
         |FROM pr CROSS JOIN nn ORDER BY vec_id""".stripMargin)),

    Q("embed_dist_outliers", (s, dir) => {
      Clustering.distanceOutliers(Tables.embeddings(s, dir), 8, 20)
    }, Some(
      s"""WITH $SQL_LLOYD
         |SELECT vec_id, cluster,
         | floor((dist / 1e12 + 1e-9) * 1e4 + 0.5) / 1e4 AS min_dist2
         |FROM af ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin)),

    Q("embed_silhouette", (s, dir) => {
      // simplified (centroid-based) silhouette per Lloyd cluster — the
      // k-quality scorecard; a and b are the exact integer distances
      // the assignment already computed, so the oracle rides SQL_LLOYD
      Clustering.silhouette(Tables.embeddings(s, dir), 8)
    }, Some(
      s"""WITH $SQL_LLOYD,
         |sab AS (SELECT df.vec_id, af.cluster,
         |  min(CASE WHEN df.cluster = af.cluster THEN df.dist END) AS a,
         |  min(CASE WHEN df.cluster <> af.cluster THEN df.dist END) AS b
         | FROM df JOIN af USING (vec_id) GROUP BY 1, 2),
         |sq AS (SELECT vec_id, cluster,
         |  CAST(floor((CASE WHEN b > 0 THEN
         |    (sqrt(CAST(b AS DOUBLE)) - sqrt(CAST(a AS DOUBLE))) / sqrt(CAST(b AS DOUBLE))
         |   ELSE 0.0 END + 1e-9) * 1e4 + 0.5) AS BIGINT) AS sq
         | FROM sab)
         |SELECT cluster, count(*) AS n,
         | floor((CAST(sum(sq) AS DOUBLE) / count(*) / 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_sil,
         | CAST(min(sq) AS DOUBLE) / 1e4 AS min_sil
         |FROM sq GROUP BY cluster ORDER BY cluster""".stripMargin)),

    Q("decontaminate_semantic", (s, dir) =>
      // paraphrase-level leak check: train vectors within cosine 0.3
      // of any eval vector (vec_id%19 stand-in split), IVF-bucketed so
      // candidates are Σ|cell_ev|·|cell_tr|, never corpus²
      Similarity.semanticDecontaminate(Tables.embeddings(s, dir)),
    Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, nrm, cid FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
        |      c.cid ASC) AS crn
        |  FROM n CROSS JOIN c) WHERE crn = 1),
        |ev AS (SELECT vec_id AS eid, v AS evv, nrm AS en, cid FROM asg WHERE vec_id % 19 = 0),
        |tr AS (SELECT * FROM asg WHERE vec_id % 19 <> 0),
        |fl AS (SELECT tr.vec_id, ev.eid,
        |  floor((list_sum(list_transform(range(1, 65), i -> tr.v[i] * ev.evv[i]))
        |    / (tr.nrm * ev.en) + 1e-9) * 1e4 + 0.5) / 1e4 AS cs
        | FROM tr JOIN ev ON tr.cid = ev.cid),
        |fg AS (SELECT vec_id, eid, cs,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, eid) AS rn,
        |  count(*) OVER (PARTITION BY vec_id) AS n_eval_hits
        | FROM fl WHERE cs >= 0.3)
        |SELECT vec_id, eid AS eval_id, cs AS cos_sim,
        | CAST(n_eval_hits AS BIGINT) AS n_eval_hits
        |FROM fg WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // ================= F. text analysis =================
    Q("text_tokens", (s, dir) => {
      TextAnalysis.tokenStats(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        | len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_calc,
        | floor((CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |   len(string_split_regex(lower(trim(text)), '\s+')) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("text_tokens_bpe", (s, dir) => {
      TextAnalysis.bpeTokenCount(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish,
        | CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("text_quality", (s, dir) => {
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents)
        |SELECT doc_id,
        | floor((punct / len + 1e-9) * 1e4 + 0.5) / 1e4 AS punct_ratio,
        | floor((digits / len + 1e-9) * 1e4 + 0.5) / 1e4 AS digit_ratio,
        | floor((CAST(len(list_intersect(list_distinct(w),
        |   ['the','and','is','of','to','in','that','it','for','on'])) AS DOUBLE) / 10.0 + 1e-9) * 1e4 + 0.5) / 1e4 AS stop_hit_ratio,
        | floor((CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w) + 1e-9) * 1e4 + 0.5) / 1e4 AS short_tok_ratio,
        | floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) / 1e4 AS quality
        |FROM t ORDER BY doc_id""".stripMargin)),

    Q("text_langid", (s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, lang, text,
        |  list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS w,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS zh
        | FROM documents),
        |h AS (SELECT doc_id, lang, zh,
        |  len(list_intersect(w, ['the','and','is','of','to','in','that','it','for','on'])) AS en,
        |  len(list_intersect(w, ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS de,
        |  len(list_intersect(w, ['le','la','et','les','des','un','une','est','pour','que'])) AS fr,
        |  len(list_intersect(w, ['el','los','las','y','de','que','en','por','para','es'])) AS es
        | FROM t)
        |SELECT doc_id, lang AS lang_true, en AS hits_en, de AS hits_de, fr AS hits_fr, es AS hits_es,
        | zh AS zh_chars,
        | CASE WHEN zh > 0 THEN 'zh'
        |      WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |      WHEN de >= fr AND de >= es THEN 'de'
        |      WHEN fr >= es THEN 'fr'
        |      ELSE 'es' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin)),

    Q("text_quality_gate", (s, dir) => {
      TextAnalysis.qualityGate(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS zh
        | FROM documents),
        |h AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS quality,
        |  zh,
        |  len(list_intersect(list_distinct(w), ['the','and','is','of','to','in','that','it','for','on'])) AS en,
        |  len(list_intersect(list_distinct(w), ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS de,
        |  len(list_intersect(list_distinct(w), ['le','la','et','les','des','un','une','est','pour','que'])) AS fr,
        |  len(list_intersect(list_distinct(w), ['el','los','las','y','de','que','en','por','para','es'])) AS es
        | FROM t),
        |g AS (SELECT doc_id, n_tokens, quality,
        |  CASE WHEN zh > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
        | FROM h)
        |SELECT doc_id, n_tokens, quality, lang_pred,
        | CAST(lang_pred = 'en' AS INT) AS ok_lang,
        | CAST(n_tokens >= 5 AND n_tokens <= 5000 AS INT) AS ok_len,
        | CAST(quality >= 0.5 AS INT) AS ok_quality,
        | CAST(lang_pred = 'en' AND n_tokens >= 5 AND n_tokens <= 5000
        |   AND quality >= 0.5 AS INT) AS keep
        |FROM g ORDER BY doc_id""".stripMargin)),

    Q("text_ngram_freq", (s, dir) => {
      // corpus-wide word-bigram frequency, top 20 — the n-gram language
      // model building block
      val w = split(lower(trim(col("text"))), "\\s+")
      val grams = Tables.documents(s, dir)
        .select(w.as("w"))
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(w[i - 1], ' ', w[i]))")).as("g"))
      grams.groupBy("g").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("g").asc)
        .limit(20)
    }, Some(
      """WITH w AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g FROM w)
        |SELECT g, count(*) AS n FROM g GROUP BY g
        |ORDER BY n DESC, g LIMIT 20""".stripMargin)),

    Q("text_fingerprint", (s, dir) => {
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      // the rolling hash is mod-prime at every step, so the fold never
      // leaves BIGINT range — expressible as the same left fold (0
      // prepended as the seed, matching aggregate's lit(0L) init)
      """SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |  (h, a) -> (h * 31 + a) % 1000000007) AS fp,
        | length(text) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("text_repetition", (s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        | FROM documents),
        |g AS (SELECT doc_id, w,
        |  CASE WHEN len(w) >= 2
        |   THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
        |   ELSE [] END AS g2,
        |  CASE WHEN len(w) >= 3
        |   THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
        |   ELSE [] END AS g3,
        |  list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x)))) AS topn
        | FROM t)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, CAST(topn AS BIGINT) AS top_word_n,
        | floor((CAST(topn AS DOUBLE) / len(w) + 1e-9) * 1e4 + 0.5) / 1e4 AS top_word_frac,
        | CASE WHEN len(g2) > 0
        |  THEN floor((CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) + 1e-9) * 1e4 + 0.5) / 1e4
        |  ELSE 0.0 END AS dup_bigram_frac,
        | CASE WHEN len(g3) > 0
        |  THEN floor((CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) + 1e-9) * 1e4 + 0.5) / 1e4
        |  ELSE 0.0 END AS dup_trigram_frac
        |FROM g ORDER BY doc_id""".stripMargin)),

    Q("text_perplexity", (s, dir) => {
      // oracle-checkable despite ln/pow not being cross-engine
      // bit-stable: every log output is quantized (×1e6 / ×1e4 floors
      // with the 1e-9 epsilon), and log values never sit on the
      // quantization grid, so ≤1-ulp engine noise cannot flip a floor
      TextAnalysis.bigramEntropy(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, lower(text) AS tx FROM documents
        |  WHERE length(text) >= 2),
        |g AS (SELECT doc_id, substr(tx, CAST(i AS INT), 2) AS gr
        |  FROM t, LATERAL (SELECT unnest(range(1, length(tx))) AS i) r),
        |cg AS (SELECT gr, count(*) AS c FROM g GROUP BY gr),
        |ctx AS (SELECT substr(gr, 1, 1) AS c1, sum(c) AS ct FROM cg GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(gr, 2, 1)) AS nv FROM cg),
        |qb AS (SELECT gr,
        |  CAST(floor((-((lnc1 - lnctv) / ${graft.functions.ExactMath.LN2}) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS q
        | FROM (SELECT gr,
        |  ${graft.functions.ExactMath.sqlLnCols("c + 1", "xa", "lnc1")},
        |  ${graft.functions.ExactMath.sqlLnCols("ct + nv", "xb", "lnctv")}
        |  FROM cg JOIN ctx ON substr(gr, 1, 1) = c1 CROSS JOIN v)),
        |ds AS (SELECT doc_id, sum(q) AS qsum, count(*) AS n
        |  FROM g JOIN qb USING (gr) GROUP BY doc_id),
        |eb AS (SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
        |  floor((CAST(qsum AS DOUBLE) / n / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS entropy_bits
        | FROM ds),
        |ex AS (SELECT doc_id, n_bigrams, entropy_bits,
        |  ${graft.functions.ExactMath.sqlExpCols(
            s"entropy_bits * ${graft.functions.ExactMath.LN2}", "px", "p2")}
        | FROM eb)
        |SELECT doc_id, n_bigrams, entropy_bits,
        | floor((p2 + 1e-9) * 1e4 + 0.5) / 1e4 AS ppl
        |FROM ex ORDER BY doc_id""".stripMargin)),

    // ================= G. multimodal & streaming =================
    // The decode stub derives metadata from the payload bytes with
    // 64-bit wrapping arithmetic; the oracle replays the identical
    // fold in HUGEINT mod-2⁶⁴ (the corpus is ASCII, so character =
    // byte), making the whole multimodal plumbing hash-verified. A
    // production corpus swaps the stub for a codec — and the oracle
    // for golden files.
    Q("mm_binary_meta", (s, dir) => {
      Multimodal.decodeMeta(Tables.documents(s, dir)).orderBy("doc_id")
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents") +
      "\nSELECT doc_id, byte_len, format, width, height, checksum FROM meta ORDER BY doc_id")),

    Q("mm_format_stats", (s, dir) => {
      Multimodal.formatStats(Multimodal.decodeMeta(Tables.documents(s, dir)))
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents") +
      """
        |SELECT format, count(*) AS n, CAST(sum(byte_len) AS BIGINT) AS total_bytes,
        | floor((avg(CAST(width AS DOUBLE)) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_width
        |FROM meta GROUP BY format ORDER BY format""".stripMargin)),

    Q("mm_aspect_hist", (s, dir) => {
      Multimodal.aspectHist(Multimodal.decodeMeta(Tables.documents(s, dir)))
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents") +
      """,
        |ar AS (SELECT format,
        |  CASE WHEN CAST(width AS BIGINT) * 1000 // height < 900 THEN 'portrait'
        |       WHEN CAST(width AS BIGINT) * 1000 // height <= 1111 THEN 'square'
        |       ELSE 'landscape' END AS aspect
        | FROM meta),
        |ac AS (SELECT format, aspect, count(*) AS n FROM ar GROUP BY 1, 2)
        |SELECT format, aspect, n,
        | floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY format) AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS share
        |FROM ac ORDER BY format, aspect""".stripMargin)),

    Q("mm_resize", (s, dir) => {
      Multimodal.resizePlan(
          Multimodal.decodeMeta(Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)))
        .orderBy("doc_id")
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0") +
      """
        |SELECT doc_id, format, width, height,
        | CASE WHEN greatest(width, height) > 256
        |   THEN CAST(floor(width * 256.0 / greatest(width, height)) AS INT)
        |   ELSE width END AS out_width,
        | CASE WHEN greatest(width, height) > 256
        |   THEN CAST(floor(height * 256.0 / greatest(width, height)) AS INT)
        |   ELSE height END AS out_height,
        | CAST(greatest(width, height) > 256 AS INT) AS resized
        |FROM meta ORDER BY doc_id""".stripMargin)),

    Q("mm_frame_sample", (s, dir) => {
      Multimodal.frameSample(Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          stride = 2)
        .orderBy("doc_id", "frame_idx")
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0") +
      """,
        |fr AS (SELECT doc_id,
        |  ((CAST(checksum AS HUGEINT) % 18446744073709551616 + 18446744073709551616)
        |    % 18446744073709551616) AS csu,
        |  unnest(range(0, CAST(floor(byte_len / 100.0) AS INT) + 1)) AS fi
        | FROM meta),
        |dg AS (SELECT doc_id, fi,
        |  (csu * 2862933555777941757 + fi) % 18446744073709551616 AS du
        | FROM fr WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        | CAST(CASE WHEN du >= 9223372036854775808
        |   THEN du - 18446744073709551616 ELSE du END AS BIGINT) AS frame_digest
        |FROM dg ORDER BY doc_id, frame_idx""".stripMargin)),

    Q("mm_keyframe_select", (s, dir) => {
      // top-3 keyframes per video by per-frame score (stub digest mod
      // 2²⁰ — 2²⁰ | 2⁶⁴ so signed/unsigned views agree and the HUGEINT
      // oracle replays it); the bounded per-video rank window is the
      // real keyframe-extraction plumbing a codec-backed score drops
      // into
      Multimodal.keyframes(Tables.documents(s, dir)
          .filter(col("doc_id") % 10 === 0), stride = 2, k = 3)
        .orderBy("doc_id", "rank")
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0") +
      """,
        |fr AS (SELECT doc_id,
        |  ((CAST(checksum AS HUGEINT) % 18446744073709551616 + 18446744073709551616)
        |    % 18446744073709551616) AS csu,
        |  unnest(range(0, CAST(floor(byte_len / 100.0) AS INT) + 1)) AS fi
        | FROM meta),
        |dg AS (SELECT doc_id, fi,
        |  (csu * 2862933555777941757 + fi) % 18446744073709551616 AS du
        | FROM fr WHERE fi % 2 = 0),
        |sc AS (SELECT doc_id, fi, du % 1048576 AS score FROM dg),
        |rk AS (SELECT doc_id, fi, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, fi) AS rank
        | FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, CAST(fi AS BIGINT) AS frame_idx,
        | CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    Q("mm_scene_cuts", (s, dir) => {
      // shot segmentation: cuts where consecutive sampled frames'
      // score delta exceeds half the 2²⁰ range, one integer telemetry
      // row per video (frames/cuts/shots/longest shot/first cut) — the
      // pre-captioning segmentation stage; a codec-backed deployment
      // swaps the stub digest score for frame-difference energy and
      // the window/aggregation plumbing is unchanged
      // threshold pinned HERE next to the oracle's 524288 literal so a
      // change to the Scala default cannot silently desynchronize them
      Multimodal.sceneCuts(Tables.documents(s, dir)
          .filter(col("doc_id") % 5 === 0), stride = 2, threshold = 524288L)
        .orderBy("doc_id")
    }, Some(SQL_MM_META("SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0") +
      """,
        |fr AS (SELECT doc_id,
        |  ((CAST(checksum AS HUGEINT) % 18446744073709551616 + 18446744073709551616)
        |    % 18446744073709551616) AS csu,
        |  unnest(range(0, CAST(floor(byte_len / 100.0) AS INT) + 1)) AS fi
        | FROM meta),
        |dg AS (SELECT doc_id, fi,
        |  (csu * 2862933555777941757 + fi) % 18446744073709551616 AS du
        | FROM fr WHERE fi % 2 = 0),
        |sc AS (SELECT doc_id, fi, du % 1048576 AS score FROM dg),
        |lg AS (SELECT doc_id, fi, score,
        |  lag(score) OVER (PARTITION BY doc_id ORDER BY fi) AS prev FROM sc),
        |ct AS (SELECT doc_id, fi,
        |  CASE WHEN prev IS NOT NULL AND abs(score - prev) > 524288
        |    THEN 1 ELSE 0 END AS cut FROM lg),
        |sh AS (SELECT doc_id, fi, cut,
        |  sum(cut) OVER (PARTITION BY doc_id ORDER BY fi
        |    ROWS UNBOUNDED PRECEDING) AS shot FROM ct),
        |sl AS (SELECT doc_id, shot, count(*) AS slen FROM sh GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(max(slen) AS BIGINT) AS longest_shot
        | FROM sl GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_frames, CAST(sum(cut) AS BIGINT) AS n_cuts,
        |  min(CASE WHEN cut = 1 THEN fi END) AS fc FROM sh GROUP BY 1)
        |SELECT pd.doc_id, n_frames, n_cuts, n_cuts + 1 AS n_shots, longest_shot,
        | CAST(coalesce(fc, -1) AS BIGINT) AS first_cut
        |FROM pd JOIN ls ON pd.doc_id = ls.doc_id ORDER BY pd.doc_id""".stripMargin)),

    // the phash stub is small-integer arithmetic end to end, so the
    // oracle replays it exactly (SQL_PHASH) — the multimodal dedup leg
    // is hash-verified like the text/embedding legs
    Q("mm_phash", (s, dir) => {
      Multimodal.phashPairs(Tables.documents(s, dir))
    }, Some(SQL_PHASH("SELECT doc_id, text FROM documents") + ",\n" +
      SQL_PHASH_PAIRS(3) +
      "\nSELECT doc1, doc2, dist FROM ppairs WHERE dist <= 3 ORDER BY doc1, doc2")),

    Q("mm_dedup_cluster", (s, dir) => {
      // the multimodal leg of the shared-edge-list composition: phash
      // near-dup pairs feed connected components directly, so the
      // pigeonhole block join runs exactly once for detection + clustering
      val docs = Tables.documents(s, dir)
      Dedup.clusters(docs, precomputedPairs =
          Some(Multimodal.phashPairs(docs).select("doc1", "doc2")))
        .orderBy("doc_id")
    }, Some(SQL_PHASH("SELECT doc_id, text FROM documents") + ",\n" +
      SQL_PHASH_PAIRS(3) +
      """,
        |ed AS (SELECT doc1, doc2 FROM ppairs WHERE dist <= 3),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM documents
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id)
        |SELECT doc_id, min(lab) AS canonical_id,
        | CAST(doc_id != min(lab) AS INT) AS is_dup
        |FROM comp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("mm_mp4_meta", (s, dir) => {
      // the REAL ISO-BMFF writer + parser on the HASHED path: per doc,
      // an MP4 whose tkhd dims derive from the payload's byte fold
      // (the Stub metadata formulas), written by MediaSynth and parsed
      // back by JvmMediaDecoder; the oracle replays only the fold
      // arithmetic (SQL_MM_META) — a writer/parser disagreement breaks
      // the gate. One codegen-adjacent typed scan, no shuffle.
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          JvmMediaDecoder.decoderInit()
          rows.map { case (id, text) =>
            val p = text.getBytes("UTF-8")
            var h = 1125899906842597L
            var i = 0
            while (i < p.length) { h = 31 * h + p(i); i += 1 }
            val w = 64 + math.floorMod(h >> 8, 1856L).toInt
            val ht = 64 + math.floorMod(h >> 16, 1016L).toInt
            val m = JvmMediaDecoder.decode(MediaSynth.mp4(w, ht))
            (id, m.format, m.width, m.height)
          }
        }
        .toDF("doc_id", "format", "width", "height")
        .orderBy("doc_id")
    }, Some(
      s"""${SQL_MM_META("SELECT doc_id, text FROM documents")}
         |SELECT doc_id, 'mp4' AS format, width, height
         |FROM meta ORDER BY doc_id""".stripMargin)),

    Q("mm_avi_probe", (s, dir) => {
      // the REAL AVI container writer + frame parser on the HASHED
      // path: per doc, an AVI whose movi list holds 1 + len%4 frame
      // chunks cut from the text bytes; frameSampleDecoded walks the
      // RIFF structure (JvmMediaDecoder.frames), strides by 2, and
      // hashes each extracted frame (text bytes → the Stub fallback,
      // which the oracle replays per frame via SQL_PHASH on the same
      // slices). Wrong chunk walking, wrong frame boundaries, or a
      // dropped pad byte all break the hash gate. Slice indices assume
      // the ASCII corpus (character = byte = code point — the standing
      // SQL_MM_META contract); a non-BMP corpus would need byte-true
      // slicing on both sides.
      import s.implicits._
      val avis = Tables.documents(s, dir)
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (id, t) =>
            val n = 1 + (t.length % 4)
            val frames = (0 until n)
              .map(k => t.substring(k * 7, k * 7 + 24).getBytes("UTF-8"))
            (id, MediaSynth.mjpegAvi(320, 240, frames))
          }
        }.toDF("doc_id", "payload")
      Multimodal.frameSampleDecoded(avis, JvmMediaDecoder, stride = 2)
        .orderBy("doc_id", "frame_idx")
    }, Some(
      SQL_PHASH(
        """SELECT doc_id * 8 + k.k AS doc_id,
          |  substr(text, CAST(k.k * 7 + 1 AS INT), 24) AS text
          | FROM (SELECT doc_id, text, 1 + length(text) % 4 AS nf
          |   FROM documents WHERE length(text) >= 64) d,
          |  LATERAL (SELECT unnest(range(0, nf)) AS k) k
          | WHERE k.k % 2 = 0""".stripMargin) + "\n" +
      """SELECT CAST(doc_id // 8 AS BIGINT) AS doc_id,
        | CAST(doc_id % 8 AS BIGINT) AS frame_idx,
        | phash AS frame_phash,
        | ((phash % 1048576) + 1048576) % 1048576 AS score
        |FROM ph ORDER BY 1, 2""".stripMargin)),

    Q("mm_wav_meta", (s, dir) =>
      // the REAL RIFF/WAVE writer + parser on the HASHED path (audio
      // leg of the mm_mp4_meta contract): per doc a PCM16 WAV whose
      // rate/samples derive from the payload byte fold, written by
      // MediaSynth and header-parsed back by AudioCodec; the oracle
      // replays only the fold arithmetic — wrong fmt offset,
      // endianness or a dropped pad byte breaks the gate
      Multimodal.wavMeta(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(
        s"""${SQL_MM_META("SELECT doc_id, text FROM documents")},
          |cs AS (SELECT doc_id, byte_len,
          |  ((CAST(checksum AS HUGEINT) % 18446744073709551616 + 18446744073709551616)
          |    % 18446744073709551616) AS csu FROM meta)
          |SELECT doc_id,
          | CAST(8000 * (1 + csu % 4) AS BIGINT) AS sample_rate,
          | CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
          | byte_len AS n_samples,
          | CAST((byte_len * 1000) // (8000 * (1 + csu % 4)) AS BIGINT) AS duration_ms
          |FROM cs ORDER BY doc_id""".stripMargin)),

    Q("mm_audio_energy", (s, dir) =>
      // frame-energy telemetry (256-sample frames, energy = Σ|s|,
      // peak frame earliest on ties) over samples that crossed the
      // real writer→parser seam — certifies byte-exact PCM decode,
      // not just header walking; all-integer output
      Multimodal.audioFrameEnergy(Tables.documents(s, dir), frameLen = 256)
        .orderBy("doc_id"),
      Some(
        s"""${SQL_MM_META("SELECT doc_id, text FROM documents")},
          |cs AS (SELECT doc_id, byte_len,
          |  ((CAST(checksum AS HUGEINT) % 18446744073709551616 + 18446744073709551616)
          |    % 18446744073709551616) AS csu FROM meta WHERE byte_len >= 1),
          |fr AS (SELECT doc_id, csu, unnest(range(0, byte_len)) AS k FROM cs),
          |sm AS (SELECT doc_id, k // 256 AS frame,
          |  abs(CAST((csu * 2862933555777941757 + k) % 18446744073709551616
          |    % 65536 AS BIGINT) - 32768) AS a
          | FROM fr),
          |fe AS (SELECT doc_id, frame, CAST(sum(a) AS BIGINT) AS e
          |  FROM sm GROUP BY 1, 2),
          |pk AS (SELECT doc_id, frame, e,
          |  row_number() OVER (PARTITION BY doc_id ORDER BY e DESC, frame) AS rn
          | FROM fe),
          |tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
          |  CAST(sum(e) AS BIGINT) AS total_energy FROM fe GROUP BY 1)
          |SELECT p.doc_id, t.n_frames, t.total_energy,
          | CAST(p.frame AS BIGINT) AS peak_frame, p.e AS peak_energy
          |FROM pk p JOIN tt t ON p.doc_id = t.doc_id
          |WHERE p.rn = 1 ORDER BY p.doc_id""".stripMargin)),

    Q("stream_window_agg", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 1000000000").as("tsec"), col("value"))
        .groupBy(col("event_type"), (expr("tsec div 3600") * 3600).as("hour_start"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy("event_type", "hour_start")
    }, Some(
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events)
        |SELECT event_type, tsec // 3600 * 3600 AS hour_start, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM ev GROUP BY event_type, hour_start ORDER BY event_type, hour_start""".stripMargin)),

    Q("stream_session_window", (s, dir) => {
      // native session_window: the engine merges the sessions.
      // min/max/count aggregates keep the output engine-neutral:
      // window.end embeds the gap padding, the span does not.
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          timestamp_seconds(expr("ts div 1000000000")).as("tstamp"),
          expr("ts div 1000000000").as("tsec"))
      ev.groupBy(col("user_id"), session_window(col("tstamp"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min("tsec").as("s_start"), max("tsec").as("s_end"))
        .select(col("user_id"), col("s_start"), col("s_end"),
          (col("s_end") - col("s_start")).as("span_sec"), col("n_events"))
        .orderBy("user_id", "s_start")
    }, Some(
      """WITH sev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |slg AS (SELECT user_id, tsec,
        |  lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec) AS prev FROM sev),
        |sfl AS (SELECT user_id, tsec,
        |  CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END AS brk FROM slg),
        |sgr AS (SELECT user_id, tsec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS sid
        | FROM sfl)
        |SELECT user_id, min(tsec) AS s_start, max(tsec) AS s_end,
        | max(tsec) - min(tsec) AS span_sec, count(*) AS n_events
        |FROM sgr GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin)),

    Q("stream_sliding_agg", (s, dir) => {
      // batch equivalent of window(ts, "1 hour", slide "15 minutes"):
      // each event lands in 4 overlapping windows (explode in-task, no
      // extra shuffle beyond the aggregate)
      Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 1000000000").as("tsec"), col("value"))
        .select(col("event_type"), col("tsec"), col("value"),
          explode(expr("sequence(0, 3)")).as("j"))
        .groupBy(col("event_type"),
          ((expr("tsec div 900") - col("j")) * 900).as("ws"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy("event_type", "ws")
    }, Some(
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events),
        |sl AS (SELECT event_type, (tsec // 900 - j) * 900 AS ws, value
        | FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js)
        |SELECT event_type, ws, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM sl GROUP BY event_type, ws ORDER BY event_type, ws""".stripMargin)),

    // ================= H. deterministic sampling & mixing =================

    Q("sample_kfold", (s, dir) =>
      // deterministic 5-fold CV assignment by doc hash; append-stable
      Sampling.kfoldAssign(Tables.documents(s, dir),
          col("doc_id").cast("string"), k = 5)
        .select(col("doc_id"), col("lang"), col("fold"))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id, lang,
        | CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS INT) AS fold
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("sample_split", (s, dir) => {
      // deterministic 80/10/10 train/val/test assignment by doc hash —
      // appending data never reassigns existing rows
      Sampling.splitAssign(Tables.documents(s, dir),
          col("doc_id").cast("string"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, lang,
         | CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |        < ${Sampling.threshold(0.8)} THEN 'train'
         |      WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |        < ${Sampling.threshold(0.8 + 0.1)} THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("sample_stratified", (s, dir) => {
      // keep-all English, half de/fr, a quarter es/zh — the per-source
      // curation dial every corpus mix starts from; md5-hash Bernoulli
      // so the sample is reproducible and nested across rate changes
      Sampling.stratifiedSample(Tables.documents(s, dir), "lang",
          col("doc_id").cast("string"),
          Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.25, "zh" -> 0.25))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) <
        |  CASE lang WHEN 'en' THEN 4294967296 WHEN 'de' THEN 2147483648
        |    WHEN 'fr' THEN 2147483648 WHEN 'es' THEN 1073741824
        |    WHEN 'zh' THEN 1073741824 ELSE 0 END
        |ORDER BY doc_id""".stripMargin)),

    Q("sample_split_grouped", (s, dir) => {
      // leakage-safe 80/10/10: the split hashes the exact-dup CANONICAL
      // id, so every copy of a doc lands in the same split and no test
      // doc has a twin in train
      val canon = Dedup.exact(Tables.documents(s, dir))
        .select("doc_id", "canonical_id")
      Sampling.splitAssign(canon, col("canonical_id").cast("string"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    }, Some(
      s"""WITH c AS (SELECT doc_id,
         |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
         | FROM documents)
         |SELECT doc_id, canonical_id,
         | CASE WHEN CAST('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8) AS BIGINT)
         |        < ${Sampling.threshold(0.8)} THEN 'train'
         |      WHEN CAST('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 8) AS BIGINT)
         |        < ${Sampling.threshold(0.8 + 0.1)} THEN 'val'
         |      ELSE 'test' END AS split
         |FROM c ORDER BY doc_id""".stripMargin)),

    Q("sample_importance", (s, dir) => {
      // quality-proportional keep: each doc's acceptance probability IS
      // its quality score (the classifier-score sampling move); kept
      // set is nested under any uniform upscaling of the scores
      Sampling.importanceSample(
          TextAnalysis.qualityScore(Tables.documents(s, dir))
            .select("doc_id", "quality"),
          col("doc_id").cast("string"), col("quality"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents),
        |q AS (SELECT doc_id,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |    - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) / 1e4 AS quality
        | FROM t)
        |SELECT doc_id, quality FROM q
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) <
        |  CAST(floor(quality * 4294967296.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    Q("sample_dedup_weighted", (s, dir) =>
      // soft dedup: keep each copy with probability 1/|head-digest
      // dup group| — one expected survivor per group without the
      // earliest-crawl bias of canonical-pick (md5 Bernoulli,
      // threshold floor(2^32 / gsize), exact integers)
      Curation.dedupWeightedSample(Tables.documents(s, dir), 16)
        .orderBy("doc_id"),
    Some(
      """WITH d AS (SELECT doc_id,
        |  md5(array_to_string(list_slice(string_split_regex(lower(trim(text)), '\s+'),
        |    1, 16), ' ')) AS h FROM documents),
        |g AS (SELECT h, count(*) AS gsize FROM d GROUP BY h)
        |SELECT doc_id, gsize FROM d JOIN g USING (h)
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |  < 4294967296 // gsize
        |ORDER BY doc_id""".stripMargin)),

    Q("sample_mix_weighted", (s, dir) => {
      // rebalance to a 2:1 weighting of the first four sources without
      // upsampling: the scarcest weighted stratum pins the scale
      val w = when(col("source").isin("src0", "src1", "src2", "src3"), lit(2.0))
        .otherwise(lit(1.0))
      Sampling.mixToTarget(Tables.documents(s, dir), "source",
          col("doc_id").cast("string"), w)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, Some(
      """WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS cnt,
        |  CASE WHEN source IN ('src0','src1','src2','src3') THEN 2.0 ELSE 1.0 END AS w
        | FROM documents GROUP BY source),
        |k AS (SELECT min(cnt / w) AS k FROM c),
        |r AS (SELECT source, CAST(floor(k.k * w / cnt * 4294967296.0) AS BIGINT) AS thr FROM c, k)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) < r.thr
        |ORDER BY d.doc_id""".stripMargin)),

    Q("dedup_substring", (s, dir) => {
      Dedup.substringPairs(Tables.documents(s, dir), width = 32)
        .orderBy("doc1", "doc2")
    }, Some(
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 32) AS s
        |  FROM documents, LATERAL (SELECT unnest(range(1, len(text) - 30)) AS p) ps
        |  WHERE len(text) >= 32)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_shared
        |FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc1, doc2""".stripMargin)),

    Q("dedup_passage", (s, dir) => {
      // passage-level (8-word chunk) cross-corpus duplication audit —
      // the paragraph/line dedup of a pretraining pipeline on a corpus
      // with no newline structure
      Curation.passageDupStats(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_passages"), col("n_dup"), col("dup_frac"))
        .orderBy("doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |ch AS (SELECT doc_id, unnest(list_transform(range(1, CAST(ceil(len(w) / 8.0) AS BIGINT) + 1),
        |  i -> md5(array_to_string(w[((i - 1) * 8 + 1):(i * 8)], ' ')))) AS ph FROM d),
        |f AS (SELECT ph, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY ph)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        | CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        | floor((CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS dup_frac
        |FROM ch JOIN f USING (ph) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("decontaminate", (s, dir) => {
      // benchmark-leak check: overlapping 4-word shingle collisions
      // between the train split and the doc_id%97 eval set (4-word
      // shingles suit this synthetic corpus's short template docs; real
      // corpora use 8-13)
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), w = 4)
        .select(col("doc_id"), col("eval_doc_id"), col("n_shared"))
        .orderBy("doc_id", "eval_doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2),
        |  i -> md5(array_to_string(w[i:(i + 3)], ' '))))) AS ph FROM d WHERE len(w) >= 4)
        |SELECT t.doc_id, e.doc_id AS eval_doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM sh t JOIN sh e ON t.ph = e.ph AND t.doc_id % 97 != 0 AND e.doc_id % 97 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("decontaminate_bloom", (s, dir) => {
      // the scale path of `decontaminate`: eval digests as a mergeable
      // bloom sketch probed on the corpus scan, exact md5 join on the
      // survivors — identical output, hence the shared oracle
      val docs = Tables.documents(s, dir)
      Curation.decontaminateBloom(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), w = 4)
        .select(col("doc_id"), col("eval_doc_id"), col("n_shared"))
        .orderBy("doc_id", "eval_doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2),
        |  i -> md5(array_to_string(w[i:(i + 3)], ' '))))) AS ph FROM d WHERE len(w) >= 4)
        |SELECT t.doc_id, e.doc_id AS eval_doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM sh t JOIN sh e ON t.ph = e.ph AND t.doc_id % 97 != 0 AND e.doc_id % 97 = 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("decontaminate_fuzzy", (s, dir) => {
      // graduated leak check: overlap FRACTION of each train doc's
      // bigram shingles vs each eval doc (w=2 / 0.15 suit this 31-word
      // template corpus; real corpora run 8-13-grams at 0.8)
      val docs = Tables.documents(s, dir)
      Curation.decontaminateFuzzy(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), w = 2, minFrac = 0.15)
        .orderBy("doc_id", "eval_doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> md5(w[i] || ' ' || w[i + 1])))) AS ph FROM d WHERE len(w) >= 2),
        |tn AS (SELECT doc_id, count(*) AS n_train FROM sh WHERE doc_id % 97 != 0 GROUP BY 1),
        |j AS (SELECT t.doc_id, e.doc_id AS eval_doc_id, CAST(count(*) AS BIGINT) AS n_shared
        | FROM sh t JOIN sh e ON t.ph = e.ph AND t.doc_id % 97 != 0 AND e.doc_id % 97 = 0
        | GROUP BY 1, 2)
        |SELECT j.doc_id, eval_doc_id, n_shared, n_train,
        | floor((CAST(n_shared AS DOUBLE) / n_train + 1e-9) * 1e4 + 0.5) / 1e4 AS overlap_frac
        |FROM j JOIN tn ON j.doc_id = tn.doc_id
        |WHERE floor((CAST(n_shared AS DOUBLE) / n_train + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.15
        |ORDER BY 1, 2""".stripMargin)),

    Q("text_boilerplate", (s, dir) =>
      // per-source repeated-chunk audit (the CCNet "same line on many
      // pages of one site" rule; 3-word chunks fit these short docs)
      Curation.boilerplate(Tables.documents(s, dir), w = 3, minDocs = 2)
        .orderBy("doc_id"),
    Some(
      """WITH d AS (SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS wd FROM documents),
        |ch AS (SELECT doc_id, source,
        |  unnest(list_transform(range(1, CAST(ceil(len(wd) / 3.0) AS BIGINT) + 1),
        |    i -> md5(array_to_string(wd[((i - 1) * 3 + 1):((i - 1) * 3 + 3)], ' ')))) AS ph
        | FROM d),
        |bf AS (SELECT source, ph FROM (
        |   SELECT source, ph, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1, 2)
        | WHERE nd >= 2),
        |pd AS (SELECT ch.doc_id, ch.source, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN bf.ph IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        | FROM ch LEFT JOIN bf ON ch.source = bf.source AND ch.ph = bf.ph
        | GROUP BY 1, 2)
        |SELECT doc_id, source, n_passages, n_boiler,
        | floor((1.0 - CAST(n_boiler AS DOUBLE) / n_passages + 1e-9) * 1e4 + 0.5) / 1e4 AS clean_frac
        |FROM pd WHERE n_boiler >= 1 ORDER BY doc_id""".stripMargin)),

    Q("text_gopher_rules", (s, dir) =>
      // the Gopher structural rule battery — one codegen scan, each
      // flag comparing the 4-dp-rounded ratio so keep/drop replays
      TextAnalysis.gopherRules(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |    l -> length(l) > 0) AS ln
        | FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  floor((CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(w)
        |    + 1e-9) * 1e4 + 0.5) / 1e4 AS mean_word_len,
        |  floor((CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(w)
        |    + 1e-9) * 1e4 + 0.5) / 1e4 AS symbol_ratio,
        |  CASE WHEN len(ln) = 0 THEN 0.0 ELSE
        |    floor((CAST(len(list_filter(ln, l -> substr(l, 1, 1) IN ('-', '*', '•')))
        |      AS DOUBLE) / len(ln) + 1e-9) * 1e4 + 0.5) / 1e4 END AS bullet_frac,
        |  CASE WHEN len(ln) = 0 THEN 0.0 ELSE
        |    floor((CAST(len(list_filter(ln, l -> l LIKE '%...' OR l LIKE '%…'))
        |      AS DOUBLE) / len(ln) + 1e-9) * 1e4 + 0.5) / 1e4 END AS ellipsis_frac,
        |  floor((CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |    AS DOUBLE) / len(w) + 1e-9) * 1e4 + 0.5) / 1e4 AS alpha_frac,
        |  CAST(len(list_intersect(list_distinct(w),
        |    ['the','and','is','of','to','in','that','it','for','on'])) AS BIGINT) AS stop_hits
        | FROM t),
        |f AS (SELECT *,
        |  CAST(n_words >= 10 AND n_words <= 100000 AS INT) AS ok_words,
        |  CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT) AS ok_mean_len,
        |  CAST(symbol_ratio <= 0.1 AS INT) AS ok_symbol,
        |  CAST(bullet_frac <= 0.9 AS INT) AS ok_bullet,
        |  CAST(ellipsis_frac <= 0.3 AS INT) AS ok_ellipsis,
        |  CAST(alpha_frac >= 0.8 AS INT) AS ok_alpha,
        |  CAST(stop_hits >= 2 AS INT) AS ok_stop
        | FROM m)
        |SELECT *, CAST(ok_words + ok_mean_len + ok_symbol + ok_bullet + ok_ellipsis
        |  + ok_alpha + ok_stop = 7 AS INT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin)),

    Q("text_dup_lines", (s, dir) =>
      // corpus-wide duplicated-line boilerplate: line digests shuffle,
      // raw lines die in-task (see TextAnalysis.dupLines)
      TextAnalysis.dupLines(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      """WITH l0 AS (SELECT doc_id,
        |  unnest(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |    x -> length(x) > 0)) AS line
        | FROM documents),
        |h AS (SELECT doc_id, md5(line) AS h, CAST(length(line) AS BIGINT) AS lc FROM l0),
        |cnt AS (SELECT h, count(*) AS c FROM h GROUP BY h),
        |pd AS (SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |  CAST(sum(lc) AS BIGINT) AS line_chars,
        |  CAST(sum(CASE WHEN c > 1 THEN lc ELSE 0 END) AS BIGINT) AS dup_chars
        | FROM h JOIN cnt USING (h) GROUP BY doc_id)
        |SELECT d.doc_id,
        | COALESCE(n_lines, 0) AS n_lines,
        | COALESCE(n_dup_lines, 0) AS n_dup_lines,
        | floor((COALESCE(CAST(n_dup_lines AS DOUBLE) / n_lines, 0.0) + 1e-9) * 1e4
        |   + 0.5) / 1e4 AS dup_line_frac,
        | floor((COALESCE(CAST(dup_chars AS DOUBLE) / line_chars, 0.0) + 1e-9) * 1e4
        |   + 0.5) / 1e4 AS dup_char_frac
        |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q("text_readability", (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      """WITH c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
        |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sent,
        |  CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syll
        | FROM documents)
        |SELECT doc_id, n_words, n_sent, n_syll,
        | floor((2.06835e2 - 1.015e0 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
        |   - 8.46e1 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS flesch,
        | floor((3.9e-1 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
        |   + 1.18e1 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)) - 1.559e1
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin)),

    Q("text_zipf", (s, dir) =>
      TextAnalysis.zipfSlope(Tables.documents(s, dir)).orderBy("source"),
    Some(
      s"""WITH tz AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        | FROM documents),
        |cz AS (SELECT source, w, count(*) AS c FROM tz WHERE length(w) > 0 GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
        |  CAST(max(c) AS BIGINT) AS c1 FROM cz GROUP BY 1),
        |hd0 AS (SELECT source, c,
        |  row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS rnk FROM cz),
        |hd AS (SELECT source,
        |  CAST(floor((lnrnk + 1e-9) * 1e6 + 0.5) AS BIGINT) AS xq,
        |  CAST(floor((lnc + 1e-9) * 1e6 + 0.5) AS BIGINT) AS yq
        | FROM (SELECT source,
        |  ${graft.functions.ExactMath.sqlLnCols("rnk", "za", "lnrnk")},
        |  ${graft.functions.ExactMath.sqlLnCols("c", "zb", "lnc")}
        |  FROM hd0 WHERE rnk <= 64)),
        |ft AS (SELECT source, count(*) AS k, sum(xq) AS sx, sum(yq) AS sy,
        |  sum(xq * yq) AS sxy, sum(xq * xq) AS sxx FROM hd GROUP BY 1)
        |SELECT f.source, t.n_tokens, t.vocab, f.k,
        | floor((CAST(f.k * f.sxy - f.sx * f.sy AS DOUBLE)
        |   / CAST(f.k * f.sxx - f.sx * f.sx AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS zipf_slope,
        | floor((CAST(t.c1 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS top1_share
        |FROM ft f JOIN tot t ON f.source = t.source WHERE f.k >= 8
        |ORDER BY f.source""".stripMargin)),

    Q("text_hapax", (s, dir) =>
      TextAnalysis.hapaxProfile(Tables.documents(s, dir)).orderBy("source"),
    Some(
      """WITH th AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        | FROM documents),
        |ch AS (SELECT source, w, count(*) AS c FROM th WHERE length(w) > 0 GROUP BY 1, 2),
        |ah AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(sum(CASE WHEN c = 1 THEN c ELSE 0 END) AS BIGINT) AS hapax_tokens
        | FROM ch GROUP BY 1)
        |SELECT source, n_tokens, vocab, hapax,
        | floor((CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS hapax_vocab_share,
        | floor((CAST(hapax_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS hapax_token_share
        |FROM ah ORDER BY source""".stripMargin)),

    Q("text_vocab_growth", (s, dir) =>
      // Heaps-law vocabulary saturation over ingestion order: new and
      // cumulative vocabulary per doc_id-range decile — exact integer
      // counts, no global row_number (the bucket key derives from
      // max(doc_id), one scalar)
      TextAnalysis.vocabGrowth(Tables.documents(s, dir), nBuckets = 10)
        .orderBy("bucket"),
    Some(
      """WITH mb AS (SELECT max(doc_id) + 1 AS mx FROM documents),
        |db AS (SELECT doc_id, doc_id * 10 // mx AS bucket, text FROM documents, mb),
        |tv AS (SELECT bucket, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        | FROM db),
        |cv AS (SELECT bucket, w, count(*) AS c FROM tv WHERE length(w) > 0 GROUP BY 1, 2),
        |nv AS (SELECT bucket, count(*) AS new_terms
        | FROM (SELECT w, min(bucket) AS bucket FROM cv GROUP BY 1) GROUP BY 1),
        |pv AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab
        | FROM cv GROUP BY 1),
        |dv AS (SELECT doc_id * 10 // mx AS bucket, count(*) AS n_docs
        | FROM documents, mb GROUP BY 1)
        |SELECT CAST(dv.bucket AS BIGINT) AS bucket, n_docs,
        | CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        | CAST(coalesce(vocab, 0) AS BIGINT) AS vocab,
        | CAST(coalesce(new_terms, 0) AS BIGINT) AS new_terms,
        | CAST(sum(coalesce(new_terms, 0)) OVER (ORDER BY dv.bucket
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_terms
        |FROM dv LEFT JOIN pv ON dv.bucket = pv.bucket
        | LEFT JOIN nv ON dv.bucket = nv.bucket
        |ORDER BY bucket""".stripMargin)),

    Q("text_script_mix", (s, dir) =>
      // character-class composition + mix score (TextAnalysis.scriptMix):
      // the pre-tokenization obfuscation/mixed-content gate; every
      // hashed column is pure integer arithmetic (q34 discipline)
      TextAnalysis.scriptMix(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      """WITH smt AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
        |smc AS (SELECT doc_id, n,
        |  n - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS c_letter,
        |  n - length(regexp_replace(text, '[0-9]', '', 'g')) AS c_digit,
        |  n - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS c_punct,
        |  n - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS c_space
        | FROM smt),
        |smo AS (SELECT doc_id, n, c_letter, c_digit, c_punct, c_space,
        |  n - c_letter - c_digit - c_punct - c_space AS c_other FROM smc),
        |sms AS (SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  CAST((2 * c_letter * 10000 + n) // (2 * n) AS BIGINT) AS letter_x1e4,
        |  CAST((2 * c_digit * 10000 + n) // (2 * n) AS BIGINT) AS digit_x1e4,
        |  CAST((2 * c_punct * 10000 + n) // (2 * n) AS BIGINT) AS punct_x1e4,
        |  CAST((2 * c_space * 10000 + n) // (2 * n) AS BIGINT) AS space_x1e4,
        |  CAST((2 * c_other * 10000 + n) // (2 * n) AS BIGINT) AS other_x1e4
        | FROM smo)
        |SELECT doc_id, n_chars, letter_x1e4, digit_x1e4, punct_x1e4, space_x1e4, other_x1e4,
        | CASE WHEN letter_x1e4 >= digit_x1e4 AND letter_x1e4 >= punct_x1e4 AND letter_x1e4 >= space_x1e4 AND letter_x1e4 >= other_x1e4 THEN 'letter'
        |      WHEN digit_x1e4 >= punct_x1e4 AND digit_x1e4 >= space_x1e4 AND digit_x1e4 >= other_x1e4 THEN 'digit'
        |      WHEN punct_x1e4 >= space_x1e4 AND punct_x1e4 >= other_x1e4 THEN 'punct'
        |      WHEN space_x1e4 >= other_x1e4 THEN 'space'
        |      ELSE 'other' END AS dominant,
        | CAST(10000 - greatest(letter_x1e4, digit_x1e4, punct_x1e4, space_x1e4, other_x1e4) AS BIGINT) AS mix_x1e4
        |FROM sms ORDER BY doc_id""".stripMargin)),

    Q("text_numeric_density", (s, dir) => {
      // numeric-junk screen: share of numeric tokens and digit chars
      // per doc (+ the flag) — catches table dumps, log spew, and
      // serial-number spam that length/stopword gates miss. One scan.
      val toks = split(trim(col("text")), "\\s+")
      val nt = greatest(size(toks), lit(1)).cast("double")
      val numTok = size(filter(toks, t => t.rlike("^[-+]?[0-9.,:%/]+$")))
        .cast("double")
      val digits = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
      val nc = greatest(length(col("text")), lit(1)).cast("double")
      val tokShare = r4(numTok / nt)
      Tables.documents(s, dir).select(col("doc_id"),
        numTok.cast("long").as("n_numeric_tokens"),
        tokShare.as("numeric_token_share"),
        r4(digits / nc).as("digit_char_share"),
        (tokShare >= lit(3e-1)).as("is_numeric_junk"))
        .orderBy("doc_id")
    }, Some(
      """WITH ndt AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |ndm AS (SELECT doc_id,
        |  CAST(greatest(len(tk), 1) AS DOUBLE) AS nt,
        |  CAST(len(list_filter(tk, t -> regexp_matches(t, '^[-+]?[0-9.,:%/]+$'))) AS DOUBLE) AS numtok,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
        |  CAST(greatest(length(text), 1) AS DOUBLE) AS nc
        | FROM ndt)
        |SELECT doc_id, CAST(numtok AS BIGINT) AS n_numeric_tokens,
        | floor((numtok / nt + 1e-9) * 1e4 + 0.5) / 1e4 AS numeric_token_share,
        | floor((digits / nc + 1e-9) * 1e4 + 0.5) / 1e4 AS digit_char_share,
        | floor((numtok / nt + 1e-9) * 1e4 + 0.5) / 1e4 >= 3e-1 AS is_numeric_junk
        |FROM ndm ORDER BY doc_id""".stripMargin)),

    Q("text_html_strip", (s, dir) => {
      // markup-stripping curation pass: tag count, stripped length,
      // content ratio, and the md5 digest of the STRIPPED text (the
      // proof-of-transform a downstream exact-dedup keys on). One
      // codegen scan; on a clean corpus it degenerates honestly
      // (0 tags, ratio 1.0, digest = digest of the trimmed text).
      val stripped = trim(regexp_replace(col("text"), "<[^>]*>", " "))
      val nTags = (size(split(col("text"), "<")) - lit(1)).cast("long")
      Tables.documents(s, dir).select(col("doc_id"),
        nTags.as("n_lt"),
        length(col("text")).cast("long").as("raw_len"),
        length(stripped).cast("long").as("stripped_len"),
        r4(length(stripped).cast("double") /
          greatest(length(col("text")), lit(1)).cast("double")).as("content_ratio"),
        md5(stripped).as("stripped_digest"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        | CAST(len(string_split(text, '<')) - 1 AS BIGINT) AS n_lt,
        | CAST(length(text) AS BIGINT) AS raw_len,
        | CAST(length(trim(regexp_replace(text, '<[^>]*>', ' ', 'g'))) AS BIGINT) AS stripped_len,
        | floor((CAST(length(trim(regexp_replace(text, '<[^>]*>', ' ', 'g'))) AS DOUBLE)
        |   / CAST(greatest(length(text), 1) AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS content_ratio,
        | md5(trim(regexp_replace(text, '<[^>]*>', ' ', 'g'))) AS stripped_digest
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("text_code_detect", (s, dir) =>
      TextAnalysis.codeDetect(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      """WITH cdt AS (SELECT doc_id, text,
        |  CAST(greatest(length(text), 1) AS DOUBLE) AS n,
        |  CAST(length(regexp_replace(text, '[^{}()\[\];=<>]', '', 'g')) AS DOUBLE) AS sym,
        |  string_split(text, chr(10)) AS ls,
        |  string_split_regex(trim(text), '\s+') AS tk
        | FROM documents),
        |cdm AS (SELECT doc_id, n, sym,
        |  CAST(greatest(len(ls), 1) AS DOUBLE) AS nl,
        |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^(\t|  )'))) AS DOUBLE) AS ind,
        |  CAST(len(list_filter(ls, l -> regexp_matches(l, '[;{}]\s*$'))) AS DOUBLE) AS eol,
        |  CAST(greatest(len(tk), 1) AS DOUBLE) AS nt,
        |  CAST(len(list_filter(tk, t -> regexp_matches(t, '^[a-z0-9]+(_[a-z0-9]+)+$')
        |    OR regexp_matches(t, '^[a-z]+[A-Z]'))) AS DOUBLE) AS idt,
        |  CAST(len(list_filter(tk, t -> t IN ('def', 'return', 'import', 'const',
        |    'var', 'function', 'class', 'void', 'fn', 'let'))) AS DOUBLE) AS kw
        | FROM cdt),
        |cds AS (SELECT doc_id, n, sym, nl, ind, idt, nt, kw,
        |  floor((sym / n * 4e-1 + ind / nl * 2e-1 + eol / nl * 2e-1
        |    + idt / nt * 1e-1 + least(kw, 5e0) / 5e0 * 1e-1 + 1e-9) * 1e4 + 0.5) / 1e4 AS code_score
        | FROM cdm)
        |SELECT doc_id,
        | floor((sym / n + 1e-9) * 1e4 + 0.5) / 1e4 AS sym_ratio,
        | floor((ind / nl + 1e-9) * 1e4 + 0.5) / 1e4 AS indent_frac,
        | floor((idt / nt + 1e-9) * 1e4 + 0.5) / 1e4 AS ident_frac,
        | CAST(kw AS BIGINT) AS kw_hits,
        | code_score,
        | code_score >= 25e-2 AS is_code
        |FROM cds ORDER BY doc_id""".stripMargin)),

    Q("text_source_jsd", (s, dir) =>
      TextAnalysis.sourceJsd(Tables.documents(s, dir)).orderBy("a_src", "b_src"),
    Some(
      s"""WITH tk AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        | FROM documents),
        |tc AS (SELECT source, t, count(*) AS c FROM tk GROUP BY 1, 2),
        |tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY 1),
        |ja AS (SELECT tc.source AS a_src, t, c AS ca, n AS na FROM tc JOIN tt USING (source)),
        |jb AS (SELECT tc.source AS b_src, t, c AS cb, n AS nb FROM tc JOIN tt USING (source)),
        |jx AS (SELECT a_src, b_src, ca, cb, na, nb,
        |   CAST(ca AS HUGEINT) * nb AS pa, CAST(cb AS HUGEINT) * na AS pb
        | FROM ja JOIN jb USING (t) WHERE a_src < b_src),
        |jl AS (SELECT *,
        |   CAST(floor((lnpa2 - lnpab + 1e-9) * 1e6 + 0.5) AS HUGEINT) AS l1,
        |   CAST(floor((lnpb2 - lnpab + 1e-9) * 1e6 + 0.5) AS HUGEINT) AS l2
        | FROM (SELECT *,
        |  ${graft.functions.ExactMath.sqlLnCols("pa * 2", "ya", "lnpa2")},
        |  ${graft.functions.ExactMath.sqlLnCols("pb * 2", "yb", "lnpb2")},
        |  ${graft.functions.ExactMath.sqlLnCols("pa + pb", "yc", "lnpab")}
        | FROM jx)),
        |jc AS (SELECT a_src, b_src, sum(pa * l1 + pb * l2) AS s_common,
        |   sum(ca) AS c_a, sum(cb) AS c_b, count(*) AS shared_terms,
        |   max(na) AS na, max(nb) AS nb
        | FROM jl GROUP BY 1, 2),
        |pp AS (SELECT x.source AS a_src, y.source AS b_src, x.n AS p_na, y.n AS p_nb
        | FROM tt x JOIN tt y ON x.source < y.source),
        |jf AS (SELECT p.a_src, p.b_src, p.p_na, p.p_nb,
        |   coalesce(s_common, 0) AS s_common, coalesce(c_a, 0) AS c_a,
        |   coalesce(c_b, 0) AS c_b, coalesce(shared_terms, 0) AS shared_terms
        | FROM pp p LEFT JOIN jc ON jc.a_src = p.a_src AND jc.b_src = p.b_src)
        |SELECT a_src, b_src, p_na AS n_a, p_nb AS n_b, shared_terms,
        | floor((CAST(s_common + (CAST(p_na - c_a AS HUGEINT) * p_nb
        |     + CAST(p_nb - c_b AS HUGEINT) * p_na) * 693147 AS DOUBLE)
        |   / (2.0 * CAST(p_na AS DOUBLE) * CAST(p_nb AS DOUBLE) * 1e6) + 1e-9) * 1e4 + 0.5) / 1e4 AS jsd
        |FROM jf ORDER BY a_src, b_src""".stripMargin)),

    Q("text_containment", (s, dir) => {
      // containment (doc-inside-doc) dedup: |A∩B|/|A| ≥ 0.8 with A the
      // smaller bigram-shingle set — catches the quoted/template-wrapper
      // duplication Jaccard is blind to. The gate runs on a FIXED-SIZE
      // md5-ranked sample (the lsh_tune convention, r5 verdict):
      // asymmetric containment admits no length filter, so on this
      // template-dense corpus the exact verify is output-bound
      // quadratic — a proportional sample (the old doc_id % 3) made
      // the gate scale WITH the corpus; the fixed sample pins its
      // cost while the full sweep stays available as
      // Curation.containmentPairs(docs, t). orderBy+limit plans as
      // TakeOrderedAndProject — no global sort.
      Curation.containmentPairs(
          Tables.documents(s, dir)
            .orderBy(Sampling.hash32(col("doc_id").cast("string")), col("doc_id"))
            .limit(1500), 0.8)
        .orderBy("inner_id", "outer_id")
    }, Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents
        |  QUALIFY row_number() OVER (ORDER BY
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT), doc_id) <= 1500),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM d0),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT
        |  CASE WHEN na.n <= nb.n THEN da ELSE db END AS inner_id,
        |  CASE WHEN na.n <= nb.n THEN db ELSE da END AS outer_id,
        |  inter,
        |  CASE WHEN na.n <= nb.n THEN na.n ELSE nb.n END AS n_inner
        | FROM pr JOIN sz na ON da = na.doc_id JOIN sz nb ON db = nb.doc_id)
        |SELECT inner_id, outer_id, CAST(inter AS BIGINT) AS inter,
        | CAST(n_inner AS BIGINT) AS n_inner,
        | floor((CAST(inter AS DOUBLE) / n_inner + 1e-9) * 1e4 + 0.5) / 1e4 AS containment
        |FROM j
        |WHERE floor((CAST(inter AS DOUBLE) / n_inner + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.8
        |ORDER BY inner_id, outer_id""".stripMargin)),

    Q("dedup_canonical_quality", (s, dir) => {
      // quality-aware survivor selection per near-dup cluster — the
      // curation decision dedup exists to feed (keep the best copy,
      // not the lowest-id copy). Cluster edges come from the LSH scale
      // path (the curation_funnel / dedup_cluster_minhash composition)
      // — the exact prefix-filtered candidate join never runs; the
      // exact-Jaccard oracle below re-proves LSH recall on every
      // driver run (see dedup_cluster_minhash's recall argument)
      val docs5 = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      Curation.canonicalByQuality(docs5, 0.5, precomputedPairs =
          Some(Dedup.minhashLsh(docs5, threshold = 0.5).select("doc1", "doc2")))
        .orderBy("doc_id")
    }, Some(
      """WITH RECURSIVE
        |docs5 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM docs5),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM docs5
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id),
        |cl AS (SELECT doc_id, min(lab) AS cluster_id FROM comp GROUP BY doc_id),
        |t AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM docs5),
        |q AS (SELECT doc_id,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) / 1e4 AS quality
        | FROM t),
        |r AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, cl.doc_id ASC) AS rn
        | FROM cl JOIN q ON cl.doc_id = q.doc_id)
        |SELECT doc_id, cluster_id, quality, CAST(rn = 1 AS INT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin)),

    Q("sample_temperature", (s, dir) => {
      // α=0.5 temperature mix over languages at half the corpus mass —
      // the multilingual head-flattening rule, md5-deterministic
      Curation.temperatureSample(Tables.documents(s, dir), "lang",
          col("doc_id").cast("string"), beta = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some(
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(CAST(cnt AS BIGINT)) AS DOUBLE) AS tot FROM c),
        |wq AS (SELECT lang, cnt, tot,
        |  CAST(floor(sqrt(cnt / tot) * 1e9) AS BIGINT) AS wq FROM c, t),
        |ws AS (SELECT sum(wq) AS wsum FROM wq),
        |r AS (SELECT lang,
        |  least(1.0, (CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)) * 0.5 * tot / cnt) AS rate
        | FROM wq, ws),
        |thr AS (SELECT lang, CAST(floor(rate * 4294967296.0) AS BIGINT) AS thr FROM r)
        |SELECT d.doc_id, d.lang FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) < thr
        |ORDER BY d.doc_id""".stripMargin)),

    Q("mix_kl_report", (s, dir) =>
      // achieved-vs-target audit of the α=0.5 temperature mix: the KL
      // says in one number how far Bernoulli granularity pushed the
      // produced corpus off its mixing spec
      Curation.mixKlReport(Tables.documents(s, dir), "lang",
          col("doc_id").cast("string"), beta = 0.5)
        .orderBy("lang"),
    Some(
      s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(CAST(cnt AS BIGINT)) AS DOUBLE) AS tot FROM c),
        |wq AS (SELECT lang, cnt, tot,
        |  CAST(floor(sqrt(cnt / tot) * 1e9) AS BIGINT) AS wq FROM c, t),
        |ws AS (SELECT sum(wq) AS wsum FROM wq),
        |th AS (SELECT lang, cnt, tot, wq, wsum,
        |  CAST(floor(least(1.0, (CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)) * 0.5 * tot / cnt)
        |    * 4294967296.0) AS BIGINT) AS thr
        | FROM wq, ws),
        |kp AS (SELECT d.lang, count(*) AS kept FROM documents d JOIN th ON d.lang = th.lang
        |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) < thr
        |  GROUP BY 1),
        |jj AS (SELECT th.lang, th.cnt, th.tot, th.wq, th.wsum, COALESCE(kp.kept, 0) AS kept
        | FROM th LEFT JOIN kp ON th.lang = kp.lang),
        |kt AS (SELECT CAST(sum(kept) AS DOUBLE) AS ktot FROM jj),
        |jq AS (SELECT lang, cnt, tot, wq, wsum, kept, ktot,
        |  ${graft.functions.ExactMath.sqlLnCols("kept", "ka", "lnkept")},
        |  ${graft.functions.ExactMath.sqlLnCols("ktot", "kb", "lnktot")},
        |  ${graft.functions.ExactMath.sqlLnCols("wq", "kc", "lnwq")},
        |  ${graft.functions.ExactMath.sqlLnCols("wsum", "kd", "lnwsum")}
        | FROM jj, kt)
        |SELECT lang, CAST(cnt AS BIGINT) AS n_docs, CAST(kept AS BIGINT) AS kept,
        | floor((cnt / tot + 1e-9) * 1e4 + 0.5) / 1e4 AS natural_share,
        | floor((CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS target_share,
        | floor(((CASE WHEN ktot > 0 THEN CAST(kept AS DOUBLE) / ktot ELSE 0.0 END)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS achieved_share,
        | floor(((CASE WHEN ktot > 0 THEN CAST(kept AS DOUBLE) / ktot ELSE 0.0 END)
        |   - CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS delta,
        | CASE WHEN kept > 0 THEN
        |   floor(((CASE WHEN ktot > 0 THEN CAST(kept AS DOUBLE) / ktot ELSE 0.0 END)
        |     * CAST(CAST(floor((lnkept - lnktot - lnwq + lnwsum
        |         + 1e-9) * 1e6 + 0.5) AS BIGINT) AS DOUBLE)
        |     / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4
        | ELSE 0.0 END AS kl_term
        |FROM jq ORDER BY lang""".stripMargin)),

    Q("sample_capped", (s, dir) => {
      // at most 10 docs per source, hash-ranked: the per-domain cap a
      // web pipeline applies before mixing
      Sampling.cappedPerStratum(Tables.documents(s, dir), "source",
          col("doc_id").cast("string"), 10)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
        |             CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin)),

    Q("sample_budget_fill", (s, dir) => {
      // what an 800-token budget buys per source: best-quality-first
      // fill, straddler kept; the engine plan never sorts documents —
      // per-(source, quality-value) histogram walk, only the boundary
      // value's docs get row-level ranking
      Sampling.budgetFill(
          TextAnalysis.qualityGate(Tables.documents(s, dir),
              keepCols = Seq("source"))
            .select(col("source"), col("doc_id"), col("n_tokens"),
              col("quality")),
          "source", 800L)
        .orderBy("source")
    }, Some(
      """WITH t AS (SELECT doc_id, source,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents),
        |q AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |    - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) / 1e4 AS quality
        | FROM t),
        |r AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        | FROM q),
        |k AS (SELECT * FROM r WHERE cb < 800),
        |ka AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
        |  min(quality) AS cut_quality FROM k GROUP BY 1),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM q GROUP BY 1)
        |SELECT tot.source, n_docs, corpus_tokens,
        | COALESCE(n_kept, 0) AS n_kept, COALESCE(tokens_kept, 0) AS tokens_kept,
        | cut_quality,
        | floor((CAST(COALESCE(tokens_kept, 0) AS DOUBLE) / 800 + 1e-9) * 1e4 + 0.5) / 1e4 AS util
        |FROM tot LEFT JOIN ka USING (source) ORDER BY tot.source""".stripMargin)),

    Q("sample_balanced", (s, dir) =>
      // class-balanced downsample: every lang stratum cut to the
      // smallest stratum's size by md5 rank — the data-derived-cap
      // sibling of sample_capped (classifier-training prep); min count
      // is one broadcast scalar
      Sampling.balancedPerStratum(Tables.documents(s, dir), "lang",
          col("doc_id").cast("string"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
    Some(
      """WITH bc AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        |bm AS (SELECT min(c) AS m FROM bc),
        |br AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |  ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
        |           CAST(doc_id AS VARCHAR)) AS rk
        | FROM documents)
        |SELECT doc_id, lang FROM br, bm WHERE rk <= m
        |ORDER BY doc_id""".stripMargin)),

    Q("curation_verdict", (s, dir) => {
      // the composed keep/drop decision: length + quality + exact-dup
      // canonicality + contamination vs the doc_id%97 eval slice, with
      // per-reason flags (same eval/shingle conventions as
      // decontaminate)
      val docs = Tables.documents(s, dir)
      Curation.curationVerdict(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          minTokens = 5, qualityMin = 0.5, w = 4)
        .orderBy("doc_id")
    }, Some(
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 97 != 0),
        |t AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM train),
        |q AS (SELECT doc_id, n_tokens,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) / 1e4 AS quality
        | FROM t),
        |ex AS (SELECT doc_id,
        |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_canonical
        | FROM train),
        |d2 AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2),
        |  i -> md5(array_to_string(w[i:(i + 3)], ' '))))) AS ph FROM d2 WHERE len(w) >= 4),
        |cont AS (SELECT DISTINCT t.doc_id FROM sh t JOIN sh e
        |  ON t.ph = e.ph AND t.doc_id % 97 != 0 AND e.doc_id % 97 = 0)
        |SELECT q.doc_id, q.n_tokens, q.quality,
        | CAST(q.n_tokens >= 5 AND q.n_tokens <= 100000 AS INT) AS ok_len,
        | CAST(q.quality >= 0.5 AS INT) AS ok_quality,
        | ex.is_canonical,
        | CASE WHEN cont.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated,
        | CAST(q.n_tokens >= 5 AND q.n_tokens <= 100000 AND q.quality >= 0.5
        |   AND ex.is_canonical = 1 AND cont.doc_id IS NULL AS INT) AS keep
        |FROM q JOIN ex ON q.doc_id = ex.doc_id
        |LEFT JOIN cont ON q.doc_id = cont.doc_id
        |ORDER BY q.doc_id""".stripMargin)),

    Q("dedup_nearest", (s, dir) => {
      // per-doc single most-similar neighbor at J ≥ 0.5 — the report a
      // reviewer reads before committing a dedup threshold. Neighbor
      // candidates from the LSH scale path; exact-join oracle re-proves
      // recall every run (see dedup_stats)
      val docs3 = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
      Dedup.nearestDup(docs3, precomputedPairs = Some(Dedup.minhashLsh(docs3, threshold = 0.5)))
        .orderBy("doc_id")
    }, Some(
      """WITH docs3 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM docs3),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d WHERE len(w) >= 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2,
        |  floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 AS jac
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |sym AS (SELECT doc1 AS doc_id, doc2 AS nbr, jac FROM ed
        |  UNION ALL SELECT doc2, doc1, jac FROM ed),
        |rk AS (SELECT doc_id, nbr, jac,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, nbr ASC) AS r
        | FROM sym)
        |SELECT doc_id, nbr, jac FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin)),

    Q("text_source_profile", (s, dir) => {
      TextAnalysis.sourceProfile(Tables.documents(s, dir))
        .orderBy("source", "lang")
    }, Some(
      """WITH a AS (SELECT source, lang, count(*) AS n_docs,
        |  sum(n_chars) AS chars FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs,
        | floor((CAST(chars AS DOUBLE) / n_docs + 1e-9) * 1e4 + 0.5) / 1e4 AS avg_chars,
        | floor((CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY source) + 1e-9) * 1e4 + 0.5) / 1e4 AS frac_of_source
        |FROM a ORDER BY source, lang""".stripMargin)),

    Q("text_ngram_novelty", (s, dir) => {
      TextAnalysis.ngramNovelty(Tables.documents(s, dir))
        .orderBy("doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS gs FROM d WHERE len(w) >= 2),
        |h AS (SELECT doc_id, md5(gs) AS gh FROM g),
        |f AS (SELECT gh, min(doc_id) AS fd FROM h GROUP BY gh)
        |SELECT doc_id, count(*) AS n_bigrams,
        | CAST(sum(CAST(fd = doc_id AS BIGINT)) AS BIGINT) AS n_novel,
        | floor((CAST(sum(CAST(fd = doc_id AS BIGINT)) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS novelty
        |FROM h JOIN f USING (gh) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("text_langid_confusion", (s, dir) =>
      // measured langid quality: confusion matrix of the heuristic vs
      // the labeled lang, with each cell's share of its true-lang row —
      // the minhash_calibration move applied to language ID
      TextAnalysis.langidConfusion(Tables.documents(s, dir))
        .orderBy("lang_true", "lang_pred"),
    Some(
      """WITH t AS (SELECT doc_id, lang, text,
        |  list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS w,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS zh
        | FROM documents),
        |h AS (SELECT doc_id, lang, zh,
        |  len(list_intersect(w, ['the','and','is','of','to','in','that','it','for','on'])) AS en,
        |  len(list_intersect(w, ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS de,
        |  len(list_intersect(w, ['le','la','et','les','des','un','une','est','pour','que'])) AS fr,
        |  len(list_intersect(w, ['el','los','las','y','de','que','en','por','para','es'])) AS es
        | FROM t),
        |p AS (SELECT lang AS lang_true,
        |  CASE WHEN zh > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
        | FROM h),
        |c AS (SELECT lang_true, lang_pred, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT lang_true, lang_pred, n,
        | floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang_true) AS DOUBLE)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS frac_of_true
        |FROM c ORDER BY lang_true, lang_pred""".stripMargin)),

    Q("gate_stats", (s, dir) =>
      // per-(source, lang) gate telemetry: keep rate + per-reason drop
      // counts — what you read after retuning curation thresholds
      TextAnalysis.gateStats(Tables.documents(s, dir))
        .orderBy("source", "lang"),
    Some(
      """WITH t AS (SELECT doc_id, source, lang, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS zh
        | FROM documents),
        |h AS (SELECT doc_id, source, lang, CAST(len(w) AS BIGINT) AS n_tokens,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS quality,
        |  zh,
        |  len(list_intersect(list_distinct(w), ['the','and','is','of','to','in','that','it','for','on'])) AS en,
        |  len(list_intersect(list_distinct(w), ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS de,
        |  len(list_intersect(list_distinct(w), ['le','la','et','les','des','un','une','est','pour','que'])) AS fr,
        |  len(list_intersect(list_distinct(w), ['el','los','las','y','de','que','en','por','para','es'])) AS es
        | FROM t),
        |g AS (SELECT doc_id, source, lang, n_tokens, quality,
        |  CASE WHEN zh > 0 THEN 'zh'
        |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
        | FROM h),
        |f AS (SELECT source, lang,
        |  CAST(lang_pred = 'en' AS INT) AS ok_lang,
        |  CAST(n_tokens >= 5 AND n_tokens <= 5000 AS INT) AS ok_len,
        |  CAST(quality >= 0.5 AS INT) AS ok_quality
        | FROM g)
        |SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(ok_lang * ok_len * ok_quality) AS BIGINT) AS n_keep,
        | CAST(sum(1 - ok_lang) AS BIGINT) AS fail_lang,
        | CAST(sum(1 - ok_len) AS BIGINT) AS fail_len,
        | CAST(sum(1 - ok_quality) AS BIGINT) AS fail_quality,
        | floor((CAST(sum(ok_lang * ok_len * ok_quality) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS keep_rate
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("text_length_hist", (s, dir) =>
      // token-length histogram per language (16-token bins) — the
      // length distribution packing/chunking planning reads
      TextAnalysis.lengthHist(Tables.documents(s, dir))
        .orderBy("lang", "len_bin"),
    Some(
      """WITH t AS (SELECT lang,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT lang, n_tokens // 16 AS len_bin, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("ts_pacf", (s, dir) =>
      // AR-order diagnostic: Durbin–Levinson partial autocorrelation at
      // lags 1..3 on the exact-moment ACF (fixed IEEE closed forms)
      TimeSeries.pacf(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |mq AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |ld AS (SELECT name, node, qv,
         |  lead(qv, 1) OVER w AS y1, lead(qv, 2) OVER w AS y2, lead(qv, 3) OVER w AS y3
         | FROM mq WINDOW w AS (PARTITION BY name, node ORDER BY tsb)),
         |pr AS (
         | SELECT name, node, CAST(1 AS BIGINT) AS lag, qv AS qx, y1 AS qy
         |  FROM ld WHERE y1 IS NOT NULL
         | UNION ALL SELECT name, node, CAST(2 AS BIGINT), qv, y2 FROM ld WHERE y2 IS NOT NULL
         | UNION ALL SELECT name, node, CAST(3 AS BIGINT), qv, y3 FROM ld WHERE y3 IS NOT NULL),
         |cells AS (SELECT name, node, lag, count(*) AS n,
         |  CAST(sum(qx) AS DOUBLE) AS sx, CAST(sum(qy) AS DOUBLE) AS sy,
         |  CAST(sum(qx * qy) AS DOUBLE) AS sxy, CAST(sum(qx * qx) AS DOUBLE) AS sxx,
         |  CAST(sum(qy * qy) AS DOUBLE) AS syy
         | FROM pr GROUP BY 1, 2, 3),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |  CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells),
         |ac AS (SELECT name, node, lag,
         |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |    + 1e-9) * 1e4 + 0.5) / 1e4 AS r
         | FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0),
         |pv AS (SELECT name, node,
         |  max(CASE WHEN lag = 1 THEN r END) AS r1,
         |  max(CASE WHEN lag = 2 THEN r END) AS r2,
         |  max(CASE WHEN lag = 3 THEN r END) AS r3
         | FROM ac GROUP BY 1, 2),
         |f2 AS (SELECT * FROM pv WHERE r1 IS NOT NULL AND r2 IS NOT NULL
         |  AND r3 IS NOT NULL AND abs(r1) < 1e0),
         |p1 AS (SELECT *, (r2 - r1 * r1) / (1e0 - r1 * r1) AS p22 FROM f2),
         |p2 AS (SELECT *, r1 - p22 * r1 AS p21 FROM p1),
         |p3 AS (SELECT *, 1e0 - p21 * r1 - p22 * r2 AS d3 FROM p2)
         |SELECT name, node,
         | floor((r1 + 1e-9) * 1e4 + 0.5) / 1e4 AS pacf1,
         | floor((p22 + 1e-9) * 1e4 + 0.5) / 1e4 AS pacf2,
         | floor(((r3 - p21 * r2 - p22 * r1) / d3 + 1e-9) * 1e4 + 0.5) / 1e4 AS pacf3
         |FROM p3 WHERE floor((abs(d3) + 1e-9) * 1e4 + 0.5) / 1e4 > 0
         |ORDER BY name, node""".stripMargin)),

    Q("quality_percentiles", (s, dir) =>
      // the quality-score distribution per source (discrete exact-element
      // p10/p50/p90 at integer ranks) — read before picking minQuality
      TextAnalysis.qualityPercentiles(Tables.documents(s, dir))
        .orderBy("source"),
    Some(
      """WITH t AS (SELECT source,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents),
        |qs AS (SELECT source,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS q
        | FROM t),
        |r AS (SELECT source, q,
        |  row_number() OVER (PARTITION BY source ORDER BY q) AS rv,
        |  count(*) OVER (PARTITION BY source) AS n FROM qs)
        |SELECT source, max(n) AS n_docs,
        | max(CASE WHEN rv = (n + 9) // 10 THEN q END) AS p10,
        | max(CASE WHEN rv = (n + 1) // 2 THEN q END) AS p50,
        | max(CASE WHEN rv = (9 * n + 9) // 10 THEN q END) AS p90
        |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    Q("mix_epochs", (s, dir) =>
      // repetition-allowed temperature mix at 2× the corpus budget:
      // take = √-weight share, rare strata repeat (epochs > 1) — the
      // LLaMA-style epoch schedule next to mix_waterfill's capped one
      Curation.epochPlan(Tables.documents(s, dir), budgetMult = 2.0)
        .orderBy("lang"),
    Some(
      """WITH a AS (SELECT lang,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT) AS avail_tokens
        | FROM documents GROUP BY lang),
        |b AS (SELECT *,
        |  CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS weight,
        |  CAST(floor(CAST(sum(avail_tokens) OVER () AS DOUBLE) * 2.0) AS BIGINT) AS t_budget
        | FROM a),
        |c AS (SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_sum FROM b),
        |d AS (SELECT *, CAST(CAST(t_budget AS HUGEINT) * CAST(weight AS HUGEINT)
        |  // CAST(w_sum AS HUGEINT) AS BIGINT) AS take_tokens FROM c)
        |SELECT lang, avail_tokens, weight, take_tokens,
        | floor((CAST(take_tokens AS DOUBLE) / CAST(avail_tokens AS DOUBLE)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS epochs,
        | greatest(0, take_tokens - avail_tokens) AS repeated_tokens
        |FROM d ORDER BY lang""".stripMargin)),

    Q("curation_funnel", (s, dir) =>
      // the whole curation pipeline as one per-source survival report:
      // raw → gate → near-dup canonical (LSH edges; exact-edge oracle
      // re-proves recall) → decontaminated vs the doc_id%97 eval split
      Curation.curationFunnel(Tables.documents(s, dir))
        .orderBy("source"),
    Some(
      """WITH RECURSIVE
        |t AS (SELECT doc_id, source, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS zh
        | FROM documents WHERE doc_id % 97 != 0),
        |h AS (SELECT doc_id, source, text, CAST(len(w) AS BIGINT) AS n_tokens,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |   - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS quality,
        |  zh,
        |  len(list_intersect(list_distinct(w), ['the','and','is','of','to','in','that','it','for','on'])) AS en,
        |  len(list_intersect(list_distinct(w), ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS de,
        |  len(list_intersect(list_distinct(w), ['le','la','et','les','des','un','une','est','pour','que'])) AS fr,
        |  len(list_intersect(list_distinct(w), ['el','los','las','y','de','que','en','por','para','es'])) AS es
        | FROM t),
        |k AS (SELECT doc_id, source, text FROM h
        | WHERE (CASE WHEN zh > 0 THEN 'zh'
        |        WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |        WHEN de >= fr AND de >= es THEN 'de'
        |        WHEN fr >= es THEN 'fr' ELSE 'es' END) = 'en'
        |  AND n_tokens >= 5 AND n_tokens <= 5000 AND quality >= 0.5),
        |d2 AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM k),
        |sh2 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |  i -> w[i] || ' ' || w[i + 1]))) AS s FROM d2 WHERE len(w) >= 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |  FROM pr JOIN sz n1 ON pr.doc1 = n1.doc_id JOIN sz n2 ON pr.doc2 = n2.doc_id
        |  WHERE floor((CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.5),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT doc_id, doc_id AS lab FROM k
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id),
        |lab AS (SELECT doc_id, min(lab) AS canonical FROM comp GROUP BY doc_id),
        |canon AS (SELECT doc_id FROM lab WHERE doc_id = canonical),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 2),
        |  i -> md5(array_to_string(w[i:(i + 3)], ' '))))) AS ph FROM d2 WHERE len(w) >= 4),
        |dev AS (SELECT unnest(list_distinct(list_transform(range(1, len(w) - 2),
        |  i -> md5(array_to_string(w[i:(i + 3)], ' '))))) AS ph
        | FROM (SELECT string_split_regex(lower(text), '\s+') AS w FROM documents
        |   WHERE doc_id % 97 = 0) e0 WHERE len(w) >= 4),
        |cont AS (SELECT DISTINCT s0.doc_id FROM shc s0 JOIN dev e ON s0.ph = e.ph),
        |raw AS (SELECT source, count(*) AS n_raw FROM documents
        |  WHERE doc_id % 97 != 0 GROUP BY 1),
        |gc AS (SELECT source, count(*) AS n_gate FROM k GROUP BY 1),
        |cc AS (SELECT kk.source, count(*) AS n_canonical
        |  FROM canon c JOIN k kk ON c.doc_id = kk.doc_id GROUP BY 1),
        |cl AS (SELECT kk.source, count(*) AS n_clean
        |  FROM canon c JOIN k kk ON c.doc_id = kk.doc_id
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM cont) GROUP BY 1)
        |SELECT r.source, r.n_raw,
        | coalesce(gc.n_gate, 0) AS n_gate,
        | coalesce(cc.n_canonical, 0) AS n_canonical,
        | coalesce(cl.n_clean, 0) AS n_clean,
        | floor((CAST(coalesce(gc.n_gate, 0) AS DOUBLE) / CAST(r.n_raw AS DOUBLE)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS gate_rate,
        | floor((CAST(coalesce(cl.n_clean, 0) AS DOUBLE) / CAST(r.n_raw AS DOUBLE)
        |   + 1e-9) * 1e4 + 0.5) / 1e4 AS clean_rate
        |FROM raw r LEFT JOIN gc ON r.source = gc.source
        | LEFT JOIN cc ON r.source = cc.source
        | LEFT JOIN cl ON r.source = cl.source
        |ORDER BY r.source""".stripMargin)),

    Q("pack_sequences", (s, dir) => {
      // 256-token context windows per language stream — the
      // concat-and-cut sequence packing every pretraining run plans
      Curation.packingPlan(Tables.documents(s, dir), budget = 256)
        .orderBy("lang", "doc_id")
    }, Some(
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        | FROM t)
        |SELECT lang, doc_id, n_tokens,
        | cum_before // 256 AS pack_id,
        | cum_before % 256 AS start_offset,
        | CAST((cum_before % 256) + n_tokens > 256 AS INT) AS crosses
        |FROM c ORDER BY lang, doc_id""".stripMargin)),

    Q("pack_bfd", (s, dir) =>
      // best-fit-decreasing packing: whole documents, minimal padding —
      // the quality sibling of pack_sequences' concat-and-cut; the
      // greedy fold replays as a recursive CTE carrying the bin loads
      Curation.packBfd(Tables.documents(s, dir), budget = 256)
        .orderBy("lang", "doc_id"),
    Some(
      s"""WITH RECURSIVE ${sqlBfdSt(256)}
         |SELECT lang, doc_id, n AS n_tokens, assigned AS pack_id
         |FROM st ORDER BY lang, doc_id""".stripMargin)),

    Q("pack_compare", (s, dir) =>
      // the packing trade on one screen: BFD bins/utilization next to
      // concat-and-cut bins/straddlers, per stratum, same corpus
      Curation.packCompare(Tables.documents(s, dir), budget = 256)
        .orderBy("lang"),
    Some(
      s"""WITH RECURSIVE ${sqlBfdSt(256)},
         |b1 AS (SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
         |  max(assigned) AS bins_bfd FROM st GROUP BY 1),
         |cb AS (SELECT lang, doc_id, n,
         |  CAST(COALESCE(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         | FROM t),
         |c1 AS (SELECT lang,
         |  CAST(sum(CAST((cum_before % 256) + n > 256 AS INT)) AS BIGINT) AS straddlers
         | FROM cb GROUP BY 1)
         |SELECT b1.lang, n_docs, total_tokens, bins_bfd,
         | (total_tokens - 1) // 256 + 1 AS bins_concat, straddlers,
         | floor((CAST(total_tokens AS DOUBLE) / CAST(bins_bfd * 256 AS DOUBLE)
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS util_bfd
         |FROM b1 JOIN c1 ON b1.lang = c1.lang ORDER BY b1.lang""".stripMargin)),

    Q("pack_efficiency", (s, dir) => {
      // the one-screen packing answer: packs, straddlers, padding, util
      Curation.packEfficiency(Tables.documents(s, dir), budget = 256)
        .orderBy("lang")
    }, Some(
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT lang, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        | FROM t),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(CAST((cum_before % 256) + n_tokens > 256 AS INT)) AS BIGINT) AS n_straddle
        | FROM c GROUP BY lang)
        |SELECT lang, n_docs, total_tokens, n_straddle,
        | (total_tokens + 255) // 256 AS n_packs,
        | (total_tokens + 255) // 256 * 256 - total_tokens AS pad_tokens,
        | floor((CAST(total_tokens AS DOUBLE) /
        |   CAST((total_tokens + 255) // 256 * 256 AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4
        |   AS utilization
        |FROM g ORDER BY lang""".stripMargin)),

    Q("source_overlap", (s, dir) => {
      // syndication telemetry: distinct 8-word passages shared per
      // source pair (set-valued per digest, bounded by |sources|)
      Curation.sourceOverlap(Tables.documents(s, dir))
        .orderBy("src_a", "src_b")
    }, Some(
      """WITH t AS (SELECT source, string_split_regex(lower(text), '\s+') AS w
        | FROM documents),
        |c AS (SELECT DISTINCT source,
        |  md5(array_to_string(list_slice(w, (i - 1) * 8 + 1, i * 8), ' ')) AS ph
        | FROM t, unnest(generate_series(1, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS g(i))
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM c a JOIN c b ON a.ph = b.ph AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("chunk_documents", (s, dir) => {
      // the doc -> overlapping 16-token/stride-8 chunk explosion an
      // embedding pipeline runs; digests not text leave the task
      Curation.chunkPlan(Tables.documents(s, dir))
        .orderBy("doc_id", "chunk_id")
    }, Some(
      """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        | FROM documents),
        |n AS (SELECT doc_id, w,
        |  1 + greatest(0, (len(w) - 16 + 8 - 1) // 8) AS nc FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        | CAST((i - 1) * 8 + 1 AS BIGINT) AS start_tok,
        | CAST(len(list_slice(w, (i - 1) * 8 + 1, (i - 1) * 8 + 16)) AS BIGINT)
        |   AS chunk_tokens,
        | md5(array_to_string(list_slice(w, (i - 1) * 8 + 1, (i - 1) * 8 + 16), ' '))
        |   AS chunk_hash
        |FROM n, unnest(generate_series(1, nc)) AS g(i)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    Q("mix_waterfill", (s, dir) => {
      // exact-integer waterfilling: temperature weights, budget = half
      // the corpus; small languages keep everything, the rest split λw
      Curation.waterfillMix(Tables.documents(s, dir), budgetFrac = 0.5)
        .orderBy("lang")
    }, Some(
      """WITH a AS (SELECT lang,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT) AS avail_tokens
        | FROM documents GROUP BY lang),
        |b AS (SELECT *,
        |  CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS weight,
        |  CAST(floor(sum(avail_tokens) OVER () * 0.5) AS BIGINT) AS t_budget FROM a),
        |c AS (SELECT *, CAST(avail_tokens AS DOUBLE) / CAST(weight AS DOUBLE) AS ratio
        | FROM b),
        |d AS (SELECT *,
        |  CAST(COALESCE(sum(avail_tokens) OVER (ORDER BY ratio, lang
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS a_before,
        |  CAST(sum(weight) OVER (ORDER BY ratio, lang
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS w_from
        | FROM c),
        |e AS (SELECT *, CAST(CAST(avail_tokens AS HUGEINT) * w_from <=
        |  CAST(t_budget - a_before AS HUGEINT) * weight AS INT) AS saturated FROM d),
        |f AS (SELECT *,
        |  CAST(COALESCE(sum(CASE WHEN saturated = 1 THEN avail_tokens END) OVER (), 0)
        |    AS BIGINT) AS a_sat,
        |  CAST(COALESCE(sum(CASE WHEN saturated = 0 THEN weight END) OVER (), 0)
        |    AS BIGINT) AS w_unsat FROM e)
        |SELECT lang, avail_tokens, weight,
        | CASE WHEN saturated = 1 THEN avail_tokens
        |      ELSE CAST(CAST(t_budget - a_sat AS HUGEINT) * weight //
        |        CAST(w_unsat AS HUGEINT) AS BIGINT) END AS alloc_tokens,
        | saturated
        |FROM f ORDER BY lang""".stripMargin)),

    Q("text_pii_scrub", (s, dir) => {
      // the synthetic corpus carries no PII, so deterministic PII-shaped
      // spans (derived from doc_id) are grafted on first — the oracle
      // then genuinely checks cross-engine regex redaction semantics
      // via the scrubbed-text digest, not a vacuous all-zeros pass
      val salted = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 ref "),
          lpad((col("doc_id") * 7919 % 10000000).cast("string"), 7, "0"))
          .as("text"))
      TextAnalysis.piiScrub(salted).orderBy("doc_id")
    }, Some(
      """WITH salted AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |  '.7 ref ' || lpad(CAST(doc_id * 7919 % 10000000 AS VARCHAR), 7, '0') AS text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(text, '([0-9]{1,3}[.]){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        | CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_digits,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<email>', 'g'),
        |   '([0-9]{1,3}[.]){3}[0-9]{1,3}', '<ipv4>', 'g'),
        |   '[0-9]{7,}', '<digits>', 'g')) AS scrub_fp,
        | CAST(len(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<email>', 'g'),
        |   '([0-9]{1,3}[.]){3}[0-9]{1,3}', '<ipv4>', 'g'),
        |   '[0-9]{7,}', '<digits>', 'g')) AS BIGINT) AS scrub_len
        |FROM salted ORDER BY doc_id""".stripMargin)),

    Q("text_tfidf_top", (s, dir) =>
      TextAnalysis.tfidfTop(Tables.documents(s, dir), 5).orderBy("doc_id", "rk"),
    Some(
      """WITH terms AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |  CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score
        | FROM tf t JOIN dfq d USING (term), n),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term ASC) AS rk FROM scored)
        |SELECT doc_id, rk, term, tf, df, score FROM rk WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin)),

    Q("ts_mannkendall", (s, dir) =>
      Trend.mannKendall(corrGrid(s, dir)).orderBy("name", "node"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |prs AS (SELECT a.name, a.node, sign(b.gval - a.gval) AS sg
         | FROM ff36 a JOIN ff36 b ON a.name = b.name AND a.node = b.node AND a.tsb < b.tsb),
         |sagg AS (SELECT name, node, CAST(sum(sg) AS BIGINT) AS s FROM prs GROUP BY 1, 2),
         |nagg AS (SELECT name, node, count(*) AS n FROM ff36 GROUP BY 1, 2),
         |tg AS (SELECT name, node, gval, count(*) AS t FROM ff36 GROUP BY 1, 2, 3),
         |ties AS (SELECT name, node, sum(t * (t - 1) * (2 * t + 5)) AS tie_num
         | FROM tg WHERE t > 1 GROUP BY 1, 2),
         |fin AS (SELECT n.name, n.node, n.n, s.s,
         |  CAST(n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_num, 0) AS DOUBLE) / 18.0 AS var_s
         | FROM nagg n JOIN sagg s ON n.name = s.name AND n.node = s.node
         | LEFT JOIN ties t ON n.name = t.name AND n.node = t.node),
         |zz AS (SELECT name, node, n, s,
         |  floor((CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
         |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
         |    ELSE 0.0 END + 1e-9) * 1e4 + 0.5) / 1e4 AS z FROM fin)
         |SELECT name, node, n, s, z,
         | CASE WHEN z > 1.96 THEN 1 WHEN z < -1.96 THEN -1 ELSE 0 END AS trend
         |FROM zz ORDER BY name, node""".stripMargin)),

    Q("ts_theilsen", (s, dir) =>
      Trend.theilSen(corrGrid(s, dir)).orderBy("name", "node"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |prs AS (SELECT a.name, a.node,
         |  (b.gval - a.gval) / (CAST(b.tsb - a.tsb AS DOUBLE) / 3600.0) AS slope
         | FROM ff36 a JOIN ff36 b ON a.name = b.name AND a.node = b.node AND a.tsb < b.tsb)
         |SELECT name, node, count(*) AS n_pairs,
         | floor((quantile_cont(slope, 0.5) + 1e-11) * 1e6 + 0.5) / 1e6 AS slope_hr
         |FROM prs GROUP BY name, node ORDER BY name, node""".stripMargin)),

    // Converted from rows-only (r4-late): the triangle argmax runs on
    // exact integers (2·cn·area over grid timestamps × 1e4-quantized
    // values), so DuckDB replays the sequential bucket selection in a
    // recursive CTE with HUGEINT areas — pick-identical by
    // construction, no IEEE ordering anywhere in the selection.
    Q("ts_downsample_lttb", (s, dir) =>
      TimeSeries.downsampleLttb(grid(s, dir), 50)
        .select(col("name"), col("node"), col("tsb"), r4(col("gval")).as("gval"))
        .orderBy("name", "node", "tsb"),
    Some(
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |pts0 AS (SELECT name, node, tsb, gval,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS HUGEINT) AS qv,
         |  CAST(row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1 AS BIGINT) AS idx
         | FROM grid),
         |gn AS (SELECT name, node, count(*) AS n FROM pts0 GROUP BY 1, 2),
         |big AS (SELECT * FROM gn WHERE n > 50),
         |bidx AS (SELECT g.name, g.node, g.n, t.i,
         |  CAST(floor(t.i * ((CAST(g.n AS DOUBLE) - 2e0) / 48e0)) AS BIGINT) + 1 AS lo,
         |  least(CAST(floor((t.i + 1) * ((CAST(g.n AS DOUBLE) - 2e0) / 48e0)) AS BIGINT) + 1, g.n - 1) AS hi,
         |  least(CAST(floor((t.i + 1) * ((CAST(g.n AS DOUBLE) - 2e0) / 48e0)) AS BIGINT) + 1, g.n - 1) AS nlo,
         |  least(CAST(floor((t.i + 2) * ((CAST(g.n AS DOUBLE) - 2e0) / 48e0)) AS BIGINT) + 1, g.n) AS nhi
         | FROM big g, range(0, 48) t(i)),
         |nb AS (SELECT b.name, b.node, b.i,
         |  CAST(sum(p.tsb) AS HUGEINT) AS st, sum(p.qv) AS sq,
         |  CAST(count(*) AS HUGEINT) AS cn
         | FROM bidx b JOIN pts0 p ON p.name = b.name AND p.node = b.node
         |   AND p.idx >= b.nlo AND p.idx < b.nhi
         | GROUP BY 1, 2, 3),
         |sel AS (
         |  SELECT name, node, CAST(-1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS a FROM big
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    (min(struct_pack(na := -abs(
         |        (CAST(ap.tsb AS HUGEINT) * nb.cn - nb.st) * (p.qv - ap.qv)
         |        - (CAST(ap.tsb AS HUGEINT) - p.tsb) * (nb.sq - ap.qv * nb.cn)),
         |      idx := p.idx))).idx
         |  FROM sel s
         |  JOIN bidx b ON b.name = s.name AND b.node = s.node AND b.i = s.i + 1
         |  JOIN nb ON nb.name = s.name AND nb.node = s.node AND nb.i = s.i + 1
         |  JOIN pts0 ap ON ap.name = s.name AND ap.node = s.node AND ap.idx = s.a
         |  JOIN pts0 p ON p.name = s.name AND p.node = s.node
         |    AND p.idx >= b.lo AND p.idx < b.hi
         |  WHERE s.i + 1 <= 47
         |  GROUP BY s.name, s.node, s.i),
         |kept AS (SELECT name, node, a AS idx FROM sel WHERE i >= 0
         |  UNION ALL SELECT name, node, 0 FROM big
         |  UNION ALL SELECT name, node, n - 1 FROM big),
         |outp AS (
         |  SELECT p.name, p.node, p.tsb, p.gval
         |  FROM kept k JOIN pts0 p ON p.name = k.name AND p.node = k.node AND p.idx = k.idx
         |  UNION ALL
         |  SELECT p.name, p.node, p.tsb, p.gval
         |  FROM pts0 p JOIN gn g ON g.name = p.name AND g.node = p.node AND g.n <= 50)
         |SELECT name, node, tsb,
         | floor((gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval
         |FROM outp ORDER BY name, node, tsb""".stripMargin)),

    // rows-only: the banded DP has no SQL analogue; the kernel is
    // spec-pinned on hand-checkable alignments
    // Converted from rows-only (r4-late): z-norm from exact integer
    // moments makes every z value the same double on any engine, and
    // the banded DP is a fixed op tree (d·d + min of three) — so the
    // oracle replays the whole warping recursion (rows as lists, the
    // within-row dependency via list_reduce) bit-for-bit.
    Q("corr_dtw", (s, dir) =>
      Correlate.dtwDist(corrGrid(s, dir), ObjSignals)
        .orderBy("obj_name", "cand_name", "node"),
    Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |pts AS MATERIALIZED (SELECT name, node,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS BIGINT) AS qv,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS rn
         | FROM ff36),
         |zs AS MATERIALIZED (
         |  SELECT name, node, n,
         |    CASE WHEN sd = 0e0 THEN list_transform(ql, x -> 0e0)
         |         ELSE list_transform(ql, x -> (CAST(x AS DOUBLE) - mean) / sd) END AS z
         |  FROM (
         |    SELECT name, node, count(*) AS n, list(qv ORDER BY rn) AS ql,
         |      CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean,
         |      sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(qv * qv) AS DOUBLE)
         |        - CAST(sum(qv) AS DOUBLE) * CAST(sum(qv) AS DOUBLE))
         |        / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))) AS sd
         |    FROM pts GROUP BY name, node) q),
         |prs AS MATERIALIZED (
         |  SELECT o.name AS obj_name, c.name AS cand_name, o.node AS node,
         |    o.z AS za, c.z AS zb, o.n AS n, c.n AS m
         |  FROM zs o JOIN zs c ON o.node = c.node
         |  WHERE o.name IN ('click', 'error') AND c.name NOT IN ('click', 'error')),
         |dp AS (
         |  SELECT obj_name, cand_name, node, CAST(0 AS BIGINT) AS i,
         |    list_concat([0e0], list_transform(range(1, m + 1),
         |      x -> CAST('infinity' AS DOUBLE))) AS prev
         |  FROM prs WHERE abs(n - m) <= 6
         |  UNION ALL
         |  SELECT d.obj_name, d.cand_name, d.node, d.i + 1,
         |    list_concat(list_concat(
         |      list_transform(range(0, greatest(1, d.i + 1 - 6)),
         |        x -> CAST('infinity' AS DOUBLE)),
         |      list_reduce(
         |        list_concat([CAST([] AS DOUBLE[])],
         |          list_transform(range(greatest(1, d.i + 1 - 6), least(p.m, d.i + 1 + 6) + 1),
         |            j -> [CAST(j AS DOUBLE)])),
         |        (acc, x) -> list_append(acc,
         |          (p.za[d.i + 1] - p.zb[CAST(x[1] AS BIGINT)])
         |            * (p.za[d.i + 1] - p.zb[CAST(x[1] AS BIGINT)])
         |          + least(d.prev[CAST(x[1] AS BIGINT) + 1],
         |                  d.prev[CAST(x[1] AS BIGINT)],
         |                  CASE WHEN len(acc) = 0 THEN CAST('infinity' AS DOUBLE)
         |                       ELSE acc[-1] END)))),
         |      list_transform(range(0, p.m - least(p.m, d.i + 1 + 6)),
         |        x -> CAST('infinity' AS DOUBLE)))
         |  FROM dp d JOIN prs p ON p.obj_name = d.obj_name AND p.cand_name = d.cand_name
         |    AND p.node = d.node
         |  WHERE d.i < p.n),
         |fin AS (
         |  SELECT d.obj_name, d.cand_name, d.node, p.n, sqrt(d.prev[p.m + 1]) AS dist
         |  FROM dp d JOIN prs p ON p.obj_name = d.obj_name AND p.cand_name = d.cand_name
         |    AND p.node = d.node AND d.i = p.n
         |  UNION ALL
         |  SELECT obj_name, cand_name, node, n, CAST('infinity' AS DOUBLE) FROM prs
         |  WHERE abs(n - m) > 6)
         |SELECT obj_name, cand_name, node,
         |  floor((dist + 1e-9) * 1e4 + 0.5) / 1e4 AS dtw, CAST(n AS INTEGER) AS n
         |FROM fin ORDER BY obj_name, cand_name, node""".stripMargin)),

    Q("ts_matrix_profile", (s, dir) =>
      // exact z-normalized matrix profile per signal on the hourly
      // grid: nearest non-trivial neighbor distance per length-8
      // subsequence — motifs at the low end, THE discord at the max;
      // integer moments + one fixed IEEE distance sequence, SCAMP-
      // style index-block tiling keeps a signal's O(n²/2) triangle
      // off a single task
      TimeSeries.matrixProfile(corrGrid(s, dir, dense = true))
        .orderBy("name", "node", "idx"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |mpx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM ff36),
         |rp AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e6
         |    + 0.5) AS BIGINT) AS qv,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS idx
         | FROM mpx),
         |wn AS (SELECT name, node, tsb, idx,
         |  list(qv) OVER fr AS qw,
         |  CAST(sum(qv) OVER fr AS BIGINT) AS sw,
         |  CAST(sum(qv * qv) OVER fr AS BIGINT) AS sw2,
         |  CAST(count(*) OVER fr AS BIGINT) AS nw
         | FROM rp WINDOW fr AS (PARTITION BY name, node ORDER BY idx
         |   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
         |ps AS MATERIALIZED (SELECT name, node, tsb, idx, qw, sw,
         |  8 * sw2 - sw * sw AS den FROM wn
         | WHERE nw = 8 AND 8 * sw2 - sw * sw > 0),
         |pr AS (SELECT a.name, a.node, a.idx AS i, b.idx AS j,
         |  CAST(list_sum(list_transform(range(1, 9),
         |    k -> a.qw[k] * b.qw[k])) AS BIGINT) AS dot,
         |  a.sw AS swa, b.sw AS swb, a.den AS dena, b.den AS denb
         | FROM ps a JOIN ps b ON a.name = b.name AND a.node = b.node
         |   AND b.idx >= a.idx + 4),
         |dm AS (SELECT name, node, i, j,
         |  floor((sqrt(greatest(0e0, 16e0 * (1e0 -
         |    CAST(8 * dot - swa * swb AS DOUBLE)
         |    / (sqrt(CAST(dena AS DOUBLE)) * sqrt(CAST(denb AS DOUBLE))))))
         |    + 1e-9) * 1e4 + 0.5) / 1e4 AS d4
         | FROM pr),
         |un AS (SELECT name, node, i AS idx, j AS nn, d4 FROM dm
         |  UNION ALL SELECT name, node, j, i, d4 FROM dm),
         |bst AS (SELECT name, node, idx, nn, d4,
         |  row_number() OVER (PARTITION BY name, node, idx
         |    ORDER BY d4, nn) AS rn FROM un)
         |SELECT p.name, p.node, CAST(b2.idx AS INT) AS idx, p.tsb,
         | CAST(b2.nn AS INT) AS nn_idx, b2.d4 AS dist
         |FROM bst b2 JOIN ps p ON p.name = b2.name AND p.node = b2.node
         |  AND p.idx = b2.idx
         |WHERE b2.rn = 1 ORDER BY p.name, p.node, idx""".stripMargin)),

    // Converted from rows-only (r5): the regression runs on ×1e4
    // integers (Granger.rssQ — exact Long moments, fixed-pivot IEEE
    // elimination, t-ordered residual fold), so the oracle replays the
    // whole nested-model F-test: normal equations as HUGEINT sums, the
    // 5-step Gaussian elimination as a recursive CTE over the matrix
    // list, back-substitution, and the same residual fold. The p-value
    // is the INDEPENDENT route (closed-form F(2, d) survival
    // (1 + 2F/d)^(−d/2) vs the engine's Lentz continued fraction —
    // the ESD two-route pattern); they agree to ~1e-13 and the 4-dp
    // guard absorbs it.
    Q("corr_granger", (s, dir) =>
      Correlate.grangerF(corrGrid(s, dir), ObjSignals)
        .orderBy("obj_name", "cand_name", "node"),
    Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |gq AS (SELECT name, node, tsb,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS BIGINT) AS q FROM ff36),
         |ser AS MATERIALIZED (SELECT name, node, count(*) AS n, list(q ORDER BY tsb) AS ql
         | FROM gq GROUP BY 1, 2),
         |prs AS MATERIALIZED (
         | SELECT o.name AS obj_name, c.name AS cand_name, o.node AS node,
         |   o.n AS n, o.ql AS yl, c.ql AS xl
         | FROM ser o JOIN ser c ON c.node = o.node AND o.n = c.n
         | WHERE o.name IN ('click', 'error') AND c.name NOT IN ('click', 'error')),
         |obs AS (SELECT obj_name, cand_name, node, n, at1,
         |  yl[CAST(at1 AS INT)] AS y0, yl[CAST(at1 - 1 AS INT)] AS y1, yl[CAST(at1 - 2 AS INT)] AS y2,
         |  xl[CAST(at1 - 1 AS INT)] AS x1, xl[CAST(at1 - 2 AS INT)] AS x2
         | FROM prs, LATERAL (SELECT unnest(range(3, n + 1)) AS at1) t),
         |models(m, k) AS (VALUES ('r', 3), ('u', 5)),
         |ij AS (SELECT m, k, i.i AS i, j.j AS j FROM models,
         |  LATERAL (SELECT unnest(range(0, k)) AS i) i,
         |  LATERAL (SELECT unnest(range(0, k)) AS j) j),
         |ent AS (SELECT o.obj_name, o.cand_name, o.node, ij.m, ij.k, ij.i, ij.j,
         |  sum(CAST(CASE ij.i WHEN 0 THEN 1 WHEN 1 THEN o.y1 WHEN 2 THEN o.y2 WHEN 3 THEN o.x1 ELSE o.x2 END AS HUGEINT)
         |    * CASE ij.j WHEN 0 THEN 1 WHEN 1 THEN o.y1 WHEN 2 THEN o.y2 WHEN 3 THEN o.x1 ELSE o.x2 END) AS s,
         |  sum(CAST(CASE ij.i WHEN 0 THEN 1 WHEN 1 THEN o.y1 WHEN 2 THEN o.y2 WHEN 3 THEN o.x1 ELSE o.x2 END AS HUGEINT)
         |    * CASE WHEN ij.j = 0 THEN o.y0 ELSE 0 END) AS cpart
         | FROM obs o CROSS JOIN ij GROUP BY 1, 2, 3, 4, 5, 6, 7),
         |mats AS MATERIALIZED (SELECT obj_name, cand_name, node, m, k,
         |  list(CAST(s AS DOUBLE) ORDER BY i * k + j) AS A,
         |  list(CASE WHEN j = 0 THEN CAST(cpart AS DOUBLE) ELSE NULL END
         |       ORDER BY i * k + j) AS craw
         | FROM ent GROUP BY 1, 2, 3, 4, 5),
         |m0 AS (SELECT obj_name, cand_name, node, m, k, A,
         |  list_filter(craw, v -> v IS NOT NULL) AS C FROM mats),
         |elim AS (
         |  SELECT obj_name, cand_name, node, m, k, A, C, 0 AS col, FALSE AS sing
         |  FROM m0
         |  UNION ALL
         |  SELECT obj_name, cand_name, node, m, k,
         |    list_transform(range(0, k * k), t ->
         |      CASE WHEN t // k <= col OR t % k < col THEN sw[CAST(t AS INT) + 1]
         |      ELSE sw[CAST(t AS INT) + 1]
         |        - (sw[CAST((t // k) * k + col AS INT) + 1] / sw[CAST(col * k + col AS INT) + 1])
         |          * sw[CAST(col * k + (t % k) AS INT) + 1] END) AS A,
         |    list_transform(range(0, k), r ->
         |      CASE WHEN r <= col THEN sc[CAST(r AS INT) + 1]
         |      ELSE sc[CAST(r AS INT) + 1]
         |        - (sw[CAST(r * k + col AS INT) + 1] / sw[CAST(col * k + col AS INT) + 1])
         |          * sc[CAST(col AS INT) + 1] END) AS C,
         |    col + 1, sing OR best < 1e-10
         |  FROM (
         |    SELECT e.*, e.bst.v AS best,
         |      list_transform(range(0, e.k * e.k), t ->
         |        CASE WHEN t // e.k = e.col THEN e.A[CAST((-e.bst.nr) * e.k + t % e.k AS INT) + 1]
         |             WHEN t // e.k = -e.bst.nr THEN e.A[CAST(e.col * e.k + t % e.k AS INT) + 1]
         |             ELSE e.A[CAST(t AS INT) + 1] END) AS sw,
         |      list_transform(range(0, e.k), r ->
         |        CASE WHEN r = e.col THEN e.C[CAST(-e.bst.nr AS INT) + 1]
         |             WHEN r = -e.bst.nr THEN e.C[CAST(e.col AS INT) + 1]
         |             ELSE e.C[CAST(r AS INT) + 1] END) AS sc
         |    FROM (
         |      SELECT el.*, list_aggregate(list_transform(range(el.col, el.k), r ->
         |          struct_pack(v := abs(el.A[CAST(r * el.k + el.col AS INT) + 1]), nr := -r)), 'max') AS bst
         |      FROM elim el WHERE el.col < el.k AND NOT el.sing) e
         |  ) x
         |),
         |efin AS (SELECT obj_name, cand_name, node, m, k, A, C, sing
         | FROM elim WHERE col = k),
         |bsub AS (
         |  SELECT obj_name, cand_name, node, m, k, A, C, k AS i, CAST([] AS DOUBLE[]) AS bb
         |  FROM efin WHERE NOT sing
         |  UNION ALL
         |  SELECT obj_name, cand_name, node, m, k, A, C, i - 1,
         |    list_prepend(
         |      list_reduce(
         |        list_prepend(C[CAST(i AS INT)],
         |          list_transform(range(i, k), j -> A[CAST((i - 1) * k + j AS INT) + 1] * bb[CAST(j - i + 1 AS INT)])),
         |        (a, x) -> a - x)
         |      / A[CAST((i - 1) * k + (i - 1) AS INT) + 1], bb) AS bb
         |  FROM bsub WHERE i > 0
         |),
         |bfin AS (SELECT obj_name, cand_name, node, m, k, bb AS b FROM bsub WHERE i = 0),
         |rssq AS (SELECT f.obj_name, f.cand_name, f.node, f.m,
         |  list_reduce(list_transform(range(3, p.n + 1), at1 ->
         |    (CAST(p.yl[CAST(at1 AS INT)] AS DOUBLE) -
         |      (CASE WHEN f.m = 'r'
         |        THEN (f.b[1] * 1e0 + f.b[2] * CAST(p.yl[CAST(at1 - 1 AS INT)] AS DOUBLE))
         |             + f.b[3] * CAST(p.yl[CAST(at1 - 2 AS INT)] AS DOUBLE)
         |        ELSE (((f.b[1] * 1e0 + f.b[2] * CAST(p.yl[CAST(at1 - 1 AS INT)] AS DOUBLE))
         |             + f.b[3] * CAST(p.yl[CAST(at1 - 2 AS INT)] AS DOUBLE))
         |             + f.b[4] * CAST(p.xl[CAST(at1 - 1 AS INT)] AS DOUBLE))
         |             + f.b[5] * CAST(p.xl[CAST(at1 - 2 AS INT)] AS DOUBLE) END))
         |    * (CAST(p.yl[CAST(at1 AS INT)] AS DOUBLE) -
         |      (CASE WHEN f.m = 'r'
         |        THEN (f.b[1] * 1e0 + f.b[2] * CAST(p.yl[CAST(at1 - 1 AS INT)] AS DOUBLE))
         |             + f.b[3] * CAST(p.yl[CAST(at1 - 2 AS INT)] AS DOUBLE)
         |        ELSE (((f.b[1] * 1e0 + f.b[2] * CAST(p.yl[CAST(at1 - 1 AS INT)] AS DOUBLE))
         |             + f.b[3] * CAST(p.yl[CAST(at1 - 2 AS INT)] AS DOUBLE))
         |             + f.b[4] * CAST(p.xl[CAST(at1 - 1 AS INT)] AS DOUBLE))
         |             + f.b[5] * CAST(p.xl[CAST(at1 - 2 AS INT)] AS DOUBLE) END))),
         |    (a, x) -> a + x) AS rss,
         |  p.n - 2 AS n_eff
         | FROM bfin f JOIN prs p ON p.obj_name = f.obj_name AND p.cand_name = f.cand_name AND p.node = f.node),
         |fstat AS (SELECT r.obj_name, r.cand_name, r.node, r.n_eff,
         |  r.rss AS rss_r, u.rss AS rss_u, r.n_eff - 5 AS df2
         | FROM rssq r JOIN rssq u ON u.obj_name = r.obj_name AND u.cand_name = r.cand_name
         |   AND u.node = r.node AND r.m = 'r' AND u.m = 'u'),
         |ffg AS (SELECT obj_name, cand_name, node, n_eff, df2,
         |  CASE WHEN rss_u <= 1e-12 * greatest(rss_r, 1e0) THEN 1e306
         |       ELSE greatest(0e0, ((rss_r - rss_u) / 2e0) / (rss_u / CAST(df2 AS DOUBLE))) END AS f
         | FROM fstat WHERE df2 >= 1),
         |pvx AS (SELECT obj_name, cand_name, node, n_eff, df2, f,
         |  ${graft.functions.ExactMath.sqlLnGe1Cols(
             "1e0 + 2e0 * least(f, 1e12) / CAST(df2 AS DOUBLE)", "ga", "lnu")}
         | FROM ffg),
         |pvz AS (SELECT obj_name, cand_name, node, n_eff, df2, f,
         |  ${graft.functions.ExactMath.sqlExpCols(
             "(-CAST(df2 AS DOUBLE) / 2e0) * lnu", "gb", "pv")}
         | FROM pvx)
         |SELECT obj_name, cand_name, node,
         | floor((least(f, 1e6) + 1e-9) * 1e4 + 0.5) / 1e4 AS f_stat,
         | floor((CASE WHEN f >= 1e300 THEN 0e0 ELSE pv END + 1e-9) * 1e4 + 0.5) / 1e4 AS p_value,
         | CAST(n_eff AS INT) AS n_eff
         |FROM pvz ORDER BY obj_name, cand_name, node""".stripMargin)),

    Q("ts_ols_trend", (s, dir) =>
      Trend.olsTrend(corrGrid(s, dir)).orderBy("name", "node"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |mx AS (SELECT name, node, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr,
         |  min(i) OVER (PARTITION BY name, node) AS x0 FROM g2),
         |q AS (SELECT name, node,
         |  CASE WHEN mr > 0 THEN mr ELSE 1.0 END AS mm,
         |  CAST(i - x0 AS HUGEINT) AS xi,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |agg AS (SELECT name, node, count(*) AS n, max(mm) AS mm,
         |  CAST(sum(xi) AS DOUBLE) AS sx, CAST(sum(xi * xi) AS DOUBLE) AS sxx,
         |  CAST(sum(qv) AS DOUBLE) AS sy, CAST(sum(qv * qv) AS DOUBLE) AS syy,
         |  CAST(sum(xi * qv) AS DOUBLE) AS sxy
         | FROM q GROUP BY 1, 2),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS den,
         |  CAST(n AS DOUBLE) * syy - sy * sy AS vy,
         |  CAST(n AS DOUBLE) * sxy - sx * sy AS num
         | FROM agg),
         |fit AS (SELECT name, node, n, mm, den, vy, num,
         |  num / den AS slope_q,
         |  (sy - (num / den) * sx) / CAST(n AS DOUBLE) AS icept_q
         | FROM fin WHERE n >= 3 AND den > 0)
         |SELECT name, node, n,
         | floor((slope_q * mm / 1e9 + 1e-11) * 1e6 + 0.5) / 1e6 AS slope_hr,
         | floor((icept_q * mm / 1e9 + 1e-11) * 1e6 + 0.5) / 1e6 AS icept,
         | CASE WHEN vy > 0
         |   THEN floor((num * num / (den * vy) + 1e-9) * 1e4 + 0.5) / 1e4
         |   ELSE 0.0 END AS r2
         |FROM fit ORDER BY name, node""".stripMargin)),

    Q("embed_quantize_int8", (s, dir) =>
      Similarity.int8QuantStats(Tables.embeddings(s, dir)).orderBy("vec_id"),
    Some(
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, label, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
        |s2 AS (SELECT vec_id, label, v, mn, mx, (mx - mn) / 255.0 AS scale FROM s),
        |s3 AS (SELECT vec_id, label, mn, mx, scale,
        |  CASE WHEN scale > 0 THEN list_max(list_transform(v, x ->
        |    abs(x - (mn + floor((x - mn) / scale + 0.5) * scale)))) ELSE 0.0 END
        |   AS max_abs_err
        | FROM s2)
        |SELECT vec_id, label,
        | floor((mn + 1e-11) * 1e6 + 0.5) / 1e6 AS mn,
        | floor((mx + 1e-11) * 1e6 + 0.5) / 1e6 AS mx,
        | floor((scale + 1e-11) * 1e6 + 0.5) / 1e6 AS scale,
        | floor((max_abs_err + 1e-11) * 1e6 + 0.5) / 1e6 AS max_abs_err
        |FROM s3 ORDER BY vec_id""".stripMargin)),

    Q("embed_centroid_sim", (s, dir) =>
      Similarity.labelCentroidSim(Tables.embeddings(s, dir))
        .orderBy("label_a", "label_b"),
    Some(
      """WITH cells AS (SELECT label, d,
        |  CAST(floor((CAST(embedding[CAST(d AS INTEGER)] AS DOUBLE) + 1e-9) * 1e6 + 0.5) AS HUGEINT) AS q
        | FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d) ds),
        |sums AS (SELECT label, d, sum(q) AS sv FROM cells GROUP BY 1, 2),
        |prs AS (SELECT a.label AS label_a, b.label AS label_b,
        |  CAST(sum(a.sv * b.sv) AS DOUBLE) AS sxy,
        |  CAST(sum(a.sv * a.sv) AS DOUBLE) AS sxx,
        |  CAST(sum(b.sv * b.sv) AS DOUBLE) AS syy
        | FROM sums a JOIN sums b ON a.d = b.d AND a.label < b.label
        | GROUP BY 1, 2)
        |SELECT label_a, label_b,
        | floor((sxy / (sqrt(sxx) * sqrt(syy)) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        |FROM prs ORDER BY label_a, label_b""".stripMargin)),

    Q("embed_drift", (s, dir) =>
      // ingest-batch drift monitor: cosine of each batch centroid vs
      // the corpus centroid (batch key = vec_id shard standing in for
      // the ingest-date column of a production feed)
      Similarity.batchDriftCosine(Tables.embeddings(s, dir), col("vec_id") % 8)
        .orderBy("batch"),
    Some(
      """WITH cells AS (SELECT vec_id % 8 AS batch, d,
        |  CAST(floor((CAST(embedding[CAST(d AS INTEGER)] AS DOUBLE) + 1e-9) * 1e6 + 0.5) AS HUGEINT) AS q
        | FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d) ds),
        |pb AS (SELECT batch, d, sum(q) AS sb, count(*) AS nd FROM cells GROUP BY 1, 2),
        |g AS (SELECT d, sum(sb) AS sg FROM pb GROUP BY 1),
        |m AS (SELECT batch, CAST(CAST(sum(nd) AS DOUBLE) / count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(pb.sb * g.sg) AS DOUBLE) AS sxy,
        |  CAST(sum(pb.sb * pb.sb) AS DOUBLE) AS sxx,
        |  CAST(sum(g.sg * g.sg) AS DOUBLE) AS syy
        | FROM pb JOIN g ON pb.d = g.d GROUP BY 1)
        |SELECT batch, n_vecs,
        | floor((sxy / (sqrt(sxx) * sqrt(syy)) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_global
        |FROM m ORDER BY batch""".stripMargin)),

    // CMS as a bounded hash-aggregate with an md5 row hash — the
    // estimates themselves are oracle-verified (width 64 exercises
    // real collisions at this vocabulary; the operator default is
    // 2048)
    Q("sketch_heavy_hitters", (s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), 20, width = 64), Some(
      """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |cnt AS (SELECT term, count(*) AS exact_n FROM t GROUP BY term),
        |bk AS (SELECT term, exact_n, r.r AS r,
        |  CAST(CAST('0x' || substr(md5(term || '#' || CAST(r.r AS VARCHAR)), 17, 16)
        |    AS UBIGINT) % 64 AS INT) AS bkt
        | FROM cnt CROSS JOIN (SELECT unnest(range(0, 3)) AS r) r),
        |ctr AS (SELECT r, bkt, sum(exact_n) AS cn FROM bk GROUP BY r, bkt),
        |topk AS (SELECT term, exact_n FROM (SELECT term, exact_n,
        |  row_number() OVER (ORDER BY exact_n DESC, term ASC) AS rk FROM cnt)
        | WHERE rk <= 20)
        |SELECT k.term, k.exact_n, CAST(min(c.cn) AS BIGINT) AS cms_n
        |FROM topk k JOIN bk USING (term) JOIN ctr c ON bk.r = c.r AND bk.bkt = c.bkt
        |GROUP BY k.term, k.exact_n
        |ORDER BY k.exact_n DESC, k.term ASC""".stripMargin)),

    // the IVF cell structure is deterministic (first-k centroids,
    // rounded-cosine argmax with id tiebreak) — the oracle rebuilds
    // the cells and the within-cell pair set exactly
    Q("embed_sim_hist", (s, dir) =>
      // cosine-similarity histogram (0.05 bins) over the IVF-cell
      // candidate pairs — the distribution read before picking an
      // embedding dedup threshold (dedup_threshold_hist's move applied
      // to the embedding space); rides the same cell bucketing as
      // dedup_embed_ivf, threshold −1 = keep every candidate pair
      Dedup.embedCosinePairsIvf(Tables.embeddings(s, dir), nCells = 8,
          threshold = -1.0)
        .select(floor(col("cos_sim") * lit(20.0)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .select(col("bin"), r4(col("bin").cast("double") / lit(20.0)).as("bin_lo"),
          col("n_pairs"))
        .orderBy("bin"),
    Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, nrm, cid FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
        |      c.cid ASC) AS crn
        |  FROM n CROSS JOIN c) WHERE crn = 1),
        |p AS (SELECT CAST(floor(floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 * 20.0) AS BIGINT) AS bin
        | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id)
        |SELECT bin, floor((CAST(bin AS DOUBLE) / 20.0 + 1e-9) * 1e4 + 0.5) / 1e4 AS bin_lo,
        | count(*) AS n_pairs
        |FROM p GROUP BY bin ORDER BY bin""".stripMargin)),

    Q("embed_ood_knn", (s, dir) =>
      // kNN-distance OOD: farthest-from-kth-neighbor vectors via the
      // IVF cells — the outlier the centroid distance misses
      Similarity.oodKnnDist(Tables.embeddings(s, dir), nCells = 8, k = 5,
        topN = 50),
    Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, nrm, cid FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
        |      c.cid ASC) AS crn
        |  FROM n CROSS JOIN c) WHERE crn = 1),
        |sims AS (SELECT a.vec_id, a.cid AS cell,
        |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS sim,
        |  b.vec_id AS nid
        | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id != b.vec_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |  ORDER BY sim DESC, nid ASC) AS rn,
        |  count(*) OVER (PARTITION BY vec_id) AS m FROM sims)
        |SELECT vec_id, cell, m + 1 AS n_cell, sim AS knn_sim,
        | floor((1.0 - sim + 1e-9) * 1e4 + 0.5) / 1e4 AS ood_score
        |FROM rk WHERE rn = CASE WHEN m < 5 THEN m ELSE 5 END
        |ORDER BY ood_score DESC, vec_id LIMIT 50""".stripMargin)),

    Q("dedup_embed_ivf", (s, dir) =>
      Dedup.embedCosinePairsIvf(Tables.embeddings(s, dir), nCells = 8,
          threshold = 0.3)
        .orderBy("id1", "id2"), Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, nrm, cid FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
        |      c.cid ASC) AS crn
        |  FROM n CROSS JOIN c) WHERE crn = 1)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        |FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.3
        |ORDER BY id1, id2""".stripMargin)),

    Q("dedup_embed_ivf_auto", (s, dir) =>
      // the PRODUCTION knob: nCells <= 0 derives the balanced ⌈√n⌉
      // cell count (the fixed-8 gate above is quadratic at scale BY
      // ITS KNOB — Σ|cell|² = n²/8; the derived count holds it on the
      // n^1.5 law), hash-proven here with the cell count as the same
      // oracle scalar subquery the other _auto gates use
      Dedup.embedCosinePairsIvf(Tables.embeddings(s, dir), nCells = 0,
          threshold = 0.3)
        .orderBy("id1", "id2"), Some(
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < ($SQL_AUTOCELLS)),
        |asg AS (SELECT vec_id, v, nrm, cid FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
        |      c.cid ASC) AS crn
        |  FROM n CROSS JOIN c) WHERE crn = 1)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 AS cos_sim
        |FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.3
        |ORDER BY id1, id2""".stripMargin)),

    Q("dedup_embed_cluster", (s, dir) => {
      // the embedding-side composition the minhash path already has:
      // IVF-bucketed near-dup edges feed the connected-components pass
      // directly, so detection and clustering share one candidate join
      val embs = Tables.embeddings(s, dir)
      val pairs = Dedup.embedCosinePairsIvf(embs, nCells = 8, threshold = 0.3)
        .select(col("id1").as("doc1"), col("id2").as("doc2"))
      Dedup.clusters(embs.select(col("vec_id").as("doc_id")),
          precomputedPairs = Some(pairs))
        .orderBy("doc_id")
    }, Some(
      // the IVF edge set is deterministic (see dedup_embed_ivf) — the
      // oracle rebuilds it and closes the components recursively, the
      // dedup_cluster shape
      """WITH RECURSIVE
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, nrm, cid FROM (
        |  SELECT n.vec_id, n.v, n.nrm, c.cid,
        |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |      floor((list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cn) + 1e-9) * 1e4 + 0.5) / 1e4 DESC,
        |      c.cid ASC) AS crn
        |  FROM n CROSS JOIN c) WHERE crn = 1),
        |ed AS (SELECT a.vec_id AS doc1, b.vec_id AS doc2
        | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        | WHERE floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |    / (a.nrm * b.nrm) + 1e-9) * 1e4 + 0.5) / 1e4 >= 0.3),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM ed
        |  UNION ALL SELECT doc2, doc1 FROM ed),
        |comp AS (SELECT vec_id AS doc_id, vec_id AS lab FROM embeddings
        |  UNION
        |  SELECT e.b AS doc_id, c.lab FROM comp c JOIN edges e ON e.a = c.doc_id)
        |SELECT doc_id, min(lab) AS canonical_id,
        | CAST(doc_id != min(lab) AS INT) AS is_dup
        |FROM comp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("dedup_semdedup", (s, dir) => {
      // SemDeDup: k-means-partitioned semantic dedup with the
      // farthest-from-centroid keep policy (Clustering.semDedup) —
      // the whole composition (Lloyd, in-cluster pairs, components,
      // survivor window) replays below on the unrolled Lloyd CTE
      Clustering.semDedup(Tables.embeddings(s, dir), k = 8, threshold = 0.3)
        .orderBy("vec_id")
    }, Some(sqlSemDedup(SQL_LLOYD))),

    Q("dedup_semdedup_auto", (s, dir) => {
      // the PRODUCTION SemDeDup path: k <= 0 derives the cell count
      // via Similarity.autoCells (balanced ceil(√n) — assignment and
      // Σ|cell|² both n^1.5), so the knob users run at scale is the
      // knob the oracle hash-checks (r5 verdict #4 — the fixed-k gate
      // alone left the self-scaling path unverified)
      Clustering.semDedup(Tables.embeddings(s, dir), k = 0, threshold = 0.3)
        .orderBy("vec_id")
    }, Some(sqlSemDedup(sqlLloyd(SQL_AUTOCELLS, Some(s"8 * $SQL_AUTOCELLS"))))),

    Q("q26_conversion_rate", (s, dir) => {
      // daily conversion funnel: of the users whose first view fell on
      // day d, how many clicked / purchased within 24 h of that view —
      // the cohort-level readout of q22's per-user frame. All counts
      // exact integers; the ratios are single divisions of those
      // integers (engine-exact), rounded with the shared IEEE formula.
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("ts div 1000000000").as("tsec"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tsec").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("tsec") > col("t_view") && col("tsec") <= col("t_view") + 86400)
        .select("user_id").distinct()
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("tsec") > col("t_view") && col("tsec") <= col("t_view") + 86400)
        .select("user_id").distinct()
      v.withColumn("day", expr("t_view div 86400") * 86400)
        .join(c.withColumn("clicked", lit(1)), Seq("user_id"), "left")
        .join(p.withColumn("purchased", lit(1)), Seq("user_id"), "left")
        .groupBy("day")
        .agg(count(lit(1)).as("n_viewers"),
          sum(coalesce(col("clicked"), lit(0))).cast("bigint").as("n_clickers"),
          sum(coalesce(col("purchased"), lit(0))).cast("bigint").as("n_purchasers"))
        .select(col("day"), col("n_viewers"), col("n_clickers"), col("n_purchasers"),
          r4(col("n_clickers").cast("double") / col("n_viewers")).as("click_rate"),
          r4(col("n_purchasers").cast("double") / col("n_viewers")).as("purchase_rate"))
        .orderBy("day")
    }, Some(
      """WITH ev AS (SELECT user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |v AS (SELECT user_id, min(tsec) AS t_view FROM ev
        | WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT DISTINCT e.user_id FROM ev e JOIN v USING (user_id)
        | WHERE e.event_type = 'click' AND e.tsec > v.t_view
        |  AND e.tsec <= v.t_view + 86400),
        |p AS (SELECT DISTINCT e.user_id FROM ev e JOIN v USING (user_id)
        | WHERE e.event_type = 'purchase' AND e.tsec > v.t_view
        |  AND e.tsec <= v.t_view + 86400),
        |f AS (SELECT v.user_id, v.t_view // 86400 * 86400 AS day,
        |  CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS clicked,
        |  CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS purchased
        | FROM v LEFT JOIN c ON v.user_id = c.user_id
        |  LEFT JOIN p ON v.user_id = p.user_id)
        |SELECT day, count(*) AS n_viewers,
        | CAST(sum(clicked) AS BIGINT) AS n_clickers,
        | CAST(sum(purchased) AS BIGINT) AS n_purchasers,
        | floor((CAST(sum(clicked) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS click_rate,
        | floor((CAST(sum(purchased) AS DOUBLE) / count(*) + 1e-9) * 1e4 + 0.5) / 1e4 AS purchase_rate
        |FROM f GROUP BY day ORDER BY day""".stripMargin)),

    Q("q22_funnel", (s, dir) => {
      // strict-order funnel: first view, first click after it, first
      // purchase after that — all within 24 h of the view. Three
      // min-aggregates (one per step, each keyed by user) beat a
      // 3-way event self-join: each aggregate is map-side
      // combinable and the per-user frame is 3 longs, not the event
      // history. LEFT joins keep drop-off visible per user.
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("ts div 1000000000").as("tsec"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tsec").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("tsec") > col("t_view") && col("tsec") <= col("t_view") + 86400)
        .groupBy("user_id").agg(min("tsec").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v.join(c, "user_id"), "user_id")
        .filter(col("tsec") > col("t_click") && col("tsec") <= col("t_view") + 86400)
        .groupBy("user_id").agg(min("tsec").as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .orderBy("user_id")
    }, Some(
      """WITH ev AS (SELECT user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |v AS (SELECT user_id, min(tsec) AS t_view FROM ev
        | WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.tsec) AS t_click FROM ev e JOIN v USING (user_id)
        | WHERE e.event_type = 'click' AND e.tsec > v.t_view
        |  AND e.tsec <= v.t_view + 86400 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.tsec) AS t_purchase
        | FROM ev e JOIN v USING (user_id) JOIN c USING (user_id)
        | WHERE e.event_type = 'purchase' AND e.tsec > c.t_click
        |  AND e.tsec <= v.t_view + 86400 GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    Q("q23_retention", (s, dir) => {
      // cohort retention: users cohorted by first signup day; a cell
      // (cohort_day, offset) counts distinct users active offset days
      // later. Two aggregates + one join — the cohort frame is one row
      // per user (broadcastable at any scale); the matrix is
      // |cohorts| × |offsets| regardless of event volume.
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("ts div 1000000000 div 86400").as("day"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(broadcast(cohort), "user_id")
        .withColumn("day_offset", col("day") - col("cohort_day"))
        .filter(col("day_offset") >= 0 && col("day_offset") <= 13)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_day", "day_offset")
    }, Some(
      """WITH ev AS (SELECT user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev
        | WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        | count(DISTINCT e.user_id) AS n_active
        |FROM ev e JOIN cohort c USING (user_id)
        |WHERE e.day - c.cohort_day BETWEEN 0 AND 13
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q24_pivot", (s, dir) => {
      // dynamic pivot via Spark's relational pivot operator. The value
      // list is explicit — at scale, pivot without values runs a
      // distinct-discovery job over the full table first; pinning the
      // list keeps it a single pass. Missing cells coalesce to 0 so
      // the frame is dense regardless of which statuses a year saw.
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("int").as("oyear"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sumDec(col("o_totalprice")).as("rev"), count(lit(1)).as("n"))
        .select(col("oyear"),
          coalesce(col("F_rev"), lit(0.0)).as("rev_f"),
          coalesce(col("F_n"), lit(0L)).as("n_f"),
          coalesce(col("O_rev"), lit(0.0)).as("rev_o"),
          coalesce(col("O_n"), lit(0L)).as("n_o"),
          coalesce(col("P_rev"), lit(0.0)).as("rev_p"),
          coalesce(col("P_n"), lit(0L)).as("n_p"))
        .orderBy("oyear")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS oyear,
        | coalesce(CAST(sum(CASE WHEN o_orderstatus = 'F'
        |   THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS rev_f,
        | CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        | coalesce(CAST(sum(CASE WHEN o_orderstatus = 'O'
        |   THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS rev_o,
        | CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        | coalesce(CAST(sum(CASE WHEN o_orderstatus = 'P'
        |   THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS rev_p,
        | CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY oyear ORDER BY oyear""".stripMargin)),

    Q("q25_median_mode", (s, dir) => {
      // exact per-group median + deterministic mode. Median is the
      // exact interpolated percentile (both engines interpolate between
      // the same two order statistics of identical inputs — at 100 TB
      // swap for approx_percentile, the mergeable-sketch path, D8).
      // Mode recomputes deterministically: (type, user) counts, then
      // max-by with min-user tie-break — the heavy aggregate is
      // map-side combinable; the ranked window reads |types × users|
      // pre-aggregated rows, never raw events.
      val ev = Tables.events(s, dir)
      val med = ev.groupBy("event_type").agg(
        r4(expr("percentile(value, 0.5)")).as("med_value"),
        count(lit(1)).as("n_events"))
      val counts = ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .orderBy(col("n").desc, col("user_id").asc)
      val mode = counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("user_id").as("mode_user"),
          col("n").as("mode_n"))
      med.join(mode, "event_type").orderBy("event_type")
    }, Some(
      """WITH med AS (SELECT event_type,
        |  floor((quantile_cont(value, 0.5) + 1e-9) * 1e4 + 0.5) / 1e4 AS med_value,
        |  count(*) AS n_events
        | FROM events GROUP BY event_type),
        |cnt AS (SELECT event_type, user_id, count(*) AS n FROM events
        | GROUP BY event_type, user_id),
        |md AS (SELECT event_type, user_id AS mode_user, n AS mode_n,
        |  row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id)
        |    AS rk FROM cnt)
        |SELECT m.event_type, m.med_value, m.n_events, d.mode_user, d.mode_n
        |FROM med m JOIN md d ON m.event_type = d.event_type AND d.rk = 1
        |ORDER BY m.event_type""".stripMargin)),

    Q("ad_ensemble", (s, dir) =>
      Anomaly.ensemble(grid(s, dir)).orderBy("name", "node", "tsb"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb, gval,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2,
         |  quantile_cont(gval, 0.5) AS med,
         |  quantile_cont(gval, 0.25) AS q1, quantile_cont(gval, 0.75) AS q3
         | FROM qd GROUP BY 1, 2),
         |st AS (SELECT name, node, n, med, q1, q3, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st0),
         |wd AS (SELECT g.name, g.node, g.tsb, g.gval, g.d, st.n, st.med, st.q1,
         |  st.q3, st.mu_s, st.sigma_s, abs(g.gval - st.med) AS dev
         | FROM qd g JOIN st ON g.name = st.name AND g.node = st.node),
         |md AS (SELECT name, node, quantile_cont(dev, 0.5) AS mad_v
         | FROM wd GROUP BY 1, 2),
         |fl AS (SELECT wd.name, wd.node, wd.tsb, wd.gval,
         |  CASE WHEN wd.n >= 3 AND wd.sigma_s > 0 AND
         |    floor((abs((CAST(wd.d AS DOUBLE) - wd.mu_s) / wd.sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 2.5
         |   THEN 1 ELSE 0 END AS ks_flag,
         |  CASE WHEN md.mad_v > 0 AND
         |    floor((abs(0.6745 * (wd.gval - wd.med) / md.mad_v) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0
         |   THEN 1 ELSE 0 END AS mad_flag,
         |  CASE WHEN wd.gval < wd.q1 - 1.5 * (wd.q3 - wd.q1)
         |    OR wd.gval > wd.q3 + 1.5 * (wd.q3 - wd.q1) THEN 1 ELSE 0 END AS iqr_flag
         | FROM wd JOIN md ON wd.name = md.name AND wd.node = md.node)
         |SELECT name, node, tsb, floor((gval + 1e-9) * 1e4 + 0.5) / 1e4 AS gval,
         | ks_flag, mad_flag, iqr_flag, ks_flag + mad_flag + iqr_flag AS votes
         |FROM fl WHERE ks_flag + mad_flag + iqr_flag >= 1
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("ad_scoreboard", (s, dir) => {
      // the fleet-health triage page: per signal, robust-ensemble flag
      // counts, trend strength, forecast-band breaches, and the top
      // matrix-profile discord — four proven detectors joined on the
      // shared grid (persisted once; each leg is its audited plan)
      val gd = grid(s, dir).persist().tracked
      val sigs = gd.select("name", "node").distinct()
      val ens = Anomaly.ensemble(gd).groupBy("name", "node").agg(
        sum(when(col("votes") >= 1, 1L).otherwise(0L)).as("n_flags1"),
        sum(when(col("votes") >= 2, 1L).otherwise(0L)).as("n_flags2"))
      val ts = TimeSeries.trendStrength(gd)
        .select("name", "node", "trend_strength")
      val fc = TimeSeries.forecastInterval(gd)
        .select(col("name"), col("node"), col("n_breach"))
      val dc = Anomaly.discords(gd).groupBy("name", "node")
        .agg(max("dist2").as("top_discord"))
      sigs.join(ens, Seq("name", "node"), "left")
        .join(ts, Seq("name", "node"), "left")
        .join(fc, Seq("name", "node"), "left")
        .join(dc, Seq("name", "node"), "left")
        .select(col("name"), col("node"),
          coalesce(col("n_flags1"), lit(0L)).as("n_flags1"),
          coalesce(col("n_flags2"), lit(0L)).as("n_flags2"),
          coalesce(col("trend_strength"), lit(0.0)).as("trend_strength"),
          coalesce(col("n_breach"), lit(0L)).as("n_breach"),
          coalesce(col("top_discord"), lit(0.0)).as("top_discord"))
        .orderBy("name", "node")
    }, Some(
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb, gval,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st0 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2,
         |  quantile_cont(gval, 0.5) AS med,
         |  quantile_cont(gval, 0.25) AS q1, quantile_cont(gval, 0.75) AS q3
         | FROM qd GROUP BY 1, 2),
         |st AS (SELECT name, node, n, med, q1, q3, s1 / CAST(n AS DOUBLE) AS mu_s,
         |  sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1) /
         |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sigma_s
         | FROM st0),
         |wd AS (SELECT g.name, g.node, g.tsb, g.gval, g.d, st.n, st.med, st.q1,
         |  st.q3, st.mu_s, st.sigma_s, abs(g.gval - st.med) AS dev
         | FROM qd g JOIN st ON g.name = st.name AND g.node = st.node),
         |md AS (SELECT name, node, quantile_cont(dev, 0.5) AS mad_v
         | FROM wd GROUP BY 1, 2),
         |fl AS (SELECT wd.name, wd.node, wd.tsb, wd.gval,
         |  CASE WHEN wd.n >= 3 AND wd.sigma_s > 0 AND
         |    floor((abs((CAST(wd.d AS DOUBLE) - wd.mu_s) / wd.sigma_s) + 1e-9) * 1e4 + 0.5) / 1e4 >= 2.5
         |   THEN 1 ELSE 0 END AS ks_flag,
         |  CASE WHEN md.mad_v > 0 AND
         |    floor((abs(0.6745 * (wd.gval - wd.med) / md.mad_v) + 1e-9) * 1e4 + 0.5) / 1e4 >= 3.0
         |   THEN 1 ELSE 0 END AS mad_flag,
         |  CASE WHEN wd.gval < wd.q1 - 1.5 * (wd.q3 - wd.q1)
         |    OR wd.gval > wd.q3 + 1.5 * (wd.q3 - wd.q1) THEN 1 ELSE 0 END AS iqr_flag
         | FROM wd JOIN md ON wd.name = md.name AND wd.node = md.node),
         |eg AS (SELECT name, node,
         |  CAST(sum(CASE WHEN ks_flag + mad_flag + iqr_flag >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flags1,
         |  CAST(sum(CASE WHEN ks_flag + mad_flag + iqr_flag >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flags2
         | FROM fl GROUP BY 1, 2),
         |t9 AS (SELECT name, node, tsb, gval,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend
         | FROM grid),
         |mx9 AS (SELECT *, CASE WHEN (max(abs(gval)) OVER (PARTITION BY name, node)) > 0
         |  THEN max(abs(gval)) OVER (PARTITION BY name, node) ELSE 1.0 END AS mm FROM t9),
         |q9 AS (SELECT name, node,
         |  CAST(floor((gval / mm) * 1e9 + 0.5) AS HUGEINT) AS qg,
         |  CAST(floor(((gval - trend) / mm) * 1e9 + 0.5) AS HUGEINT) AS qr
         | FROM mx9),
         |m9 AS (SELECT name, node, count(*) AS n,
         |  CAST(sum(qg) AS DOUBLE) AS sg, CAST(sum(qg * qg) AS DOUBLE) AS sgg,
         |  CAST(sum(qr) AS DOUBLE) AS sr, CAST(sum(qr * qr) AS DOUBLE) AS srr
         | FROM q9 GROUP BY 1, 2),
         |v9 AS (SELECT *, CAST(n AS DOUBLE) * sgg - sg * sg AS vg,
         |  CAST(n AS DOUBLE) * srr - sr * sr AS vr FROM m9),
         |tsl AS (SELECT name, node,
         |  floor((greatest(0.0, 1.0 - vr / vg) + 1e-9) * 1e4 + 0.5) / 1e4 AS trend_strength
         | FROM v9 WHERE n >= 3 AND vg > 0),
         |iv AS (SELECT name, node, gval,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS i FROM grid),
         |nn AS (SELECT name, node, count(*) AS n FROM iv GROUP BY 1, 2 HAVING count(*) >= 3),
         |step AS (
         |  SELECT a.name, a.node, CAST(2 AS BIGINT) AS i, a.gval AS l,
         |    b.gval - a.gval AS bt, CAST(NULL AS DOUBLE) AS resid
         |  FROM iv a JOIN iv b ON a.name = b.name AND a.node = b.node
         |   AND a.i = 1 AND b.i = 2
         |  JOIN nn ON nn.name = a.name AND nn.node = a.node
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    0.3 * v.gval + (1 - 0.3) * (s.l + s.bt),
         |    0.2 * ((0.3 * v.gval + (1 - 0.3) * (s.l + s.bt)) - s.l) + (1 - 0.2) * s.bt,
         |    v.gval - (s.l + s.bt)
         |  FROM step s JOIN iv v ON v.name = s.name AND v.node = s.node
         |   AND v.i = s.i + 1),
         |rs AS (SELECT name, node, i,
         |  CAST(floor((abs(resid) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS qr
         | FROM step WHERE resid IS NOT NULL),
         |nf AS (SELECT name, node, count(*) AS nf FROM rs GROUP BY 1, 2),
         |rr AS (SELECT name, node, qr,
         |  row_number() OVER (PARTITION BY name, node ORDER BY qr, i) AS rk FROM rs),
         |qb AS (SELECT rr.name, rr.node, rr.qr AS qb
         | FROM rr JOIN nf ON nf.name = rr.name AND nf.node = rr.node
         | WHERE rr.rk = CAST(ceil(0.9 * nf.nf) AS BIGINT)),
         |fcl AS (SELECT rs.name, rs.node,
         |  CAST(sum(CASE WHEN rs.qr > 2 * qb.qb THEN 1 ELSE 0 END) AS BIGINT) AS n_breach
         | FROM rs JOIN qb ON qb.name = rs.name AND qb.node = rs.node
         | GROUP BY 1, 2),
         |qp AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1 AS i
         | FROM grid),
         |cn AS (SELECT name, node, count(*) AS n FROM qp GROUP BY 1, 2),
         |sub AS (SELECT name, node, i, tsb,
         |  list(q) OVER (PARTITION BY name, node ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS v
         | FROM qp),
         |ss AS (SELECT sub.name, sub.node, sub.i, sub.tsb, v
         | FROM sub JOIN cn USING (name, node)
         | WHERE sub.i <= n - 8 AND n >= 16),
         |pp AS (SELECT a.name, a.node, a.i,
         |  min(list_sum(list_transform(range(1, 9),
         |    t -> (a.v[t] - b.v[t]) * (a.v[t] - b.v[t])))) AS prof
         | FROM ss a JOIN ss b ON a.name = b.name AND a.node = b.node
         |   AND abs(a.i - b.i) >= 8
         | GROUP BY 1, 2, 3),
         |dcl AS (SELECT name, node,
         |  floor((CAST(max(prof) AS DOUBLE) / 1e12 + 1e-9) * 1e4 + 0.5) / 1e4 AS top_discord
         | FROM pp GROUP BY 1, 2),
         |sg AS (SELECT DISTINCT name, node FROM grid)
         |SELECT sg.name, sg.node,
         | COALESCE(eg.n_flags1, 0) AS n_flags1,
         | COALESCE(eg.n_flags2, 0) AS n_flags2,
         | COALESCE(tsl.trend_strength, 0.0) AS trend_strength,
         | COALESCE(fcl.n_breach, 0) AS n_breach,
         | COALESCE(dcl.top_discord, 0.0) AS top_discord
         |FROM sg
         | LEFT JOIN eg ON eg.name = sg.name AND eg.node = sg.node
         | LEFT JOIN tsl ON tsl.name = sg.name AND tsl.node = sg.node
         | LEFT JOIN fcl ON fcl.name = sg.name AND fcl.node = sg.node
         | LEFT JOIN dcl ON dcl.name = sg.name AND dcl.node = sg.node
         |ORDER BY sg.name, sg.node""".stripMargin)),

    Q("ad_forecast_interval", (s, dir) =>
      TimeSeries.forecastInterval(grid(s, dir)).orderBy("name", "node"),
    Some(
      // the Holt fold replays as the backtest's recursive CTE, now
      // carrying the per-step pre-update residual; the band is exact
      // integer rank arithmetic over the quantized |residual|
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |iv AS (SELECT name, node, gval,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS i FROM grid),
         |nn AS (SELECT name, node, count(*) AS n FROM iv GROUP BY 1, 2 HAVING count(*) >= 3),
         |step AS (
         |  SELECT a.name, a.node, CAST(2 AS BIGINT) AS i, a.gval AS l,
         |    b.gval - a.gval AS bt, CAST(NULL AS DOUBLE) AS resid
         |  FROM iv a JOIN iv b ON a.name = b.name AND a.node = b.node
         |   AND a.i = 1 AND b.i = 2
         |  JOIN nn ON nn.name = a.name AND nn.node = a.node
         |  UNION ALL
         |  SELECT s.name, s.node, s.i + 1,
         |    0.3 * v.gval + (1 - 0.3) * (s.l + s.bt),
         |    0.2 * ((0.3 * v.gval + (1 - 0.3) * (s.l + s.bt)) - s.l) + (1 - 0.2) * s.bt,
         |    v.gval - (s.l + s.bt)
         |  FROM step s JOIN iv v ON v.name = s.name AND v.node = s.node
         |   AND v.i = s.i + 1),
         |rs AS (SELECT name, node, i,
         |  CAST(floor((abs(resid) + 1e-9) * 1e6 + 0.5) AS BIGINT) AS qr
         | FROM step WHERE resid IS NOT NULL),
         |nf AS (SELECT name, node, count(*) AS nf FROM rs GROUP BY 1, 2),
         |rr AS (SELECT name, node, qr,
         |  row_number() OVER (PARTITION BY name, node ORDER BY qr, i) AS rk FROM rs),
         |qb AS (SELECT rr.name, rr.node, rr.qr AS qb
         | FROM rr JOIN nf ON nf.name = rr.name AND nf.node = rr.node
         | WHERE rr.rk = CAST(ceil(0.9 * nf.nf) AS BIGINT)),
         |fin AS (SELECT s.name, s.node, s.l, s.bt FROM step s
         | JOIN (SELECT name, node, max(i) AS mi FROM step GROUP BY 1, 2) mx
         |  ON s.name = mx.name AND s.node = mx.node AND s.i = mx.mi),
         |br AS (SELECT rs.name, rs.node,
         |  CAST(sum(CASE WHEN rs.qr > 2 * qb.qb THEN 1 ELSE 0 END) AS BIGINT) AS n_breach
         | FROM rs JOIN qb ON qb.name = rs.name AND qb.node = rs.node
         | GROUP BY 1, 2)
         |SELECT f.name, f.node, nf.nf AS n_fc,
         | floor((f.l + f.bt + 1e-9) * 1e4 + 0.5) / 1e4 AS fc1,
         | floor((CAST(qb.qb AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS band_q90,
         | floor(((f.l + f.bt) - 2.0 * (CAST(qb.qb AS DOUBLE) / 1e6) + 1e-9) * 1e4 + 0.5) / 1e4 AS lo,
         | floor(((f.l + f.bt) + 2.0 * (CAST(qb.qb AS DOUBLE) / 1e6) + 1e-9) * 1e4 + 0.5) / 1e4 AS hi,
         | br.n_breach
         |FROM fin f
         | JOIN nf ON nf.name = f.name AND nf.node = f.node
         | JOIN qb ON qb.name = f.name AND qb.node = f.node
         | JOIN br ON br.name = f.name AND br.node = f.node
         |ORDER BY f.name, f.node""".stripMargin)),

    Q("ad_mahalanobis", (s, dir) =>
      // cross-metric anomaly: top-50 (node, hour) cells by Mahalanobis
      // distance of the 5-metric z-vector (Anomaly.mahalanobis) — the
      // combination detector beside the per-metric k-sigma family
      Anomaly.mahalanobis(corrGrid(s, dir),
        Seq("click", "error", "purchase", "signup", "view"), topN = 50),
    Some(sqlMahalanobis(
      Seq("click", "error", "purchase", "signup", "view"), 50))),

    Q("ad_discord", (s, dir) =>
      // matrix-profile discords: per signal, top-3 subsequences
      // farthest from their nearest non-overlapping neighbor — exact
      // integer distances, so the oracle replays the profile verbatim
      Anomaly.discords(grid(s, dir), w = 8, k = 3)
        .orderBy("name", "node", "i"),
    Some(
      s"""$WITH_GRID,
         |qp AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1 AS i
         | FROM grid),
         |cn AS (SELECT name, node, count(*) AS n FROM qp GROUP BY 1, 2),
         |sub AS (SELECT name, node, i, tsb,
         |  list(q) OVER (PARTITION BY name, node ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS v
         | FROM qp),
         |ss AS (SELECT sub.name, sub.node, sub.i, sub.tsb, v
         | FROM sub JOIN cn USING (name, node)
         | WHERE sub.i <= n - 8 AND n >= 16),
         |pp AS (SELECT a.name, a.node, a.i, a.tsb,
         |  min(list_sum(list_transform(range(1, 9),
         |    t -> (a.v[t] - b.v[t]) * (a.v[t] - b.v[t])))) AS prof
         | FROM ss a JOIN ss b ON a.name = b.name AND a.node = b.node
         |   AND abs(a.i - b.i) >= 8
         | GROUP BY 1, 2, 3, 4),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY name, node
         |  ORDER BY prof DESC, i ASC) AS rn FROM pp)
         |SELECT name, node, i, tsb AS tsb_start, CAST(prof AS BIGINT) AS dist2q,
         | floor((CAST(prof AS DOUBLE) / 1e12 + 1e-9) * 1e4 + 0.5) / 1e4 AS dist2
         |FROM rk WHERE rn <= 3 ORDER BY name, node, i""".stripMargin)),

    Q("ts_sax", (s, dir) =>
      TimeSeries.sax(grid(s, dir), w = 4).orderBy("name", "node", "win"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st AS (SELECT name, node, tsb, d,
         |  CAST(count(*) OVER w AS DOUBLE) AS nd,
         |  CAST(sum(d) OVER w AS DOUBLE) AS s1,
         |  CAST(sum(d * d) OVER w AS DOUBLE) AS s2
         | FROM qd WINDOW w AS (PARTITION BY name, node)),
         |zz AS (SELECT name, node, tsb,
         |  CAST(floor(((CAST(d AS DOUBLE) - s1 / nd)
         |    / sqrt((nd * s2 - s1 * s1) / (nd * (nd - 1.0))) + 1e-9) * 1e4 + 0.5)
         |    AS BIGINT) AS zq
         | FROM st WHERE (nd * s2 - s1 * s1) > 0),
         |wn AS (SELECT name, node, tsb, zq,
         |  (row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1) // 4 AS win
         | FROM zz),
         |ag AS (SELECT name, node, win, count(*) AS n_pts, min(tsb) AS tsb_start,
         |  CAST(sum(zq) AS BIGINT) AS sq
         | FROM wn GROUP BY 1, 2, 3)
         |SELECT name, node, win, tsb_start, n_pts,
         | floor((CAST(sq AS DOUBLE) / (n_pts * 1e4) + 1e-9) * 1e4 + 0.5) / 1e4 AS paa,
         | CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
         |   WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS sym
         |FROM ag ORDER BY name, node, win""".stripMargin)),

    Q("ts_motif_sax", (s, dir) =>
      TimeSeries.motifSax(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |qd AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS d FROM mx),
         |st AS (SELECT name, node, tsb, d,
         |  CAST(count(*) OVER w AS DOUBLE) AS nd,
         |  CAST(sum(d) OVER w AS DOUBLE) AS s1,
         |  CAST(sum(d * d) OVER w AS DOUBLE) AS s2
         | FROM qd WINDOW w AS (PARTITION BY name, node)),
         |zz AS (SELECT name, node, tsb,
         |  CAST(floor(((CAST(d AS DOUBLE) - s1 / nd)
         |    / sqrt((nd * s2 - s1 * s1) / (nd * (nd - 1.0))) + 1e-9) * 1e4 + 0.5)
         |    AS BIGINT) AS zq
         | FROM st WHERE (nd * s2 - s1 * s1) > 0),
         |wn AS (SELECT name, node, tsb, zq,
         |  (row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1) // 4 AS win
         | FROM zz),
         |ag AS (SELECT name, node, win, count(*) AS n_pts,
         |  CAST(sum(zq) AS BIGINT) AS sq
         | FROM wn GROUP BY 1, 2, 3),
         |sx2 AS (SELECT name, node, win,
         |  CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
         |    WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS sym
         | FROM (SELECT name, node, win,
         |    floor((CAST(sq AS DOUBLE) / (n_pts * 1e4) + 1e-9) * 1e4 + 0.5) / 1e4 AS paa
         |   FROM ag)),
         |wd0 AS (SELECT name, node, win,
         |  sym || lead(sym, 1) OVER o || lead(sym, 2) OVER o || lead(sym, 3) OVER o AS wd
         | FROM sx2 WINDOW o AS (PARTITION BY name, node ORDER BY win)),
         |wd1 AS (SELECT name, node, wd FROM wd0 WHERE wd IS NOT NULL),
         |wdn AS (SELECT name, node, count(*) AS n_words FROM wd1 GROUP BY 1, 2),
         |wc AS (SELECT name, node, wd, count(*) AS n_occur FROM wd1 GROUP BY 1, 2, 3),
         |tp AS (SELECT name, node, wd, n_occur,
         |  row_number() OVER (PARTITION BY name, node ORDER BY n_occur DESC, wd ASC) AS rn
         | FROM wc)
         |SELECT t.name, t.node, t.wd AS motif, t.n_occur, w.n_words,
         | floor((CAST(t.n_occur AS DOUBLE) / CAST(w.n_words AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS support
         |FROM tp t JOIN wdn w ON t.name = w.name AND t.node = w.node
         |WHERE t.rn = 1 ORDER BY t.name, t.node""".stripMargin)),

    Q("ad_level_shift", (s, dir) =>
      Anomaly.levelShift(grid(s, dir)).orderBy("name", "node", "tsb"),
    Some(
      s"""$WITH_GRID,
         |mxl AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |ql AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mxl),
         |gm AS (SELECT name, node,
         |  list_sort(list(qv))[CAST((count(*) + 1) // 2 AS INT)] AS gmed
         | FROM ql GROUP BY 1, 2),
         |mdd AS (SELECT q.name, q.node,
         |  list_sort(list(abs(q.qv - g.gmed)))[CAST((count(*) + 1) // 2 AS INT)] AS gmad
         | FROM ql q JOIN gm g ON q.name = g.name AND q.node = g.node
         | GROUP BY q.name, q.node),
         |wl AS (SELECT name, node, tsb,
         |  median(qv) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS med_b,
         |  count(qv) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS cnt_b,
         |  median(qv) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS med_a,
         |  count(qv) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt_a
         | FROM ql),
         |sc AS (SELECT f.name, f.node, f.tsb,
         |  floor((abs(f.med_a - f.med_b) / (1.4826e0 * CAST(m.gmad AS DOUBLE))
         |    + 1e-9) * 1e4 + 0.5) / 1e4 AS score,
         |  floor((f.med_b / 1e9 + 1e-9) * 1e4 + 0.5) / 1e4 AS level_before,
         |  floor((f.med_a / 1e9 + 1e-9) * 1e4 + 0.5) / 1e4 AS level_after
         | FROM wl f JOIN mdd m ON f.name = m.name AND f.node = m.node
         | WHERE f.cnt_b = 5 AND f.cnt_a = 5 AND m.gmad > 0)
         |SELECT name, node, tsb, score, level_before, level_after
         |FROM sc WHERE score >= 4.4478e0 ORDER BY name, node, tsb""".stripMargin)),

    Q("q37_active_users", (s, dir) => {
      // DAU/WAU/MAU + stickiness: each (user, day) supports the
      // trailing windows of the next 6/29 target days (explode-to-
      // target, clipped at the data horizon) — the count-distinct is
      // then one keyed aggregate per granularity; trailing windows at
      // the data's leading edge are partial by declared contract. The
      // bounds row is a broadcast scalar.
      val ud = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
        .distinct().persist().tracked
      val bounds = broadcast(ud.agg(max("day").as("dmax")))
      def trailing(span: Int, name: String) = ud.crossJoin(bounds)
        .select(explode(sequence(col("day"),
          least(col("day") + lit(span.toLong), col("dmax")))).as("d"),
          col("user_id"))
        .groupBy("d").agg(countDistinct("user_id").as(name))
      val dau = ud.groupBy(col("day").as("d"))
        .agg(countDistinct("user_id").as("dau"))
      dau.join(trailing(6, "wau"), "d").join(trailing(29, "mau"), "d")
        .select(col("d").as("day"), col("dau"), col("wau"), col("mau"),
          r4(col("dau").cast("double") / col("mau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    }, Some(
      """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |bb AS (SELECT max(day) AS dmax FROM ud),
        |wa AS (SELECT dd.d, count(DISTINCT u.user_id) AS wau
        | FROM ud u, bb, LATERAL (SELECT unnest(range(u.day, least(u.day + 6, bb.dmax) + 1)) AS d) dd
        | GROUP BY 1),
        |ma AS (SELECT dd.d, count(DISTINCT u.user_id) AS mau
        | FROM ud u, bb, LATERAL (SELECT unnest(range(u.day, least(u.day + 29, bb.dmax) + 1)) AS d) dd
        | GROUP BY 1),
        |da AS (SELECT day AS d, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
        |SELECT da.d AS day, dau, wau, mau,
        | floor((CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS stickiness
        |FROM da JOIN wa ON wa.d = da.d JOIN ma ON ma.d = da.d
        |ORDER BY day""".stripMargin)),

    Q("q38_time_to_convert", (s, dir) => {
      // conversion latency funnel: per signup-day cohort, how many
      // users signed up, how many later purchased, and the exact
      // p50/p90 of the signup→first-purchase latency. The per-user
      // frame (first signup, first qualifying purchase) is one row per
      // user — broadcastable at any scale; percentiles are exact
      // integer rank picks (rank = ceil(q·n), latency ties broken by
      // user_id), so no approximate-percentile sketch and no doubles
      // until the one conversion-rate division.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), expr("ts div 1000000000").as("tsec"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("tsec").as("s_sec"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsec").as("p_sec"))
      val conv = su.join(pu, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("s_sec"))
        .agg(min(when(col("p_sec") >= col("s_sec"), col("p_sec"))).as("c_sec"))
        .withColumn("cohort_day", expr("s_sec div 86400"))
        .persist().tracked
      val agg = conv.groupBy("cohort_day").agg(
        count(lit(1)).as("n_signups"),
        count(col("c_sec")).as("n_converted"))
      val wl = Window.partitionBy("cohort_day").orderBy("lat", "user_id")
      val lats = conv.filter(col("c_sec").isNotNull)
        .withColumn("lat", col("c_sec") - col("s_sec"))
        .withColumn("rk", row_number().over(wl))
        .withColumn("nc", count(lit(1)).over(Window.partitionBy("cohort_day")))
      val p50 = lats.filter(col("rk") === expr("(nc + 1) div 2"))
        .select(col("cohort_day"), col("lat").as("p50_sec"))
      val p90 = lats.filter(col("rk") === expr("(nc * 9 + 9) div 10"))
        .select(col("cohort_day"), col("lat").as("p90_sec"))
      agg.join(p50, Seq("cohort_day"), "left")
        .join(p90, Seq("cohort_day"), "left")
        .select(col("cohort_day"), col("n_signups"), col("n_converted"),
          r4(col("n_converted").cast("double") / col("n_signups").cast("double"))
            .as("cvr"),
          col("p50_sec"), col("p90_sec"))
        .orderBy("cohort_day")
    }, Some(
      """WITH sg AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS s_sec
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pr AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_sec
        |  FROM events WHERE event_type = 'purchase'),
        |cv AS (SELECT s.user_id, s.s_sec,
        |  min(CASE WHEN p.p_sec >= s.s_sec THEN p.p_sec END) AS c_sec
        | FROM sg s LEFT JOIN pr p ON p.user_id = s.user_id
        | GROUP BY 1, 2),
        |cd AS (SELECT *, s_sec // 86400 AS cohort_day FROM cv),
        |ag AS (SELECT cohort_day, count(*) AS n_signups, count(c_sec) AS n_converted
        | FROM cd GROUP BY 1),
        |lt AS (SELECT cohort_day, user_id, c_sec - s_sec AS lat FROM cd
        | WHERE c_sec IS NOT NULL),
        |rk AS (SELECT cohort_day, lat,
        |  row_number() OVER (PARTITION BY cohort_day ORDER BY lat, user_id) AS rk,
        |  count(*) OVER (PARTITION BY cohort_day) AS nc
        | FROM lt),
        |p50 AS (SELECT cohort_day, lat AS p50_sec FROM rk WHERE rk = (nc + 1) // 2),
        |p90 AS (SELECT cohort_day, lat AS p90_sec FROM rk WHERE rk = (nc * 9 + 9) // 10)
        |SELECT a.cohort_day, n_signups, n_converted,
        | floor((CAST(n_converted AS DOUBLE) / CAST(n_signups AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS cvr,
        | p50_sec, p90_sec
        |FROM ag a LEFT JOIN p50 ON p50.cohort_day = a.cohort_day
        | LEFT JOIN p90 ON p90.cohort_day = a.cohort_day
        |ORDER BY a.cohort_day""".stripMargin)),

    Q("q39_market_share", (s, dir) => {
      // TPC-H Q8-shaped market share: for PROMO parts sold to ASIA
      // customers, each supplier nation's share of yearly revenue.
      // Only the key-handful dims (nation, region) are forced
      // broadcasts; lineitem⋈orders⋈customer are keyed shuffles AQE
      // can re-plan (the Q8 join tree a 100 TB fact table needs).
      // Revenue is the exact decimal product-sum; the one division
      // (share) happens on the final |years|×|nations| frame.
      val nat = Tables.nation(s, dir)
      val custAsia = Tables.customer(s, dir)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNat = Tables.supplier(s, dir)
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val promo = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val rev = Tables.lineitem(s, dir)
        .join(promo, col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("supp_nation"),
          (dec(col("l_extendedprice")) *
            (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
            .as("rev_d"))
      val byNat = rev.groupBy("o_year", "supp_nation")
        .agg(sum(col("rev_d")).as("nat_d"))
      byNat
        .withColumn("tot_d", sum(col("nat_d")).over(Window.partitionBy("o_year")))
        .select(col("o_year"), col("supp_nation"),
          col("nat_d").cast("double").as("revenue"),
          r4(col("nat_d").cast("double") / col("tot_d").cast("double")).as("share"))
        .orderBy("o_year", "supp_nation")
    }, Some(
      """WITH ca AS (SELECT c_custkey FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'ASIA'),
        |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
        |rv AS (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, sn.supp_nation,
        |  CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))) AS rev_d
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        | JOIN orders o ON l.l_orderkey = o.o_orderkey
        | JOIN ca ON o.o_custkey = ca.c_custkey
        | JOIN sn ON l.l_suppkey = sn.s_suppkey),
        |agm AS (SELECT o_year, supp_nation, sum(rev_d) AS nat_d FROM rv GROUP BY 1, 2),
        |wtm AS (SELECT *, sum(nat_d) OVER (PARTITION BY o_year) AS tot_d FROM agm)
        |SELECT o_year, supp_nation, CAST(nat_d AS DOUBLE) AS revenue,
        | floor((CAST(nat_d AS DOUBLE) / CAST(tot_d AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS share
        |FROM wtm ORDER BY o_year, supp_nation""".stripMargin)),

    Q("q42_late_shipments", (s, dir) => {
      // TPC-H Q4-shaped exists-check: per order priority, the share of
      // orders with ANY lineitem shipped > 60 days after the order
      // date — a LEFT SEMI join keyed on orderkey (no fact-fact row
      // blowup), then one tiny priority aggregate.
      val ord = Tables.orders(s, dir)
      val late = Tables.lineitem(s, dir)
        .join(ord.select(col("o_orderkey").as("ok2"), col("o_orderdate").as("od2")),
          col("l_orderkey") === col("ok2"))
        .filter(unix_date(col("l_shipdate").cast("date")) -
          unix_date(col("od2").cast("date")) > 60)
        .select(col("l_orderkey")).distinct()
      ord.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_late"))
        .join(ord.groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders")),
          Seq("o_orderpriority"), "right")
        .select(col("o_orderpriority"),
          coalesce(col("n_late"), lit(0L)).as("n_late"), col("n_orders"),
          r4(coalesce(col("n_late"), lit(0L)).cast("double") /
            col("n_orders").cast("double")).as("late_share"))
        .orderBy("o_orderpriority")
    }, Some(
      """WITH lt AS (SELECT DISTINCT l_orderkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60),
        |no AS (SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY 1),
        |nl AS (SELECT o_orderpriority, count(*) AS n_late
        | FROM orders JOIN lt ON o_orderkey = l_orderkey GROUP BY 1)
        |SELECT no.o_orderpriority, coalesce(n_late, 0) AS n_late, n_orders,
        | floor((CAST(coalesce(n_late, 0) AS DOUBLE) / CAST(n_orders AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS late_share
        |FROM no LEFT JOIN nl ON nl.o_orderpriority = no.o_orderpriority
        |ORDER BY no.o_orderpriority""".stripMargin)),

    Q("q41_returned_revenue", (s, dir) => {
      // TPC-H Q10-shaped returned-item report: the top-20 customers by
      // revenue lost to returns, with their nation — keyed fact joins
      // (AQE-replannable), broadcast nation, exact decimal loss sums;
      // the top-k ranks the EXACT decimal (engines order decimals
      // identically) with custkey tiebreak.
      val lost = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) *
            (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
          .as("lost_d"),
          count(lit(1)).as("n_items"))
      // distributed TakeOrdered cuts to 20 rows BEFORE the unkeyed
      // rank window (which then runs on a bounded frame, not a
      // global single-partition sort)
      lost.orderBy(col("lost_d").desc, col("c_custkey")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("lost_d").desc, col("c_custkey"))))
        .select(col("rank").cast("long").as("rank"), col("c_custkey"),
          col("c_name"), col("n_name"),
          col("lost_d").cast("double").as("lost_revenue"), col("n_items"))
        .orderBy("rank")
    }, Some(
      """WITH rr AS (SELECT c_custkey, c_name, n_name,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS lost_d,
        |  count(*) AS n_items
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | WHERE l_returnflag = 'R'
        | GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (ORDER BY lost_d DESC, c_custkey) AS rank FROM rr)
        |SELECT CAST(rank AS BIGINT) AS rank, c_custkey, c_name, n_name,
        | CAST(lost_d AS DOUBLE) AS lost_revenue, n_items
        |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    Q("q43_min_cost_supplier", (s, dir) => {
      // TPC-H Q2-shaped min-cost supplier: for each small PROMO part,
      // the supplier offering the lowest observed unit price
      // (extendedprice / quantity over lineitem — the offer book this
      // schema has in place of partsupp), ranked Q2-style by the
      // winning supplier's account balance. The correlated min-
      // subquery decorrelates to ONE hash aggregate
      // min(struct(unit, suppkey)) per part (argmin without a window
      // sort); every dim join is a broadcast; the distributed
      // TakeOrdered cuts to 100 rows before the bounded rank window.
      // Unit price rounds to 4 dp (identical IEEE divide on both
      // engines) so the argmin and its suppkey tiebreak are
      // deterministic.
      val parts = Tables.part(s, dir)
        .filter(col("p_type") === "PROMO" && col("p_size") <= 10)
      val best = Tables.lineitem(s, dir)
        .join(broadcast(parts.select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          r4(col("l_extendedprice") / col("l_quantity")).as("unit"))
        .groupBy("l_partkey")
        .agg(min(struct(col("unit"), col("l_suppkey"))).as("m"))
        .select(col("l_partkey"), col("m.unit").as("min_unit"),
          col("m.l_suppkey").as("best_supp"))
      val wr = Window.orderBy(col("s_acctbal").desc, col("s_name"),
        col("p_partkey"))
      best.join(broadcast(parts.select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("best_supp") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
        .limit(100)
        .withColumn("rank", row_number().over(wr).cast("long"))
        .select(col("rank"), col("p_partkey"), col("p_brand"),
          col("s_name"), col("n_name"), col("s_acctbal"), col("min_unit"))
        .orderBy("rank")
    }, Some(
      """WITH pp AS (SELECT p_partkey, p_brand FROM part
        |  WHERE p_type = 'PROMO' AND p_size <= 10),
        |ofr AS (SELECT l_partkey, l_suppkey,
        |  floor((l_extendedprice / l_quantity + 1e-9) * 1e4 + 0.5) / 1e4 AS unit
        | FROM lineitem JOIN pp ON l_partkey = p_partkey),
        |bu AS (SELECT l_partkey, unit AS min_unit, l_suppkey AS best_supp,
        |  row_number() OVER (PARTITION BY l_partkey ORDER BY unit, l_suppkey) AS rn
        | FROM ofr),
        |bj AS (SELECT l_partkey AS p_partkey, p_brand, s_name, n_name,
        |  s_acctbal, min_unit
        | FROM bu JOIN pp ON bu.l_partkey = pp.p_partkey
        |  JOIN supplier ON best_supp = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE rn = 1),
        |rk AS (SELECT *, row_number() OVER (ORDER BY s_acctbal DESC, s_name, p_partkey) AS rank
        | FROM bj)
        |SELECT CAST(rank AS BIGINT) AS rank, p_partkey, p_brand, s_name,
        | n_name, s_acctbal, min_unit
        |FROM rk WHERE rank <= 100 ORDER BY rank""".stripMargin)),

    Q("q44_important_stock", (s, dir) => {
      // TPC-H Q11-shaped important stock: parts whose revenue share of
      // the whole book exceeds 1.5× the mean part share. The classic
      // scalar subquery decorrelates to ONE broadcast totals row; the
      // threshold is a cross-multiplied compare (2·value·n_parts >
      // 3·total) on doubles cast from the SAME exact decimals on both
      // engines — identical inputs through an identical IEEE sequence,
      // so membership is deterministic without decimal-width games.
      val value = Tables.lineitem(s, dir).groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice")) *
          (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
          .as("value_d"))
      val tot = value.agg(sum("value_d").as("total_d"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(tot))
        .filter(col("value_d").cast("double") * col("n_parts") * lit(2) >
          col("total_d").cast("double") * lit(3))
        .select(col("l_partkey").as("p_partkey"),
          col("value_d").cast("double").as("part_value"),
          r4(col("value_d").cast("double") / col("total_d").cast("double") *
            lit(1e4)).as("share_bp"))
        .orderBy("p_partkey")
    }, Some(
      """WITH pv AS (SELECT l_partkey,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS value_d
        | FROM lineitem GROUP BY 1),
        |pt AS (SELECT sum(value_d) AS total_d, count(*) AS n_parts FROM pv)
        |SELECT l_partkey AS p_partkey, CAST(value_d AS DOUBLE) AS part_value,
        | floor((CAST(value_d AS DOUBLE) / CAST(total_d AS DOUBLE) * 1e4 + 1e-9) * 1e4 + 0.5) / 1e4 AS share_bp
        |FROM pv, pt
        |WHERE CAST(value_d AS DOUBLE) * n_parts * 2 > CAST(total_d AS DOUBLE) * 3
        |ORDER BY p_partkey""".stripMargin)),

    Q("q45_concurrent_sessions", (s, dir) => {
      // peak concurrency per day: sessionized intervals (q10's
      // 30-min-gap islands) clipped to day boundaries, then the
      // classic +1/−1 interval sweep. Deltas aggregate per second
      // BEFORE the cumulative sum (same-second joins and leaves
      // commute), and the leave fires at end+1 so a session ending at
      // T overlaps one starting at T. Everything is exact integers;
      // the first peak second comes from max(struct(level, −tsec)) —
      // one aggregate, no second pass. Day clipping fans a session
      // into ≤ 2 segments (sessions are minutes, days are not).
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"),
          col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val brk = when(col("tsec") - lag("tsec", 1).over(w) > 1800 ||
        lag("tsec", 1).over(w).isNull, 1).otherwise(0)
      val sess = ev.withColumn("brk", brk)
        .withColumn("sid", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("tsec").as("st"), max("tsec").as("en"))
      val seg = sess
        .select(explode(expr("sequence(st div 86400, en div 86400)")).as("day"),
          col("st"), col("en"))
        .select(col("day"),
          greatest(col("st"), col("day") * 86400).as("cst"),
          least(col("en"), col("day") * 86400 + 86399).as("cen"))
      val segP = seg.persist().tracked
      val deltas = segP.select(col("day"), col("cst").as("tsec"), lit(1L).as("d"))
        .unionAll(segP.select(col("day"), (col("cen") + 1).as("tsec"),
          lit(-1L).as("d")))
        .groupBy("day", "tsec").agg(sum("d").as("dd"))
      val wd = Window.partitionBy("day").orderBy("tsec")
      val lev = deltas.withColumn("lev", sum("dd").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val peaks = lev.groupBy("day").agg(
        max(struct(col("lev"), (-col("tsec")).as("nt"))).as("m"))
      peaks.join(
          segP.groupBy("day").agg(count(lit(1)).as("n_sessions")), Seq("day"))
        .select(col("day").cast("long").as("day"), col("n_sessions"),
          col("m.lev").cast("long").as("peak_concurrent"),
          (-col("m.nt")).cast("long").as("peak_tsec"))
        .orderBy("day")
    }, Some(
      """WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id FROM events),
        |b AS (SELECT user_id, tsec, event_id,
        |  CASE WHEN tsec - lag(tsec) OVER w > 1800 OR lag(tsec) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        |s2 AS (SELECT user_id, tsec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS sid
        | FROM b),
        |ss AS (SELECT user_id, sid, min(tsec) AS st, max(tsec) AS en
        | FROM s2 GROUP BY 1, 2),
        |seg AS (SELECT unnest(range(st // 86400, en // 86400 + 1)) AS day, st, en FROM ss),
        |sc AS (SELECT day, greatest(st, day * 86400) AS cst,
        |  least(en, day * 86400 + 86399) AS cen FROM seg),
        |dl AS (SELECT day, tsec, sum(d) AS dd FROM (
        |  SELECT day, cst AS tsec, 1 AS d FROM sc
        |  UNION ALL SELECT day, cen + 1, -1 FROM sc) GROUP BY 1, 2),
        |lv AS (SELECT day, tsec,
        |  sum(dd) OVER (PARTITION BY day ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS lev
        | FROM dl),
        |pk AS (SELECT day, max(lev) AS peak FROM lv GROUP BY 1),
        |pt AS (SELECT lv.day, min(tsec) AS peak_tsec
        | FROM lv JOIN pk ON lv.day = pk.day AND lv.lev = pk.peak GROUP BY 1),
        |ns AS (SELECT day, count(*) AS n_sessions FROM sc GROUP BY 1)
        |SELECT CAST(pk.day AS BIGINT) AS day, n_sessions,
        | CAST(peak AS BIGINT) AS peak_concurrent, peak_tsec
        |FROM pk JOIN pt ON pk.day = pt.day JOIN ns ON pk.day = ns.day
        |ORDER BY day""".stripMargin)),

    Q("q46_idle_customers", (s, dir) => {
      // TPC-H Q22-shaped lapsed-customer report: customers with an
      // above-average positive balance and NO order in the last 90
      // days of the book. Both scalar subqueries (mean balance, max
      // order date) decorrelate to ONE broadcast row; the NOT EXISTS
      // is a left-anti join against the distinct recent-buyer keys.
      // Per-segment counts + exact decimal balance totals.
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
        .select(col("o_custkey"), unix_date(col("o_orderdate").cast("date")).as("od"))
      val bounds = cust.filter(col("c_acctbal") > 0)
        .agg((sumDec(col("c_acctbal")) / count(lit(1))).as("abar"))
        .crossJoin(ord.agg(max("od").as("mx")))
      val recent = ord.crossJoin(broadcast(bounds))
        .filter(col("od") >= col("mx") - 90)
        .select("o_custkey").distinct()
      cust.crossJoin(broadcast(bounds))
        .filter(col("c_acctbal") > col("abar"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sumDec(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    }, Some(
      """WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS abar
        |  FROM customer WHERE c_acctbal > 0),
        |od AS (SELECT o_custkey, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS od FROM orders),
        |mx AS (SELECT max(od) AS mx FROM od),
        |rec AS (SELECT DISTINCT o_custkey FROM od, mx WHERE od >= mx - 90)
        |SELECT c_mktsegment, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer, ab
        |WHERE c_acctbal > abar
        | AND NOT EXISTS (SELECT 1 FROM rec WHERE rec.o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q47_promo_share", (s, dir) => {
      // TPC-H Q14-shaped promo revenue share per ship month: one keyed
      // fact⋈dim join (AQE-replannable — part is a real dim, not
      // broadcast-pinned), exact decimal conditional sums, ONE division
      // per month row. The conditional aggregate runs map-side; no
      // second pass for the denominator.
      val rev = dec(col("l_extendedprice")) *
        (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount")))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(
          coalesce(sum(when(col("p_type") === "PROMO", rev)),
            lit(0).cast(org.apache.spark.sql.types.DecimalType(25, 4))).as("promo_d"),
          sum(rev).as("total_d"))
        .select(col("ship_month"),
          col("promo_d").cast("double").as("promo_revenue"),
          col("total_d").cast("double").as("total_revenue"),
          r4(lit(100.0) * col("promo_d").cast("double") /
            col("total_d").cast("double")).as("promo_share_pct"))
        .orderBy("ship_month")
    }, Some(
      """WITH pj AS (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS rev,
        |  p_type
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pm AS (SELECT ship_month,
        |  coalesce(sum(CASE WHEN p_type = 'PROMO' THEN rev END), 0) AS promo_d,
        |  sum(rev) AS total_d
        | FROM pj GROUP BY 1)
        |SELECT ship_month, CAST(promo_d AS DOUBLE) AS promo_revenue,
        | CAST(total_d AS DOUBLE) AS total_revenue,
        | floor((100.0 * CAST(promo_d AS DOUBLE) / CAST(total_d AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS promo_share_pct
        |FROM pm ORDER BY ship_month""".stripMargin)),

    Q("q48_ship_delay", (s, dir) => {
      // order-to-ship latency distribution per order priority: exact
      // integer day deltas, and exact order statistics (lower median,
      // p90) from cumulative counts over the pre-aggregated
      // (priority, delay) frame — the fact⋈fact join is keyed on
      // orderkey (AQE-replannable), and the percentile machinery never
      // sees raw rows, only |priorities × distinct delays| cells (the
      // profile_skew convention). At 100 TB the heavy join shuffles
      // once; everything after is bounded.
      val d = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("delay"))
      // ONE aggregation computes n/min/max and BOTH percentiles from
      // the cum frame (conditional mins) — the three-branch version
      // re-ran the fact⋈fact join per branch (seen in the formatted
      // plan); here the join runs once and everything after it reads
      // the |priorities × distinct delays| cells
      val cells = d.groupBy("priority", "delay").agg(count(lit(1)).as("c"))
      val wcum = org.apache.spark.sql.expressions.Window
        .partitionBy("priority").orderBy("delay")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wtot = org.apache.spark.sql.expressions.Window.partitionBy("priority")
      cells
        .withColumn("cum", sum("c").over(wcum))
        .withColumn("n", sum("c").over(wtot))
        .groupBy("priority").agg(
          max("n").as("n"),
          min("delay").as("min_delay"),
          min(when(col("cum") >= ceil(col("n").cast("double") * lit(0.5)),
            col("delay"))).as("med_delay"),
          min(when(col("cum") >= ceil(col("n").cast("double") * lit(0.9)),
            col("delay"))).as("p90_delay"),
          max("delay").as("max_delay"))
        .orderBy("priority")
    }, Some(
      """WITH d AS (SELECT o_orderpriority AS priority,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS delay
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cells AS (SELECT priority, delay, count(*) AS c FROM d GROUP BY 1, 2),
        |agg AS (SELECT priority, CAST(sum(c) AS BIGINT) AS n,
        |  min(delay) AS min_delay, max(delay) AS max_delay FROM cells GROUP BY 1),
        |cum AS (SELECT priority, delay, sum(c) OVER (PARTITION BY priority
        |  ORDER BY delay ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM cells),
        |med AS (SELECT cum.priority, min(delay) AS med_delay FROM cum JOIN agg USING (priority)
        | WHERE cum >= ceil(CAST(n AS DOUBLE) * 0.5) GROUP BY 1),
        |p90 AS (SELECT cum.priority, min(delay) AS p90_delay FROM cum JOIN agg USING (priority)
        | WHERE cum >= ceil(CAST(n AS DOUBLE) * 0.9) GROUP BY 1)
        |SELECT agg.priority, n, min_delay, med_delay, p90_delay, max_delay
        |FROM agg JOIN med USING (priority) JOIN p90 USING (priority)
        |ORDER BY priority""".stripMargin)),

    Q("q49_cust_order_dist", (s, dir) => {
      // TPC-H Q13-shaped customer order-count distribution, including
      // the zero-order customers a plain join would drop: LEFT join
      // customer→orders, per-customer count, then the count of counts.
      // Both aggregates are map-side combinable; the second runs on
      // |customers| rows, the output on |distinct counts|. The join is
      // keyed (no broadcast — both sides are fact-sized at 100 TB) and
      // the left join preserves the empty group exactly.
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, Some(
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    Q("q50_top_supplier", (s, dir) => {
      // TPC-H Q15-shaped top supplier: revenue per supplier over one
      // quarter of shipments, then every supplier tied at the maximum.
      // Revenue stays DECIMAL end-to-end so the max and the equality
      // join are exact (no float-order noise); the max arrives as a
      // broadcast scalar row, not a second scan of the aggregate.
      val rev = dec(col("l_extendedprice")) *
        (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount")))
      val r = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey").agg(sum(rev).as("rev_d"))
      val mx = r.agg(max(col("rev_d")).as("mx"))
      r.join(broadcast(mx), col("rev_d") === col("mx"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_d").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }, Some(
      """WITH r AS (SELECT l_suppkey,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS rev_d
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_d = (SELECT max(rev_d) FROM r)
        |ORDER BY s_suppkey""".stripMargin)),

    Q("q51_bracket_revenue", (s, dir) => {
      // TPC-H Q19-shaped OR-bracket revenue: three (brand, size,
      // quantity) brackets evaluated in ONE pass — the bracket id is a
      // CASE over the joined row, so the fact scans once, the dim
      // broadcasts, and the OR disjunction prunes at the part side
      // (only three brands survive the dim filter). Exact decimal sums.
      val p = Tables.part(s, dir)
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size")
      val j = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .withColumn("bracket",
          when(col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11), lit(1))
          .when(col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20), lit(2))
          .when(col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30), lit(3)))
        .filter(col("bracket").isNotNull)
      val rev = dec(col("l_extendedprice")) *
        (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount")))
      j.groupBy("bracket").agg(count(lit(1)).as("n_items"),
          sum(rev).cast("double").as("revenue"))
        .orderBy("bracket")
    }, Some(
      """WITH p AS (SELECT p_partkey, p_brand, p_size FROM part
        |  WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')),
        |j AS (SELECT CASE
        |   WHEN p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11 THEN 1
        |   WHEN p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20 THEN 2
        |   WHEN p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30 THEN 3
        |  END AS bracket,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS rev
        | FROM lineitem JOIN p ON l_partkey = p_partkey)
        |SELECT bracket, count(*) AS n_items, CAST(sum(rev) AS DOUBLE) AS revenue
        |FROM j WHERE bracket IS NOT NULL GROUP BY bracket ORDER BY bracket""".stripMargin)),

    Q("q52_volume_shipping", (s, dir) => {
      // TPC-H Q7-shaped nation-pair trade flow: revenue shipped between
      // two nations (both directions) per ship year. Key-dims (nation,
      // supplier, customer) broadcast onto the two fact scans; the one
      // real shuffle is the lineitem⋈orders keyed join; exact decimal
      // sums; the output frame is |directions × years|.
      val rev = dec(col("l_extendedprice")) *
        (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount")))
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(count(lit(1)).as("n_items"), sum(rev).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, Some(
      """WITH f AS (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS rev
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        | WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |SELECT supp_nation, cust_nation, l_year, count(*) AS n_items,
        | CAST(sum(rev) AS DOUBLE) AS revenue
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    Q("q53_forecast_revenue", (s, dir) => {
      // TPC-H Q6-shaped what-if: revenue given up to discounts in a
      // narrow band on small-quantity items over one year — the
      // canonical full-pushdown query: every predicate (date range,
      // discount band, quantity cap) reaches the parquet scan, the
      // aggregate is one map-side decimal sum, NO shuffle beyond the
      // final single-row combine. Discount compares on exact CENTS
      // (×100 integers) so the band edges can't float.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .withColumn("disc_c", floor(col("l_discount") * 100 + lit(0.5)).cast("int"))
        .filter(col("disc_c").between(5, 7) && col("l_quantity") < 24)
      li.agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
            .cast("double").as("revenue_effect"))
    }, Some(
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue_effect
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(floor(l_discount * 100 + 0.5) AS INT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin)),

    Q("q54_large_orders", (s, dir) => {
      // TPC-H Q18-shaped large-volume orders: orders whose total
      // quantity exceeds the threshold, with customer attribution —
      // the per-order aggregate runs map-side-combined on the fact
      // alone; only qualifying orderkeys (a tiny set) join back to
      // orders/customer (both broadcastable key-dims at the gate;
      // keyed + AQE at scale); distributed TakeOrdered cuts to 20
      // before any window.
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sumDec(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      big.join(Tables.orders(s, dir)
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }, Some(
      """WITH big AS (SELECT l_orderkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem GROUP BY l_orderkey
        | HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin)),

    Q("q55_local_supplier", (s, dir) => {
      // TPC-H Q5-shaped local-supplier revenue: per nation in one
      // region+year, revenue where the CUSTOMER and the SUPPLIER share
      // the nation — the classic 6-table join tree. Key-dims
      // (nation/region/supplier/customer at the gate) broadcast onto
      // the facts; the same-nation constraint is an equi-condition
      // inside the join, never a post-filter on a wider product;
      // exact decimal revenue sums.
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(sum(dec(col("l_extendedprice")) *
            (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, Some(
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        | AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        | AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q56_supplier_parts", (s, dir) => {
      // TPC-H Q16-shaped supplier-per-part census: distinct suppliers
      // able to serve each (brand, type, size) cell, excluding one
      // brand, one type, an off-spec size set, and low-balance
      // suppliers (the complaints stand-in) — the excluded-supplier
      // set is a broadcast LEFT ANTI, the census one count-distinct
      // aggregate over the fact⋈part join.
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 1000)
        .select(col("s_suppkey").as("bad_k"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .join(broadcast(bad), col("l_suppkey") === col("bad_k"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy("p_brand", "p_type", "p_size")
    }, Some(
      """SELECT p_brand, p_type, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        | AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    Q("q57_small_qty_revenue", (s, dir) => {
      // TPC-H Q17-shaped small-quantity revenue: lineitems of one
      // brand whose quantity is under 20% of that part's average —
      // the correlated avg subquery decorrelated to ONE per-part
      // aggregate joined back; the threshold compares CROSS-MULTIPLIED
      // exact decimals (5·q·cnt < Σq), so no engine ever divides
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#23").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
      val avgq = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(dec(col("l_quantity"))).as("sumq"), count(lit(1)).as("cnt"))
      li.join(avgq, col("l_partkey") === col("pk"))
        .filter(dec(col("l_quantity")) * lit(5) * col("cnt") < col("sumq"))
        .agg(count(lit(1)).as("n_small"),
          r4(sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
            .as("avg_yearly"))
        .select(col("n_small"), col("avg_yearly"))
    }, Some(
      """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |ag AS (SELECT l_partkey AS pk,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS sumq, count(*) AS cnt
        | FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        | floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 + 1e-9) * 1e4 + 0.5) / 1e4 AS avg_yearly
        |FROM li JOIN ag ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sumq""".stripMargin)),

    Q("embed_cell_stats", (s, dir) =>
      // IVF cell-population telemetry (Similarity.cellStats): the
      // saltCap / autoCells dashboard — per-cell counts and corpus
      // share; the hot cell the mega-cell salting exists for is
      // visible here before it costs anything
      Similarity.cellStats(Tables.embeddings(s, dir), nCells = 8)
        .orderBy("cell"),
    Some(
      s"""WITH $SQL_ANN_BASE,
         |$SQL_ANN_IVF,
         |cnt AS (SELECT cid, count(*) AS n FROM iasg GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt)
         |SELECT CAST(cid AS BIGINT) AS cell, CAST(n AS BIGINT) AS n_vecs,
         | floor((CAST(n AS DOUBLE) / CAST(t AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS share
         |FROM cnt, tot ORDER BY cell""".stripMargin)),

    Q("quality_auc", (s, dir) =>
      // calibration of the quality heuristic against the lang slice
      // (TextAnalysis.qualityAuc): Mann-Whitney AUC per source from
      // exact integer rank statistics; hashed auc_x1e4 is pure
      // integer arithmetic (the q34 no-doubles-in-the-hash discipline)
      TextAnalysis.qualityAuc(Tables.documents(s, dir), posLang = "en")
        .orderBy("source"),
    Some(
      """WITH t AS (SELECT doc_id, lang, source,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents),
        |sc AS (SELECT source,
        |  CAST(floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |    - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) AS BIGINT) AS qs,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        | FROM t),
        |g AS (SELECT source, qs, CAST(sum(pos) AS BIGINT) AS p,
        |  CAST(count(*) - sum(pos) AS BIGINT) AS ng FROM sc GROUP BY 1, 2),
        |c AS (SELECT source, qs, p, ng,
        |  CAST(coalesce(sum(ng) OVER (PARTITION BY source ORDER BY qs
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumneg
        | FROM g),
        |a AS (SELECT source, CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(ng) AS BIGINT) AS n_neg,
        |  CAST(sum(p * (2 * cumneg + ng)) AS BIGINT) AS num2
        | FROM c GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        | CAST((2 * CAST(num2 AS HUGEINT) * 10000 + 2 * CAST(n_pos AS HUGEINT) * n_neg) // (4 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_x1e4,
        | CAST((2 * CAST(num2 AS HUGEINT) * 10000 + 2 * CAST(n_pos AS HUGEINT) * n_neg) // (4 * CAST(n_pos AS HUGEINT) * n_neg) AS DOUBLE) / 1e4 AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0 ORDER BY source""".stripMargin)),

    Q("q58_shipping_priority", (s, dir) => {
      // TPC-H Q3-shaped shipping priority: top-10 not-yet-shipped
      // orders by outstanding revenue for one market segment — segment
      // dim broadcast, both date predicates pushed to their scans, one
      // keyed fact⋈fact shuffle, exact decimal revenue, distributed
      // TakeOrdered (ranking on the EXACT decimal, orderkey tiebreak)
      val cut = lit("1996-07-01").cast("timestamp")
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
      Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(dec(col("l_extendedprice")) *
            (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
          .as("rev_d"))
        .orderBy(col("rev_d").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"),
          col("rev_d").cast("double").as("revenue"))
    }, Some(
      """SELECT l_orderkey, o_orderdate,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
        | AND CAST(l_shipdate AS DATE) > DATE '1996-07-01'
        |GROUP BY 1, 2
        |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |   (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) DESC,
        | l_orderkey ASC
        |LIMIT 10""".stripMargin)),

    Q("q59_nation_profit", (s, dir) => {
      // TPC-H Q9-shaped product profit by (supplier nation, year) over
      // one product slice: revenue and a retail-cost leg summed as two
      // SEPARATE exact decimals (their difference is one double
      // subtraction of two correctly-rounded casts — no cross-engine
      // decimal-precision promotion rules in play); dims broadcast,
      // one keyed lineitem⋈orders shuffle
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
            .filter(col("p_name").contains("widget"))
            .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      li.join(Tables.orders(s, dir).select(col("o_orderkey"),
            year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(sum(dec(col("l_extendedprice")) *
            (expr("CAST(1 AS DECIMAL(12,2))") - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          sum(dec(col("p_retailprice")) * dec(col("l_quantity")))
            .cast("double").as("retail_cost"),
          count(lit(1)).as("n_items"))
        .select(col("n_name"), col("o_year"), col("n_items"),
          r4(col("revenue") - col("retail_cost") / lit(2.0)).as("profit"))
        .orderBy("n_name", "o_year")
    }, Some(
      """WITH j AS (SELECT n_name, year(CAST(o_orderdate AS DATE)) AS o_year,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS rev,
        |  CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS rc
        | FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        | WHERE p_name LIKE '%widget%')
        |SELECT n_name, CAST(o_year AS INT) AS o_year,
        | count(*) AS n_items,
        | floor((CAST(sum(rev) AS DOUBLE) - CAST(sum(rc) AS DOUBLE) / 2.0 + 1e-9) * 1e4 + 0.5) / 1e4 AS profit
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q60_waiting_suppliers", (s, dir) => {
      // TPC-H Q21-shaped waiting-supplier census: suppliers who were
      // the ONLY late shipper in a finished multi-supplier order — the
      // classic EXISTS/NOT-EXISTS pair decorrelated to one per-order
      // aggregate (distinct suppliers, distinct LATE suppliers) joined
      // back to the late rows; late = shipped > 60 days after order
      // date (the q42 convention). Top-20 by held-up order count.
      val ord = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      // persisted pre-partitioned by the shared key: li feeds BOTH the
      // per-order aggregate and the late-rows semi-join side — without
      // the cache the lineitem⋈orders join ran twice, and with the
      // okey partitioning the aggregate, the semi-join (both sides;
      // perOrder's output partitioning matches) and the distinct all
      // reuse one build-time exchange of the 3-column frame
      // cache width derived from the scan-side projection (the joined
      // frame's stats are a row-count product): explicit, so the cache
      // keeps exact hashpartitioning(l_orderkey) for the aggregate,
      // semi-join and distinct to reuse — see Widths.forCached
      val liW = Widths.forCached(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate"))
      val li = Tables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", (unix_date(col("l_shipdate").cast("date")) -
          unix_date(col("o_orderdate").cast("date")) > 60).cast("int"))
        .select("l_orderkey", "l_suppkey", "late")
        .repartition(liW, col("l_orderkey")).persist().tracked
      val perOrder = li.groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("nsupp"),
          countDistinct(when(col("late") === 1, col("l_suppkey"))).as("nlate"))
        .filter(col("nsupp") >= 2 && col("nlate") === 1)
      li.filter(col("late") === 1)
        .join(perOrder, Seq("l_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey").distinct()
        .join(broadcast(Tables.supplier(s, dir)
          .select("s_suppkey", "s_name", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(count(lit(1)).as("n_waiting"))
        .orderBy(col("n_waiting").desc, col("s_name").asc)
        .limit(20)
    }, Some(
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |  CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
        |    THEN 1 ELSE 0 END AS late
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'F'),
        |po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp,
        |  count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nlate
        | FROM li GROUP BY 1),
        |cu AS (SELECT DISTINCT li.l_orderkey, li.l_suppkey
        | FROM li JOIN po ON li.l_orderkey = po.l_orderkey
        | WHERE li.late = 1 AND po.nsupp >= 2 AND po.nlate = 1)
        |SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS n_waiting
        |FROM cu JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY n_waiting DESC, s_name ASC LIMIT 20""".stripMargin)),

    Q("ts_stl_lite", (s, dir) =>
      // STL-lite seasonal decomposition: median-5 trend, then the
      // seasonal component as the per-hour-of-day EXACT MEDIAN of the
      // detrended series (one robust pass, not lowpass smoothing — the
      // complementary decomposition to ad_lowpass_seasonal: level
      // shifts and outliers cannot leak into the daily profile). Per
      // signal in one typed task; the oracle replays the same medians
      TimeSeries.stlLite(corrGrid(s, dir).select("name", "node", "tsb", "gval"))
        .orderBy("name", "node", "tsb"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |dt AS (SELECT name, node, tsb, gval,
         |  median(gval) OVER (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS trend
         | FROM ff36),
         |dd AS (SELECT *, gval - trend AS detr,
         |  (tsb % 86400) // 3600 AS h FROM dt),
         |se AS (SELECT name, node, h, median(detr) AS seas
         | FROM dd GROUP BY 1, 2, 3)
         |SELECT dd.name, dd.node, dd.tsb,
         | floor((trend + 1e-9) * 1e4 + 0.5) / 1e4 AS trend,
         | floor((seas + 1e-9) * 1e4 + 0.5) / 1e4 AS seasonal,
         | floor((detr - seas + 1e-9) * 1e4 + 0.5) / 1e4 AS resid
         |FROM dd JOIN se ON se.name = dd.name AND se.node = dd.node AND se.h = dd.h
         |ORDER BY dd.name, dd.node, dd.tsb""".stripMargin)),

    Q("text_ngram_coverage", (s, dir) => {
      // vocabulary-truncation telemetry: the share of all word-bigram
      // OCCURRENCES covered by the top-K grams, K ∈ {10,100,1000} — the
      // curve that says how big a gram table a filter/LM actually
      // needs. Scale shape: the candidate set is a distributed
      // TakeOrdered top-1000 cut (count desc, gram tiebreak), never a
      // global sort; the total is one scalar aggregate
      val w = split(lower(trim(col("text"))), "\\s+")
      // one-token docs: sequence(1, 0) would DESCEND and emit NULL
      // grams that the oracle's empty range never produces — guard the
      // doc out entirely (no bigram exists)
      val grams = Tables.documents(s, dir).select(w.as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(w[i - 1], ' ', w[i]))")).as("g"))
      val counts = grams.groupBy("g").agg(count(lit(1)).as("n")).persist().tracked
      val top = counts.orderBy(col("n").desc, col("g").asc).limit(1000)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("g").asc)))
      val tot = counts.agg(sum("n").as("total"), count(lit(1)).as("n_grams"))
      val ks = Seq(10, 100, 1000).map(k =>
        top.filter(col("rk") <= k)
          .agg(lit(k).as("k"), sum("n").as("covered")))
        .reduce(_ unionByName _)
      ks.crossJoin(broadcast(tot))
        .select(col("k"), col("n_grams"), col("covered"), col("total"),
          r4(col("covered").cast("double") / col("total").cast("double"))
            .as("share"))
        .orderBy("k")
    }, Some(
      """WITH d AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (SELECT array_to_string(w[i:i+1], ' ') AS g
        |  FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) r),
        |c AS (SELECT g, count(*) AS n FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_grams FROM c),
        |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, g ASC) AS rk FROM c),
        |ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT k, n_grams,
        | CAST(sum(CASE WHEN rk <= k THEN n ELSE 0 END) AS BIGINT) AS covered, total,
        | floor((CAST(sum(CASE WHEN rk <= k THEN n ELSE 0 END) AS DOUBLE)
        |   / CAST(total AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS share
        |FROM ks, rk, t GROUP BY k, n_grams, total ORDER BY k""".stripMargin)),

    Q("sample_interleave", (s, dir) => {
      // deterministic source-interleaved training order: rows ranked
      // md5-within-source (append-stable), then dealt round-robin
      // across sources — the data ORDER a curriculum/mixing stage
      // emits. The global position window runs on the bounded
      // first-10-per-source cut (|sources|·10 rows), never the corpus
      val bySrc = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(bySrc).cast("long"))
        .filter(col("rn") <= 10)
        .withColumn("pos", row_number().over(
          Window.orderBy(col("rn"), col("source"))).cast("long"))
        .select("pos", "doc_id", "source", "rn")
        .orderBy("pos")
    }, Some(
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        | FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS pos,
        | doc_id, source, rn
        |FROM r WHERE rn <= 10 ORDER BY pos""".stripMargin)),

    Q("ts_adf", (s, dir) =>
      // Dickey-Fuller stationarity per signal (Trend.adf): τ from exact
      // integer moments of the lagged regression; the verdict routes
      // signals between the forecast family and the rate operators
      Trend.adf(corrGrid(s, dir).select("name", "node", "tsb", "gval"))
        .orderBy("name", "node"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |mxa AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM ff36),
         |qa AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mxa),
         |la AS (SELECT name, node, qv,
         |  lag(qv) OVER (PARTITION BY name, node ORDER BY tsb) AS xl FROM qa),
         |ld AS (SELECT name, node, xl, qv - xl AS dy FROM la WHERE xl IS NOT NULL),
         |ma AS (SELECT name, node, count(*) AS ne,
         |  CAST(sum(xl) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
         |  CAST(sum(xl * xl) AS DOUBLE) AS sxx, CAST(sum(xl * dy) AS DOUBLE) AS sxy,
         |  CAST(sum(dy * dy) AS DOUBLE) AS syy
         | FROM ld GROUP BY 1, 2),
         |ca AS (SELECT *, sxx - sx * sx / CAST(ne AS DOUBLE) AS sxxc,
         |  sxy - sx * sy / CAST(ne AS DOUBLE) AS sxyc,
         |  syy - sy * sy / CAST(ne AS DOUBLE) AS syyc FROM ma),
         |fb AS (SELECT *, sxyc / sxxc AS beta FROM ca WHERE ne >= 8 AND sxxc > 0),
         |fr AS (SELECT *, syyc - beta * sxyc AS rss FROM fb),
         |ft AS (SELECT name, node, ne,
         |  floor((beta / sqrt(rss / (CAST(ne AS DOUBLE) - 2.0) / sxxc) + 1e-9) * 1e4 + 0.5) / 1e4 AS tau
         | FROM fr WHERE rss > 0)
         |SELECT name, node, CAST(ne AS BIGINT) AS n, tau,
         | CAST(tau < -2.86 AS INT) AS stationary
         |FROM ft ORDER BY name, node""".stripMargin)),

    Q("dedup_share_by_source", (s, dir) => {
      // per-source duplicate pressure: the share of docs that are
      // non-canonical exact duplicates (same md5, not the min doc_id)
      // — the first column of any curation dashboard, telling which
      // source's crawl is actually paying for storage twice
      val byH = Window.partitionBy("h")
      val flagged = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("grp_n", count(lit(1)).over(byH))
        .withColumn("canon", min("doc_id").over(byH))
        .withColumn("is_dup",
          (col("grp_n") > 1 && col("doc_id") =!= col("canon")).cast("long"))
      flagged.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup"))
        .withColumn("dup_share",
          r4(col("n_dup").cast("double") / col("n_docs").cast("double")))
        .orderBy("source")
    }, Some(
      """WITH h AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |g AS (SELECT *, count(*) OVER (PARTITION BY h) AS grp_n,
        |  min(doc_id) OVER (PARTITION BY h) AS canon FROM h),
        |f AS (SELECT source,
        |  CASE WHEN grp_n > 1 AND doc_id != canon THEN 1 ELSE 0 END AS is_dup FROM g)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(is_dup) AS BIGINT) AS n_dup,
        | floor((CAST(sum(is_dup) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS dup_share
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("text_keywords", (s, dir) =>
      TextAnalysis.keywordsBySource(Tables.documents(s, dir), 5)
        .orderBy("source", "rk"),
    Some(
      """WITH terms AS (SELECT source,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
        |scored AS (SELECT t.source, t.term, t.tf, d.df,
        |  CAST(t.tf * ns.n_sources AS DOUBLE) / d.df AS score
        | FROM tf t JOIN dfq d USING (term), ns),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |  ORDER BY score DESC, term ASC) AS rk FROM scored)
        |SELECT source, rk, term, tf, df, score FROM rk WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin)),

    Q("ts_rolling_autocorr", (s, dir) =>
      TimeSeries.rollingAutocorr(grid(s, dir)).orderBy("name", "node", "tsb"),
    Some(
      s"""$WITH_GRID,
         |mx AS (SELECT name, node, tsb, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM grid),
         |mq AS (SELECT name, node, tsb,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qx FROM mx),
         |lg AS (SELECT name, node, tsb, qx,
         |  lag(qx, 1) OVER (PARTITION BY name, node ORDER BY tsb) AS qy FROM mq),
         |pr AS (SELECT * FROM lg WHERE qy IS NOT NULL),
         |t AS (SELECT name, node, tsb,
         |  count(*) OVER fr AS n,
         |  CAST(sum(qx) OVER fr AS DOUBLE) AS sx,
         |  CAST(sum(qy) OVER fr AS DOUBLE) AS sy,
         |  CAST(sum(qx * qy) OVER fr AS DOUBLE) AS sxy,
         |  CAST(sum(qx * qx) OVER fr AS DOUBLE) AS sxx,
         |  CAST(sum(qy * qy) OVER fr AS DOUBLE) AS syy
         | FROM pr WINDOW fr AS (PARTITION BY name, node ORDER BY tsb
         |   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |v AS (SELECT *, 24.0 * sxx - sx * sx AS vx, 24.0 * syy - sy * sy AS vy
         | FROM t WHERE n = 24)
         |SELECT name, node, tsb,
         | floor(((24.0 * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)) + 1e-9) * 1e4 + 0.5) / 1e4 AS r
         |FROM v WHERE vx > 0 AND vy > 0
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("mix_diversity", (s, dir) => {
      // corpus diversity on one screen: Shannon entropy of the source
      // and language shares (nats + normalized by ln k) — the single
      // number that says "this mix is dominated by two strata" before
      // a mixing spec is even written. Quantized-ln integer sums (the
      // PMI playbook): Σ c·⌊ln(c/N)·1e6⌉ is exact, one division at
      // the edge.
      val docs = Tables.documents(s, dir)
      def ent(dim: String) = {
        val big = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
        val cs = docs.groupBy(col(dim).as("stratum")).agg(count(lit(1)).as("c"))
        val tot = cs.agg(sum("c").as("nn"), count(lit(1)).as("k"))
        // ExactMath: ln(c/N) = L(c) − L(N), ln k = L(k) — cross-engine
        // bit-exact quantized-ln inputs (the r5 ln-audit conversion)
        val L = (c: Column) => graft.functions.ExactMath.lnIntCol(c)
        val lq = floor((L(col("c")) - L(col("nn")) +
          lit(1e-9)) * lit(1e6) + lit(0.5)).cast(org.apache.spark.sql.types.DecimalType(38, 0))
        val lkq = floor((L(col("k")) + lit(1e-9)) * lit(1e6) + lit(0.5))
        cs.crossJoin(broadcast(tot))
          .withColumn("sq", big(col("c")) * lq)
          .groupBy().agg(sum(col("sq")).as("s"), max("nn").as("nn"), max("k").as("k"))
          .select(lit(dim).as("dimension"), col("k"), col("nn").as("n_docs"),
            r4(-col("s").cast("double") / (col("nn").cast("double") * lit(1e6)))
              .as("entropy_nats"),
            when(col("k") > 1,
              r4((-col("s").cast("double") / (col("nn").cast("double") * lit(1e6))) /
                (lkq.cast("double") / lit(1e6))))
              .as("norm_entropy"))
      }
      ent("source").unionByName(ent("lang")).orderBy("dimension")
    }, Some(
      s"""WITH dv AS (
        |  SELECT 'source' AS dimension, source AS stratum FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents),
        |dc AS (SELECT dimension, stratum, count(*) AS c FROM dv GROUP BY 1, 2),
        |dt AS (SELECT dimension, CAST(sum(c) AS BIGINT) AS nn, count(*) AS k
        | FROM dc GROUP BY 1),
        |dq AS (SELECT dimension, c,
        |  CAST(floor((lnc - lnnn + 1e-9) * 1e6 + 0.5) AS HUGEINT) AS lq,
        |  nn, k
        | FROM (SELECT dc.dimension, c, nn, k,
        |  ${graft.functions.ExactMath.sqlLnCols("c", "da", "lnc")},
        |  ${graft.functions.ExactMath.sqlLnCols("nn", "db", "lnnn")}
        | FROM dc JOIN dt ON dc.dimension = dt.dimension)),
        |ds AS (SELECT dimension, sum(CAST(c AS HUGEINT) * lq) AS s,
        |  max(nn) AS nn, max(k) AS k
        | FROM dq GROUP BY 1),
        |dk AS (SELECT dimension, s, nn, k,
        |  ${graft.functions.ExactMath.sqlLnCols("k", "dk", "lnk")}
        | FROM ds)
        |SELECT dimension, k, nn AS n_docs,
        | floor((-CAST(s AS DOUBLE) / (CAST(nn AS DOUBLE) * 1e6) + 1e-9) * 1e4 + 0.5) / 1e4 AS entropy_nats,
        | CASE WHEN k > 1 THEN
        |  floor(((-CAST(s AS DOUBLE) / (CAST(nn AS DOUBLE) * 1e6))
        |    / (floor((lnk + 1e-9) * 1e6 + 0.5) / 1e6) + 1e-9) * 1e4 + 0.5) / 1e4
        | END AS norm_entropy
        |FROM dk ORDER BY dimension""".stripMargin)),

    Q("q40_basket_affinity", (s, dir) => {
      // market-basket brand affinity: for brand pairs co-purchased in
      // one order, lift = P(a,b)/(P(a)·P(b)). The (order, brand)
      // distinct frame is the only corpus-sized exchange; pair counts
      // live on the |brands|²-bounded frame, totals broadcast.
      // persisted pre-partitioned by okey: the brand-pair self-join's
      // two sides then reuse the cache's partitioning (zero join-time
      // exchanges; guide §2.4) — one build exchange replaces two
      // cache width from the scan-side projection (join/distinct stats
      // are unusable); explicit so the brand-pair self-join keeps
      // reusing the cache's exact hashpartitioning(okey)
      val obW = Widths.forCached(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey"))
      val ob = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct().repartition(obW, col("okey")).persist().tracked
      val bn = ob.groupBy("brand").agg(count(lit(1)).as("nb"))
      val tot = broadcast(ob.select(countDistinct(col("okey")).as("n_orders")))
      val pairs = ob.select(col("okey"), col("brand").as("brand_a"))
        .join(ob.select(col("okey").as("ok2"), col("brand").as("brand_b")),
          col("okey") === col("ok2") && col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(bn.select(col("brand").as("brand_a"), col("nb").as("n_a"))), "brand_a")
        .join(broadcast(bn.select(col("brand").as("brand_b"), col("nb").as("n_b"))), "brand_b")
        .crossJoin(tot)
        .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
          r4(col("n_ab").cast("double") * col("n_orders").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
        .orderBy("brand_a", "brand_b")
    }, Some(
      """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |bn AS (SELECT brand, count(*) AS nb FROM ob GROUP BY 1),
        |tt AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
        |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
        | FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        | GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab, x.nb AS n_a, y.nb AS n_b,
        | floor((CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |   / (CAST(x.nb AS DOUBLE) * CAST(y.nb AS DOUBLE)) + 1e-9) * 1e4 + 0.5) / 1e4 AS lift
        |FROM pr JOIN bn x ON x.brand = pr.brand_a
        | JOIN bn y ON y.brand = pr.brand_b CROSS JOIN tt
        |ORDER BY brand_a, brand_b""".stripMargin)),

    Q("profile_benford", (s, dir) => {
      // Benford first-digit audit of event values per type — the
      // classic "is this measure organic or synthetic/capped?" data-
      // quality screen. First digits come from exact integer cents
      // (no cross-engine log10), expectations are shared double
      // literals, and the chi-square rides an exact integer sum of
      // 1e6-quantized per-digit terms. One scan, two tiny aggregates;
      // output is |types|×9 rows.
      val ev = Tables.events(s, dir)
        .select(col("event_type"), qint(col("value"), 100).cast("long").as("c"))
        .filter(col("c") > 0)
        .withColumn("digit", substring(col("c").cast("string"), 1, 1).cast("long"))
      val counts = ev.groupBy("event_type", "digit").agg(count(lit(1)).as("n"))
      val totals = ev.groupBy("event_type").agg(count(lit(1)).as("tot"))
      val expArr = array(BENFORD.map(lit): _*)
      val frame = totals.select(col("event_type"), col("tot"),
        explode(sequence(lit(1L), lit(9L))).as("digit"))
      val wt = Window.partitionBy("event_type")
      frame.join(counts, Seq("event_type", "digit"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("e", element_at(expArr, col("digit").cast("int")))
        .withColumn("m", col("n").cast("double") - col("tot").cast("double") * col("e"))
        .withColumn("tq",
          qint(col("m") * col("m") / (col("tot").cast("double") * col("e")), 1e6))
        .select(col("event_type"), col("digit"), col("n"),
          r4(col("n").cast("double") / col("tot").cast("double")).as("obs_share"),
          r4(col("e")).as("exp_share"),
          r4(col("n").cast("double") / col("tot").cast("double") - col("e")).as("delta"),
          r4(sum(col("tq")).over(wt).cast("double") / lit(1e6)).as("chi2"))
        .orderBy("event_type", "digit")
    }, Some(
      s"""WITH bc AS (SELECT event_type,
         |  CAST(floor((value + 1e-9) * 100 + 0.5) AS BIGINT) AS c FROM events),
         |bd AS (SELECT event_type, CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
         | FROM bc WHERE c > 0),
         |bn AS (SELECT event_type, digit, count(*) AS n FROM bd GROUP BY 1, 2),
         |bt AS (SELECT event_type, count(*) AS tot FROM bd GROUP BY 1),
         |bv AS (SELECT CAST(d AS BIGINT) AS digit, e FROM (VALUES $SQL_BENFORD) x(d, e)),
         |bf AS (SELECT t.event_type, v.digit, v.e, t.tot, coalesce(n.n, 0) AS n
         | FROM bt t CROSS JOIN bv v
         | LEFT JOIN bn n ON n.event_type = t.event_type AND n.digit = v.digit),
         |bm AS (SELECT *, CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) * e AS m FROM bf),
         |btm AS (SELECT *, CAST(floor((m * m / (CAST(tot AS DOUBLE) * e) + 1e-9) * 1e6 + 0.5)
         |    AS HUGEINT) AS tq FROM bm)
         |SELECT event_type, digit, n,
         | floor((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS obs_share,
         | floor((e + 1e-9) * 1e4 + 0.5) / 1e4 AS exp_share,
         | floor((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - e + 1e-9) * 1e4 + 0.5) / 1e4 AS delta,
         | floor((CAST(sum(tq) OVER (PARTITION BY event_type) AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS chi2
         |FROM btm ORDER BY event_type, digit""".stripMargin)),

    Q("sketch_active_users", (s, dir) => {
      // the WAU scale path: per-day HLL registers (|days|·512 rows
      // after ONE exchange over the raw feed) merge across each
      // trailing 7-day window by register max — the sketch equivalent
      // of the q37 explode, except the merge operates on 512-row
      // sketches instead of the user-day corpus. Exact WAU rides
      // beside it; rel_err is the honesty column.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      val regs = Sketches.hllRegisters(ev, "day", "user_id")
        .persist().tracked
      val bounds = broadcast(regs.agg(max("day").as("dmax")))
      val merged = regs.crossJoin(bounds)
        .select(explode(sequence(col("day"),
          least(col("day") + lit(6L), col("dmax")))).as("d"),
          col("bucket"), col("r"))
        .groupBy("d", "bucket").agg(max("r").as("r"))
      val est = Sketches.hllFold(merged, "d", "wau_hll")
      val exact = ev.distinct().crossJoin(bounds)
        .select(explode(sequence(col("day"),
          least(col("day") + lit(6L), col("dmax")))).as("d"), col("user_id"))
        .groupBy("d").agg(countDistinct("user_id").as("wau_exact"))
      est.join(exact, "d")
        .select(col("d").as("day"), col("wau_hll"), col("wau_exact"),
          r4(abs(col("wau_hll") - col("wau_exact")).cast("double") /
            col("wau_exact").cast("double")).as("rel_err"))
        .orderBy("day")
    }, Some(
      s"""WITH ev AS (SELECT user_id,
         |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
         |hh AS (SELECT day,
         |  CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 17, 16) AS UBIGINT) AS HUGEINT) AS hu
         | FROM ev),
         |hb AS (SELECT day, hu // 36028797018963968 AS bucket,
         |  CAST(hu % 36028797018963968 AS BIGINT) AS w FROM hh),
         |hr AS (SELECT day, bucket,
         |  max(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS r
         | FROM hb GROUP BY 1, 2),
         |bb AS (SELECT max(day) AS dmax FROM hr),
         |hm AS (SELECT dd.d, hr.bucket, max(hr.r) AS r
         | FROM hr, bb, LATERAL (SELECT unnest(range(hr.day, least(hr.day + 6, bb.dmax) + 1)) AS d) dd
         | GROUP BY 1, 2),
         |ht AS (SELECT d, count(*) AS nb,
         |  sum(CAST(1 AS HUGEINT) << CAST(56 - r AS INT)) AS s_occ
         | FROM hm GROUP BY 1),
         |hf AS (SELECT d, 512 - nb AS v,
         |  CAST(s_occ + CAST(512 - nb AS HUGEINT) * (CAST(1 AS HUGEINT) << 56) AS DOUBLE) AS s_full
         | FROM ht),
         |hx AS (SELECT d, v, ${Sketches.hllCoefLiteral} / s_full AS e_raw,
         |  ${graft.functions.ExactMath.sqlLnCols("greatest(v, 1)", "hl", "lnv")}
         | FROM hf),
         |hest AS (SELECT d,
         |  CAST(CASE WHEN e_raw <= 1.28e3 AND v > 0
         |    THEN floor(5.12e2 * (${Sketches.lnHllMLiteral} - lnv) + 5e-1)
         |    ELSE floor(e_raw + 5e-1) END AS BIGINT) AS wau_hll
         | FROM hx),
         |ud2 AS (SELECT DISTINCT user_id, day FROM ev),
         |hex AS (SELECT dd.d, count(DISTINCT u.user_id) AS wau_exact
         | FROM ud2 u, bb, LATERAL (SELECT unnest(range(u.day, least(u.day + 6, bb.dmax) + 1)) AS d) dd
         | GROUP BY 1)
         |SELECT e.d AS day, e.wau_hll, x.wau_exact,
         | floor((CAST(abs(e.wau_hll - x.wau_exact) AS DOUBLE) / CAST(x.wau_exact AS DOUBLE)
         |   + 1e-9) * 1e4 + 0.5) / 1e4 AS rel_err
         |FROM hest e JOIN hex x ON x.d = e.d
         |ORDER BY day""".stripMargin)),

    Q("q36_rfm", (s, dir) => {
      // RFM segmentation: per user, recency (days since last event
      // vs the corpus horizon), frequency, exact-decimal monetary;
      // quintile scores from exact global ranks (the user frame is
      // one row per user — window over it is bounded by |users|, and
      // at larger scale the distinct-value rank trick from
      // sample_curriculum drops in). Segment = concatenated scores,
      // 5 = best on every axis.
      val ev = Tables.events(s, dir).select(col("user_id"), col("value"),
        expr("ts div 1000000000 div 86400").as("day"))
      val horizon = Window.partitionBy()
      val users = ev.groupBy("user_id")
        .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
          sum(dec(col("value"))).as("mon_d"))
        .withColumn("recency", max(col("last_day")).over(horizon) - col("last_day"))
        .withColumn("nu", count(lit(1)).over(horizon))
      val rR = row_number().over(Window.orderBy(col("recency").asc, col("user_id").asc))
      val rF = row_number().over(Window.orderBy(col("frequency").desc, col("user_id").asc))
      val rM = row_number().over(Window.orderBy(col("mon_d").desc, col("user_id").asc))
      users
        .withColumn("rr", rR).withColumn("rf", rF).withColumn("rm", rM)
        .withColumn("r_score", expr("CAST(5 - (rr - 1) * 5 div nu AS INT)"))
        .withColumn("f_score", expr("CAST(5 - (rf - 1) * 5 div nu AS INT)"))
        .withColumn("m_score", expr("CAST(5 - (rm - 1) * 5 div nu AS INT)"))
        .select(col("user_id"), col("recency"), col("frequency"),
          col("mon_d").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score").cast("string"), col("f_score").cast("string"),
            col("m_score").cast("string")).as("segment"))
        .orderBy("user_id")
    }, Some(
      """WITH ev AS (SELECT user_id, value,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |us AS (SELECT user_id, max(day) AS last_day, count(*) AS frequency,
        |  sum(CAST(value AS DECIMAL(12,2))) AS mon_d FROM ev GROUP BY 1),
        |ux AS (SELECT *, max(last_day) OVER () - last_day AS recency,
        |  count(*) OVER () AS nu FROM us),
        |rk AS (SELECT *,
        |  row_number() OVER (ORDER BY recency ASC, user_id ASC) AS rr,
        |  row_number() OVER (ORDER BY frequency DESC, user_id ASC) AS rf,
        |  row_number() OVER (ORDER BY mon_d DESC, user_id ASC) AS rm
        | FROM ux),
        |sc AS (SELECT user_id, recency, frequency,
        |  CAST(mon_d AS DOUBLE) AS monetary,
        |  CAST(5 - (rr - 1) * 5 // nu AS INT) AS r_score,
        |  CAST(5 - (rf - 1) * 5 // nu AS INT) AS f_score,
        |  CAST(5 - (rm - 1) * 5 // nu AS INT) AS m_score
        | FROM rk)
        |SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |  || CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY user_id""".stripMargin)),

    Q("embed_dim_stats", (s, dir) =>
      // per-dimension embedding audit: exact ×1e6-integer moments →
      // mean/var + range per dim (dead dimensions, scale outliers —
      // the read before int8 quantization or PCA); one posexplode
      // scan, |dims| output rows
      Tables.embeddings(s, dir)
        .select(posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("dim", "x")))
        .withColumn("q", floor((col("x") + lit(1e-9)) * lit(1e6) + lit(0.5))
          .cast("long"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
          sum(col("q") * col("q")).as("s2"),
          min(col("q")).as("qmin"), max(col("q")).as("qmax"))
        .select(col("dim").cast("long").as("dim"), col("n"),
          r4(col("s1").cast("double") / (col("n") * lit(1000000L)).cast("double"))
            .as("mean"),
          // n·s2 can pass 2⁶³ (q² sums): exact DECIMAL(38) arithmetic,
          // one conversion to double — HUGEINT-identical in the oracle
          r4(((col("n") * col("s2").cast(org.apache.spark.sql.types.DecimalType(38, 0)) -
            col("s1").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              col("s1").cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double") /
            (col("n") * col("n")).cast("double")) / lit(1e12)).as("variance"),
          r4(col("qmin").cast("double") / lit(1e6)).as("dmin"),
          r4(col("qmax").cast("double") / lit(1e6)).as("dmax"))
        .orderBy("dim"),
    Some(
      """WITH dx AS (SELECT i.i - 1 AS dim,
        |  CAST(floor((CAST(embedding[CAST(i.i AS INT)] AS DOUBLE) + 1e-9) * 1e6 + 0.5)
        |    AS BIGINT) AS q
        | FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) i),
        |ag AS (SELECT dim, count(*) AS n, sum(q) AS s1, sum(q * q) AS s2,
        |  min(q) AS qmin, max(q) AS qmax FROM dx GROUP BY 1)
        |SELECT dim, n,
        | floor((CAST(s1 AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS mean,
        | floor((CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE) / 1e12 + 1e-9) * 1e4 + 0.5) / 1e4 AS variance,
        | floor((CAST(qmin AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS dmin,
        | floor((CAST(qmax AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS dmax
        |FROM ag ORDER BY dim""".stripMargin)),

    Q("q35_cohort_ltv", (s, dir) => {
      // cohort lifetime value: users cohorted by first-seen day; per
      // (cohort, age-week): active users, exact decimal revenue, and
      // cumulative revenue per cohort member. The cohort frame is one
      // row per user (broadcastable at any scale); the cumulative sum
      // runs over the DECIMAL, so LTV is exact until the final edge
      // division.
      val ev = Tables.events(s, dir).select(col("user_id"), col("value"),
        expr("ts div 1000000000 div 86400").as("day"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      val sizes = cohort.groupBy("cohort_day")
        .agg(count(lit(1)).as("cohort_size"))
      val wc = Window.partitionBy("cohort_day").orderBy("age_week")
      ev.join(broadcast(cohort), "user_id")
        .withColumn("age_week", expr("(day - cohort_day) div 7"))
        .groupBy("cohort_day", "age_week")
        .agg(countDistinct(col("user_id")).as("n_active"),
          sum(dec(col("value"))).as("rev_d"))
        .withColumn("cum_d", sum(col("rev_d")).over(wc))
        .join(broadcast(sizes), "cohort_day")
        .select(col("cohort_day"), col("age_week"), col("n_active"),
          col("rev_d").cast("double").as("revenue"),
          r4(col("cum_d").cast("double") / col("cohort_size").cast("double"))
            .as("ltv_per_user"),
          col("cohort_size"))
        .orderBy("cohort_day", "age_week")
    }, Some(
      """WITH ev AS (SELECT user_id, value,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |ch AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
        |sz AS (SELECT cohort_day, count(*) AS cohort_size FROM ch GROUP BY 1),
        |cl AS (SELECT c.cohort_day, (e.day - c.cohort_day) // 7 AS age_week,
        |  count(DISTINCT e.user_id) AS n_active,
        |  sum(CAST(e.value AS DECIMAL(12,2))) AS rev_d
        | FROM ev e JOIN ch c USING (user_id) GROUP BY 1, 2),
        |cm AS (SELECT *, sum(rev_d) OVER (PARTITION BY cohort_day ORDER BY age_week) AS cum_d
        | FROM cl)
        |SELECT m.cohort_day, m.age_week, m.n_active,
        | CAST(m.rev_d AS DOUBLE) AS revenue,
        | floor((CAST(m.cum_d AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS ltv_per_user,
        | s.cohort_size
        |FROM cm m JOIN sz s ON m.cohort_day = s.cohort_day
        |ORDER BY m.cohort_day, m.age_week""".stripMargin)),

    Q("sample_curriculum", (s, dir) =>
      // easy-to-hard curriculum phases over the quality score: exact
      // global ranks WITHOUT a global sort (tiny distinct-value frame
      // + per-value row_number), md5 within-phase shuffle keys
      Sampling.curriculum(
          TextAnalysis.qualityScore(Tables.documents(s, dir))
            .select("doc_id", "quality"),
          col("doc_id"), col("quality"))
        .orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS w,
        |  CAST(length(text) AS DOUBLE) AS len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits
        | FROM documents),
        |q AS (SELECT doc_id,
        |  floor((1.0 - least(punct / len * 5.0, 0.3) - least(digits / len * 5.0, 0.3)
        |    - least(CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / len(w), 0.3) + 1e-9) * 1e4 + 0.5) / 1e4 AS quality
        | FROM t),
        |vc AS (SELECT quality AS s4, count(*) AS c FROM q GROUP BY 1),
        |cmv AS (SELECT s4, sum(c) OVER (ORDER BY s4 DESC) - c AS cum_before,
        |  sum(c) OVER () AS n FROM vc),
        |rw AS (SELECT q.doc_id, q.quality,
        |  v.cum_before + row_number() OVER (PARTITION BY q.quality ORDER BY q.doc_id) AS grank,
        |  v.n
        | FROM q JOIN cmv v ON q.quality = v.s4),
        |ph AS (SELECT doc_id, quality,
        |  CAST((grank - 1) * 10 // n + 1 AS INT) AS phase FROM rw)
        |SELECT doc_id, quality, phase,
        | substr(md5(CAST(phase AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
        |FROM ph ORDER BY doc_id""".stripMargin)),

    Q("ad_esd", (s, dir) =>
      ChangePoints.esd(grid(s, dir)).orderBy("name", "node", "tsb"),
    Some(
      s"""WITH RECURSIVE $SQL_SIG, $SQL_GRID,
         |qp AS MATERIALIZED (SELECT name, node, tsb, gval,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q,
         |  CAST(row_number() OVER (PARTITION BY name, node ORDER BY tsb) AS BIGINT) AS idx
         | FROM grid),
         |$SQL_ESD_CTES
         |SELECT q.name, q.node, q.tsb, q.gval
         |FROM oix o JOIN qp q ON q.name = o.name AND q.node = o.node AND q.idx = o.idx
         |ORDER BY q.name, q.node, q.tsb""".stripMargin)),

    Q("ad_seasonal_esd", (s, dir) =>
      // S-H-ESD (Twitter AnomalyDetection): the t-calibrated ESD test
      // on the DESEASONALIZED residual — daily-cycle peaks stop paging
      ChangePoints.seasonalEsd(corrGrid(s, dir)
          .select("name", "node", "tsb", "gval"))
        .orderBy("name", "node", "tsb"),
    Some(
      s"""WITH RECURSIVE $SQL_CORR_CTES,
         |$SQL_LOWPASS_DECOMP,
         |qp AS MATERIALIZED (SELECT name, node, tsb, raw, noise,
         |  CAST(floor(noise * 1e6 + 0.5) AS BIGINT) AS q, idx FROM dcr),
         |$SQL_ESD_CTES
         |SELECT q.name, q.node, q.tsb,
         |  floor((q.raw + 1e-9) * 1e4 + 0.5) / 1e4 AS gval,
         |  q.noise AS resid
         |FROM oix o JOIN qp q ON q.name = o.name AND q.node = o.node AND q.idx = o.idx
         |ORDER BY q.name, q.node, q.tsb""".stripMargin)),

    Q("corr_partial", (s, dir) =>
      Correlate.partialCorr(corrGrid(s, dir), "error", "click")
        .orderBy("cand_name", "node", "b"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |mx AS (SELECT name, node, b, i, gval,
         |  max(abs(gval)) OVER (PARTITION BY name, node) AS mr FROM g2),
         |mq AS (SELECT name, node, b, i,
         |  CAST(floor((gval / (CASE WHEN mr > 0 THEN mr ELSE 1.0 END)) * 1e9 + 0.5)
         |    AS HUGEINT) AS qv FROM mx),
         |cells AS (SELECT x.name AS a_name, y.name AS b_name, x.node AS node,
         |   x.b AS b, count(*) AS n,
         |   CAST(sum(x.qv) AS DOUBLE) AS sx, CAST(sum(y.qv) AS DOUBLE) AS sy,
         |   CAST(sum(x.qv * y.qv) AS DOUBLE) AS sxy,
         |   CAST(sum(x.qv * x.qv) AS DOUBLE) AS sxx,
         |   CAST(sum(y.qv * y.qv) AS DOUBLE) AS syy
         | FROM mq x JOIN mq y ON y.i = x.i AND y.b = x.b AND x.node = y.node
         |  AND x.name < y.name
         | GROUP BY 1, 2, 3, 4),
         |fin AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |   CAST(n AS DOUBLE) * syy - sy * sy AS vy FROM cells),
         |rmat AS (SELECT a_name, b_name, node, b,
         |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))
         |    + 1e-9) * 1e4 + 0.5) / 1e4 AS r
         | FROM fin WHERE n >= 8 AND vx > 0 AND vy > 0),
         |sym AS (SELECT a_name AS x, b_name AS y, node, b, r FROM rmat
         | UNION ALL SELECT b_name, a_name, node, b, r FROM rmat),
         |rxy AS (SELECT x AS cand_name, node, b, r AS r_xy FROM sym
         | WHERE y = 'error' AND x <> 'click'),
         |rxz AS (SELECT x AS cand_name, node, b, r AS r_xz FROM sym
         | WHERE y = 'click' AND x <> 'error'),
         |ryz AS (SELECT node, b, r AS r_yz FROM sym WHERE x = 'error' AND y = 'click'),
         |j AS (SELECT rxy.cand_name, rxy.node, rxy.b, r_xy, r_xz, r_yz,
         |  (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) AS den
         | FROM rxy JOIN rxz ON rxy.cand_name = rxz.cand_name
         |   AND rxy.node = rxz.node AND rxy.b = rxz.b
         |  JOIN ryz ON rxy.node = ryz.node AND rxy.b = ryz.b)
         |SELECT cand_name, node, b, r_xy,
         | floor(((r_xy - r_xz * r_yz) / sqrt(den) + 1e-9) * 1e4 + 0.5) / 1e4 AS r_partial
         |FROM j WHERE den > 0 ORDER BY cand_name, node, b""".stripMargin)),

    Q("corr_mutual_info", (s, dir) =>
      // binned mutual information obj×candidate — the nonlinear
      // dependence rank next to NCC/Spearman: V-shaped or saturating
      // drivers have r ≈ 0 but MI ≫ 0
      Correlate.mutualInfo(corrGrid(s, dir), "error", 8),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |rng AS (SELECT name, node, min(gval) AS lo, max(gval) AS hi
         | FROM g2 GROUP BY 1, 2),
         |bn AS (SELECT g2.name, g2.node, g2.i,
         |  CASE WHEN hi > lo THEN
         |    least(CAST(floor((gval - lo) * 8.0 / (hi - lo)) AS INT), 7)
         |  ELSE 0 END AS bin
         | FROM g2 JOIN rng USING (name, node)),
         |o AS (SELECT node, i, bin AS ob FROM bn WHERE name = 'error'),
         |c AS (SELECT name AS cand_name, node, i, bin AS cb FROM bn
         | WHERE name <> 'error'),
         |j AS (SELECT cand_name, node, ob, cb, count(*) AS cxy
         | FROM c JOIN o USING (node, i) GROUP BY 1, 2, 3, 4),
         |nn AS (SELECT cand_name, node, CAST(sum(cxy) AS BIGINT) AS n
         | FROM j GROUP BY 1, 2),
         |mx AS (SELECT cand_name, node, ob, CAST(sum(cxy) AS BIGINT) AS cx
         | FROM j GROUP BY 1, 2, 3),
         |my AS (SELECT cand_name, node, cb, CAST(sum(cxy) AS BIGINT) AS cy
         | FROM j GROUP BY 1, 2, 3),
         |t AS (SELECT cand_name, node, n, cxy,
         |  CAST(floor((lncxy + lnn - lncx - lncy + 1e-9) * 1e6 + 0.5)
         |    AS BIGINT) AS qln
         | FROM (SELECT j.cand_name, j.node, nn.n, j.cxy,
         |  ${graft.functions.ExactMath.sqlLnCols("j.cxy", "ma", "lncxy")},
         |  ${graft.functions.ExactMath.sqlLnCols("nn.n", "mb", "lnn")},
         |  ${graft.functions.ExactMath.sqlLnCols("mx.cx", "mc", "lncx")},
         |  ${graft.functions.ExactMath.sqlLnCols("my.cy", "md", "lncy")}
         | FROM j JOIN mx USING (cand_name, node, ob)
         |  JOIN my USING (cand_name, node, cb)
         |  JOIN nn USING (cand_name, node)))
         |SELECT cand_name, node, n,
         | floor((CAST(sum(cxy * qln) AS DOUBLE) / n / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4
         |   AS mi_nats
         |FROM t GROUP BY cand_name, node, n ORDER BY cand_name, node""".stripMargin)),

    Q("corr_transfer_entropy", (s, dir) =>
      // directed information flow cand → obj: the model-free Granger —
      // zero when the candidate's past adds nothing beyond the
      // objective's own past, so it orients couplings MI can't
      Correlate.transferEntropy(corrGrid(s, dir), "error", 8),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |rng AS (SELECT name, node, min(gval) AS lo, max(gval) AS hi
         | FROM g2 GROUP BY 1, 2),
         |bn AS (SELECT g2.name, g2.node, g2.i,
         |  CASE WHEN hi > lo THEN
         |    least(CAST(floor((gval - lo) * 8.0 / (hi - lo)) AS INT), 7)
         |  ELSE 0 END AS bin
         | FROM g2 JOIN rng USING (name, node)),
         |o AS (SELECT node, i, bin AS yt,
         |  lag(bin) OVER (PARTITION BY node ORDER BY i) AS y1
         | FROM bn WHERE name = 'error'),
         |o2 AS (SELECT * FROM o WHERE y1 IS NOT NULL),
         |c AS (SELECT name AS cand_name, node, i + 1 AS i, bin AS x1 FROM bn
         | WHERE name <> 'error'),
         |j AS (SELECT cand_name, node, yt, y1, x1, count(*) AS c3
         | FROM c JOIN o2 USING (node, i) GROUP BY 1, 2, 3, 4, 5),
         |nn AS (SELECT cand_name, node, CAST(sum(c3) AS BIGINT) AS n
         | FROM j GROUP BY 1, 2),
         |m2a AS (SELECT cand_name, node, y1, x1, CAST(sum(c3) AS BIGINT) AS c2a
         | FROM j GROUP BY 1, 2, 3, 4),
         |m2b AS (SELECT cand_name, node, yt, y1, CAST(sum(c3) AS BIGINT) AS c2b
         | FROM j GROUP BY 1, 2, 3, 4),
         |m1 AS (SELECT cand_name, node, y1, CAST(sum(c3) AS BIGINT) AS c1
         | FROM j GROUP BY 1, 2, 3),
         |t AS (SELECT cand_name, node, n, c3,
         |  CAST(floor((lnc3 + lnc1 - lnc2a - lnc2b + 1e-9) * 1e6 + 0.5)
         |    AS BIGINT) AS qln
         | FROM (SELECT j.cand_name, j.node, nn.n, j.c3,
         |  ${graft.functions.ExactMath.sqlLnCols("j.c3", "ta", "lnc3")},
         |  ${graft.functions.ExactMath.sqlLnCols("m1.c1", "tb", "lnc1")},
         |  ${graft.functions.ExactMath.sqlLnCols("m2a.c2a", "tc", "lnc2a")},
         |  ${graft.functions.ExactMath.sqlLnCols("m2b.c2b", "td", "lnc2b")}
         | FROM j JOIN m2a USING (cand_name, node, y1, x1)
         |  JOIN m2b USING (cand_name, node, yt, y1)
         |  JOIN m1 USING (cand_name, node, y1)
         |  JOIN nn USING (cand_name, node)))
         |SELECT cand_name, node, n,
         | floor((CAST(sum(c3 * qln) AS DOUBLE) / n / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4
         |   AS te_nats
         |FROM t GROUP BY cand_name, node, n ORDER BY cand_name, node""".stripMargin)),

    Q("corr_cointegration", (s, dir) =>
      // Engle–Granger spurious-regression guard: OLS obj~cand on exact
      // integer moments, unit-requantized residual, Durbin–Watson on
      // exact integer sums — verdict bins the rounded DW at [1.5, 2.5]
      Correlate.cointegration(corrGrid(s, dir), "error"),
    Some(
      s"""WITH $SQL_CORR_CTES,
         |qg AS (SELECT name, node, i,
         |  CAST(floor((gval + 1e-9) * 1e4 + 0.5) AS BIGINT) AS q FROM g2),
         |co AS (SELECT node, i, q AS y FROM qg WHERE name = 'error'),
         |cc AS (SELECT name AS cand_name, node, i, q AS x FROM qg
         | WHERE name <> 'error'),
         |cj AS (SELECT cand_name, node, i, x, y FROM cc JOIN co USING (node, i)),
         |cm AS (SELECT cand_name, node, count(*) AS n,
         |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |  CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         |  CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
         | FROM cj GROUP BY 1, 2),
         |cb AS (SELECT cand_name, node, n,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
         |  (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS alpha
         | FROM cm WHERE n * sxx - sx * sx > 0),
         |ce AS (SELECT cj.cand_name, cj.node, cj.i,
         |  CAST(floor(((y - alpha) - beta * x) + 0.5) AS BIGINT) AS eq
         | FROM cj JOIN cb USING (cand_name, node)),
         |cd AS (SELECT cand_name, node, eq,
         |  lag(eq) OVER (PARTITION BY cand_name, node ORDER BY i) AS ep
         | FROM ce),
         |cw AS (SELECT cand_name, node,
         |  sum(CASE WHEN ep IS NOT NULL
         |    THEN CAST(eq - ep AS HUGEINT) * (eq - ep) END) AS num,
         |  sum(CAST(eq AS HUGEINT) * eq) AS den
         | FROM cd GROUP BY 1, 2),
         |cf AS (SELECT cb.cand_name, cb.node, cb.n,
         |  floor((beta + 1e-11) * 1e6 + 0.5) / 1e6 AS beta,
         |  floor((CAST(num AS DOUBLE) / CAST(den AS DOUBLE) + 1e-9) * 1e4 + 0.5) / 1e4 AS dw
         | FROM cw JOIN cb USING (cand_name, node) WHERE den > 0)
         |SELECT cand_name, node, n, beta, dw,
         | CASE WHEN dw >= 1.5 AND dw <= 2.5 THEN 'stationary_resid'
         |  ELSE 'autocorr_resid' END AS verdict
         |FROM cf ORDER BY cand_name, node""".stripMargin)),

    Q("ts_sampen", (s, dir) =>
      // sample entropy per signal — the texture/regularity feature:
      // periodic ≈ 0, white noise high; integer tolerance from exact
      // moments makes both engines count identical template pairs
      Anomaly.sampleEntropy(grid(s, dir)).orderBy("name", "node"),
    Some(
      s"""$WITH_GRID,
         |qp AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q,
         |  row_number() OVER (PARTITION BY name, node ORDER BY tsb) - 1 AS i
         | FROM grid),
         |cn AS (SELECT name, node, count(*) AS n, CAST(sum(q) AS BIGINT) AS sl,
         |  sum(CAST(q AS HUGEINT) * q) AS s2
         | FROM qp GROUP BY 1, 2),
         |tol AS (SELECT name, node, n,
         |  CAST(greatest(1, CAST(floor(2e-1 * sqrt(
         |    CAST(n * s2 - CAST(sl AS HUGEINT) * sl AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) + 5e-1) AS BIGINT))
         |    AS BIGINT) AS r
         | FROM cn WHERE n >= 6),
         |tpl AS (SELECT name, node, i,
         |  list(q) OVER (PARTITION BY name, node ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS v
         | FROM qp),
         |ts2 AS (SELECT tpl.name, tpl.node, i, v, r, n
         | FROM tpl JOIN tol USING (name, node) WHERE i < n - 2),
         |pr AS (SELECT a.name, a.node, max(a.n) AS n, max(a.r) AS r,
         |  sum(CASE WHEN abs(a.v[1] - b.v[1]) <= a.r
         |    AND abs(a.v[2] - b.v[2]) <= a.r THEN 1 ELSE 0 END) AS bp,
         |  sum(CASE WHEN abs(a.v[1] - b.v[1]) <= a.r
         |    AND abs(a.v[2] - b.v[2]) <= a.r
         |    AND abs(a.v[3] - b.v[3]) <= a.r THEN 1 ELSE 0 END) AS ap
         | FROM ts2 a JOIN ts2 b
         |  ON a.name = b.name AND a.node = b.node AND a.i < b.i
         | GROUP BY 1, 2)
         |SELECT name, node, n, r_tol, b_pairs, a_pairs,
         | CASE WHEN a_pairs > 0 AND b_pairs > 0 THEN
         |  floor((lnbp - lnap + 1e-11) * 1e6 + 0.5) / 1e6
         | END AS sampen
         |FROM (SELECT name, node, n, r AS r_tol,
         |  CAST(bp AS BIGINT) AS b_pairs, CAST(ap AS BIGINT) AS a_pairs,
         |  ${graft.functions.ExactMath.sqlLnCols("greatest(bp, 1)", "sa", "lnbp")},
         |  ${graft.functions.ExactMath.sqlLnCols("greatest(ap, 1)", "sb", "lnap")}
         | FROM pr) ORDER BY name, node""".stripMargin)),

    Q("ad_variance_shift", (s, dir) =>
      // volatility regime pages: leading/trailing 12-point windows,
      // exact integer ssd cross-compare at 9× (3× sigma) — no division
      // in the flag
      Anomaly.varianceShift(grid(s, dir)).orderBy("name", "node", "tsb"),
    Some(
      s"""$WITH_GRID,
         |qv AS (SELECT name, node, tsb,
         |  CAST(floor(gval * 1e6 + 0.5) AS BIGINT) AS q FROM grid),
         |wf AS (SELECT name, node, tsb,
         |  count(*) OVER wp AS pn, CAST(sum(q) OVER wp AS BIGINT) AS ps,
         |  sum(CAST(q AS HUGEINT) * q) OVER wp AS ps2,
         |  count(*) OVER wn AS nn2, CAST(sum(q) OVER wn AS BIGINT) AS ns,
         |  sum(CAST(q AS HUGEINT) * q) OVER wn AS ns2
         | FROM qv WINDOW
         |  wp AS (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING),
         |  wn AS (PARTITION BY name, node ORDER BY tsb
         |    ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING)),
         |sd AS (SELECT name, node, tsb,
         |  12 * ps2 - CAST(ps AS HUGEINT) * ps AS pssd,
         |  12 * ns2 - CAST(ns AS HUGEINT) * ns AS nssd
         | FROM wf WHERE pn = 12 AND nn2 = 12)
         |SELECT name, node, tsb,
         | floor((CAST(pssd AS DOUBLE) / 132e12 + 1e-9) * 1e4 + 0.5) / 1e4 AS var_prev,
         | floor((CAST(nssd AS DOUBLE) / 132e12 + 1e-9) * 1e4 + 0.5) / 1e4 AS var_next,
         | CASE WHEN nssd > pssd * 9 THEN 'up' ELSE 'down' END AS direction
         |FROM sd WHERE nssd > pssd * 9 OR pssd > nssd * 9
         |ORDER BY name, node, tsb""".stripMargin)),

    Q("text_pmi_bigrams", (s, dir) =>
      // top-25 PMI collocations with a count-5 floor — phrase-mining /
      // tokenizer-vocabulary diagnostic (ln quantized ×1e6, rank on
      // the quantized integer)
      TextAnalysis.pmiBigrams(Tables.documents(s, dir), 5, 25),
    Some(
      s"""WITH w AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
        |uc AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM w) GROUP BY t),
        |n1t AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uc),
        |bg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g FROM w),
        |bc AS (SELECT g, count(*) AS c12 FROM bg GROUP BY g HAVING count(*) >= 5),
        |n2t AS (SELECT count(*) AS n2 FROM bg),
        |jj AS (SELECT g, c12, string_split(g, ' ')[1] AS w1,
        |  string_split(g, ' ')[2] AS w2 FROM bc),
        |t AS (SELECT g, c12,
        |  CAST(floor((lnc12 + lnn1 + lnn1 - lnc1 - lnn2 - lnc2
        |    + 1e-9) * 1e6 + 0.5) AS BIGINT) AS qln
        | FROM (SELECT jj.g, jj.c12,
        |  ${graft.functions.ExactMath.sqlLnCols("jj.c12", "pa", "lnc12")},
        |  ${graft.functions.ExactMath.sqlLnCols("n1", "pb", "lnn1")},
        |  ${graft.functions.ExactMath.sqlLnCols("u1.c", "pc", "lnc1")},
        |  ${graft.functions.ExactMath.sqlLnCols("n2", "pd", "lnn2")},
        |  ${graft.functions.ExactMath.sqlLnCols("u2.c", "pe", "lnc2")}
        | FROM jj JOIN uc u1 ON jj.w1 = u1.t JOIN uc u2 ON jj.w2 = u2.t
        |  CROSS JOIN n1t CROSS JOIN n2t))
        |SELECT g, c12,
        | floor((CAST(qln AS DOUBLE) / 1e6 + 1e-9) * 1e4 + 0.5) / 1e4 AS pmi_nats
        |FROM t ORDER BY qln DESC, g LIMIT 25""".stripMargin)),

    Q("profile_skew", (s, dir) => {
      // join-key skew audit (read before choosing salting/broadcast
      // strategies): per key column, row/key counts, the heaviest
      // key's share, and max/mean + p99/mean ratios over per-key
      // counts. One keyed aggregate per table; the p99 is the exact
      // element at integer rank ceil(0.99·|keys|) selected from the
      // COUNT-VALUE HISTOGRAM (distinct per-key counts are few), so
      // no global sort of the key frame is ever needed — the shape a
      // 100 TB key census actually runs.
      // ONE union-first pipeline over all three key columns (the
      // oracle's own CTE shape, mirrored — r12: the former per-table
      // keyStats helper planned 3 independent persist + total + p99
      // pipelines, 33 jobs of sub-MB AQE stage materializations for a
      // 3-row result; one grouped pipeline keyed by (key_col, k) cuts
      // that ~3×, with per-key_col windows replacing the per-table
      // global window — identical arithmetic per table)
      def keyed(df: DataFrame, table: String, key: String): DataFrame =
        df.select(lit(table + "." + key).as("key_col"),
          col(key).cast("string").as("k"))
      val src = keyed(Tables.events(s, dir), "events", "user_id")
        .unionByName(keyed(Tables.lineitem(s, dir), "lineitem", "l_orderkey"))
        .unionByName(keyed(Tables.orders(s, dir), "orders", "o_custkey"))
      // the per-key count frame feeds totals, the count-value
      // histogram, and the p99 probe — persisted so each table scans
      // once (prefixJaccard release convention)
      val counts = src.groupBy("key_col", "k")
        .agg(count(lit(1)).as("c")).persist().tracked
      val tot = counts.groupBy("key_col").agg(sum("c").as("n_rows"),
        count(lit(1)).as("n_keys"), max("c").as("max_c"))
      val cum = counts.groupBy("key_col", "c").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum("f").over(Window.partitionBy("key_col")
          .orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val p99 = cum.join(broadcast(tot.select(col("key_col"),
          col("n_keys").as("nk"))), "key_col")
        .filter(col("cum") >= ceil(col("nk").cast("double") * lit(0.99)))
        .groupBy("key_col").agg(min("c").as("p99_c"))
      tot.join(p99, "key_col")
        .select(col("key_col"),
          col("n_rows"), col("n_keys"), col("max_c"), col("p99_c"),
          r4(col("max_c") / (col("n_rows") / col("n_keys"))).as("max_over_mean"),
          r4(col("max_c") / col("n_rows")).as("top1_share"))
        .orderBy("key_col")
    }, Some(
      """WITH src AS (
        |  SELECT 'events.user_id' AS key_col, CAST(user_id AS VARCHAR) AS k FROM events
        |  UNION ALL SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
        |counts AS (SELECT key_col, k, count(*) AS c FROM src GROUP BY 1, 2),
        |agg AS (SELECT key_col, CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys, max(c) AS max_c
        | FROM counts GROUP BY 1),
        |cum AS (SELECT key_col, c,
        |  sum(count(*)) OVER (PARTITION BY key_col ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM counts GROUP BY key_col, c),
        |p99 AS (SELECT cum.key_col, min(c) AS p99_c
        | FROM cum JOIN agg USING (key_col)
        | WHERE cum >= ceil(CAST(n_keys AS DOUBLE) * 0.99) GROUP BY 1)
        |SELECT agg.key_col, n_rows, n_keys, max_c, p99_c,
        | floor((max_c / (n_rows / n_keys) + 1e-9) * 1e4 + 0.5) / 1e4 AS max_over_mean,
        | floor((max_c / n_rows + 1e-9) * 1e4 + 0.5) / 1e4 AS top1_share
        |FROM agg JOIN p99 USING (key_col) ORDER BY key_col""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
