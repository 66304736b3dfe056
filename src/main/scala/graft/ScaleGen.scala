package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** One-decade scaling audit generator: writes a `factor`× replica of an
  * existing testdata dir (default sf0.1 → a synthetic "sf1") so the
  * most expensive queries can be measured across sf0.01 → sf0.1 → sf1
  * and the claimed cost laws (Σ df², Σ|cell|², per-signal boundedness)
  * checked across two decades instead of one.
  *
  * Replication is STRUCTURE-PRESERVING, not verbatim:
  *   - documents: replica k maps the alphabet through a seeded random
  *     permutation, so within-replica near-dup structure is
  *     bit-identical to the original while cross-replica docs share
  *     (almost) no tokens OR character n-grams — the shape of a
  *     genuinely 10× corpus with the same dup rate. (A Caesar ROTATION
  *     is not enough: rotations form a group, so shard k's trigram
  *     images collide with shard j's whenever t + (k − j) is also a
  *     real trigram — measured as a spurious 5× densification of the
  *     char-trigram inverted index. Random permutations break the
  *     group structure.) Verbatim copies would be worse still: a
  *     10-clique per document, densifying the pair graph
  *     quadratically, which no real corpus growth does.
  *   - events: replica rows shift event_id only (same signals, same
  *     grid): a 10× events table with fixed signal cardinality and
  *     retention is DENSER sampling, which is the scaling axis the
  *     signal pipeline claims to be bounded on (per-signal work
  *     constant, parallelism = signals).
  *   - embeddings: replica k applies a seeded random PERMUTATION of
  *     the 64 dimensions (norm-preserving, cosine structure shuffled)
  *     with shifted vec_id, so ANN corpus size grows 10× under the
  *     same geometry. The same group-structure trap as the alphabet:
  *     the first version ROTATED by k, and rotations compose — a
  *     ScaleGen-of-ScaleGen replica at offset a+b collides with every
  *     other pair summing to a+b, which manufactured ~100-way
  *     exact-duplicate vector families at the 100× tier (measured:
  *     5.1e8 true cosine-0.3 pairs — an output-bound quadratic no
  *     real corpus growth produces). Random permutations compose into
  *     (almost surely) distinct permutations, so cross-replica
  *     vectors decorrelate the way genuinely new data does.
  *
  * A fourth axis exists for the SIGNAL pipeline: fleet WIDTH. The
  * reference's real growth dimension is more metrics, not denser
  * sampling of the same five — `widen` mode replicates events with
  * per-replica event_type suffixes (`click~w3`), so the signal count
  * grows ×factor at CONSTANT per-signal density and retention.
  * Replica values are verbatim copies of the originals (width audits
  * measure COST laws — NCC cells, matrix size — which are
  * value-independent; correlation VALUES against copies are
  * degenerate by construction and not the point).
  *
  * A fifth axis (r8 verdict #6): per-source SKEW. The width/data
  * audits scale documents by COUNT with sources staying uniform;
  * `skew` mode replicates ONE source's documents ×factor (alphabet-
  * permuted bodies so content is genuinely new, plus one VERBATIM
  * boilerplate line shared by every replica — the hot-line/hot-cell
  * shape the saltCap and per-source plans exist for) while every
  * other source stays 1×. The result: one source holding ~99% of the
  * corpus with a corpus-wide duplicated line — the adversarial case
  * for text_boilerplate (per-source line groups), source_overlap
  * (cross-source shingle join) and dedup_minhash_lsh (hot LSH cells).
  *
  * A sixth axis (r9 verdict #6): EMBEDDING-CELL skew. The text skew
  * above heats one LSH cell; `embskew` heats one IVF cell — replica
  * vectors form a blob around ONE original direction (the min-vec_id
  * vector, which is IVF centroid 0 under the first-k convention):
  * v' = γ·â + √(1−γ²)·ĵ with â the unit anchor and ĵ a deterministic
  * per-(replica, row) unit jitter (xxhash64 dims — append-stable, no
  * RNG state). γ = 0.45 is chosen against the two thresholds that
  * matter: cos(v′, anchor) = γ ≈ 0.45 beats every other centroid's
  * √(1−γ²)·ρ (ρ = jitter-vs-centroid cosine, σ ≈ 1/√64) by ~4σ, so
  * the blob CO-ASSIGNS — one cell holds the replicas — while blob
  * pair cosines concentrate at γ² ≈ 0.20, safely under the 0.3
  * near-dup gate, so the TRUE-pair output stays the tail (~15%), not
  * the square. This is the boilerplate-embedding shape: a mega-cell
  * the in-cell salted kernels (saltCap tiling) exist for, without the
  * degenerate everything-is-a-dup corpus no real pipeline sees.
  *
  * A seventh axis (r10 verdict #1): NEAR-VERBATIM duplication.
  * `skew` heats one LSH cell with a shared boilerplate LINE inside
  * otherwise-distinct documents; `nearverb` builds the shape that
  * defeats the exact-dedup-first contract — ONE document family whose
  * members are near-identical but not byte-identical (a mirrored page
  * differing only by a retrieval timestamp). Every replica is one
  * fixed template page plus a replica-unique timestamp suffix, so
  * exact dedup keeps them all, pairwise shingle Jaccard sits ≈ 0.9
  * (all true near-dups), and most MinHash band slices are identical
  * across the WHOLE family — the band buckets and phash/simhash
  * pigeonhole blocks become mega-buckets, which is precisely the
  * single-join-key collapse the tiled bucketPairs kernel exists for.
  * 30% of source docs spawn replicas (factor − 1 each), so factor
  * tunes the family size: |family| = 0.3·|docs|·(factor − 1).
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [factor]
  *   [widen|skew|embskew|nearverb]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val widen = args.length > 3 && args(3) == "widen"
    val skew = args.length > 3 && args(3) == "skew"
    val embskew = args.length > 3 && args(3) == "embskew"
    val nearverb = args.length > 3 && args(3) == "nearverb"
    val spark = GraftSession.build()

    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    // deterministic per-replica permutation (replica 0 = identity)
    def shifted(k: Int): String =
      if (k == 0) alphabet
      else {
        val arr = alphabet.toCharArray
        val rng = new scala.util.Random(0x5eed0000L + k)
        var i = arr.length - 1
        while (i > 0) {
          val j = rng.nextInt(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        new String(arr)
      }

    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => per(df, k)).reduce(_ unionByName _)

    val idStep = 10000000L

    if (widen) {
      // fleet-width replica: ×factor distinct signals, same grid/density
      val events = spark.read.parquet(s"$src/events.parquet")
      replicate(events) { (e, k) =>
        e.withColumn("event_id", col("event_id") + lit(k * idStep))
          .withColumn("event_type",
            if (k == 0) col("event_type")
            else concat(col("event_type"), lit(s"~w$k")))
      }.repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/events.parquet")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      }
      println(s"wrote ${factor}x WIDTH replica of $src to $out")
      spark.stop()
      return
    }

    if (skew) {
      // one source at ×factor docs, everything else 1×: permuted
      // bodies (new content) + one verbatim boilerplate line per
      // replica doc (the hot cell)
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val hot = "src0"
      val boiler = "subscribe to our newsletter and follow us for daily updates. "
      val hotDocs = docs.filter(col("source") === hot)
      val reps = (1 until factor).map { k =>
        hotDocs.select((col("doc_id") + lit(k * idStep)).as("doc_id"),
          concat(lit(boiler),
            translate(col("text"), alphabet, shifted(k))).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(boiler.length.toLong)).as("n_chars"))
      }
      (docs.select("doc_id", "text", "lang", "source", "n_chars") +: reps)
        .reduce(_ unionByName _)
        .repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/documents.parquet")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      }
      println(s"wrote ${factor}x SKEW replica (source $hot) of $src to $out")
      spark.stop()
      return
    }

    if (nearverb) {
      // one near-verbatim mega-family: 30% of docs spawn factor−1
      // replicas, every replica = the SAME template page + a unique
      // timestamp suffix (different bytes → survives exact dedup;
      // ~0.9 pairwise Jaccard → one all-true-pair family whose shared
      // band slices / pigeonhole blocks are corpus-scale mega-buckets)
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val template = "mirror of the daily status page generated for " +
        "archive purposes the content below is identical on every " +
        "mirror host and lists the service health dashboard uptime " +
        "figures release notes and contact addresses for the " +
        "operations team please do not edit this copy directly as it " +
        "will be overwritten by the next synchronization run "
      val hot = docs.filter(col("doc_id") % 10 < 3)
      val reps = (1 until factor).map { k =>
        hot.select((col("doc_id") + lit(k * idStep)).as("doc_id"),
          concat(lit(template), lit(s"retrieved snapshot $k stamp "),
            col("doc_id").cast("string")).as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      (docs.select("doc_id", "text", "lang", "source", "n_chars") +: reps)
        .reduce(_ unionByName _)
        .repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/documents.parquet")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      }
      println(s"wrote ${factor}x NEARVERB replica (one near-verbatim " +
        s"family) of $src to $out")
      spark.stop()
      return
    }

    if (embskew) {
      // one hot IVF cell: replicas blob around the min-vec_id anchor
      // direction (= IVF centroid 0); jitter keyed on (replica, row,
      // dim) through xxhash64 so the corpus is deterministic and
      // append-stable, labels carried from the source row
      val embs = spark.read.parquet(s"$src/embeddings.parquet")
      val aRow = embs.orderBy("vec_id").select("embedding").head
      val a = aRow.getSeq[Float](0).map(_.toDouble).toArray
      val an = math.sqrt(a.map(x => x * x).sum)
      val gamma = 0.45
      val beta = math.sqrt(1.0 - gamma * gamma)
      val aUnit = array(a.map(x => lit(gamma * x / an)).toSeq: _*)
      val reps = (1 until factor).map { k =>
        val j = array((0 until 64).map(d =>
          (xxhash64(col("vec_id"), lit(k), lit(d)) % lit(1000000L))
            .cast("double") / lit(1000000.0)): _*)
        embs
          .withColumn("j", j)
          .withColumn("jn",
            sqrt(aggregate(col("j"), lit(0.0), (acc, x) => acc + x * x)))
          .select((col("vec_id") + lit(k * idStep)).as("vec_id"),
            zip_with(aUnit, col("j"),
              (ax, jx) => (ax + lit(beta) * jx / col("jn")).cast("float"))
              .as("embedding"),
            col("label"))
      }
      (embs.select("vec_id", "embedding", "label") +: reps)
        .reduce(_ unionByName _)
        .repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/embeddings.parquet")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      }
      println(s"wrote ${factor}x EMBSKEW replica (anchor blob) of $src to $out")
      spark.stop()
      return
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicate(docs) { (d, k) =>
      d.select((col("doc_id") + lit(k * idStep)).as("doc_id"),
        translate(col("text"), alphabet, shifted(k)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/documents.parquet")

    val events = spark.read.parquet(s"$src/events.parquet")
    replicate(events) { (e, k) =>
      e.withColumn("event_id", col("event_id") + lit(k * idStep))
    }.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/events.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    def dimPerm(k: Int): Array[Int] = {
      val arr = (0 until 64).toArray
      val rng = new scala.util.Random(0xd1a60000L + k)
      var i = arr.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      arr
    }
    replicate(embs) { (e, k) =>
      val p = dimPerm(k)
      val perm = array((0 until 64).map(i =>
        element_at(col("embedding"), p(i) + 1)): _*)
      e.select((col("vec_id") + lit(k * idStep)).as("vec_id"),
        (if (k == 0) col("embedding") else perm).as("embedding"),
        col("label"))
    }.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/embeddings.parquet")

    // the TPC-H-ish tables are consumed by the SQL-side queries, which
    // the audit does not target — link the originals through so any
    // query can still resolve its tables
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    println(s"wrote ${factor}x replica of $src to $out")
    spark.stop()
  }
}
