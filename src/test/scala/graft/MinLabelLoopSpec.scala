package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** `Dedup.minLabelLoop` is the one connected-components loop: long
  * ids, rounds on pre-partitioned pair RDDs. This spec pins its labels
  * against an in-memory union-find on graphs that exercise every arm —
  * random graphs, a long PATH (the deferred pointer-jump arm engages
  * from round 3), a path whose ids descend, and a path longer than
  * maxRounds·hop-reach (the fail-loud unconverged contract) — and pins
  * what it leaves persisted.
  */
class MinLabelLoopSpec extends SparkTestBase {
  import spark.implicits._

  private def sym(edges: Seq[(Long, Long)]) = {
    val pairs = edges.toDF("doc1", "doc2")
    pairs.unionByName(
      pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
  }

  /** Least id of each edged vertex's component, by union-find. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    // the root of a merged pair is the lesser root, so every root is
    // its component's least id
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("minLabelLoop equals an in-memory union-find on random and long-chain graphs") {
    val rnd = new scala.util.Random(41)
    val dense: Seq[Seq[(Long, Long)]] = (0 until 4).map { _ =>
      (0 until 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
    }
    // sparse: 12 edges over 15 ids leave several components and
    // several ids with no edge at all
    val bfs = new scala.util.Random(23)
    val sparse: Seq[Seq[(Long, Long)]] = (0 until 4).map { _ =>
      (0 until 12).map(_ => (bfs.nextInt(15).toLong, bfs.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
    }
    val paths: Seq[Seq[(Long, Long)]] = Seq(
      // a 10-hop path converges only through multi-round hops
      (0L until 10L).map(i => (i, i + 1)),
      // a 120-hop path needs the pointer jump to converge inside the
      // cap, so the loop runs the jump-join arm for many rounds
      (0L until 119L).map(i => (i, i + 1)),
      // ids descending along the path: the min label propagates the
      // slow direction
      (0L until 60L).map(i => (200L - i, 199L - i)))
    (dense ++ sparse ++ paths).foreach { edges =>
      val got = Dedup.minLabelLoop(sym(edges), maxRounds = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = unionFind(edges)
      assert(got == expect, s"labels diverge from union-find on $edges")
    }
  }

  test("minLabelLoop fails loud rather than return unconverged labels") {
    // an 8-vertex path cannot converge in one round even with the jump
    val e = intercept[IllegalStateException] {
      Dedup.minLabelLoop(sym((0L until 7L).map(i => (i, i + 1))), maxRounds = 1)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("the RDD loop keeps only its final labels persisted") {
    // 120 hops run ~15 rounds; each round's localCheckpoint persists a
    // labels RDD, and every one but the returned labels must be released
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = Dedup.minLabelLoop(sym((0L until 119L).map(i => (i, i + 1))),
      maxRounds = 50).collect()
    assert(labels.map(_.getLong(1)).distinct.toSeq == Seq(0L))
    val added = sc.getPersistentRDDs.keySet -- before
    added.foreach(id => sc.getPersistentRDDs(id).unpersist())
    assert(added.size <= 1, s"persisted RDDs left behind: $added")
  }

  test("Caches.release frees the labels a long-keyed Dedup.clusters leaves persisted") {
    val sc = spark.sparkContext
    Caches.release()
    val before = sc.getPersistentRDDs.keySet
    val docs = (0L until 40L).toDF("doc_id")
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val n = Dedup.clusters(docs, precomputedPairs = Some(pairs)).count()
    assert(n == 40)
    Caches.release()
    val added = sc.getPersistentRDDs.keySet -- before
    added.foreach(id => sc.getPersistentRDDs(id).unpersist())
    assert(added.isEmpty, s"persisted RDDs left after Caches.release: $added")
  }
}
