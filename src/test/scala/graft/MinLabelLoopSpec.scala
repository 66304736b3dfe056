package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** r13: the LONG-keyed connected-components rounds moved from the
  * DataFrame loop (3-5 driver round-trips per round: AQE stage
  * materializations + the eager checkpoint) to identical rounds on
  * pre-partitioned pair RDDs (one count action per round). The labels
  * are exact Long mins either way; this spec pins RDD ≡ DataFrame on
  * graphs that exercise every arm — random graphs, a long PATH (the
  * deferred pointer-jump arm engages from round 3), and a path longer
  * than maxRounds·hop-reach (the fail-loud unconverged contract).
  */
class MinLabelLoopSpec extends SparkTestBase {
  import spark.implicits._

  private def sym(edges: Seq[(Long, Long)]) = {
    val pairs = edges.toDF("doc1", "doc2")
    pairs.unionByName(
      pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
  }

  test("RDD arm equals the DataFrame arm on random and long-chain graphs") {
    val rnd = new scala.util.Random(41)
    val cases: Seq[Seq[(Long, Long)]] = (0 until 4).map { _ =>
      (0 until 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
    } :+
      // a 120-hop path: needs the pointer jump to converge inside the
      // cap, so both loops run the jump-join arm for many rounds
      (0L until 119L).map(i => (i, i + 1)) :+
      // ids descending along the path: the min label propagates the
      // slow direction
      (0L until 60L).map(i => (200L - i, 199L - i))
    cases.foreach { edges =>
      val s = sym(edges)
      val viaRdd = Dedup.minLabelLoopRdd(s, maxRounds = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val viaDF = Dedup.minLabelLoopDF(s, maxRounds = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(viaRdd.sameElements(viaDF),
        s"RDD/DF label divergence on $edges:\n${viaRdd.toSeq}\n${viaDF.toSeq}")
    }
  }

  test("long-keyed edges dispatch to the RDD arm and still fail loud unconverged") {
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
    val labels = Dedup.minLabelLoopRdd(sym((0L until 119L).map(i => (i, i + 1))),
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
