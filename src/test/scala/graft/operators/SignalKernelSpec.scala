package graft.operators

import java.lang.Double.doubleToRawLongBits

/** The contract of [[SignalKernel.series]] on hostile groups: unsorted
  * and duplicate times, NaN, −0.0 and ±Inf values, one-sample groups,
  * and an input that is not partitioned by (name, node) beforehand.
  */
class SignalKernelSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val specials = Array(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.5, -2.25)

  test("series hands each (name, node) one call with its rows sorted stably by time") {
    val rng = new scala.util.Random(20261019L)
    val keys = for (name <- Seq("a", "b:total", "ß"); node <- Seq("n0", "n1:9100", ""))
      yield (name, node)
    val rows = keys.flatMap { case (name, node) =>
      val n = if (rng.nextInt(4) == 0) 1 else 1 + rng.nextInt(80)
      // times from a narrow range: many duplicates, arrival order unsorted
      Seq.fill(n)((name, node, rng.nextInt(25).toLong - 5L,
        if (rng.nextInt(3) == 0) specials(rng.nextInt(specials.length))
        else rng.nextGaussian() * 100))
    }
    val shuffled = rng.shuffle(rows)
    // one input partition, so the rows of a group arrive in input order
    // and a stable sort is observable
    val in = shuffled.toDF("name", "node", "tsb", "gval").coalesce(1)
    val calls = SignalKernel.series(in) { (name, node, t, v) =>
      Iterator.single((name, node, t, v.map(doubleToRawLongBits)))
    }.collect()

    val byKey = calls.groupBy(c => (c._1, c._2))
    assert(byKey.keySet == keys.toSet, "a group was lost or invented")
    byKey.foreach { case (k, cs) => assert(cs.length == 1, s"$k got ${cs.length} calls") }

    def bits(rs: Seq[(String, String, Long, Double)]) =
      rs.map(r => (r._3, doubleToRawLongBits(r._4)))
    calls.foreach { case (name, node, t, v) =>
      assert(t.length == v.length && t.nonEmpty)
      assert(t.indices.drop(1).forall(i => t(i - 1) <= t(i)), s"($name, $node) times not ascending")
      val group = shuffled.filter(r => r._1 == name && r._2 == node)
      val got = t.toSeq.zip(v.toSeq)
      // every (t, v) pair of the group, paired as it came in, by bits
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
        bits(group).groupBy(identity).view.mapValues(_.size).toMap,
        s"($name, $node) pairs differ from its rows")
      // equal times keep arrival order
      assert(got == bits(group.sortBy(_._3)), s"($name, $node) sort is not stable")
    }
  }
}
