package graft

import graft.operators.Tiles
import org.apache.spark.sql.functions.col

/** The tiling shared by the quadratic kernels: the sorted-run walk
  * every tile kernel streams through, and the salt rule. The run walk
  * must hand back the input exactly, one maximal run at a time, and
  * read only one element past the run it returns — the kernels rely on
  * that to hold one tile in memory.
  */
class TilesSpec extends SparkTestBase {
  import spark.implicits._

  private def runsOf(xs: Seq[(Int, String)]) =
    Tiles.runs(xs.iterator)(_._1, _._2).toSeq.map { case (k, vs) => (k, vs.toSeq) }

  test("runs concatenate back to the input in order, with adjacent keys distinct") {
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 50) {
      val xs = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(6)).sorted
        .zipWithIndex.map { case (k, i) => (k, s"v$i") }
      val rs = runsOf(xs)
      assert(rs.flatMap { case (k, vs) => vs.map(v => (k, v)) } == xs)
      assert(rs.forall(_._2.nonEmpty))
      rs.sliding(2).foreach {
        case Seq(a, b) => assert(a._1 != b._1, s"adjacent runs share key ${a._1}")
        case _ =>
      }
    }
  }

  test("an empty partition yields no run") {
    assert(runsOf(Seq.empty).isEmpty)
  }

  test("taking the first run pulls at most one element past it") {
    var pulled = 0
    val xs = Seq(1 -> "a", 1 -> "b", 1 -> "c", 2 -> "d", 2 -> "e", 3 -> "f")
    val it = xs.iterator.map { x => pulled += 1; x }
    val runs = Tiles.runs(it)(_._1, _._2)
    assert(pulled == 0, "building the walk must read nothing")
    val (k, vs) = runs.next()
    assert(k == 1 && vs.toSeq == Seq("a", "b", "c"))
    assert(pulled <= 4, s"first run of 3 pulled $pulled elements")
  }

  test("the Dataset walk hands each key's rows to one tile call, sorted by key") {
    // 3 keys over 8 partitions: most partitions are empty and must
    // yield nothing; every key must arrive as exactly one run
    val rows = (0 until 30).map(i => (i % 3, i.toLong)).toDS()
    val tiles = Tiles.walk(rows, 8, Seq(col("_1")))(_._1, _._2) { (k, vs) =>
      Iterator.single((k, vs.sorted.toSeq))
    }.collect()
    assert(tiles.map(_._1).sorted.toSeq == Seq(0, 1, 2))
    tiles.foreach { case (k, vs) =>
      assert(vs == (0 until 30).filter(_ % 3 == k).map(_.toLong))
    }
  }

  test("the salt rule: one salt at or under the cap, at least ⌈√(8·parts)⌉ over it") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val s = Tiles.salts(spark, Seq("cold" -> 100L, "edge" -> 128L, "hot" -> 129L,
        "mega" -> (128L * 50 + 1)), cap = 128)
      assert(s == Map("cold" -> 1, "edge" -> 1, "hot" -> 8, "mega" -> 51))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
