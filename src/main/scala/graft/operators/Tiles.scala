package graft.operators

import org.apache.spark.sql.{Column, Dataset, Encoder, SparkSession}

import scala.reflect.ClassTag

/** The tiling shared by graft's quadratic kernels — `Dedup.bucketPairs`
  * (near-dup candidates), `Clustering.inCellPairs` / `inCellTopK`
  * (in-cell cosine pairs, kNN) and `Correlate.corrMatrix` /
  * `kendallMatrix` / `dcorMatrix` (the fleet correlation matrices).
  * Each splits a hot group's |group|²/2 work into independent tasks
  * (the REPOSE device: cut a quadratic similarity search into
  * partitions that never talk to each other) and keeps only its
  * per-tile body; the three pieces they share live here once.
  *
  *  - [[salts]]: a group of n rows gets s = ⌈n / cap⌉ salts, raised to
  *    at least max(2, ⌈√(8·parts)⌉) once it is over the cap. ⌈n/cap⌉
  *    alone gives a group just over the cap 2-3 salts → 3-6 tiles of
  *    up to cap²/2 enumerations, and the stage waits on one straggler
  *    tile (measured: mm_phash on the nearverb family, s = 2, one
  *    9 M-pair cross tile). s(s+1)/2 ≥ 4·parts keeps every tile a
  *    sub-second task; the price is s× fan-out of the group's rows,
  *    bounded because the bump only applies to groups in
  *    (cap, cap·s_min). The pair set is s-invariant.
  *  - [[triangle]]: a row whose salt is `my` joins its diagonal tile
  *    (g, my, my) and one cross tile per other salt — (g, b, my) on
  *    side 1 for b < my, (g, my, b) on side 0 for b > my — so every
  *    unordered pair meets in exactly one tile.
  *  - [[walk]] / [[runs]]: an EXPLICIT-width repartition on the tile
  *    key, a sort within partitions, and a lazy walk of the sorted
  *    runs, one run in memory at a time. The width is explicit because
  *    tile rows are compute-dense relative to their shuffle bytes:
  *    AQE's byte-based partition coalescing folds such an exchange
  *    into ONE task (measured on the near-verbatim sf0.1 corpus:
  *    mm_phash 27.8 s in a single task, 89% of the query — the collapse
  *    the tiling exists to prevent), and a user-specified partition
  *    count is exempt from coalescing. A typed `groupByKey` plans the
  *    same shuffle + sort behind an opaque key AQE is free to coalesce.
  */
private[graft] object Tiles {

  /** Salt count per group from its row count (see the object doc):
    * 1 at or under `cap`, else max(⌈n / cap⌉, 2, ⌈√(8·parts)⌉).
    */
  def salts[G](spark: SparkSession, sizes: Iterable[(G, Long)], cap: Int): Map[G, Int] = {
    val sMin = math.max(2, math.ceil(math.sqrt(8.0 * graft.Widths.session(spark))).toInt)
    sizes.iterator.map { case (g, n) =>
      val s = ((n + cap - 1) / cap).toInt
      g -> (if (s > 1) math.max(s, sMin) else 1)
    }.toMap
  }

  /** Triangle fan-out of one row of group `g` over `s` salts: its salt
    * is `h mod s`, and `row(side)` builds the shipped row for each tile
    * it joins. With s ≤ 1 the whole group is the one tile (g, 0, 0).
    */
  def triangle[G, R](g: G, h: Long, s: Int)(row: Int => R): Iterator[((G, Int, Int), R)] =
    if (s <= 1) Iterator.single(((g, 0, 0), row(0)))
    else {
      val my = java.lang.Math.floorMod(h, s.toLong).toInt
      Iterator.single(((g, my, my), row(0))) ++
        (0 until my).iterator.map(b => ((g, b, my), row(1))) ++
        ((my + 1) until s).iterator.map(b => ((g, my, b), row(0)))
    }

  /** Runs of equal `key` in a key-sorted iterator, lazily: a run is
    * read only when asked for, and reading it pulls at most one element
    * past it (the head that ends it).
    */
  def runs[T, K, V: ClassTag](it: Iterator[T])(key: T => K, value: T => V)
      : Iterator[(K, Array[V])] = {
    val b = it.buffered
    new scala.collection.AbstractIterator[(K, Array[V])] {
      def hasNext: Boolean = b.hasNext
      def next(): (K, Array[V]) = {
        val k = key(b.head)
        val vs = scala.collection.mutable.ArrayBuffer.empty[V]
        while (b.hasNext && key(b.head) == k) vs += value(b.next())
        (k, vs.toArray)
      }
    }
  }

  /** Repartition `rows` to exactly `width` partitions on `keys`, sort
    * each partition by them, and run `tile` over every run of equal
    * `key` (see [[runs]]); tile outputs stream out as they are made.
    */
  def walk[T, K, V: ClassTag, U: Encoder](rows: Dataset[T], width: Int, keys: Seq[Column])(
      key: T => K, value: T => V)(tile: (K, Array[V]) => Iterator[U]): Dataset[U] =
    rows.repartition(width, keys: _*)
      .sortWithinPartitions(keys: _*)
      .mapPartitions(it => runs(it)(key, value).flatMap { case (k, vs) => tile(k, vs) })
}
