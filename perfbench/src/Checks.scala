package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Output checks, all computed from the generated inputs, never from
  * the engine: brute-force answers, recall against them, and an
  * order-insensitive result hash compared across reps. */
object Checks {

  /** Order-insensitive 64-bit hash of a result: the sum of two 32-bit
    * row hashes with different seeds. Doubles print in shortest
    * round-trip form, so the hash is bitwise in the values. */
  def hash(rows: Array[Row]): String = {
    var lo = 0L
    var hi = 0L
    rows.foreach { r =>
      val s = r.toString
      lo += MurmurHash3.stringHash(s, 17) & 0xffffffffL
      hi += MurmurHash3.stringHash(s, 31) & 0xffffffffL
    }
    f"$hi%016x$lo%016x"
  }

  /** Exact k-NN over the generated corpus with the engine's distance:
    * squared L2 over the float inputs widened to double, accumulated
    * left to right; ties break on the smaller id. */
  final class Exact(v: Gen.Vecs) {
    private val dv = v.vecs.map(_.map(_.toDouble))
    def dist(a: Int, b: Int): Double = {
      val x = dv(a); val y = dv(b)
      var s = 0.0; var j = 0
      while (j < x.length) { val t = x(j) - y(j); s += t * t; j += 1 }
      s
    }
    def topK(q: Long, k: Int, labelOk: Int => Boolean = _ => true): Seq[Long] =
      v.ids.indices.filter(i => labelOk(v.labels(i)))
        .map(i => (dist(q.toInt, i), v.ids(i)))
        .sorted.take(k).map(_._2)
    def pairsWithin(eps: Double): Set[(Long, Long)] =
      (for {
        a <- v.ids.indices.iterator
        b <- (a + 1 until v.n).iterator
        if dist(a, b) < eps
      } yield (v.ids(a), v.ids(b))).toSet
  }

  def pairKey(a: Long, b: Long): (Long, Long) = (math.min(a, b), math.max(a, b))

  /** The engine's top-k equals the brute-force ids, in order, and each
    * distance matches the recomputed one. */
  def sameTopK(got: Array[(Long, Double)], q: Long, truth: Seq[Long], ex: Exact): Boolean =
    got.map(_._1).toSeq == truth &&
      got.forall { case (id, d) =>
        val want = ex.dist(q.toInt, id.toInt)
        math.abs(d - want) <= 1e-9 * math.max(1.0, want)
      }

  /** Mean recall@k over queries of a (query_id, vec_id) result. */
  def recall(rows: Array[Row], truth: Int => Seq[Long]): Double = {
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    val qs = byQ.keys.toSeq.sorted
    if (qs.isEmpty) 0.0
    else qs.map { q =>
      val t = truth(q.toInt)
      byQ(q).map(_.getAs[Long]("vec_id")).toSet.intersect(t.toSet).size.toDouble / t.size
    }.sum / qs.size
  }

  private def edges(rows: Array[Row]): Set[(Int, Long, Long)] =
    rows.map(r => (r.getAs[Int]("level"), r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet

  /** Same (level, src, dst, dist) edge set. */
  def sameEdges(a: Array[Row], b: Array[Row]): Boolean = {
    def key(rows: Array[Row]) = rows.map(r => (r.getAs[Int]("level"), r.getAs[Long]("src"),
      r.getAs[Long]("dst"), r.getAs[Double]("dist"))).toSet
    a.length == b.length && key(a) == key(b)
  }

  /** Share of the exact build's (level, src, dst) edges the
    * approximate build also holds. */
  def edgeRecall(approx: Array[Row], exact: Array[Row]): Double = {
    val e = edges(exact)
    if (e.isEmpty) 0.0 else edges(approx).intersect(e).size.toDouble / e.size
  }

  /** (src, dst, rnk) m-NN graph equals the brute-force lists. */
  def sameGraph(rows: Array[Row], truth: IndexedSeq[Seq[Long]]): Boolean = {
    val got = rows.groupBy(_.getAs[Long]("src")).map { case (s, rs) =>
      s -> rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("dst")).toSeq
    }
    got.size == truth.size && truth.indices.forall(i => got.get(i.toLong).contains(truth(i)))
  }

  /** Share of planted (copy, original) pairs a dedup result reports:
    * as a (src, dst) pair, or as the copy's row (`vec_id`, dropped in
    * favour of an earlier row). */
  def pairRecall(rows: Array[Row], planted: Seq[(Long, Long)]): Double = {
    if (planted.isEmpty) return 1.0
    val cols = rows.headOption.map(_.schema.fieldNames.toSet).getOrElse(Set.empty)
    val found: ((Long, Long)) => Boolean =
      if (cols("src") && cols("dst")) {
        val ps = rows.map(r => pairKey(r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
        p => ps(pairKey(p._1, p._2))
      } else if (cols("vec_id")) {
        val dropped = rows.map(_.getAs[Long]("vec_id")).toSet
        p => dropped(p._1)
      } else _ => false
    planted.count(found).toDouble / planted.size
  }
}
