package graft.query

import graft.functions.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one k-means fit behind IVF cells, PQ codebooks and residual-PQ
  * codebooks, on the driver over a bounded sample: seeded k-means++
  * then Lloyd rounds, best of a few restarts. Every family's query
  * bound is exact for ANY centroid set, so the fit needs the corpus'
  * shape, not the corpus: like FAISS (`max_points_per_centroid = 256`,
  * faiss/Clustering.h) it trains on at most 256 points per centroid.
  * Sums run in double in a fixed order, so centers are bit-identical at
  * any core count, partitioning or shuffle setting.
  */
private[query] object Lloyd {

  /** Sample rows collected per requested center. */
  val MaxPointsPerCentroid = 256

  /** Driver budget of one fit sample, in floats (128 MB):
    * `k · MaxPointsPerCentroid · dim` must fit in it.
    */
  val DriverFitFloats: Long = 1L << 25

  /** The first `MaxPointsPerCentroid · k` normalized `features` of a
    * prepared frame by `(hash(id), id)`, in one job: a function of the
    * ids alone, and a smaller `k`'s sample is a prefix of a larger one's.
    */
  def sample(prepared: DataFrame, idCol: String, k: Int): Array[Array[Float]] = {
    val rows = MaxPointsPerCentroid.toLong * k
    val over = s"Lloyd.sample: k=$k × $MaxPointsPerCentroid rows × dim exceed " +
      s"the driver fit budget of $DriverFitFloats floats"
    require(k >= 1 && rows <= DriverFitFloats, over)
    prepared
      .filter(assert_true(size(col("features")) * rows <= DriverFitFloats, lit(over)).isNull)
      .orderBy(hash(col(idCol)), col(idCol))
      .limit(rows.toInt)
      .select(col("features").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
  }

  /** Restarts per fit, lowest inertia wins (FAISS's `nredo`). Restart
    * `t` seeds `seed + t · 1000003`, apart from PQ's per-subspace seeds.
    */
  val Restarts = 5

  /** `k` centers fit on the first `MaxPointsPerCentroid · k` points:
    * per restart, k-means++ seeding then up to `maxIter` Lloyd rounds
    * (stopping at a fixed point). `k` is clamped to the distinct points,
    * the one clamp every caller relies on; an emptied cluster keeps its
    * previous center.
    */
  def fit(points: Array[Array[Float]], k: Int, maxIter: Int, seed: Long): Array[Array[Float]] = {
    require(points.nonEmpty && k >= 1,
      s"Lloyd.fit: need at least one point and k >= 1 (got ${points.length}, k=$k)")
    val pts = points.take(MaxPointsPerCentroid * k)
    val kk = math.min(k, pts.map(_.toSeq).distinct.length)
    (0 until Restarts)
      .map(t => rounds(pts, seeded(pts, kk, new scala.util.Random(seed + t * 1000003L)), maxIter))
      .minBy(c => pts.map(p => sq(p, c(nearest(p, c)))).sum)
      .map(_.map(_.toFloat))
  }

  /** k-means++ seeding: each next center is drawn with probability
    * proportional to its squared distance from the chosen ones.
    */
  private def seeded(
      pts: Array[Array[Float]],
      kk: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    val centers = Array.fill(1)(pts(rnd.nextInt(pts.length)).map(_.toDouble)).toBuffer
    val dist = pts.map(sq(_, centers.head))
    while (centers.size < kk) {
      val c = pts(draw(dist, rnd.nextDouble() * dist.sum)).map(_.toDouble)
      centers += c
      dist.indices.foreach(i => dist(i) = math.min(dist(i), sq(pts(i), c)))
    }
    centers.toArray
  }

  /** Up to `maxIter` Lloyd rounds from `centers` (updated in place),
    * stopping once no assignment moves — a fixed point.
    */
  private def rounds(
      pts: Array[Array[Float]],
      centers: Array[Array[Double]],
      maxIter: Int): Array[Array[Double]] = {
    var assign = Array.empty[Int]
    var moved = true
    var iter = 0
    while (iter < maxIter && moved) {
      val next = pts.map(nearest(_, centers))
      moved = !next.sameElements(assign)
      assign = next
      // sums in double, in point-index order within each cluster
      if (moved) pts.indices.groupBy(assign(_)).foreach { case (m, members) =>
        centers(m) = Array.tabulate(centers(m).length)(j =>
          members.foldLeft(0.0)((s, i) => s + pts(i)(j)) / members.size)
      }
      iter += 1
    }
    centers
  }

  /** The first positive-weight index whose cumulative weight passes
    * `r`; the last positive-weight one absorbs rounding, so a duplicate
    * of a chosen center is never drawn.
    */
  private def draw(w: Array[Double], r: Double): Int = {
    var pick = -1
    var acc = 0.0
    var i = 0
    while (i < w.length && !(pick >= 0 && acc > r)) {
      if (w(i) > 0.0) { pick = i; acc += w(i) }
      i += 1
    }
    pick
  }

  /** The assignment rule of every index build, on the driver: the
    * nearest of `centers` by `sqrt(l2_dist_sq)` on float vectors, ties
    * to the lower index — [[IvfIndex.nearestCell]]'s arithmetic exactly.
    */
  def nearestCenter(p: Array[Float], centers: Array[Array[Float]]): Int =
    centers.indices.minBy(m => math.sqrt(VectorOps.l2Sq(p, centers(m))))

  private def nearest(p: Array[Float], centers: Array[Array[Double]]): Int =
    centers.indices.minBy(m => sq(p, centers(m)))

  private def sq(p: Array[Float], c: Array[Double]): Double =
    c.indices.foldLeft(0.0) { (acc, j) => val d = p(j) - c(j); acc + d * d }
}
