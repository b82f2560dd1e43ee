package graft.operators

/** Driver-side Lloyd's k-means for the float IVF-PQ coarse cells and
  * subspace codebooks. The training set is already capped at a few
  * thousand vectors (sampled in one Spark pass — see
  * [[Similarity.ivfPqTopK]]), at which size a tight local loop
  * beats any distributed fit: zero scheduler round-trips, deterministic
  * for a fixed seed, ~10⁷ flops for 4096×64×16×10.
  *
  * k-means++ seeding (Arthur & Vassilvitskii '07) then `iters` Lloyd
  * rounds; empty clusters re-seed to the point farthest from its
  * centroid, the standard repair. Returns min(k, distinct points)
  * centroids. */
private[graft] object KMeansLite {

  def fit(points: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs at least one training point")
    val n = points.length
    val dim = points(0).length
    val kk = math.min(k, n)
    val rng = new scala.util.Random(seed)

    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    // k-means++: first centroid uniform, each next ∝ squared distance to
    // the nearest chosen one
    val cents = new Array[Array[Double]](kk)
    cents(0) = points(rng.nextInt(n)).clone()
    val minD2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0
      var total = 0.0
      while (i < n) {
        val d = dist2(points(i), cents(c - 1))
        if (d < minD2(i)) minD2(i) = d
        total += minD2(i)
        i += 1
      }
      var r = rng.nextDouble() * total
      var pick = 0
      i = 0
      var acc = 0.0
      while (i < n && acc + minD2(i) < r) { acc += minD2(i); pick = i + 1; i += 1 }
      cents(c) = points(math.min(pick, n - 1)).clone()
      c += 1
    }

    val assign = new Array[Int](n)
    val sums = Array.ofDim[Double](kk, dim)
    val counts = new Array[Int](kk)
    var iter = 0
    while (iter < iters) {
      java.util.Arrays.fill(counts, 0)
      var j = 0
      while (j < kk) { java.util.Arrays.fill(sums(j), 0.0); j += 1 }
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var cc = 0
        while (cc < kk) {
          val d = dist2(points(i), cents(cc))
          if (d < bestD) { bestD = d; best = cc }
          cc += 1
        }
        assign(i) = best
        counts(best) += 1
        val s = sums(best)
        var dd = 0
        while (dd < dim) { s(dd) += points(i)(dd); dd += 1 }
        i += 1
      }
      var cc = 0
      while (cc < kk) {
        if (counts(cc) == 0) {
          // empty cluster: re-seed to the point farthest from its centroid
          var far = 0
          var farD = -1.0
          var ii = 0
          while (ii < n) {
            val d = dist2(points(ii), cents(assign(ii)))
            if (d > farD) { farD = d; far = ii }
            ii += 1
          }
          cents(cc) = points(far).clone()
        } else {
          val s = sums(cc)
          var dd = 0
          while (dd < dim) { cents(cc)(dd) = s(dd) / counts(cc); dd += 1 }
        }
        cc += 1
      }
      iter += 1
    }
    cents
  }
}
