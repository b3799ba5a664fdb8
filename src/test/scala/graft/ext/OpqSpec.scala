package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [X] OPQ rotation learning (q253): Procrustes solve, distributed
  * cross-covariance, orthogonality, and planted-rotation MSE recovery —
  * the optimality half of the q253 certificate split.
  */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  private val d8 = 8

  /** Deterministic pseudo-random in [-1, 1] (LCG — no Math.random in
    * tests; reproducibility is the point).
    */
  private def lcg(seed: Long): Iterator[Double] = {
    var s = seed
    Iterator.continually {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  /** Givens rotation on dims (p, q) by theta, composed right-to-left. */
  private def givens(d: Int, rots: Seq[(Int, Int, Double)]): Array[Array[Double]] = {
    var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    rots.foreach { case (p, q, th) =>
      val g = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      g(p)(p) = math.cos(th); g(q)(q) = math.cos(th)
      g(p)(q) = -math.sin(th); g(q)(p) = math.sin(th)
      r = matMul(r, g)
    }
    r
  }

  private def matMul(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(a.length, b(0).length) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < b.length) { acc += a(i)(k) * b(k)(j); k += 1 }
      acc
    }

  /** x·R for a single row. */
  private def rowRot(x: Array[Double], r: Array[Array[Double]]): Array[Double] =
    Array.tabulate(r.length) { j =>
      var acc = 0.0; var i = 0
      while (i < r.length) { acc += x(i) * r(i)(j); i += 1 }
      acc
    }

  // Planted-structure corpus: per 4-dim subspace each vector IS one of 4
  // codewords (zero PQ error possible under the right alignment), then the
  // whole vector is spun by R0 so the identity subspace split sees 16
  // mixed combos per side.
  private val cw: Array[Array[Double]] = Array(
    Array(4.0, 0.0, 0.0, 0.0), Array(0.0, 4.0, 0.0, 0.0),
    Array(0.0, 0.0, 4.0, 0.0), Array(0.0, 0.0, 0.0, 4.0))
  private val r0: Array[Array[Double]] = givens(d8, Seq(
    (0, 4, math.Pi / 6), (1, 5, math.Pi / 4), (2, 6, math.Pi / 3),
    (3, 7, math.Pi / 9)))
  private lazy val planted = (0 until 240).map { i =>
    // independent codeword picks (periods 4 and 16) — all 16 combos occur;
    // a shared period would collapse the corpus to 4 distinct vectors and
    // make even the identity split exactly quantizable
    val z = cw(i % 4) ++ cw((i / 4) % 4)
    // x = z·R0ᵀ so that x·R0 = z exactly recovers the codeword grid
    (i.toLong, rowRot(z, r0.transpose.map(_.toArray)))
  }.toDF("vec_id", "embedding")

  test("rotate: matches the local matrix product") {
    val r = givens(4, Seq((0, 2, 0.7), (1, 3, 1.1)))
    val xs = Seq(
      (0L, Array(1.0, 2.0, 3.0, 4.0)),
      (1L, Array(-0.5, 0.25, 0.0, 8.0)))
    val got = Opq.rotate(xs.toDF("id", "v"), "v", "id", r)
      .collect().map(row => row.getLong(0) -> row.getSeq[Double](1)).toMap
    xs.foreach { case (id, x) =>
      val want = rowRot(x, r)
      got(id).toArray.zip(want).foreach { case (a, b) =>
        a shouldBe b +- 1e-12
      }
    }
  }

  test("procrustes via distributed crossSums recovers a planted rotation") {
    val rnd = lcg(7L)
    val d = 6
    val xs = (0 until 80).map(i =>
      (i.toLong, Array.fill(d)(rnd.next()))).toDF("id", "x")
    val rPlant = givens(d, Seq((0, 3, 0.5), (1, 4, 1.2), (2, 5, 2.0),
      (0, 5, 0.3)))
    val q = Opq.rotate(xs, "x", "id", rPlant).withColumnRenamed("y", "q")
    val m = Opq.crossSums(xs, "x", q, "q", "id")
    val rHat = Opq.procrustes(m)
    rHat.zip(rPlant).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => x shouldBe y +- 1e-5 }
    }
  }

  test("crossSums fails loudly when the two inputs share no id") {
    val a = Seq((1L, Array(1.0, 2.0))).toDF("id", "x")
    val b = Seq((2L, Array(3.0, 4.0))).toDF("id", "q")
    val e = intercept[IllegalArgumentException](
      Opq.crossSums(a, "x", b, "q", "id"))
    e.getMessage should include ("disjoint")
  }

  test("trainRotation: R is orthogonal (R·Rᵀ = I)") {
    val r = Opq.trainRotation(planted, "embedding", "vec_id",
      m = 2, ksub = 4, alternations = 2, maxIter = 10)
    val rrT = matMul(r, r.transpose.map(_.toArray))
    for (i <- 0 until d8; j <- 0 until d8)
      rrT(i)(j) shouldBe (if (i == j) 1.0 else 0.0) +- 1e-8
  }

  test("planted rotation: OPQ beats identity PQ, and the plant is near-exact") {
    // sanity: under the planted R0 the grid is 4 exact points per
    // subspace — near-zero PQ error (near, not zero: MLlib k-means stops
    // on its convergence tol, not on exactness)
    val msePlant = Opq.quantizationMse(planted, "embedding", "vec_id",
      r0, m = 2, ksub = 4)
    msePlant should be < 1e-2
    val ident = Array.tabulate(d8, d8)((i, j) => if (i == j) 1.0 else 0.0)
    val mseIdent = Opq.quantizationMse(planted, "embedding", "vec_id",
      ident, m = 2, ksub = 4)
    mseIdent should be > 0.5 // mixing across the split costs real error
    val r = Opq.trainRotation(planted, "embedding", "vec_id",
      m = 2, ksub = 4, alternations = 6, maxIter = 20)
    val mseTrained = Opq.quantizationMse(planted, "embedding", "vec_id",
      r, m = 2, ksub = 4)
    mseTrained should be < 0.9 * mseIdent
  }
}
