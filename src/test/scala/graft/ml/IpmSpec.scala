package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IpmSpec extends SparkSpec {
  import spark.implicits._

  test("SMW interior point method solves the dual and separates blobs") {
    val rng = new scala.util.Random(19)
    val pts = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 2.0 else -2.0
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.4, cx + rng.nextGaussian() * 0.4),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val kernel = Kernel.Rbf(0.5)
    val map = Nystrom.fit(df, "id", "vec", kernel, numLandmarks = 30)
    val feats = Nystrom.transform(df, "vec", map, "h")

    val c = 1.0
    val (alphasRdd, iters, gap) = Ipm.solve(feats, "id", "y", "h", c,
      maxIter = 60, tol = 1e-5)
    val alphas = alphasRdd.collect().toMap
    info(f"IPM converged in $iters iters, surrogate gap $gap%.2e")

    // dual feasibility
    assert(alphas.values.forall(a => a >= 0 && a <= c), "box constraints hold")
    val yTa = pts.map { case (id, _, y) => y * alphas(id) }.sum
    assert(math.abs(yTa) < 1e-3, s"equality constraint |y'a| = ${math.abs(yTa)}")
    assert(gap < 1e-2, s"converged gap $gap")

    // primal recovery: w = sum_i alpha_i y_i phi(x_i); b from free SVs
    val phi = pts.map { case (id, x, _) => id -> map.features(x) }.toMap
    val p = phi.head._2.length
    val w = new Array[Double](p)
    pts.foreach { case (id, _, y) =>
      val f = phi(id); val a = alphas(id) * y
      var j = 0; while (j < p) { w(j) += a * f(j); j += 1 }
    }
    def score(id: Long): Double = {
      val f = phi(id); var s = 0.0
      var j = 0; while (j < p) { s += w(j) * f(j); j += 1 }; s
    }
    val free = pts.filter { case (id, _, _) =>
      alphas(id) > 1e-3 * c && alphas(id) < c * (1 - 1e-3) }
    assert(free.nonEmpty, "has free support vectors")
    val b = free.map { case (id, _, y) => y - score(id) }.sum / free.size
    val acc = pts.count { case (id, _, y) => (score(id) + b) * y > 0 }.toDouble / pts.size
    assert(acc === 1.0, s"separable blobs must classify perfectly, got $acc")
  }

  test("Ipm.solve runs four Spark jobs per Newton step") {
    val rng = new scala.util.Random(29)
    val pts = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 1.0 else -1.0
      (i.toLong, Array(cx + rng.nextGaussian(), cx + rng.nextGaussian()),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val map = Nystrom.fit(df, "id", "vec", Kernel.Rbf(0.5), numLandmarks = 12)
    val feats = Nystrom.transform(df, "vec", map, "h").persist()
    feats.count()
    // tol 0: no iteration converges, so every one is a full Newton step
    def jobs(maxIter: Int): Int = JobCount.of(spark) {
      val (alphas, iters, _) = Ipm.solve(feats, "id", "y", "h", 1.0,
        maxIter = maxIter, tol = 0.0)
      assert(iters === maxIter)
      alphas.count()
    }
    val (j3, j6) = (jobs(3), jobs(6))
    feats.unpersist()
    info(s"jobs: maxIter 3 -> $j3, maxIter 6 -> $j6")
    assert(j6 - j3 === 12, "3 more Newton steps must cost 4 jobs each")
  }
}
