package graft.ml

import graft.SparkSpec

class IcfSvmSpec extends SparkSpec {
  import spark.implicits._

  test("full psvm pipeline (ICF -> IPM -> SV model) separates blobs") {
    val rng = new scala.util.Random(23)
    val pts = (0 until 80).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 2.0 else -2.0
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.4, -cx + rng.nextGaussian() * 0.4),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 20, c = 1.0, maxIter = 60)
    info(s"support vectors: ${model.numSupportVectors} of ${pts.size}")
    assert(model.numSupportVectors > 0 && model.numSupportVectors <= pts.size)

    val scored = model.predict(df, "id", "vec")
    val acc = SvmEvaluator.evaluate(scored, "y").head.getAs[Double]("accuracy")
    assert(acc === 1.0, s"separable data must classify perfectly, got $acc")
  }

  test("psvm-style text model roundtrips exactly") {
    val rng = new scala.util.Random(41)
    val pts = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 1.5 else -1.5
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.5, -cx + rng.nextGaussian() * 0.5),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 16, c = 1.0, maxIter = 40)
    val dir = java.nio.file.Files.createTempDirectory("icfsvm_text").toString
    model.saveText(spark, dir)
    val loaded = IcfSvmModel.loadText(spark, dir)
    assert(loaded.numSupportVectors === model.numSupportVectors)
    assert(loaded.bias === model.bias, "rho/bias roundtrips via Double.toString")
    assert(loaded.kernel === model.kernel)
    val orig = model.predict(df, "id", "vec")
      .select("id", "decision").as[(Long, Double)].collect().toMap
    val back = loaded.predict(df, "id", "vec")
      .select("id", "decision").as[(Long, Double)].collect().toMap
    pts.foreach { case (id, _, _) =>
      assert(math.abs(orig(id) - back(id)) < 1e-12,
        s"decision for $id drifted: ${orig(id)} vs ${back(id)}")
    }
  }

  test("chunked SV scoring agrees with the single-join kernel sum") {
    val rng = new scala.util.Random(31)
    val pts = (0 until 70).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 1.5 else -1.5
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.6, -cx + rng.nextGaussian() * 0.6),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 16, c = 5.0, maxIter = 40)
    // chunkSize 8 forces many SV batches; partial sums must re-add to
    // the same decisions up to float re-association
    val single = model.predict(df, "id", "vec")
      .select($"id", $"decision").as[(Long, Double)].collect().toMap
    val chunked = model.predictChunked(df, "id", "vec", chunkSize = 8)
      .select($"id", $"decision").as[(Long, Double)].collect().toMap
    assert(single.keySet == chunked.keySet)
    single.foreach { case (id, d) =>
      assert(math.abs(d - chunked(id)) < 1e-9, s"id $id: $d vs ${chunked(id)}")
    }

    // quantized path: within nSV·1e-12 of the exact-float decision, and
    // BIT-identical across chunk sizes and partitionings (integer sums
    // commute exactly — the scale path's whole point)
    val quant = model.predictQuantized(df, "id", "vec")
      .select($"id", $"decision").as[(Long, Double)].collect().toMap
    single.foreach { case (id, d) =>
      assert(math.abs(d - quant(id)) <= (model.numSupportVectors + 1) * 1e-12,
        s"id $id: quantized ${quant(id)} vs exact $d")
    }
    val quantTiny = model.predictQuantized(df.repartition(7), "id", "vec", chunkSize = 8)
      .select($"id", $"decision").as[(Long, Double)].collect().toMap
    quant.foreach { case (id, d) =>
      assert(d == quantTiny(id), s"id $id: quantized bits differ across chunking")
    }
  }

  test("per-class C weights shift the confusion matrix toward the rare class") {
    // 10:1 imbalanced overlapping blobs: unweighted C under-recalls the
    // rare positive class; boosting posWeight must raise tp (recall).
    val rng = new scala.util.Random(13)
    val pts = (0 until 220).map { i =>
      val pos = i % 11 == 0                       // ~9% positive
      val cx = if (pos) 0.8 else -0.8             // heavy overlap
      (i.toLong,
       Array(cx + rng.nextGaussian(), cx + rng.nextGaussian()),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y").persist()
    def tpOf(posWeight: Double): Long = {
      val m = IcfSvmTrainer.fit(df, "id", "vec", "y",
        Kernel.Rbf(0.5), rank = 16, c = 1.0, maxIter = 40,
        posWeight = posWeight)
      SvmEvaluator.evaluate(m.predict(df, "id", "vec"), "y")
        .head.getAs[Long]("tp")
    }
    val tpPlain = tpOf(1.0)
    val tpWeighted = tpOf(10.0)
    info(s"tp unweighted=$tpPlain, tp with posWeight=10: $tpWeighted")
    assert(tpWeighted > tpPlain,
      "upweighting the rare class must recover more of its points")
  }

  test("non-separable data: SV set stays distributed (O(n) SVs, no driver copy)") {
    // random labels -> nothing is separable -> nearly every point is a
    // support vector; the model must hold them as a DataFrame and still
    // score correctly through the kernel-sum join
    val rng = new scala.util.Random(7)
    val pts = (0 until 200).map { i =>
      (i.toLong,
       Array(rng.nextGaussian(), rng.nextGaussian()),
       if (rng.nextBoolean()) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 12, c = 1.0, maxIter = 40, tol = 1e-4)
    info(s"support vectors: ${model.numSupportVectors} of ${pts.size}")
    assert(model.numSupportVectors > pts.size / 2,
      "non-separable data should make most points support vectors")
    // the SV set is a (distributed) DataFrame, not a driver-side array
    assert(model.svs.columns.contains("sv_x") && model.svs.columns.contains("sv_coef"))
    val scored = model.predict(df, "id", "vec")
    assert(scored.count() === pts.size.toLong)
    val acc = SvmEvaluator.evaluate(scored, "y").head.getAs[Double]("accuracy")
    assert(acc > 0.5, s"in-sample accuracy should beat chance, got $acc")
  }

  test("loadText places sparse idx:val entries at their declared positions") {
    // a hand-written SPARSE model (zeros omitted, indices skip) — the
    // positional-parse bug would misalign x2/x4 into slots 2/3
    val dir = java.nio.file.Files.createTempDirectory("icfsvm_sparse").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/header"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/sv"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/header/part-00000"),
      "svm_type c_svc\nkernel_type linear\ngamma 0.0\ncoef0 0.0\ndegree 0\n" +
        "total_sv 2\ndim 4\nrho -0.5\nSV\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/sv/part-00000"),
      "1.0 2:3.0 4:5.0\n-2.0 1:1.0\n")
    val m = IcfSvmModel.loadText(spark, dir)
    assert(m.bias === 0.5)
    val svs = m.svs.as[(Seq[Double], Double)].collect().sortBy(_._2)
    assert(svs(0) === (Seq(1.0, 0.0, 0.0, 0.0), -2.0))
    assert(svs(1) === (Seq(0.0, 3.0, 0.0, 5.0), 1.0))
    // linear-kernel decision for x = (1,1,1,1): 1*(3+5) + (-2)*1 + 0.5
    val scored = m.predict(
        Seq((1L, Seq(1.0, 1.0, 1.0, 1.0))).toDF("id", "vec"), "id", "vec")
      .select("decision").as[Double].head()
    assert(math.abs(scored - 6.5) < 1e-12, s"sparse decision $scored != 6.5")
  }

  test("ICF checkpoint/resume is bit-exact vs an uninterrupted run") {
    val rng = new scala.util.Random(31)
    val pts = (0 until 60).map { i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian()))
    }
    val df = pts.toDF("id", "vec")
    val kernel = Kernel.Rbf(0.3)
    val dir = java.nio.file.Files.createTempDirectory("icf_ckpt").toString

    def collectH(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      d.as[(Long, Seq[Double])].collect().toMap

    // full run with checkpointing: dumps the H prefix at column 4
    val full = collectH(Icf.factorize(df, "id", "vec", kernel, rank = 8,
      checkpointEvery = 4, checkpointDir = Some(dir)))
    assert(new java.io.File(s"$dir/state").exists(), "checkpoint written mid-run")
    // "crashed and rerun": a fresh call against the same dir resumes from
    // column 4 and must reproduce the uninterrupted factor EXACTLY —
    // every ICF pass is a per-row map + order-independent max-reduce
    val resumed = collectH(Icf.factorize(df, "id", "vec", kernel, rank = 8,
      checkpointEvery = 4, checkpointDir = Some(dir)))
    assert(resumed === full, "resumed factor differs from uninterrupted run")
  }

  test("IPM checkpoint/resume converges to the same alphas") {
    val rng = new scala.util.Random(47)
    val pts = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 2.0 else -2.0
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.4, cx + rng.nextGaussian() * 0.4),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val map = Nystrom.fit(df, "id", "vec", Kernel.Rbf(0.5), numLandmarks = 20)
    val feats = Nystrom.transform(df, "vec", map, "h").persist()
    val dir = java.nio.file.Files.createTempDirectory("ipm_ckpt").toString

    // uninterrupted solve
    val (aFull, _, _) = Ipm.solve(feats, "id", "y", "h", 1.0,
      maxIter = 40, tol = 1e-6)
    val full = aFull.collect().toMap
    // "crashed" run: stops after 6 iterations, has dumped alphas at 3
    Ipm.solve(feats, "id", "y", "h", 1.0, maxIter = 6, tol = 1e-6,
      checkpointDir = Some(dir), checkpointEvery = 3)
    assert(new java.io.File(s"$dir/state").exists(), "checkpoint written mid-run")
    // resumed run continues from the dump instead of iteration 0
    val (aRes, itersRes, _) = Ipm.solve(feats, "id", "y", "h", 1.0,
      maxIter = 40, tol = 1e-6, checkpointDir = Some(dir), checkpointEvery = 100)
    val res = aRes.collect().toMap
    feats.unpersist()
    assert(itersRes > 3, "resume continues counting from the saved iteration")
    val maxDiff = full.map { case (id, a) => math.abs(a - res(id)) }.max
    info(f"max |alpha_full - alpha_resumed| = $maxDiff%.2e")
    assert(maxDiff < 1e-4,
      s"resumed solve must reach the same optimum (max diff $maxDiff)")
  }

  test("factored-KKT bias agrees with the exact-kernel free-SV mean when ICF is tight") {
    // overlapping blobs -> non-separable, plenty of free SVs. The fit
    // derives b through the ICF factor (the reference's own math); with
    // a rank that captures the kernel well the exact-kernel KKT mean
    // over the same free set must agree up to ICF residual + solver
    // slack.
    val rng = new scala.util.Random(7)
    val pts = (0 until 200).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 0.8 else -0.8
      (i.toLong,
       Array(cx + rng.nextGaussian(), -cx + rng.nextGaussian()),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val kern = Kernel.Rbf(0.5)
    val m = IcfSvmTrainer.fit(df, "id", "vec", "y", kern,
      rank = 32, c = 1.0, maxIter = 60)
    // exact-kernel KKT mean over the free SVs, straight from the model
    import org.apache.spark.sql.functions._
    val free = m.svs.filter($"sv_alpha" < lit(1.0) * (1 - 1e-3))
      .select($"sv_id".as("__fid"), $"sv_x".as("__fx"), $"sv_y".as("__fy"))
    val bExact = m.svs.select($"sv_x", $"sv_coef")
      .crossJoin(broadcast(free))
      .groupBy($"__fid", $"__fy")
      .agg(sum($"sv_coef" * kern($"sv_x", $"__fx")).as("__s"))
      .agg(avg($"__fy" - $"__s")).head().getDouble(0)
    info(f"bias factored = ${m.bias}%.6f, exact-kernel mean = $bExact%.6f")
    assert(math.abs(m.bias - bExact) < 2e-2,
      s"factored-KKT bias must track the exact-kernel mean: ${m.bias} vs $bExact")
    m.unpersist()
  }

  private def blobs(seed: Int, n: Int, spread: Double): Seq[(Long, Array[Double], Double)] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 2.0 else -2.0
      (i.toLong,
       Array(cx + rng.nextGaussian() * spread, -cx + rng.nextGaussian() * spread),
       if (pos) 1.0 else -1.0)
    }
  }

  test("Icf.factorize runs one Spark job per column") {
    val df = blobs(23, 80, 0.4).toDF("id", "vec", "y")
    def jobs(rank: Int): Int = JobCount.of(spark) {
      assert(Icf.factorize(df, "id", "vec", Kernel.Rbf(0.5), rank).count() === 80)
    }
    val (j8, j16) = (jobs(8), jobs(16))
    info(s"jobs: rank 8 -> $j8, rank 16 -> $j16")
    assert(j16 - j8 === 8, "8 more columns must cost one job each")
  }

  test("fit equals factorize -> id join -> solve -> SV filter -> factored-KKT bias") {
    import org.apache.spark.sql.functions.col
    val df = blobs(23, 80, 0.4).toDF("id", "vec", "y")
    val (kernel, rank, c, maxIter, tol, svEps) = (Kernel.Rbf(0.5), 20, 1.0, 60, 1e-5, 1e-4)
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y", kernel, rank, c = c,
      maxIter = maxIter, tol = tol, svEpsilon = svEps)
    val fitted = model.svs.select("sv_id", "sv_coef").as[(Long, Double)].collect().toMap
    model.unpersist()

    // the reference: the public steps, joined by id
    val joined = df.join(Icf.factorize(df, "id", "vec", kernel, rank), "id")
      .select(col("id"), col("y"), col("icf_features"))
    val (alphaRdd, _, _) = Ipm.solve(joined, "id", "y", "icf_features", c,
      maxIter = maxIter, tol = tol)
    val alpha = alphaRdd.collect().toMap
    val rows = joined.as[(Long, Double, Seq[Double])].collect()
    val v = new Array[Double](rank)
    rows.foreach { case (id, y, h) => h.indices.foreach(j => v(j) += alpha(id) * y * h(j)) }
    val free = rows.filter { case (id, _, _) => alpha(id) > svEps * c && alpha(id) < c * (1 - 1e-3) }
    assert(free.nonEmpty)
    val bias = free.map { case (_, y, h) => y - h.indices.map(j => v(j) * h(j)).sum }.sum / free.length
    val refSvs = rows.collect { case (id, y, _) if alpha(id) > svEps * c => id -> y * alpha(id) }.toMap

    def near(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    assert(fitted.keySet === refSvs.keySet, "same support vectors")
    fitted.foreach { case (id, coef) =>
      assert(near(coef, refSvs(id)), s"sv_coef of $id: $coef vs ${refSvs(id)}")
    }
    assert(near(model.bias, bias), s"bias ${model.bias} vs $bias")
  }

  test("fit caches nothing but the model's svs, and unpersist releases them") {
    val df = blobs(5, 60, 0.6).toDF("id", "vec", "y")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y", Kernel.Rbf(0.5), rank = 16,
      maxIter = 20)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size === 1, s"fit left cached RDDs $added")
    assert(model.svs.storageLevel.useMemory, "svs is the one cache the fit keeps")
    model.unpersist()
    assert(sc.getPersistentRDDs.keySet === before)
  }

  /** A hand-built model over `svs` (x, coef) rows, in that SV order. */
  private def svModel(kernel: Kernel, svs: Seq[(Array[Double], Double)], bias: Double,
                      threshold: Long = 65536): IcfSvmModel =
    IcfSvmModel(kernel, svs.map { case (x, c) => (x.toSeq, c) }.toDF("sv_x", "sv_coef"),
      svs.size.toLong, bias, threshold)

  /** The decision replayed in plain Scala: the fold from 0.0 of coef·k in
    * SV order, then + bias, with the Column forms' loops and StrictMath. */
  private def replay(kernel: Kernel, svs: Seq[(Array[Double], Double)], bias: Double,
                     x: Array[Double]): Double = {
    def loop(a: Array[Double], f: (Double, Double) => Double): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, x.length)) { s += f(a(i), x(i)); i += 1 }
      s
    }
    val k: Array[Double] => Double = kernel match {
      case Kernel.Linear => a => loop(a, _ * _)
      case Kernel.Polynomial(g, c0, d) => a => StrictMath.pow(g * loop(a, _ * _) + c0, d.toDouble)
      case Kernel.Rbf(g) => a => StrictMath.exp(-g * loop(a, (u, v) => (u - v) * (u - v)))
      case Kernel.Laplacian(g) => a => StrictMath.exp(-g * loop(a, (u, v) => math.abs(u - v)))
    }
    svs.foldLeft(0.0) { case (acc, (sv, c)) => acc + c * k(sv) } + bias
  }

  private def randomSvs(seed: Int, n: Int, dim: Int): Seq[(Array[Double], Double)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)((Array.fill(dim)(rng.nextGaussian()), rng.nextGaussian()))
  }

  test("predict's decisions equal the plain-Scala replay bit for bit, for all four kernels") {
    val svs = randomSvs(3, 37, 5)
    val rng = new scala.util.Random(4)
    val rows = (0 until 50).map(i => (i.toLong, Array.fill(5)(rng.nextGaussian())))
    val df = rows.toDF("id", "vec")
    for (kernel <- Seq(Kernel.Linear, Kernel.Polynomial(0.3, 1.5, 3), Kernel.Rbf(0.4),
                       Kernel.Laplacian(0.7))) {
      val got = svModel(kernel, svs, -0.37).predict(df, "id", "vec")
        .select("id", "decision").as[(Long, Double)].collect().toMap
      rows.foreach { case (id, x) =>
        val want = replay(kernel, svs, -0.37, x)
        assert(java.lang.Double.doubleToRawLongBits(got(id)) ===
          java.lang.Double.doubleToRawLongBits(want), s"${kernel.name} row $id: ${got(id)} vs $want")
      }
    }
  }

  test("predict below the threshold scores map-side: no join, no aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    val df = blobs(23, 40, 0.4).toDF("id", "vec", "y")
    val scored = svModel(Kernel.Rbf(0.5), randomSvs(5, 12, 2), 0.1).predict(df, "id", "vec")
    assert(scored.collect().length === 40)
    val logical = scored.queryExecution.optimizedPlan
    assert(logical.collect { case p @ (_: Join | _: Aggregate) => p }.isEmpty, logical.toString)
    val helper = new AdaptiveSparkPlanHelper {}
    val physical = helper.collect(scored.queryExecution.executedPlan) {
      case p @ (_: BaseJoinExec | _: BroadcastNestedLoopJoinExec | _: BaseAggregateExec) => p
    }
    assert(physical.isEmpty, scored.queryExecution.executedPlan.toString)
  }

  test("a zero-SV model scores every row with decision == bias") {
    val df = blobs(7, 30, 0.5).toDF("id", "vec", "y")
    val scored = svModel(Kernel.Rbf(0.5), Seq.empty, 0.25).predict(df, "id", "vec")
      .select("id", "decision", "prediction").as[(Long, Double, Double)].collect()
    assert(scored.map(_._1).sorted.toSeq === (0L until 30L))
    assert(scored.forall(r => r._2 == 0.25 && r._3 == 1.0))
  }

  test("rows sharing an id are each scored against their own x") {
    val svs = randomSvs(9, 8, 2)
    val (a, b) = (Array(0.5, -1.0), Array(-2.0, 3.0))
    val df = Seq((1L, a.toSeq), (1L, b.toSeq)).toDF("id", "vec")
    val got = svModel(Kernel.Rbf(0.5), svs, 0.0).predict(df, "id", "vec")
      .select("vec", "decision").as[(Seq[Double], Double)].collect()
    assert(got.length === 2)
    got.foreach { case (x, d) =>
      assert(d == replay(Kernel.Rbf(0.5), svs, 0.0, x.toArray), s"row $x scored $d")
    }
  }

  test("above the threshold, the partitioned kernel-sum join agrees with the map-side path") {
    val df = blobs(11, 60, 0.8).toDF("id", "vec", "y")
    val model = svModel(Kernel.Rbf(0.5), randomSvs(12, 20, 2), -0.2)
    def decisions(m: IcfSvmModel) = m.predict(df, "id", "vec")
      .select("id", "decision").as[(Long, Double)].collect().toMap
    val (mapSide, joined) = (decisions(model), decisions(model.copy(broadcastThreshold = 4)))
    assert(mapSide.keySet === joined.keySet && mapSide.size === 60)
    mapSide.foreach { case (id, d) =>
      assert(math.abs(d - joined(id)) < 1e-9, s"id $id: $d vs ${joined(id)}")
    }
  }

  test("predict leaves no cached RDD behind once the model is unpersisted") {
    val df = blobs(13, 60, 0.6).toDF("id", "vec", "y")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y", Kernel.Rbf(0.5), rank = 16,
      maxIter = 20)
    val scored = model.predict(df, "id", "vec")
    assert(scored.collect().length === 60)
    assert(model.heldSvBlock.isDefined, "the map-side path broadcasts the SV block")
    model.unpersist()
    assert(sc.getPersistentRDDs.keySet === before)
    assert(model.heldSvBlock.isEmpty, "unpersist must release the broadcast SV block")
    // released, not destroyed: a frame predict already returned still runs
    assert(scored.collect().length === 60)
  }

  test("a null feature vector scores the bias in both regimes") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val df = Seq((0L, Option(Seq(0.5, -1.0))), (1L, Option.empty[Seq[Double]]),
                 (2L, Option(Seq(-2.0, 3.0)))).toDF("id", "vec")
    val model = svModel(Kernel.Rbf(0.5), randomSvs(14, 12, 2), -0.3)
    def scored(m: IcfSvmModel) = m.predict(df, "id", "vec")
      .select("id", "decision", "prediction").as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val (mapSide, joined) = (scored(model), scored(model.copy(broadcastThreshold = 4)))
    assert(mapSide(1L) === ((-0.3, -1.0)))
    assert(joined(1L) === ((-0.3, -1.0)))
    assert(mapSide.keySet === joined.keySet && mapSide.size === 3)
    mapSide.foreach { case (id, (d, p)) =>
      assert(math.abs(d - joined(id)._1) < 1e-9 && p === joined(id)._2, s"id $id")
    }
    // the interpreted path agrees with the generated one
    val expr = graft.functions.SvmDecision(BoundReference(0, ArrayType(DoubleType), true),
      model.kernel, model.bias, model.heldSvBlock.get)
    assert(!expr.nullable && expr.eval(InternalRow(null)) === -0.3)
  }
}
