package graft.ml

import org.apache.spark.ml.classification.{LinearSVC, OneVsRest}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.1 M7–M12: kernel SVM train / predict / persist / evaluate.
  *
  * PSVM pipeline (reference: svm_train.cc → icf.cc → ipm.cc →
  * svm_predict.cc) re-expressed Spark-first:
  *   kernel ≈ Nyström feature map (M6) → MLlib LinearSVC (distributed
  *   OWLQN on hinge loss — the dual-equivalent of the reference's IPM
  *   solve, but scaling as O(n·p) per pass with no driver-resident
  *   n-vectors) → broadcastable model scored as a codegen'd column.
  *
  * Labels follow the libsvm ±1 convention on input and output; they are
  * remapped to {0,1} only around the MLlib fit.
  */
/** `posWeight`/`negWeight` are per-class cost multipliers (libsvm `-wi`,
  * psvm weighted C) for imbalanced data: the +1/−1 class's errors are
  * weighted `posWeight`/`negWeight` in the primal fit, and the dual box
  * constraint becomes 0 ≤ αᵢ ≤ C·w_{yᵢ} in the IPM path. */
/** `maxFitRows` bounds the rows the ITERATIVE solver consumes (the
  * model is still scored/evaluated on everything): a `numLandmarks`-
  * dimensional linear model saturates statistically long before 10⁵
  * examples, but OWLQN's evaluation count GROWS on bigger/harder data —
  * measured 61× fit cost at 10× corpus with identical params. Above the
  * bound the fit set is a content-addressed hash sample (retry- and
  * partitioning-stable, the p16/p20 discipline), which is the
  * production shape at 100 TB: sample-fit, full-score. */
final case class KernelSvmParams(
    kernel: Kernel = Kernel.Rbf(0.1),
    numLandmarks: Int = 64,
    regParam: Double = 1e-3,
    maxIter: Int = 50,
    tol: Double = 1e-6,
    posWeight: Double = 1.0,
    negWeight: Double = 1.0,
    maxFitRows: Long = 50000L)

final case class KernelSvmModel(
    featureMap: NystromMap,
    weights: Array[Double],
    intercept: Double) extends Serializable {

  /** Decision value f(x) = w·φ(x) + b as a column over `vecCol` — one
    * reference-object node (the single-class OvrDecisions), identical
    * arithmetic to dot_product(φ, array(lit…)) + lit(b). */
  private def decisionCol(featCol: Column): Column =
    element_at(graft.functions.CodebookExpressions.ovrDecisions(
      featCol, Array(weights), Array(intercept)), 1)

  /** Adds `decision` (double) and `prediction` (±1) columns. */
  def predict(df: DataFrame, vecCol: String): DataFrame =
    Nystrom.transform(df, vecCol, featureMap, "__phi")
      .withColumn("decision", decisionCol(col("__phi")))
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
      .drop("__phi")

  /** Persist as a parquet model dir (reference: model.cc Save). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val k = featureMap.kernel match {
      case Kernel.Linear => ("linear", 0.0, 0.0, 0)
      case Kernel.Polynomial(g, c, d) => ("polynomial", g, c, d)
      case Kernel.Rbf(g) => ("rbf", g, 0.0, 0)
      case Kernel.Laplacian(g) => ("laplacian", g, 0.0, 0)
    }
    Seq((k._1, k._2, k._3, k._4, weights.toSeq, intercept))
      .toDF("kernel", "gamma", "coef0", "degree", "weights", "intercept")
      .write.mode("overwrite").parquet(s"$path/params")
    featureMap.landmarks.zipWithIndex.map { case (l, i) => (i, l.toSeq) }.toSeq
      .toDF("idx", "landmark")
      .write.mode("overwrite").parquet(s"$path/landmarks")
    featureMap.w.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("idx", "w_row")
      .write.mode("overwrite").parquet(s"$path/projection")
  }
}

object KernelSvmModel {
  /** Reload a model dir written by [[KernelSvmModel.save]]. */
  def load(spark: SparkSession, path: String): KernelSvmModel = {
    val p = spark.read.parquet(s"$path/params").head()
    val kernel = (p.getAs[String]("kernel") match {
      case "linear" => Kernel.Linear
      case "polynomial" => Kernel.Polynomial(p.getAs[Double]("gamma"),
        p.getAs[Double]("coef0"), p.getAs[Int]("degree"))
      case "rbf" => Kernel.Rbf(p.getAs[Double]("gamma"))
      case "laplacian" => Kernel.Laplacian(p.getAs[Double]("gamma"))
    }): Kernel
    def rows(name: String, colName: String): Array[Array[Double]] =
      spark.read.parquet(s"$path/$name").orderBy("idx")
        .collect().map(_.getSeq[Double](1).toArray)
    KernelSvmModel(
      NystromMap(rows("landmarks", "landmark"), rows("projection", "w_row"), kernel),
      p.getSeq[Double](4).toArray,
      p.getAs[Double]("intercept"))
  }
}

/** M12: one-vs-rest multiclass kernel SVM — ONE shared Nyström feature
  * map plus a (class → linear classifier) table. Sharing the map means
  * scoring computes φ(x) once for all K classes (K·p extra flops per
  * row instead of K feature maps), and the whole model persists as the
  * usual landmarks/projection parquet plus one `classifiers` table.
  *
  * Prediction is argmax over the per-class decision values with the
  * FIRST maximal class winning ties (classes are scored in ascending
  * label order) — deterministic and exactly replayable by an external
  * engine via first-position-of-max list ops. */
final case class MulticlassKernelSvmModel(
    featureMap: NystromMap,
    classes: Array[Double],          // ascending class labels
    weights: Array[Array[Double]],   // per class, aligned with `classes`
    intercepts: Array[Double]) extends Serializable {

  /** Adds `prediction_class` (the argmax class label) over `vecCol`. */
  def predict(df: DataFrame, vecCol: String): DataFrame = {
    val phi = Nystrom.transform(df, vecCol, featureMap, "__phi")
    // ONE reference-object expression instead of classes × rank literal
    // nodes (the codebook-expression treatment; same DotProduct
    // accumulation order + post-sum intercept, so decisions and the
    // argmax below are bit-identical to the literal form)
    val decisions = graft.functions.CodebookExpressions.ovrDecisions(
      col("__phi"), weights, intercepts)
    phi.withColumn("__ds", decisions)
      .withColumn("prediction_class",
        element_at(array(classes.map(lit): _*),
          array_position(col("__ds"), array_max(col("__ds"))).cast("int")))
      .drop("__phi", "__ds")
  }

  /** Persist: shared map like [[KernelSvmModel.save]] + a per-class
    * classifier table. */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val k = featureMap.kernel match {
      case Kernel.Linear => ("linear", 0.0, 0.0, 0)
      case Kernel.Polynomial(g, c, d) => ("polynomial", g, c, d)
      case Kernel.Rbf(g) => ("rbf", g, 0.0, 0)
      case Kernel.Laplacian(g) => ("laplacian", g, 0.0, 0)
    }
    Seq((k._1, k._2, k._3, k._4))
      .toDF("kernel", "gamma", "coef0", "degree")
      .write.mode("overwrite").parquet(s"$path/params")
    featureMap.landmarks.zipWithIndex.map { case (l, i) => (i, l.toSeq) }.toSeq
      .toDF("idx", "landmark")
      .write.mode("overwrite").parquet(s"$path/landmarks")
    featureMap.w.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("idx", "w_row")
      .write.mode("overwrite").parquet(s"$path/projection")
    classes.indices.map { i => (classes(i), weights(i).toSeq, intercepts(i)) }
      .toDF("class", "weights", "intercept")
      .write.mode("overwrite").parquet(s"$path/classifiers")
  }
}

object MulticlassKernelSvmModel {
  /** Reload a model dir written by [[MulticlassKernelSvmModel.save]]. */
  def load(spark: SparkSession, path: String): MulticlassKernelSvmModel = {
    val p = spark.read.parquet(s"$path/params").head()
    val kernel = (p.getAs[String]("kernel") match {
      case "linear" => Kernel.Linear
      case "polynomial" => Kernel.Polynomial(p.getAs[Double]("gamma"),
        p.getAs[Double]("coef0"), p.getAs[Int]("degree"))
      case "rbf" => Kernel.Rbf(p.getAs[Double]("gamma"))
      case "laplacian" => Kernel.Laplacian(p.getAs[Double]("gamma"))
    }): Kernel
    def rows(name: String): Array[Array[Double]] =
      spark.read.parquet(s"$path/$name").orderBy("idx")
        .collect().map(_.getSeq[Double](1).toArray)
    val cls = spark.read.parquet(s"$path/classifiers").orderBy("class")
      .collect()
      .map(r => (r.getDouble(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    MulticlassKernelSvmModel(
      NystromMap(rows("landmarks"), rows("projection"), kernel),
      cls.map(_._1), cls.map(_._2), cls.map(_._3))
  }
}

object KernelSvmTrainer {

  /** Partition count for a cached iterative-fit feature table: ~2.5k
    * rows per task, floored at 1 and capped at the session's default
    * parallelism. The old ~50k-rows-per-task target collapsed a 20k-row
    * set onto ONE partition, so every OWLQN iteration of every
    * (possibly concurrent) fit ran single-threaded — measured 16×
    * super-linear on the OVR fit at 10× data. The lower target still
    * amortizes scheduler overhead (a task is ~ms at 2.5k×97 doubles)
    * while letting treeAggregate use the cores; at cluster scale the
    * parallelism cap is what binds, which is the right regime. Callers
    * pair this with repartition (NOT coalesce: a single-file parquet
    * source arrives as 1-2 partitions and coalesce can only shrink). */
  private[ml] def fitPartitions(df: DataFrame, n: Long): Int = {
    val cap = df.sparkSession.sparkContext.defaultParallelism
    math.max(1, math.min(cap, (n / 2500L).toInt + 1))
  }

  /** Bound the solver's input per [[KernelSvmParams.maxFitRows]]:
    * content-addressed keep-gate on the id column (identical discipline
    * to p16/p20 — stable under retries and repartitioning, no
    * sample()'s partition-dependent RNG). Returns (fitDf, fitN). */
  private[ml] def boundFitRows(df: DataFrame, idCol: String, n: Long,
                               maxFitRows: Long): (DataFrame, Long) =
    if (n <= maxFitRows) (df, n)
    else {
      val keepPM = math.max(1L, maxFitRows * 1000000L / n)
      (df.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < lit(keepPM)),
        maxFitRows)
    }

  /** M8: fit a binary kernel SVM; labels in `labelCol` must be ±1. */
  def fit(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
          params: KernelSvmParams = KernelSvmParams()): KernelSvmModel = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    // Compact the partitioning for the iterative OWLQN fit (scheduler
    // overhead per micro-task dominates when partitions are tiny) and
    // cache so the feature map runs once, not once per pass.
    val (fitDf, n) = boundFitRows(df, idCol, df.count(), params.maxFitRows)
    val parts = fitPartitions(df, n)
    val feats = Nystrom.transform(fitDf, vecCol, map, "__phi")
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__label01", when(col(labelCol) > 0, 1.0).otherwise(0.0))
      .withColumn("__weight",
        when(col(labelCol) > 0, params.posWeight).otherwise(params.negWeight))
      .repartition(parts)
      .persist()
    val svc = new LinearSVC()
      .setFeaturesCol("__features").setLabelCol("__label01")
      .setRegParam(params.regParam).setMaxIter(params.maxIter)
      .setTol(params.tol).setFitIntercept(true)
    if (params.posWeight != 1.0 || params.negWeight != 1.0)
      svc.setWeightCol("__weight")
    val m = svc.fit(feats)
    feats.unpersist()
    KernelSvmModel(map, m.coefficients.toArray, m.intercept)
  }

  /** M7 fidelity path: fit via the exact SMW interior-point dual solve
    * (reference: psvm ipm.cc) instead of the OWLQN primal. The primal
    * weights w = Σ αᵢyᵢφ(xᵢ) are the solver's final Gᵀα, and the bias
    * comes from the free support vectors' KKT conditions in one pass over
    * the solver's blocks, so α never leaves them. */
  def fitIpm(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
             params: KernelSvmParams = KernelSvmParams(),
             c: Double = 1.0, maxIter: Int = 60): KernelSvmModel = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    val cPos = c * params.posWeight
    val cNeg = c * params.negWeight
    // the IPM blocks are packed straight from the features, ~50k rows
    // per block: the IPM loop runs four distributed passes per
    // iteration, and per-task overhead dominates when blocks are thin
    val n = df.count()
    val feats = Nystrom.transform(df, vecCol, map, "__phi")
      .select(col(idCol).cast("long"), col(labelCol).cast("double"), col("__phi"))
      .rdd
    val solved = Ipm.newton(
      feats.coalesce(Icf.blockCount(feats.getNumPartitions, n)).mapPartitions(it =>
        Ipm.pack(it.map { r =>
          val y = r.getDouble(1)
          (r.getLong(0), y, r.getSeq[Double](2).toArray, Ipm.alpha0(y, cPos, cNeg))
        })),
      n, map.rank, cPos, cNeg, maxIter, params.tol)
    // w = Σ αᵢyᵢφᵢ is the solver's final Gᵀα (G = diag(y)·Φ); the bias
    // comes from the free SVs, b = mean(yᵢ − w·φᵢ), whose upper bound is
    // the per-class C when class weights are set
    val eps = 1e-3 * c
    val bias = IcfSvmTrainer.freeSvBias(solved, cPos, cNeg, (a, ci) => a > eps && a < ci - eps)
    solved.blocks.unpersist(false)
    KernelSvmModel(map, solved.gTalpha, bias)
  }

  /** M12 (model form): one-vs-rest multiclass with ONE shared Nyström
    * map and per-class LinearSVC fits run concurrently (classes are
    * independent). Unlike [[fitMulticlass]] this returns a persistable
    * [[MulticlassKernelSvmModel]] whose scoring is deterministic. */
  def fitMulticlassModel(df: DataFrame, idCol: String, vecCol: String,
                         labelCol: String,
                         params: KernelSvmParams = KernelSvmParams(),
                         parallelism: Int = 8): MulticlassKernelSvmModel = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    val (fitDf, n) = boundFitRows(df, idCol, df.count(), params.maxFitRows)
    val parts = fitPartitions(df, n)
    val feats = Nystrom.transform(fitDf, vecCol, map, "__phi")
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__cls", col(labelCol).cast("double"))
      .repartition(parts)
      .persist()
    // class list from the FULL input, not the fit sample — a class must
    // appear in the model's argmax surface even if the hash gate thinned
    // it (bounded collect: one value per class)
    val classes = df.select(col(labelCol).cast("double").as("__cls")).distinct()
      .collect().map(_.getDouble(0)).sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, classes.length))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // try/finally: a failed per-class fit must still shut the (non-
    // daemon) pool down and release the cache, or the JVM never exits
    val models =
      try {
        val fits = classes.map { k =>
          scala.concurrent.Future {
            val svc = new LinearSVC()
              .setFeaturesCol("__features").setLabelCol("__label01")
              .setRegParam(params.regParam).setMaxIter(params.maxIter)
              .setTol(params.tol).setFitIntercept(true)
            val m = svc.fit(feats.withColumn("__label01",
              when(col("__cls") === k, 1.0).otherwise(0.0)))
            (m.coefficients.toArray, m.intercept)
          }
        }
        fits.map(f =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      } finally {
        pool.shutdown()
        feats.unpersist()
      }
    MulticlassKernelSvmModel(map, classes, models.map(_._1), models.map(_._2))
  }

  /** M12: one-vs-rest multiclass on the Nyström features via MLlib. */
  def fitMulticlass(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    params: KernelSvmParams = KernelSvmParams()): DataFrame = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    val n = df.count()
    val parts = fitPartitions(df, n)
    val feats = Nystrom.transform(df, vecCol, map, "__phi")
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__label", col(labelCol).cast("double"))
      .repartition(parts)
      .persist()
    val ovr = new OneVsRest()
      .setClassifier(new LinearSVC()
        .setRegParam(params.regParam).setMaxIter(params.maxIter).setTol(params.tol))
      .setFeaturesCol("__features").setLabelCol("__label")
      .setParallelism(8)   // OVR classes are independent fits
    val out = ovr.fit(feats).transform(feats)
      .withColumnRenamed("prediction", "prediction_class")
      .drop("__features", "__phi", "rawPrediction")
    out
  }
}

/** §2.1 M11: binary classification evaluation (reference: svm_predict
  * accuracy output), extended with precision/recall/F1. */
object SvmEvaluator {

  /** One-row DataFrame: tp/fp/tn/fn + accuracy/precision/recall/f1.
    * Expects ±1 in both columns. */
  def evaluate(scored: DataFrame, labelCol: String,
               predictionCol: String = "prediction"): DataFrame = {
    val y = col(labelCol); val p = col(predictionCol)
    scored.agg(
      sum(when(y > 0 && p > 0, 1L).otherwise(0L)).as("tp"),
      sum(when(y <= 0 && p > 0, 1L).otherwise(0L)).as("fp"),
      sum(when(y <= 0 && p <= 0, 1L).otherwise(0L)).as("tn"),
      sum(when(y > 0 && p <= 0, 1L).otherwise(0L)).as("fn"))
    // ANSI mode errors on ANY zero divisor (even double); degenerate
    // models (all-one-class predictions) make these denominators zero,
    // so every ratio is guarded and defaults to 0.0
    .withColumn("accuracy", round((col("tp") + col("tn")).cast("double") /
      (col("tp") + col("tn") + col("fp") + col("fn")).cast("double"), 6))
    .withColumn("precision", round(when(col("tp") + col("fp") > 0,
      col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
      .otherwise(0.0), 6))
    .withColumn("recall", round(when(col("tp") + col("fn") > 0,
      col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
      .otherwise(0.0), 6))
    .withColumn("f1", round(when(col("precision") + col("recall") > 0,
      lit(2.0) * col("precision") * col("recall") /
        (col("precision") + col("recall"))).otherwise(0.0), 6))
  }
}
