package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorOps

/** The complete reference pipeline (psvm svm_train.cc): greedy-pivot ICF
  * of the kernel matrix → SMW interior-point dual solve → support-vector
  * model, scored with the ORIGINAL kernel (not a feature-map proxy):
  *     f(x) = Σ_{i∈SV} αᵢ yᵢ k(xᵢ, x) + b.
  *
  * Scale: ICF and IPM are fully distributed (see [[Icf]], [[Ipm]]) and
  * share one row layout, so [[IcfSvmTrainer.fit]] reaches each row's x,
  * y, h and α without an id join (psvm likewise keeps a row's factor
  * with its data on the machine that holds it). The support-vector set
  * STAYS a DataFrame end-to-end — on non-separable data the SV set is
  * O(n), so the driver never collects it. Scoring is a kernel-sum join:
  * broadcast the SV side when it is small enough, otherwise a
  * partitioned cross join; either way the per-row decision sum is one
  * distributed aggregation keyed on the row id. The driver holds only
  * scalars (bias, counts).
  */
final case class IcfSvmModel(
    kernel: Kernel,
    svs: DataFrame,              // (sv_x: array<double>, sv_coef: double = α·y)
    numSupportVectors: Long,     // counted once at fit time
    bias: Double,
    broadcastThreshold: Long = 65536) {

  /** Persist in the psvm/libsvm-style TEXT format (reference: psvm
    * model.cc Save): a `header` part with kernel/rho metadata and
    * sharded `sv` parts, one line per support vector —
    * `<coef> 1:<x1> 2:<x2> …` with coef = α·y. The SV side is written
    * straight from the distributed DataFrame (psvm likewise shards its
    * model across machines); rho follows the libsvm sign convention
    * f(x) = Σ coefᵢ k(xᵢ,x) − rho, so rho = −bias. */
  def saveText(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val (kt, g, c0, d) = kernel match {
      case Kernel.Linear => ("linear", 0.0, 0.0, 0)
      case Kernel.Polynomial(gm, cc, dg) => ("polynomial", gm, cc, dg)
      case Kernel.Rbf(gm) => ("rbf", gm, 0.0, 0)
      case Kernel.Laplacian(gm) => ("laplacian", gm, 0.0, 0)
    }
    // `dim`: the feature dimension, so sparse loaders can size vectors
    // without scanning (libsvm itself omits it; psvm model headers carry
    // the equivalent). -1 for a degenerate zero-SV model.
    val dim = svs.select(org.apache.spark.sql.functions.size(col("sv_x")))
      .head(1).headOption.map(_.getInt(0)).getOrElse(-1)
    Seq(
      "svm_type c_svc",
      s"kernel_type $kt",
      s"gamma ${g.toString}",
      s"coef0 ${c0.toString}",
      s"degree $d",
      s"total_sv $numSupportVectors",
      s"dim $dim",
      s"rho ${(-bias).toString}",
      "SV"
    ).toDS().coalesce(1).write.mode("overwrite").text(s"$path/header")
    svs.select(col("sv_coef"), col("sv_x")).as[(Double, Seq[Double])]
      .map { case (coef, x) =>
        val sb = new StringBuilder(coef.toString)
        var i = 0
        while (i < x.length) { sb.append(' ').append(i + 1).append(':').append(x(i)); i += 1 }
        sb.toString
      }
      .write.mode("overwrite").text(s"$path/sv")
  }

  /** Releases the cached support-vector blocks. Call when done scoring:
    * the fit persists `svs` (it is consumed several times during
    * training and typically many times at prediction), and nothing else
    * knows the model's lifetime — without this, cached SV blocks
    * accumulate across models in a long-lived session. A fitted model's
    * cache is its only copy of the SV set: the fit releases its own
    * passes, which were local checkpoints, so save the model
    * ([[saveText]]) before calling this if it will be scored again. A
    * model from [[IcfSvmModel.loadText]] rereads its files instead. */
  def unpersist(): Unit = { svs.unpersist(false); () }

  /** Adds `decision` and `prediction` (±1) columns over `vecCol`,
    * keyed by the (unique) `idCol`.
    *
    * Cost model at scale: kernel-SVM scoring is inherently O(n·nSV)
    * (psvm pays the same). The broadcast path covers SV sets up to
    * `broadcastThreshold`; beyond that the partitioned cross join is
    * correct but quadratic-ish — for 100 TB corpora score with the
    * Nyström model instead (O(n·p) via [[KernelSvmModel.predict]]), or
    * chunk the SV side (score in ≤threshold-sized SV batches and sum
    * the partial kernel sums) when exact-kernel decisions are required. */
  def predict(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val svSide0 = svs.select(col("sv_x"), col("sv_coef"))
    val svSide = if (numSupportVectors <= broadcastThreshold) broadcast(svSide0) else svSide0
    val scores = df
      .select(col(idCol).as("__pid"), VectorOps.toDoubleArray(col(vecCol)).as("__px"))
      .crossJoin(svSide)
      .groupBy(col("__pid"))
      .agg(sum(col("sv_coef") * kernel(col("sv_x"), col("__px"))).as("__ksum"))
    // LEFT join + coalesce: a degenerate model with zero support vectors
    // (e.g. single-class data) must still score every row (bias only),
    // not drop them all through an inner join against an empty side
    df.join(scores, df(idCol) === scores("__pid"), "left")
      .withColumn("decision", coalesce(col("__ksum"), lit(0.0)) + lit(bias))
      .drop("__pid", "__ksum")
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
  }

  /** [[predict]] in bounded SV batches — the path for the regime where
    * BOTH the corpus and the SV set are huge (non-separable data makes
    * nSV O(n)). One partitioned kernel-sum join is correct but builds a
    * single O(n·nSV) stage; here the SV side is split into
    * ⌈nSV/chunkSize⌉ hash-assigned chunks, each small enough to
    * BROADCAST, and the per-chunk partial kernel sums add up to the same
    * decision. Same total arithmetic, bounded memory per pass, no shuffle
    * of the corpus at all — n·nSV work as a sequence of map-side joins.
    * (Partial sums re-associate the float fold, so decisions can differ
    * from [[predict]] in the last ulps — use [[predictOrdered]] when
    * bit-stability matters more than throughput.) */
  def predictChunked(df: DataFrame, idCol: String, vecCol: String,
                     chunkSize: Long = 65536): DataFrame = {
    val nChunks = math.max(1L, (numSupportVectors + chunkSize - 1) / chunkSize).toInt
    val withChunk = svs.select(col("sv_x"), col("sv_coef"),
      pmod(xxhash64(col("sv_x")), lit(nChunks)).as("__chunk"))
    val pts = df.select(col(idCol).as("__pid"),
      VectorOps.toDoubleArray(col(vecCol)).as("__px"))
    val partials = (0 until nChunks).map { k =>
      pts.crossJoin(broadcast(withChunk.filter(col("__chunk") === k)
          .select(col("sv_x"), col("sv_coef"))))
        .groupBy(col("__pid"))
        .agg(sum(col("sv_coef") * kernel(col("sv_x"), col("__px"))).as("__pk"))
    }
    val scores = partials.reduce(_ unionByName _)
      .groupBy(col("__pid")).agg(sum(col("__pk")).as("__ksum"))
    df.join(scores, df(idCol) === scores("__pid"), "left")
      .withColumn("decision", coalesce(col("__ksum"), lit(0.0)) + lit(bias))
      .drop("__pid", "__ksum")
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
  }

  /** [[predict]] with QUANTIZED order-independent accumulation — the
    * scale path for exact-kernel scoring when BOTH the corpus and the
    * SV set are huge AND the result must be bit-stable/replayable:
    * each per-SV contribution is floor-quantized to integer picounits
    * (the q43/p29 discipline) and the per-row reduction is an INTEGER
    * sum — associative and commutative EXACTLY, so map-side partial
    * aggregation, chunking, and any partitioning all produce identical
    * bits, and an external engine replays it with one GROUP BY.
    * Physically the SV side streams in ≤`chunkSize` broadcast chunks
    * (the [[predictChunked]] layout): no shuffle of n·nSV rows ever
    * exists — [[predictOrdered]]'s per-row collect_list of nSV
    * contributions is O(n·nSV) through the shuffle, measured
    * disk-filling at the 100× decade (200k × 200k), while this path's
    * shuffle is n rows of (id, long) per chunk. Decisions differ from
    * the exact-float fold by ≤ nSV·1e-12 — quantization noise, not
    * model error (and the replaying oracle quantizes identically). */
  def predictQuantized(df: DataFrame, idCol: String, vecCol: String,
                       chunkSize: Long = 65536): DataFrame = {
    val nChunks = math.max(1L, (numSupportVectors + chunkSize - 1) / chunkSize).toInt
    val withChunk = svs.select(col("sv_x"), col("sv_coef"),
      pmod(xxhash64(col("sv_x")), lit(nChunks)).as("__chunk"))
    val pts = df.select(col(idCol).as("__pid"),
      VectorOps.toDoubleArray(col(vecCol)).as("__px"))
    val partials = (0 until nChunks).map { k =>
      pts.crossJoin(broadcast(withChunk.filter(col("__chunk") === k)
          .select(col("sv_x"), col("sv_coef"))))
        .groupBy(col("__pid"))
        .agg(sum(floor(col("sv_coef") * kernel(col("sv_x"), col("__px"))
          * lit(1e12)).cast("long")).as("__pq"))
    }
    val scores = partials.reduce(_ unionByName _)
      .groupBy(col("__pid")).agg(sum(col("__pq")).as("__q"))
    df.join(scores, df(idCol) === scores("__pid"), "left")
      .withColumn("decision",
        coalesce(col("__q"), lit(0L)).cast("double") / lit(1e12) + lit(bias))
      .drop("__pid", "__q")
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
  }

  /** [[predict]] with ORDER-DETERMINISTIC accumulation: per-SV
    * contributions are sorted by value before the sequential sum, so the
    * decision is bit-identical across partitionings and replayable by an
    * external engine (equal contributions commute exactly in IEEE
    * arithmetic, so sorting by value fully pins the result). Production
    * scoring should use [[predict]] — the plain partial-aggregated sum —
    * which differs only in float summation order; this path exists for
    * the oracle-checked driver queries and cross-engine validation. */
  def predictOrdered(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{aggregate, collect_list, sort_array}
    val svSide0 = svs.select(col("sv_x"), col("sv_coef"))
    val svSide = if (numSupportVectors <= broadcastThreshold) broadcast(svSide0) else svSide0
    val scores = df
      .select(col(idCol).as("__pid"), VectorOps.toDoubleArray(col(vecCol)).as("__px"))
      .crossJoin(svSide)
      .select(col("__pid"),
        (col("sv_coef") * kernel(col("sv_x"), col("__px"))).as("__c"))
      .groupBy(col("__pid"))
      .agg(aggregate(sort_array(collect_list(col("__c"))), lit(0.0),
        (acc, x) => acc + x).as("__ksum"))
    df.join(scores, df(idCol) === scores("__pid"), "left")
      .withColumn("decision", coalesce(col("__ksum"), lit(0.0)) + lit(bias))
      .drop("__pid", "__ksum")
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
  }
}

object IcfSvmModel {

  /** Reload a text model dir written by [[IcfSvmModel.saveText]]. The SV
    * parts are parsed distributedly — the model never touches the driver
    * beyond the few header scalars. */
  def loadText(spark: SparkSession, path: String): IcfSvmModel = {
    import spark.implicits._
    val header = spark.read.textFile(s"$path/header").collect()
      .filter(_.contains(' '))
      .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    val kernel: Kernel = header("kernel_type") match {
      case "linear" => Kernel.Linear
      case "polynomial" => Kernel.Polynomial(header("gamma").toDouble,
        header("coef0").toDouble, header("degree").toInt)
      case "rbf" => Kernel.Rbf(header("gamma").toDouble)
      case "laplacian" => Kernel.Laplacian(header("gamma").toDouble)
    }
    // SV lines are `<coef> idx:val …` with 1-BASED indices and, in real
    // libsvm/psvm files, SPARSE entries (zeros omitted, indices can skip)
    // — so each value is placed at its declared index, never positionally.
    // Vectors are sized by the header `dim` when present (dense saveText
    // output always writes it), else by the line's own max index.
    val headerDim = header.get("dim").map(_.toInt).getOrElse(-1)
    val svs = spark.read.textFile(s"$path/sv")
      .map { line =>
        val parts = line.split(' ')
        val coef = parts(0).toDouble
        val entries = parts.drop(1).map { t =>
          val c = t.indexOf(':')
          (t.substring(0, c).toInt, t.substring(c + 1).toDouble)
        }
        val dim = if (headerDim > 0) headerDim
                  else entries.foldLeft(0)((m, e) => math.max(m, e._1))
        val x = new Array[Double](dim)
        entries.foreach { case (idx, v) =>
          require(idx >= 1 && idx <= dim,
            s"SV feature index $idx outside [1, $dim] (header dim $headerDim)")
          x(idx - 1) = v
        }
        (x.toSeq, coef)
      }
      .toDF("sv_x", "sv_coef")
    IcfSvmModel(kernel, svs, header("total_sv").toLong, -header("rho").toDouble)
  }
}

/** The psvm training pipeline in one row layout. The input rows are read
  * once into ICF rows that carry (id, x, y) next to h; [[Icf]]'s greedy
  * loop appends the factor's columns in place; the IPM blocks are packed
  * from those rows partition by partition; and after [[Ipm]]'s Newton
  * loop the support vectors are read back by zipping each ICF partition
  * with its final block. No step re-keys rows by id, so the fit runs no
  * DataFrame join, and it counts the input once.
  */
object IcfSvmTrainer {

  /** The KKT bias over the free support vectors of a solved dual (this fit
    * and [[KernelSvmTrainer.fitIpm]]): the mean of yᵢ − hᵢ·v, v = Gᵀα,
    * over the rows whose (αᵢ, Cᵢ) `isFree` accepts (0 when there
    * are none). One pass over the final blocks: with Gᵢ = yᵢ·hᵢ and
    * y = ±1, hᵢ·v equals yᵢ·(Gᵢ·v) exactly. */
  private[ml] def freeSvBias(solved: Ipm.Solved, cPos: Double, cNeg: Double,
                             isFree: (Double, Double) => Boolean): Double = {
    val v = solved.gTalpha
    val (sum, cnt) = solved.blocks.treeAggregate((0.0, 0L))(
      seqOp = { case ((s0, k0), (_, b)) =>
        var s = s0; var k = k0; var i = 0
        while (i < b.alpha.length) {
          if (isFree(b.alpha(i), if (b.y(i) > 0) cPos else cNeg)) {
            val gi = b.h(i)
            var gv = 0.0; var j = 0
            while (j < v.length) { gv += v(j) * gi(j); j += 1 }
            s += b.y(i) - b.y(i) * gv; k += 1
          }
          i += 1
        }
        (s, k)
      },
      combOp = { case ((s1, k1), (s2, k2)) => (s1 + s2, k1 + k2) })
    if (cnt > 0) sum / cnt else 0.0
  }

  /** M6+M7+M8 end-to-end: labels must be ±1 in labelCol;
    * `posWeight`/`negWeight` scale C per class (libsvm `-wi`). */
  def fit(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
          kernel: Kernel, rank: Int, c: Double = 1.0,
          maxIter: Int = 60, tol: Double = 1e-5,
          svEpsilon: Double = 1e-4,
          posWeight: Double = 1.0, negWeight: Double = 1.0): IcfSvmModel = {
    val spark = df.sparkSession
    val cPos = c * posWeight
    val cNeg = c * negWeight

    val nRows = df.count()
    val rows0 = df
      .select(col(idCol).cast("long"), VectorOps.toDoubleArray(col(vecCol)),
              col(labelCol).cast("double"))
      .rdd.map { r =>
        val x = r.getSeq[Double](1).toArray
        Icf.IcfRow(r.getLong(0), x, r.getDouble(2), new Array[Double](rank), kernel(x, x))
      }
    val (icf, p) = Icf.greedy[Array[Double]](
      rows0.coalesce(Icf.blockCount(rows0.getNumPartitions, nRows)), kernel(_, _),
      rank, 0, checkpointEvery = 16, residualTol = 0.0, checkpointDir = None)
    val solved = Ipm.newton(
      icf.mapPartitions(it => Ipm.pack(it.map(r =>
        (r.id, r.y, r.h, Ipm.alpha0(r.y, cPos, cNeg))))),
      nRows, p, cPos, cNeg, maxIter, tol)

    // support vectors: alpha above threshold — kept DISTRIBUTED (on
    // non-separable data this set is O(n); psvm's model.cc writes it to
    // sharded files for the same reason). The threshold scales with the
    // PER-CLASS C: with class weights, a downweighted class's alphas are
    // bounded by c*weight, and a flat eps = svEpsilon*c would silently
    // drop that class's entire SV set. Each block was packed from its
    // ICF partition in row order, so zipping the two pairs every row
    // with its alpha.
    val svRows = icf.zipPartitions(solved.blocks) { (rs, bs) =>
      bs.flatMap { case (ids, b) =>
        rs.zipWithIndex.flatMap { case (r, i) =>
          require(r.id == ids(i), s"ICF row ${r.id} paired with block row ${ids(i)}")
          val a = b.alpha(i)
          if (a > svEpsilon * (if (r.y > 0) cPos else cNeg))
            Iterator.single(Row(r.id, r.x.toSeq, r.y * a, a, r.y))
          else Iterator.empty
        }
      }
    }
    val svSchema = StructType(Seq(
      StructField("sv_id", LongType), StructField("sv_x", ArrayType(DoubleType)),
      StructField("sv_coef", DoubleType), StructField("sv_alpha", DoubleType),
      StructField("sv_y", DoubleType)))
    val svDf = spark.createDataFrame(svRows, svSchema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // fills the cache in one job: the Dataset count would add an
    // aggregate exchange, and with it two more jobs
    val nSv = svDf.rdd.count()

    // bias from free SVs' KKT, THROUGH THE ICF FACTOR — the reference's
    // own math: psvm never materializes exact kernel rows at training
    // (that is the point of ICF); its KKT algebra runs on Q ≈ GGᵀ, so
    // b = mean over free SVs of (y_i − h_i·v) with v = Σ_j α_j y_j h_j,
    // the solver's final Gᵀα (the m5/fitIpm shape, w = v on the factor
    // features): one pass over the final blocks, averaging over ALL
    // free SVs. The first cut here summed the EXACT kernel over
    // every (free, SV) pair instead — O(nFree·nSV) kernel evals, measured
    // at 226.6s of m6's decade row (102.5k free × 200k SV), for a
    // quantity whose per-SV spread under solver slack dwarfs the
    // exact-vs-factored difference.
    val bias = freeSvBias(solved, cPos, cNeg,
      (a, ci) => a > svEpsilon * ci && a < ci * (1 - 1e-3))

    solved.blocks.unpersist(false)
    icf.unpersist(false)
    IcfSvmModel(kernel, svDf, nSv, bias)
  }
}
