package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** §2.1 M6 (fidelity path): greedy-pivot Incomplete Cholesky
  * Factorization of the kernel matrix, K ≈ H·Hᵀ with H of rank p
  * (reference: psvm icf.cc — row-distributed parallel ICF).
  *
  * Spark re-expression: rows ([[IcfRow]]: id, x, h, diag) live in an
  * RDD; each of the p iterations
  *   1. broadcasts the pivot row (x, its h prefix, its residual),
  *   2. maps every row to append one H column:
  *        H[i,j] = (k(x_i, x_p) − ⟨h_i, h_p⟩) / √d_p,  d_i −= H[i,j]²,
  *   3. reduces the new rows to the NEXT pivot (max diagonal residual,
  *      ties by min id — deterministic).
  * The pivot for column j+1 thus comes from the same pass that built
  * column j: that reduce is the action that materializes the column, so
  * each column costs one Spark job, and only the first pivot needs a pass
  * of its own. Each pass is a per-row map plus an order-independent max,
  * so the factor does not depend on partitioning or row order.
  *
  * That is p passes over the data — the same O(n·p²) work and O(n·p)
  * state as the reference, with the n-dimension fully distributed. The
  * lineage is truncated periodically so the plan doesn't grow with p.
  * The loop ([[greedy]]) runs on rows its caller builds, so
  * [[IcfSvmTrainer]] keeps each row's x and label next to its h and
  * needs no id join to reach them again.
  * For high-throughput training prefer [[Nystrom]]; ICF earns its cost
  * when the greedy pivots matter (fast-decaying spectra).
  */
object Icf {

  /** One row of the greedy loop. `x` is what the kernel reads (a dense
    * vector, or sparse (indices, values)); `y` is a label carried next to
    * h for callers that need it (0 when there is none). */
  final case class IcfRow[X](id: Long, x: X, y: Double, h: Array[Double], diag: Double)

  /** Partitions for ~50k rows per block: every ICF column and IPM pass
    * runs one task per block, so thin blocks pay per-task overhead on
    * each pass; wide inputs keep their parallelism. */
  private[ml] def blockCount(partitions: Int, n: Long): Int =
    math.max(1, math.min(partitions, (n / 50000L).toInt + 1))

  /** The greedy loop over caller-built rows whose h has room for `rank`
    * columns, of which the first `from` are built. Persists `rows`,
    * releases every RDD it makes but the last, and returns that one
    * (persisted and materialized: the caller unpersists it) with the
    * number of columns built. After a residual-tol early stop that is
    * fewer than `rank`, and only that prefix of each h is valid. */
  private[ml] def greedy[X](rows: RDD[IcfRow[X]], k: (X, X) => Double, rank: Int,
                            from: Int, checkpointEvery: Int, residualTol: Double,
                            checkpointDir: Option[String]): (RDD[IcfRow[X]], Int) = {
    def pivotOf(r: RDD[IcfRow[X]]): IcfRow[X] = r.reduce { (a, b) =>
      if (a.diag > b.diag || (a.diag == b.diag && a.id < b.id)) a else b
    }
    var rdd = rows.persist(StorageLevel.MEMORY_AND_DISK)
    var pivot = pivotOf(rdd)
    var j = from
    while (j < rank && !(residualTol > 0.0 && pivot.diag <= residualTol)) {
      val bc = rdd.sparkContext.broadcast(pivot)
      val jj = j
      val prev = rdd
      rdd = prev.map { r =>
        val pv = bc.value
        val sqrtPd = math.sqrt(math.max(pv.diag, 1e-300))
        val hj =
          if (r.id == pv.id) sqrtPd
          else {
            var dotHp = 0.0; var t = 0
            while (t < jj) { dotHp += r.h(t) * pv.h(t); t += 1 }
            (k(r.x, pv.x) - dotHp) / sqrtPd
          }
        val h2 = r.h.clone(); h2(jj) = hj
        r.copy(h = h2, diag = r.diag - hj * hj)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      if ((j + 1) % checkpointEvery == 0) rdd.localCheckpoint()
      pivot = pivotOf(rdd)   // materializes the column before the parent goes
      prev.unpersist(false)
      j += 1
      if (checkpointDir.isDefined && j % checkpointEvery == 0 && j < rank) {
        val dir = checkpointDir.get
        val built = j
        SparkSession.active
          .createDataFrame(rdd.map(r => (r.id, r.h.take(built).toSeq, r.diag)))
          .toDF("id", "h", "diag")
          .write.mode("overwrite").parquet(s"$dir/h")
        // marker LAST: it only ever points at a fully-written dump
        val w = new java.io.PrintWriter(s"$dir/state")
        try w.print(built.toString) finally w.close()
      }
    }
    (rdd, j)
  }

  /** (id, icf_features) over the loop's final rows, truncated to the
    * columns built. */
  private def features[X](spark: SparkSession, rows: RDD[IcfRow[X]], rank: Int,
                          built: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("icf_features", ArrayType(DoubleType))))
    spark.createDataFrame(
      rows.map(r => Row(r.id, (if (built < rank) r.h.take(built) else r.h).toSeq)),
      schema)
  }

  /** psvm's `rank_ratio` flag: p = ⌈ratio·n⌉ (capped at `maxRank`), with
    * residual-trace early stop — the factorization halts as soon as the
    * largest diagonal residual falls below `residualTol`, so easy (low
    * effective rank) kernels pay only the passes they need. */
  def factorizeAuto(df: DataFrame, idCol: String, vecCol: String,
                    kernel: Kernel, rankRatio: Double,
                    maxRank: Int = 256, residualTol: Double = 1e-8,
                    checkpointEvery: Int = 16): DataFrame = {
    val n = df.count()
    val rank = math.max(1, math.min(maxRank, math.ceil(rankRatio * n).toInt))
    factorize(df, idCol, vecCol, kernel, rank, checkpointEvery, residualTol)
  }

  /** Returns (id, icf_features: array<double>[rank]) with K ≈ H·Hᵀ.
    * `residualTol > 0` enables early stop on the max diagonal residual
    * (the produced factor is truncated to the columns actually built).
    *
    * `checkpointDir`: psvm-style fault tolerance for long factorizations
    * (p passes over the data — hours at 100 TB). Every `checkpointEvery`
    * columns the built H prefix + diagonal residuals land in parquet
    * with a column-count marker; a rerun pointed at the same dir (same
    * data, kernel) resumes from the saved prefix. Resume is BIT-exact:
    * each pass is a per-row map + an order-independent max-reduce, so no
    * float accumulation order changes across the restart. */
  def factorize(df: DataFrame, idCol: String, vecCol: String,
                kernel: Kernel, rank: Int,
                checkpointEvery: Int = 16,
                residualTol: Double = 0.0,
                checkpointDir: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import graft.functions.VectorOps
    import org.apache.spark.sql.functions.col

    val nRows = df.count()
    val base0 = df
      .select(col(idCol).cast("long"), VectorOps.toDoubleArray(col(vecCol)))
      .rdd
      .map { r =>
        val x = r.getSeq[Double](1).toArray
        IcfRow(r.getLong(0), x, 0.0, new Array[Double](rank), kernel(x, x))
      }
    val base = base0.coalesce(blockCount(base0.getNumPartitions, nRows))

    // resume from the last completed column dump, if any
    val resume: Option[(Int, RDD[(Long, (Array[Double], Double))])] =
      checkpointDir.flatMap { dir =>
        val marker = new java.io.File(s"$dir/state")
        if (!marker.exists()) None
        else {
          val src = scala.io.Source.fromFile(marker)
          val saved = try src.mkString.trim.toInt finally src.close()
          val h = spark.read.parquet(s"$dir/h").rdd
            .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
          Some((math.min(saved, rank), h))
        }
      }

    val rows = resume match {
      case None => base
      case Some((jSaved, saved)) =>
        base.map(r => (r.id, r)).join(saved).map { case (_, (r, (hPrefix, diag))) =>
          val h = new Array[Double](rank)
          System.arraycopy(hPrefix, 0, h, 0, math.min(jSaved, hPrefix.length))
          r.copy(h = h, diag = diag)
        }
    }
    val (rdd, built) = greedy[Array[Double]](rows, kernel(_, _), rank,
      resume.map(_._1).getOrElse(0), checkpointEvery, residualTol, checkpointDir)
    features(spark, rdd, rank, built)
  }

  /** [[factorize]] over SPARSE rows ((indices, values) pairs — the M16
    * representation): the greedy-pivot loop is representation-agnostic,
    * only the kernel evaluations change, and the merge-join sparse
    * kernels are bit-identical to the dense ones on the same data
    * (SparseMlSpec), so this produces the EXACT factor the dense path
    * would — without ever materializing dim-length vectors. At the
    * rcv1-class regime that is the difference between broadcasting a
    * ~1 KB pivot row per pass and a ~370 KB one, and between O(nnz) and
    * O(dim) per kernel term. (No mid-run checkpoint dir here — the
    * sparse path's passes are cheap enough that the dense path's
    * psvm-style resume machinery isn't worth its surface; add it when a
    * real corpus needs it.) */
  def factorizeSparse(df: DataFrame, idCol: String, idxCol: String,
                      valCol: String, kernel: Kernel, rank: Int,
                      checkpointEvery: Int = 16,
                      residualTol: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nRows = df.count()
    val base0 = df.select(col(idCol).cast("long"), col(idxCol), col(valCol))
      .rdd
      .map { r =>
        val xi = r.getSeq[Int](1).toArray
        val xv = r.getSeq[Double](2).toArray
        IcfRow(r.getLong(0), (xi, xv), 0.0, new Array[Double](rank),
          kernel.sparse(xi, xv, xi, xv))
      }
    val (rdd, built) = greedy[(Array[Int], Array[Double])](
      base0.coalesce(blockCount(base0.getNumPartitions, nRows)),
      (a, b) => kernel.sparse(a._1, a._2, b._1, b._2), rank, 0,
      checkpointEvery, residualTol, None)
    features(df.sparkSession, rdd, rank, built)
  }
}
