package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r14 optimization replaced the ANN family's literal-tree
  * centroid/codebook expressions with reference-object fused loops
  * (CodebookExpressions). These tests pin BIT-EXACT equivalence to the
  * exact forms they replaced — including the argmin FIRST-INDEX tie
  * rule — and that the fused expressions still whole-stage-codegen. */
class CodebookExpressionsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("codebook-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // deterministic "random" doubles (no Math.random in specs either)
  private def v(seed: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(j => math.sin(seed * 31 + j * 7) * 10.0)

  private val dim = 16
  private val centroids: Array[Array[Double]] =
    Array.tabulate(6)(c => v(c + 100, dim))
  private val codebooks: Array[Array[Array[Double]]] =
    Array.tabulate(4)(s => Array.tabulate(5)(c => v(s * 50 + c, 4)))

  private def vecsDf = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, v(i, dim).toSeq)).toDF("id", "vec")
      .select($"id", $"vec".cast("array<double>").as("vec"))
  }

  private def cwLit(c: Array[Double]) = array(c.map(lit): _*)

  test("centroidSqDistances ≡ per-centroid sq_distance literal trees, bit-exact") {
    val lits = array(centroids.map(c =>
      GraftFunctions.sq_distance(col("vec"), cwLit(c))): _*)
    val rows = vecsDf
      .select(CodebookExpressions.centroidSqDistances(col("vec"), centroids).as("f"),
              lits.as("l"))
      .collect()
    rows.foreach { r =>
      val f = r.getSeq[Double](0); val l = r.getSeq[Double](1)
      assert(f == l, s"fused $f != literal $l")
    }
  }

  test("centroidArgmin ≡ array_position(array_min) incl. the first-index tie rule") {
    val lits = array(centroids.map(c =>
      GraftFunctions.sq_distance(col("vec"), cwLit(c))): _*)
    val legacy = (array_position(lits, array_min(lits)) - 1).cast("int")
    val rows = vecsDf
      .select(CodebookExpressions.centroidArgmin(col("vec"), centroids).as("f"),
              legacy.as("l"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // planted exact tie: two identical centroids — argmin must pick the
    // FIRST (the array_position semantics every sealed hash was built on)
    val tied = Array(v(1, dim), v(7, dim), v(7, dim))
    import spark.implicits._
    val q = Seq(Tuple1(v(7, dim).toSeq)).toDF("vec")
      .select($"vec".cast("array<double>").as("vec"))
    assert(q.select(CodebookExpressions.centroidArgmin(col("vec"), tied))
      .head().getInt(0) == 1, "tie must resolve to the first minimal index")
  }

  test("centroidResidual ≡ zip_with(vec, centroid[cell], _-_), bit-exact") {
    val centLit = array(centroids.map(cwLit): _*)
    val withCell = vecsDf.withColumn("cell",
      CodebookExpressions.centroidArgmin(col("vec"), centroids))
    val rows = withCell
      .select(
        CodebookExpressions.centroidResidual(col("vec"), col("cell"), centroids).as("f"),
        zip_with(col("vec"), element_at(centLit, col("cell") + 1),
          (a, b) => a - b).as("l"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1))
    }
  }

  test("pqEncode / pqAdcTable ≡ the slice + sq_distance literal forms, bit-exact") {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val encLegacy = array((0 until m).map { s =>
      val d = array(codebooks(s).map(cw =>
        GraftFunctions.sq_distance(slice(col("vec"), s * sub + 1, sub), cwLit(cw))): _*)
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)
    val tabLegacy = array(codebooks.zipWithIndex.flatMap { case (cws, s) =>
      cws.map(cw =>
        GraftFunctions.sq_distance(slice(col("vec"), s * sub + 1, sub), cwLit(cw)))
    }: _*)
    val rows = vecsDf
      .select(CodebookExpressions.pqEncode(col("vec"), codebooks).as("fe"),
              encLegacy.as("le"),
              CodebookExpressions.pqAdcTable(col("vec"), codebooks).as("ft"),
              tabLegacy.as("lt"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), "codes differ")
      assert(r.getSeq[Double](2) == r.getSeq[Double](3), "ADC table differs")
    }
  }

  test("ovrDecisions ≡ per-class dot_product(φ, lits) + intercept, bit-exact") {
    val ws: Array[Array[Double]] = Array.tabulate(7)(k => v(k + 300, dim))
    val bs: Array[Double] = Array.tabulate(7)(k => math.cos(k * 13) * 2.0)
    val lits = array(ws.indices.map { k =>
      GraftFunctions.dot_product(col("vec"), cwLit(ws(k))) + lit(bs(k))
    }: _*)
    val rows = vecsDf
      .select(CodebookExpressions.ovrDecisions(col("vec"), ws, bs).as("f"),
              lits.as("l"))
      .collect()
    rows.foreach { r =>
      val f = r.getSeq[Double](0); val l = r.getSeq[Double](1)
      assert(f == l, s"fused $f != literal $l")
    }
    // the argmax consumer stays the array_position(array_max) form —
    // pin the full prediction path equivalence too
    val classes = ws.indices.map(_.toDouble).toArray
    val clsLit = array(classes.map(lit): _*)
    val both = vecsDf.select(
      element_at(clsLit, array_position(
        CodebookExpressions.ovrDecisions(col("vec"), ws, bs),
        array_max(CodebookExpressions.ovrDecisions(col("vec"), ws, bs))).cast("int")).as("f"),
      element_at(clsLit, array_position(lits, array_max(lits)).cast("int")).as("l"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("table expressions: content-based equality/hash + stable rendering (r14 advice)") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val childRef = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def mk() = CentroidSqDistances(childRef,
      Array.tabulate(3)(c => v(c, 4))) // separately built, equal contents
    assert(mk() == mk(), "content equality must hold across instances")
    assert(mk().hashCode == mk().hashCode)
    assert(mk().semanticEquals(mk()), "subexpression elimination relies on this")
    assert(mk().toString == mk().toString, "explain rendering must be deterministic")
    assert(!mk().toString.contains("@"), s"identity hash leaked: ${mk().toString}")
    val other = CentroidSqDistances(childRef, Array.tabulate(3)(c => v(c + 9, 4)))
    assert(mk() != other, "different tables must not compare equal")
    // codebooks [[a, b]] and [[a], [b]] flatten to the same rows
    val (a, b) = (v(1, 4), v(2, 4))
    val oneGroup = Array(Array(a, b))
    val twoGroups = Array(Array(a), Array(b))
    for (mkPq <- Seq[Array[Array[Array[Double]]] => Expression](
        PqEncode(childRef, _), PqAdcTable(childRef, _))) {
      assert(mkPq(oneGroup) == mkPq(Array(Array(a.clone, b.clone))))
      assert(mkPq(oneGroup) != mkPq(twoGroups), "codebook nesting must count")
      assert(mkPq(oneGroup).hashCode != mkPq(twoGroups).hashCode)
    }
  }

  test("hardening: short vectors fail loudly, long residual vectors clamp") {
    import spark.implicits._
    val short = Seq(Tuple1(Seq(1.0, 2.0))).toDF("vec")
      .select($"vec".cast("array<double>").as("vec"))
    val err = intercept[Exception] {
      short.select(CodebookExpressions.pqEncode(col("vec"), codebooks)).collect()
    }
    assert(err.getMessage != null)
    // residual: vector longer than the centroid dim clamps to dim
    val long = Seq(Tuple1((0 until dim + 3).map(_.toDouble))).toDF("vec")
      .select($"vec".cast("array<double>").as("vec"), lit(0).as("cell"))
    val res = long.select(CodebookExpressions.centroidResidual(
      col("vec"), col("cell"), centroids)).head().getSeq[Double](0)
    assert(res.length == dim)
  }

  test("fused expressions survive to the physical plan and codegen") {
    // spark.range input: a LocalRelation would fold the whole projection
    // into a LocalTableScan at plan time and show no codegen stage
    val rangeVecs = spark.range(40)
      .select(col("id"), transform(sequence(lit(0), lit(dim - 1)),
        j => (col("id") + j).cast("double")).as("vec"))
    val out = rangeVecs.select(
      CodebookExpressions.centroidSqDistances(col("vec"), centroids).as("d"),
      CodebookExpressions.centroidArgmin(col("vec"), centroids).as("c"),
      CodebookExpressions.pqEncode(col("vec"), codebooks).as("e"))
    out.collect()
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("centroid_sq_distances") && phys.contains("centroid_argmin")
      && phys.contains("pq_encode"), s"fused names missing:\n$phys")
    assert(phys.contains("*("), s"must whole-stage-codegen:\n$phys")
  }
}
