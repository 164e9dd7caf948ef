package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{DedupClusters, MinHashDedup}
import graft.ml.{IcfSvmModel, IcfSvmTrainer, Kernel, LibSvmIO, SvmEvaluator}
import graft.sim.IvfAnn
import graft.text.TfIdf
import Checks.Check

/** Times the ops of one repetition. With a tracer, each op is a traced
  * span named `<rep>:<op>`; without one, a wall-clock interval. */
final class Rep(val index: Int, tracer: Option[Tracer]) {
  val times = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[SpanStats]()
  /** Sub-step times inside ops (ingest, model save/load, components). */
  val steps = mutable.LinkedHashMap[String, Double]()

  def op[T](name: String, module: String)(body: => T): T = tracer match {
    case Some(t) =>
      val (out, s) = t.span(s"$index:$name", module)(body)
      times(name) = s.wallS; spans += s.copy(name = name)
      out
    case None =>
      val t0 = System.nanoTime()
      val out = body
      times(name) = (System.nanoTime() - t0) / 1e9
      out
  }

  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    steps(name) = (System.nanoTime() - t0) / 1e9
    out
  }
}

/** One workload: its inputs per (seed, set), the ops of one repetition,
  * and the checks of their outputs. */
trait Workload {
  type Out
  def name: String
  /** End-to-end op names, in the order a repetition runs them. */
  def ops: Seq[String]
  /** Expected warm repetition wall time, to size the input sets. */
  def repEstimateS: Double
  /** Touches the graft objects the ops call, as a user's program loads them. */
  def load(): Unit
  def write(dir: File, seed: Long, set: Int): Unit
  def run(spark: SparkSession, rep: Rep, dir: File): Out
  def check(out: Out, seed: Long, set: Int): Seq[Check]
  /** Outputs each broken in one way, with the check that must catch it. */
  def corrupt(out: Out): Seq[(String, Out)]
  /** Layer figures that need extra work; traced runs only, outside spans. */
  def layers(spark: SparkSession, out: Out, rep: Rep, dir: File, seed: Long, set: Int): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "svm" => new SvmWorkload
    case "curation" => new CurationWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum else f.length()
}

/** PSVM train/predict: `svm_train` (LIBSVM ingest → ICF → SMW-IPM →
  * text model dir) and `svm_predict` (model dir → exact-kernel decisions
  * → accuracy). Rows are Gaussian clusters around 10 fixed centres in
  * 32-d; the label is the parity of the cluster. The fit set is one Spark
  * block, so training is bound by per-job cost; prediction scores every
  * held-out row against every support vector, so it is bound by
  * executor compute. */
final class SvmWorkload extends Workload {
  val name = "svm"
  val repEstimateS = 4.5
  private val train = 4000
  private val test = 800
  private val rank = 16
  private val dim = 32
  private val gamma = 0.02
  private val c = 1.0
  private val maxIter = 10
  private val accuracyFloor = 0.9
  private val replaySample = 64

  final case class Out(modelDir: File, scored: Array[(Seq[Double], Double, Double)],
                       evaluatorAccuracy: Double, nSv: Long)

  def ops: Seq[String] = Seq("train_s", "predict_s")

  def load(): Unit = { LibSvmIO; IcfSvmTrainer; IcfSvmModel; SvmEvaluator; () }

  private def data(seed: Long, set: Int) = {
    val cs = Gen.centres(10, dim, 1.0)
    (Gen.labelled(seed, set, 1, train, cs, 0.6), Gen.labelled(seed, set, 2, test, cs, 0.6))
  }

  def write(dir: File, seed: Long, set: Int): Unit = {
    val (tr, te) = data(seed, set)
    Gen.writeLibsvm(new File(dir, "train.libsvm"), tr, tr.binary)
    Gen.writeLibsvm(new File(dir, "test.libsvm"), te, te.binary)
  }

  private def read(spark: SparkSession, f: File): DataFrame =
    LibSvmIO.read(spark, f.getPath).withColumn("id", monotonically_increasing_id())

  def run(spark: SparkSession, rep: Rep, dir: File): Out = {
    val modelDir = new File(dir, "model")
    rep.op("train_s", "graft.ml.IcfSvmTrainer") {
      val df = rep.step("libsvm_read_s")(read(spark, new File(dir, "train.libsvm")))
      val model = IcfSvmTrainer.fit(df, "id", "features", "label", Kernel.Rbf(gamma), rank,
        c = c, maxIter = maxIter)
      rep.step("model_save_s")(model.saveText(spark, modelDir.getPath))
      model.unpersist()
    }
    val (scored, acc, nSv) = rep.op("predict_s", "graft.ml.IcfSvmModel") {
      val model = rep.step("model_load_s")(IcfSvmModel.loadText(spark, modelDir.getPath))
      val s = model.predict(read(spark, new File(dir, "test.libsvm")), "id", "features").persist()
      val rows = s.select("features", "decision", "prediction").collect()
        .map(r => (r.getSeq[Double](0), r.getDouble(1), r.getDouble(2)))
      val a = SvmEvaluator.evaluate(s, "label").select("accuracy").head().getDouble(0)
      s.unpersist()
      (rows, a, model.numSupportVectors)
    }
    Out(modelDir, scored, acc, nSv)
  }

  /** Held-out label by feature-vector key, and the saved text model, of
    * one input set; kept for the set's checks and self-test. */
  private var truthMemo: Option[((Long, Int), (Map[String, Double], Checks.TextModel))] = None
  private def truth(seed: Long, set: Int, modelDir: File) = truthMemo match {
    case Some((key, t)) if key == ((seed, set)) => t
    case _ =>
      val te = data(seed, set)._2
      val t = (te.x.indices.map(i => Gen.key(te.x(i).toSeq) -> te.binary(i)).toMap,
        Checks.readTextModel(modelDir))
      truthMemo = Some(((seed, set), t))
      t
  }

  def check(out: Out, seed: Long, set: Int): Seq[Check] = {
    val (labels, model) = truth(seed, set, out.modelDir)
    val (accCheck, acc) = Checks.accuracy("svm.accuracy",
      out.scored.map(r => (r._1, r._3)).toSeq, labels, accuracyFloor)
    val step = math.max(1, out.scored.length / replaySample)
    val sample = out.scored.indices.by(step).map(i => (out.scored(i)._1.toArray, out.scored(i)._2))
    Seq(accCheck,
      Checks.check("svm.evaluator", math.abs(out.evaluatorAccuracy - acc) <= 1e-6,
        s"SvmEvaluator accuracy ${out.evaluatorAccuracy} vs recomputed $acc"),
      Checks.check("svm.model_sv_count", model.coef.length == out.nSv && out.nSv > 0,
        s"text model holds ${model.coef.length} SVs, header/model says ${out.nSv}"),
      Checks.replay(model, sample))
  }

  def corrupt(out: Out): Seq[(String, Out)] = {
    val flipped = out.scored.map(r => (r._1, r._2, -r._3))
    Seq("svm.accuracy" -> out.copy(scored = flipped, evaluatorAccuracy = 1 - out.evaluatorAccuracy),
      "svm.evaluator" -> out.copy(evaluatorAccuracy = out.evaluatorAccuracy - 0.01),
      "svm.model_sv_count" -> out.copy(nSv = out.nSv + 1),
      "svm.replay" -> out.copy(scored = out.scored.map(r => (r._1, r._2 + 1e-3, r._3))))
  }

  def layers(spark: SparkSession, out: Out, rep: Rep, dir: File, seed: Long,
             set: Int): Map[String, Double] = {
    val evals = out.scored.length.toDouble * out.nSv
    Map("ml.predict.kernel_evals" -> evals,
      "ml.predict.kernel_evals_per_s" -> evals / rep.times("predict_s"),
      "ml.model.bytes" -> Workload.sizeOf(out.modelDir).toDouble,
      "ml.libsvm.rows_per_s" -> train / rep.steps("libsvm_read_s"),
      "ml.icf.jobs_per_column" ->
        rep.spans.flatMap(_.modules.get("graft.ml.Icf")).map(_.jobs).sum.toDouble / rank)
  }
}

/** LLM-data curation over Spark SQL: MinHash near-duplicate pairs →
  * connected components, IVF approximate top-10, TF-IDF top terms. */
final class CurationWorkload extends Workload {
  val name = "curation"
  val repEstimateS = 5
  private val nDocs = 4000
  private val nVec = 8000
  private val nQuery = 200
  private val dim = 64
  private val nlist = 64
  private val nprobe = 8
  private val k = 10
  private val recallFloor = 0.9
  private val dedupRecallFloor = 0.99
  private val tfidfSample = 200

  final case class Out(pairs: Array[(Long, Long)], labels: Array[(Long, Long)],
                       ann: Array[(Long, Long)], tfidf: Array[(Long, String, Long, Double)])

  def ops: Seq[String] = Seq("dedup_s", "ann_s", "tfidf_s")

  def load(): Unit = { MinHashDedup; DedupClusters; IvfAnn; TfIdf; () }

  private def corpus(seed: Long, set: Int) = Gen.corpus(seed, set, nDocs, 0.1, 0.02)
  private def vectors(seed: Long, set: Int) = Gen.vectors(seed, set, nVec, nQuery, nlist, dim)
  private val quantizer = Gen.vectors(0L, -1, 0, 0, nlist, dim).centres

  def write(dir: File, seed: Long, set: Int): Unit = {
    Gen.writeLines(new File(dir, "docs.tsv"),
      corpus(seed, set).texts.iterator.zipWithIndex.map { case (t, i) => s"$i\t$t" })
    val v = vectors(seed, set)
    Gen.writeLines(new File(dir, "emb.tsv"),
      v.corpus.iterator.zipWithIndex.map { case (x, i) => s"$i\t${x.mkString(",")}" })
    Gen.writeLines(new File(dir, "queries.tsv"),
      v.queries.iterator.zipWithIndex.map { case (x, i) => s"${Gen.QueryIdBase + i}\t${x.mkString(",")}" })
  }

  private def tsv(spark: SparkSession, f: File, schema: String): DataFrame =
    spark.read.schema(schema).option("sep", "\t").csv(f.getPath)
  private def docsDf(spark: SparkSession, dir: File) =
    tsv(spark, new File(dir, "docs.tsv"), "doc_id BIGINT, text STRING")
  private def vecDf(spark: SparkSession, f: File) =
    tsv(spark, f, "vec_id BIGINT, v STRING")
      .select(col("vec_id"), split(col("v"), ",").cast("array<double>").as("embedding"))

  def run(spark: SparkSession, rep: Rep, dir: File): Out = {
    def docs = docsDf(spark, dir)
    val (pairs, labels) = rep.op("dedup_s", "graft.dedup.MinHashDedup") {
      val p = MinHashDedup.nearDuplicatePairs(docs, "doc_id", "text", Checks.DedupThreshold, 3)
        .persist()
      val pr = p.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val l = rep.step("dedup_cc_s") {
        DedupClusters.connectedComponents(p.select(col("id_a").as("src"), col("id_b").as("dst")))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      p.unpersist()
      (pr, l)
    }
    val ann = rep.op("ann_s", "graft.sim.IvfAnn") {
      IvfAnn.annTopKWith(quantizer, vecDf(spark, new File(dir, "emb.tsv")),
          vecDf(spark, new File(dir, "queries.tsv")), "vec_id", "embedding", k, nlist, nprobe)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val tf = rep.op("tfidf_s", "graft.text.TfIdf") {
      TfIdf.topTerms(docs, "doc_id", "text", 5).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    }
    Out(pairs, labels, ann, tf)
  }

  /** Expected answers of one input set, kept for the set's checks and
    * self-test. */
  private final case class Truth(corpus: Gen.Corpus, topTerms: Map[Int, Seq[(String, Double)]],
                                 exact: Array[Array[Int]])
  private var truthMemo: Option[((Long, Int), Truth)] = None
  private def truth(seed: Long, set: Int): Truth = truthMemo match {
    case Some((key, t)) if key == ((seed, set)) => t
    case _ =>
      val c = corpus(seed, set)
      val sample = (0 until tfidfSample).map(i => (i.toLong * nDocs / tfidfSample).toInt)
      val t = Truth(c, Checks.topTerms(c.texts, sample, 5), Checks.exactTopK(vectors(seed, set), k))
      truthMemo = Some(((seed, set), t))
      t
  }

  def check(out: Out, seed: Long, set: Int): Seq[Check] = {
    val t = truth(seed, set)
    Seq(Checks.dedupPrecision(out.pairs.toSeq, t.corpus.texts),
      Checks.dedupRecall(out.pairs.toSeq, t.corpus, dedupRecallFloor)._1,
      Checks.components(out.pairs.toSeq, out.labels.toSeq),
      Checks.ivfRecall(out.ann.toSeq, t.exact, k, recallFloor)._1,
      Checks.tfidf(out.tfidf.toSeq, t.topTerms))
  }

  def corrupt(out: Out): Seq[(String, Out)] = {
    val planted = out.pairs.filter(_._2 >= nDocs * 0.9)
    Seq("dedup.pair_jaccard" -> out.copy(pairs = out.pairs :+ ((0L, 1L))),
      "dedup.planted_recall" -> out.copy(pairs = out.pairs.diff(planted)),
      "dedup.components" -> out.copy(labels = out.labels.map { case (v, l) => (v, l + 1) }),
      "ivf.recall_at_10" -> out.copy(ann = out.ann.map { case (q, n) => (q, (n + nVec / 2) % nVec) }),
      "tfidf.top_terms" -> out.copy(tfidf = out.tfidf.map(r => if (r._3 == 1) r.copy(_4 = r._4 + 1) else r)))
  }

  def layers(spark: SparkSession, out: Out, rep: Rep, dir: File, seed: Long,
             set: Int): Map[String, Double] = {
    val cand = MinHashDedup.candidatePairs(docsDf(spark, dir), "doc_id", "text", 3).count().toDouble
    // rows the probe pipeline scores per query: sizes of its nprobe nearest
    // cells under the quantizer, recomputed here
    val v = vectors(seed, set)
    def sq(a: Array[Double], b: Array[Double]) = { var s = 0.0; var j = 0
      while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }; s }
    val cellSize = new Array[Long](nlist)
    val cs = v.centres
    v.corpus.foreach(x => cellSize(cs.indices.minBy(i => sq(x, cs(i)))) += 1)
    val scored = v.queries.map { q =>
      cs.indices.sortBy(i => (sq(q, cs(i)), i)).take(nprobe).map(cellSize(_)).sum
    }
    val recall = Checks.ivfRecall(out.ann.toSeq, truth(seed, set).exact, k, 0.0)._2
    Map("dedup.minhash.candidate_pairs" -> cand,
      "dedup.minhash.verify_yield" -> (if (cand > 0) out.pairs.length / cand else 0.0),
      "sim.ivf.rows_scored_per_query" -> scored.sum.toDouble / scored.length,
      "sim.ivf.recall_at_10" -> recall)
  }
}
