package perfbench

import java.io.File
import scala.collection.mutable
import scala.io.Source

/** Correctness checks in plain Scala. None calls graft: each recomputes
  * the expected answer from the generated inputs (see [[Gen]]) or from
  * the files graft wrote, and compares. They run outside the timed spans. */
object Checks {

  final case class Check(name: String, ok: Boolean, detail: String)

  def check(name: String, ok: Boolean, detail: => String): Check =
    Check(name, ok, if (ok) "" else detail)

  // ---------------------------------------------------------------- SVM

  /** Accuracy of `pred` against the generated label of each row, found
    * by its exact feature vector. */
  def accuracy(name: String, rows: Seq[(Seq[Double], Double)],
               truth: Map[String, Double], floor: Double): (Check, Double) = {
    val missing = rows.count(r => !truth.contains(Gen.key(r._1)))
    val hits = rows.count(r => truth.get(Gen.key(r._1)).contains(r._2))
    val acc = if (rows.isEmpty) 0.0 else hits.toDouble / rows.size
    (check(name, missing == 0 && rows.size == truth.size && acc >= floor,
      f"accuracy $acc%.4f (floor $floor), ${rows.size} rows of ${truth.size}, $missing unknown"),
      acc)
  }

  /** A text model as `saveText` writes it: header lines and SV lines. */
  final case class TextModel(gamma: Double, rho: Double, kernel: String,
                             coef: Array[Double], sv: Array[Array[Double]]) {
    def decision(x: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < sv.length) {
        val v = sv(i); var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - x(j); d += t * t; j += 1 }
        s += coef(i) * math.exp(-gamma * d)
        i += 1
      }
      s - rho
    }
  }

  private def partLines(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap { f => val s = Source.fromFile(f, "UTF-8"); try s.getLines().toVector finally s.close() }

  def readTextModel(dir: File): TextModel = {
    val header = partLines(new File(dir, "header")).filter(_.contains(' '))
      .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }.toMap
    val dim = header("dim").toInt
    val svLines = partLines(new File(dir, "sv")).filter(_.nonEmpty)
    val coef = new Array[Double](svLines.size)
    val sv = Array.ofDim[Double](svLines.size, dim)
    svLines.zipWithIndex.foreach { case (l, i) =>
      val t = l.split(' ')
      coef(i) = t(0).toDouble
      t.iterator.drop(1).foreach { e =>
        val c = e.indexOf(':'); sv(i)(e.substring(0, c).toInt - 1) = e.substring(c + 1).toDouble
      }
    }
    TextModel(header("gamma").toDouble, header("rho").toDouble, header("kernel_type"), coef, sv)
  }

  /** Graft's `decision` equals Σ coef·k(sv, x) − rho replayed from the
    * saved text model, for each sampled row. */
  def replay(model: TextModel, sample: Seq[(Array[Double], Double)]): Check = {
    val bad = sample.map { case (x, d) => (d, model.decision(x)) }
      .filter { case (d, e) => math.abs(d - e) > 1e-6 * math.max(1.0, math.abs(e)) }
    check("svm.replay", model.kernel == "rbf" && sample.nonEmpty && bad.isEmpty,
      s"${bad.size} of ${sample.size} decisions differ from the text-model replay, e.g. ${bad.take(3)}")
  }

  // -------------------------------------------------------------- dedup

  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split("\\s+", -1)
    (0 until math.max(t.length - k + 1, 1))
      .map(i => t.slice(i, math.min(i + k, t.length)).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Graft rounds Jaccard to 6 places before its ≥ τ filter, so a pair
    * may sit up to half a unit of the 6th place under τ. */
  val DedupThreshold = 0.8
  private val RoundingSlack = 5e-7

  def dedupPrecision(pairs: Seq[(Long, Long)], texts: Array[String]): Check = {
    val low = pairs.map { case (a, b) =>
      (a, b, jaccard(shingles(texts(a.toInt)), shingles(texts(b.toInt))))
    }.filter(_._3 < DedupThreshold - RoundingSlack)
    check("dedup.pair_jaccard", low.isEmpty,
      s"${low.size} of ${pairs.size} pairs under Jaccard $DedupThreshold, e.g. ${low.take(3)}")
  }

  def dedupRecall(pairs: Seq[(Long, Long)], corpus: Gen.Corpus, floor: Double): (Check, Double) = {
    val found = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val due = corpus.planted.filter { case (o, d) =>
      jaccard(shingles(corpus.texts(o)), shingles(corpus.texts(d))) >= DedupThreshold
    }
    val hit = due.count { case (o, d) => found.contains((o.toLong, d.toLong)) }
    val recall = if (due.isEmpty) 0.0 else hit.toDouble / due.length
    (check("dedup.planted_recall", due.nonEmpty && recall >= floor,
      f"recall $recall%.4f on ${due.length} planted pairs above τ (floor $floor)"), recall)
  }

  /** Component labels equal a union-find over the reported pairs, each
    * component labelled by its minimum id. */
  def components(pairs: Seq[(Long, Long)], labels: Seq[(Long, Long)]): Check = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = parent.keys.toSeq.map(v => v -> find(v)).toMap
    val got = labels.toMap
    val wrong = expected.filter { case (v, c) => !got.get(v).contains(c) }
    check("dedup.components", labels.size == expected.size && got.size == labels.size && wrong.isEmpty,
      s"${labels.size} labels for ${expected.size} vertices; ${wrong.size} differ, e.g. ${wrong.take(3)}")
  }

  // ---------------------------------------------------------------- IVF

  /** Exact cosine top-k of each query over the whole corpus (ties by
    * lower id), on ≤ nproc threads. */
  def exactTopK(v: Gen.Vectors, k: Int): Array[Array[Int]] = {
    def norm(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    val cn = v.corpus.map(norm)
    val out = new Array[Array[Int]](v.queries.length)
    java.util.stream.IntStream.range(0, v.queries.length).parallel().forEach { qi =>
      val q = v.queries(qi); val qn = norm(q)
      // insertion into a k-slot list sorted by (cos desc, id asc)
      val top = Array.fill(k)(-1); val topS = Array.fill(k)(Double.NegativeInfinity)
      var i = 0
      while (i < v.corpus.length) {
        val c = v.corpus(i); var d = 0.0; var j = 0
        while (j < q.length) { d += q(j) * c(j); j += 1 }
        val s = d / (qn * cn(i))
        if (s > topS(k - 1)) {
          var p = k - 1
          while (p > 0 && s > topS(p - 1)) { topS(p) = topS(p - 1); top(p) = top(p - 1); p -= 1 }
          topS(p) = s; top(p) = i
        }
        i += 1
      }
      out(qi) = top
    }
    out
  }

  /** Mean recall@k of graft's (query_id, neighbor_id) rows. */
  def ivfRecall(rows: Seq[(Long, Long)], exact: Array[Array[Int]], k: Int,
                floor: Double): (Check, Double) = {
    val got = rows.groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    val recall = exact.indices.map { qi =>
      val g = got.getOrElse(Gen.QueryIdBase + qi, Set.empty[Long])
      exact(qi).count(i => g.contains(i.toLong)).toDouble / k
    }.sum / exact.length
    val sizes = got.values.map(_.size)
    (check("ivf.recall_at_10", got.size == exact.length && sizes.forall(_ == k) && recall >= floor,
      f"recall@$k $recall%.4f (floor $floor) over ${got.size} of ${exact.length} queries"), recall)
  }

  // ------------------------------------------------------------- TF-IDF

  /** Top-k terms by tf·(ln((N+1)/(df+1))+1), ties by term, of each
    * sampled doc, recomputed from the generated texts. */
  def topTerms(texts: Array[String], sample: Seq[Int], k: Int): Map[Int, Seq[(String, Double)]] = {
    val df = mutable.HashMap[String, Int]()
    texts.foreach(t => t.split("\\s+", -1).distinct.foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    val n = texts.length.toDouble
    sample.map { d =>
      val tf = texts(d).split("\\s+", -1).groupBy(identity).map { case (w, o) => w -> o.length }
      d -> tf.toSeq.map { case (w, c) => (w, c * (StrictMath.log((n + 1) / (df(w) + 1.0)) + 1)) }
        .sortBy { case (w, s) => (-s, w) }.take(k)
    }.toMap
  }

  /** Graft's (doc_id, term, rank, score) rows match [[topTerms]] for
    * every sampled doc. */
  def tfidf(rows: Seq[(Long, String, Long, Double)], expected: Map[Int, Seq[(String, Double)]]): Check = {
    val byDoc = rows.groupBy(_._1)
    val bad = expected.keys.toSeq.sorted.filter { d =>
      val want = expected(d)
      val got = byDoc.getOrElse(d.toLong, Nil).sortBy(_._3)
      got.size != want.size || got.zip(want).exists { case (g, (w, s)) =>
        g._2 != w || math.abs(g._4 - s) > 1e-6 }
    }
    check("tfidf.top_terms", expected.nonEmpty && bad.isEmpty,
      s"${bad.size} of ${expected.size} sampled docs differ, e.g. docs ${bad.take(5)}")
  }
}
