package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators. Every input is a pure function of
  * (seed, set, stream): the write phase and the correctness checks each
  * call the same function, so the checks need no copy of graft's output
  * format and hold no inputs in memory between phases. */
object Gen {

  /** SplitMix64 finalizer over the (seed, set, stream) triple. */
  def rng(seed: Long, set: Int, stream: Int): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + set * 0xBF58476D1CE4E5B9L + stream * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Marsaglia polar method; SplittableRandom has no nextGaussian
    var u = 0.0; var v = 0.0; var s = 0.0
    while ({ u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v
             s >= 1 || s == 0 }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  // ---------------------------------------------------------------- SVM

  /** Labelled rows: `x` rounded to 1e-6 so the LIBSVM text round trip is
    * exact, `cls` the 0..k-1 class, binary label = parity of `cls`. */
  final case class Labelled(x: Array[Array[Double]], cls: Array[Int]) {
    def binary(i: Int): Double = if (cls(i) % 2 == 0) 1.0 else -1.0
  }

  /** Centres of the generated mixtures are fixed, not drawn from the
    * seed: the seed varies the samples, so every seed asks for the same
    * amount of work (the support-vector count, the cell sizes). */
  private val ShapeSeed = 1L

  /** `k` class centres, shared by every seed and set. */
  def centres(k: Int, dim: Int, scale: Double): Array[Array[Double]] = {
    val r = rng(ShapeSeed, -1, 0)
    Array.fill(k, dim)(gaussian(r) * scale)
  }

  def labelled(seed: Long, set: Int, stream: Int, n: Int,
               cs: Array[Array[Double]], noise: Double): Labelled = {
    val r = rng(seed, set, stream)
    val dim = cs(0).length
    val cls = Array.fill(n)(r.nextInt(cs.length))
    val x = Array.tabulate(n) { i =>
      Array.tabulate(dim)(j => math.rint((cs(cls(i))(j) + gaussian(r) * noise) * 1e6) / 1e6)
    }
    Labelled(x, cls)
  }

  /** Dense LIBSVM text: `label 1:v1 2:v2 …`. */
  def writeLibsvm(path: File, rows: Labelled, label: Int => Double): Unit = {
    path.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < rows.x.length) {
        sb.setLength(0)
        sb.append(label(i))
        val xi = rows.x(i)
        var j = 0
        while (j < xi.length) { sb.append(' ').append(j + 1).append(':').append(xi(j)); j += 1 }
        sb.append('\n')
        w.write(sb.toString)
        i += 1
      }
    } finally w.close()
  }

  def writeLines(path: File, lines: Iterator[String]): Unit = {
    path.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path),
      StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Key of a feature vector as LIBSVM text carries it (exact doubles;
    * `+ 0.0` folds -0.0, which the text round trip does not keep, into 0.0). */
  def key(x: collection.Seq[Double]): String = x.map(_ + 0.0).mkString(",")

  // ------------------------------------------------------------ corpus

  /** Documents of Zipf tokens. The last `dupFrac` share are planted
    * near-duplicates: a copy of a random original with `editFrac` of its
    * tokens (at least one) replaced. `planted` lists (original, copy). */
  final case class Corpus(texts: Array[String], planted: Array[(Int, Int)])

  private val vocab = 5000
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def token(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    "w" + (if (i >= 0) i else -i - 1)
  }

  def corpus(seed: Long, set: Int, nDocs: Int, dupFrac: Double,
             editFrac: Double): Corpus = {
    val r = rng(seed, set, 10)
    val nDup = (nDocs * dupFrac).toInt
    val nOrig = nDocs - nDup
    val toks = new Array[Array[String]](nDocs)
    for (i <- 0 until nOrig) toks(i) = Array.fill(60 + r.nextInt(81))(token(r))
    val planted = Array.tabulate(nDup) { d =>
      val o = r.nextInt(nOrig)
      val t = toks(o).clone()
      val edits = math.max(1, math.round(t.length * editFrac).toInt)
      for (_ <- 0 until edits) t(r.nextInt(t.length)) = token(r)
      toks(nOrig + d) = t
      (o, nOrig + d)
    }
    Corpus(toks.map(_.mkString(" ")), planted)
  }

  // ------------------------------------------------------------ vectors

  /** `centres` doubles as the IVF coarse quantizer: the index is built
    * once, and each set is a fresh corpus and query batch. */
  final case class Vectors(centres: Array[Array[Double]], corpus: Array[Array[Double]],
                           queries: Array[Array[Double]])

  /** Clustered embeddings around `k` seeded centres, rounded to 1e-4 so
    * the text round trip is exact; queries are fresh draws from the same
    * mixture (ids disjoint from the corpus). */
  def vectors(seed: Long, set: Int, n: Int, nq: Int, k: Int, dim: Int): Vectors = {
    val cs = { val r = rng(ShapeSeed, -1, 20); Array.fill(k, dim)(gaussian(r)) }
    def draw(r: SplittableRandom, m: Int) = Array.fill(m) {
      val c = cs(r.nextInt(k))
      Array.tabulate(dim)(j => math.rint((c(j) + gaussian(r) * 0.5) * 1e4) / 1e4)
    }
    Vectors(cs, draw(rng(seed, set, 21), n), draw(rng(seed, set, 22), nq))
  }
  val QueryIdBase = 1000000000L
}
