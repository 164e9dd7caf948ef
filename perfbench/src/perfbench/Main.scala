package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import Checks.Check

/** One benchmark run in one JVM: session set-up, input generation, a
  * cold pass, then warm repetitions on fresh inputs for `--seconds`.
  * Prints `PERFBENCH_SETUP_DONE` once set-up ends and, as its last line,
  * `PERFBENCH_RESULT <json>`. `perfbench/run.py` builds and launches it.
  *
  * Args: --mode run|setup --workload W --seed N --seconds S --trace 0|1 --work-dir D */
object Main {

  /** Per-layer metric names of a traced run, the same for every workload
    * (a figure a workload does not exercise reads 0). */
  val LayerMetrics: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s", "spark.core_util",
    "spark.task_cpu_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes",
    "ml.icf.jobs_per_column", "ml.ipm.jobs", "ml.ipm.tasks_per_stage",
    "ml.predict.kernel_evals", "ml.predict.kernel_evals_per_s", "ml.model.bytes",
    "ml.libsvm.rows_per_s",
    "codegen.compiles", "codegen.compile_s", "codegen.warm_compiles",
    "sql.planning_s", "sql.executions",
    "dedup.minhash.candidate_pairs", "dedup.minhash.verify_yield", "dedup.cc.rounds",
    "sim.ivf.rows_scored_per_query", "sim.ivf.recall_at_10",
    "jvm.peak_rss_mb", "jvm.driver_gc_s",
    "trace.overhead_s", "trace.cold_s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  final case class RepRecord(rep: Rep, traced: Boolean, gcS: Double, checks: Seq[Check],
                             failedOps: Int, layers: Map[String, Double]) {
    def bodyS: Double = rep.times.values.sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload(a("workload"))
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = Session.build(cores)
    wl.load()
    println("PERFBENCH_SETUP_DONE")
    System.out.flush()
    if (a.getOrElse("mode", "run") == "setup") { spark.stop(); return }
    try run(spark, wl, cores, a) finally spark.stop()
  }

  private def run(spark: SparkSession, wl: Workload, cores: Int, a: Map[String, String]): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work-dir"))
    // a traced run alternates untraced and traced warm reps, two of each at least
    val minWarm = if (trace) 4 else 3
    val nWarm = math.max(minWarm, math.min(16, math.ceil(seconds / wl.repEstimateS).toInt + 2))
    def setDir(s: Int) = new File(work, s"set$s")

    // every set's inputs, before the first timed op, on ≤ cores threads
    val g0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(cores)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.sequence((0 to nWarm).map(s =>
        Future(wl.write(setDir(s), seed, s)))), Duration.Inf)
    } finally pool.shutdown()
    val genS = (System.nanoTime() - g0) / 1e9
    System.err.println(f"[perfbench] generated ${nWarm + 1} input sets in $genS%.1fs")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val selfTest = scala.collection.mutable.ArrayBuffer[Check]()

    def runRep(i: Int, traced: Boolean): RepRecord = {
      val rep = new Rep(i, if (traced) tracer else None)
      // as graft.Bench does between queries: no cached block or garbage of
      // the previous rep (or of input generation) is left to tax this one
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      if (traced) tracer.foreach(_.attach())
      val gc0 = gcSeconds()
      val out = try Right(wl.run(spark, rep, setDir(i))) catch { case e: Exception => Left(e) }
      val gcS = gcSeconds() - gc0
      if (traced) tracer.foreach(_.detach())
      out match {
        case Left(e) =>
          System.err.println(s"[perfbench] rep $i failed: $e")
          e.printStackTrace()
          RepRecord(rep, traced, gcS, Seq(Check("run", ok = false, e.toString)),
            math.max(1, wl.ops.size - rep.times.size), Map.empty)
        case Right(o) =>
          val checks = wl.check(o, seed, i)
          if (i == 0) {
            // self-test: each corrupted output must fail the check meant to catch it
            wl.corrupt(o).foreach { case (name, bad) =>
              val caught = wl.check(bad, seed, i).exists(c => c.name == name && !c.ok)
              selfTest += Check(s"selftest.$name", caught, s"corrupted output passed check $name")
            }
          }
          checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] rep $i check ${c.name} FAILED: ${c.detail}"))
          val layers = if (traced) wl.layers(spark, o, rep, setDir(i), seed, i) else Map.empty[String, Double]
          RepRecord(rep, traced, gcS, checks, if (checks.exists(!_.ok)) 1 else 0, layers)
      }
    }

    val cold = runRep(0, traced = trace)
    System.err.println(f"[perfbench] cold pass ${cold.bodyS}%.2fs ${cold.rep.times}")
    val warm = scala.collection.mutable.ArrayBuffer[RepRecord]()
    val w0 = System.nanoTime()
    while (warm.size < nWarm && (warm.size < minWarm || (System.nanoTime() - w0) / 1e9 < seconds)) {
      val r = runRep(warm.size + 1, traced = trace && warm.size % 2 == 1)
      System.err.println(f"[perfbench] rep ${warm.size + 1} ${r.bodyS}%.2fs ${r.rep.times}")
      warm += r
    }
    val measuredS = (System.nanoTime() - w0) / 1e9

    val all = cold +: warm.toSeq
    val attempted = all.map(_ => wl.ops.size).sum
    val failed = all.map(_.failedOps).sum
    val correct = failed == 0 && selfTest.nonEmpty && selfTest.forall(_.ok)
    selfTest.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] ${c.name} FAILED"))

    val untraced = warm.filterNot(_.traced).toSeq
    val opMedians = wl.ops.map(op => op -> median(untraced.flatMap(_.rep.times.get(op)))).toMap
    // warm_s sums each op's median, so one op's outlier rep moves only that op
    val metrics: Map[String, Double] =
      if (!trace) Map("cold_s" -> cold.bodyS, "warm_s" -> opMedians.values.sum)
      else layerMetrics(wl, cold, warm.filter(_.traced).toSeq, untraced, cores)

    val record = Map(
      "workload" -> wl.name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "seconds" -> seconds, "measured_s" -> measuredS, "generation_s" -> genS,
      "input_sets" -> (nWarm + 1), "input_bytes_per_set" -> Workload.sizeOf(setDir(0)),
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "cold" -> repJson(cold), "warm" -> warm.map(repJson).toSeq,
      "op_median_s" -> opMedians,
      "checks" -> all.flatMap(_.checks).groupBy(_.name).map { case (n, cs) => n -> cs.forall(_.ok) },
      "selftest" -> selfTest.map(c => c.name -> c.ok).toMap)
    val result = Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "record" -> record)
    println("PERFBENCH_RESULT " + Json(result))
  }

  private def repJson(r: RepRecord): Map[String, Any] = Map(
    "rep" -> r.rep.index, "traced" -> r.traced, "body_s" -> r.bodyS, "ops_s" -> r.rep.times.toMap,
    "steps_s" -> r.rep.steps.toMap, "driver_gc_s" -> r.gcS, "layers" -> r.layers,
    "failed_checks" -> r.checks.filterNot(_.ok).map(c => s"${c.name}: ${c.detail}"),
    "spans" -> r.rep.spans.map { s =>
      Map("op" -> s.name, "wall_s" -> s.wallS, "jobs" -> s.jobs, "stages" -> s.stages,
        "tasks" -> s.tasks, "task_s" -> s.taskS, "task_cpu_s" -> s.cpuS, "task_gc_s" -> s.gcS,
        "stage_active_s" -> s.activeS, "driver_gap_s" -> s.driverGapS,
        "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
        "shuffle_fetch_wait_s" -> s.fetchWaitS, "spill_bytes" -> s.spill, "input_bytes" -> s.input,
        "compiles" -> s.compiles, "compile_s" -> s.compileS, "planning_s" -> s.planningS,
        "sql_executions" -> s.executions, "sql_actions" -> s.actions,
        "modules" -> s.modules.map { case (m, x) => m -> Map("jobs" -> x.jobs, "stages" -> x.stages,
          "tasks" -> x.tasks, "task_s" -> x.taskS, "stage_active_s" -> x.activeS) })
    }.toSeq)

  private def layerMetrics(wl: Workload, cold: RepRecord, traced: Seq[RepRecord],
                           untraced: Seq[RepRecord], cores: Int): Map[String, Double] = {
    def per(f: RepRecord => Double) = median(traced.map(f))
    def sum(r: RepRecord)(f: SpanStats => Double) = r.rep.spans.map(f).sum
    def mod(r: RepRecord, m: String)(f: ModuleStats => Double) =
      r.rep.spans.flatMap(_.modules.get(m)).map(f).sum
    def span(r: RepRecord, op: String)(f: SpanStats => Double) =
      r.rep.spans.find(_.name == op).map(f).getOrElse(0.0)
    val fixed = Map(
      "spark.jobs" -> per(r => sum(r)(_.jobs)),
      "spark.stages" -> per(r => sum(r)(_.stages)),
      "spark.tasks" -> per(r => sum(r)(_.tasks)),
      "spark.driver_gap_s" -> per(r => sum(r)(_.driverGapS)),
      "spark.core_util" -> per(r => sum(r)(_.taskS) / (sum(r)(_.wallS) * cores)),
      "spark.task_cpu_s" -> per(r => sum(r)(_.cpuS)),
      "spark.shuffle_write_bytes" -> per(r => sum(r)(_.shuffleWrite.toDouble)),
      "spark.shuffle_read_bytes" -> per(r => sum(r)(_.shuffleRead.toDouble)),
      "spark.spill_bytes" -> per(r => sum(r)(_.spill.toDouble)),
      "spark.input_bytes" -> per(r => sum(r)(_.input.toDouble)),
      "ml.ipm.jobs" -> per(r => mod(r, "graft.ml.Ipm")(_.jobs)),
      "ml.ipm.tasks_per_stage" -> per { r =>
        val st = mod(r, "graft.ml.Ipm")(_.stages); if (st > 0) mod(r, "graft.ml.Ipm")(_.tasks) / st else 0.0 },
      "codegen.compiles" -> sum(cold)(_.compiles.toDouble),
      "codegen.compile_s" -> sum(cold)(_.compileS),
      "codegen.warm_compiles" -> per(r => sum(r)(_.compiles.toDouble)),
      "sql.planning_s" -> sum(cold)(_.planningS),
      "sql.executions" -> sum(cold)(_.executions.toDouble),
      "dedup.cc.rounds" -> per(r => span(r, "dedup_s")(_.actions.getOrElse("count", 0).toDouble)),
      "jvm.peak_rss_mb" -> peakRssMb(),
      "jvm.driver_gc_s" -> per(_.gcS),
      "trace.overhead_s" -> (median(traced.map(_.bodyS)) - median(untraced.map(_.bodyS))),
      "trace.cold_s" -> cold.bodyS)
    val fromLayers = traced.flatMap(_.layers.keys).distinct
      .filter(LayerMetrics.contains).map(k => k -> median(traced.flatMap(_.layers.get(k)))).toMap
    LayerMetrics.map(k => k -> fromLayers.getOrElse(k, fixed.getOrElse(k, 0.0))).toMap
  }
}

/** Minimal JSON rendering for the result line and run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
