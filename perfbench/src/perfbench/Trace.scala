package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Figures of one op span, measured from outside the program: Spark
  * listener events tagged with the span, query-planning phases, and
  * codegen compile counts. `modules` splits the span by the innermost
  * `graft.` frame of each stage's call site. */
final case class SpanStats(
    name: String, wallS: Double, jobs: Int, stages: Int, tasks: Int,
    taskS: Double, cpuS: Double, gcS: Double, activeS: Double,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitS: Double, spill: Long, input: Long,
    compiles: Long, compileS: Double, planningS: Double, executions: Int,
    actions: Map[String, Int],
    modules: Map[String, ModuleStats]) {
  def driverGapS: Double = wallS - activeS
}

final case class ModuleStats(jobs: Int, stages: Int, tasks: Int, taskS: Double, activeS: Double)

/** Collects the events of every traced span. Spans run one at a time
  * on the driver; a span may fan out to threads it starts (they inherit
  * the span's local property). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  // listener callbacks run on the bus thread; the span reader on the driver
  private val lock = new Object

  private final case class StageRec(span: String, module: String, submit: Long, complete: Long,
      tasks: Int, taskMs: Long, cpuNs: Long, gcMs: Long, shW: Long, shR: Long,
      fetchMs: Long, spill: Long, input: Long)
  private final case class QeRec(func: String, start: Long, planningMs: Long)

  private val stageSpan = mutable.HashMap[(Int, Int), String]()
  private val taskMs = mutable.HashMap[(Int, Int), Long]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val jobs = mutable.ArrayBuffer[(String, String)]()   // (span, module)
  private val qes = mutable.ArrayBuffer[QeRec]()

  /** Innermost `graft.` frame's class (without `$` suffixes), if any. */
  def moduleOf(details: String, default: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map { l =>
        val m = l.takeWhile(_ != '(')
        m.substring(0, math.max(m.lastIndexOf('.'), 0)).takeWhile(_ != '$')
      }.getOrElse(default)

  @volatile private var defaultModule = "driver"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val module = last.map(s => moduleOf(s.details, defaultModule)).getOrElse(defaultModule)
      lock.synchronized { jobs += ((span, module)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      lock.synchronized { stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = span }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val k = (e.stageId, e.stageAttemptId)
      taskMs(k) = taskMs.getOrElse(k, 0L) + e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val k = (s.stageId, s.attemptNumber())
      lock.synchronized {
        stages += StageRec(stageSpan.remove(k).getOrElse(""), moduleOf(s.details, defaultModule),
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), s.numTasks,
          taskMs.remove(k).getOrElse(0L),
          if (m == null) 0L else m.executorCpuTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
          if (m == null) 0L else m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) lock.synchronized {
        qes += QeRec(funcName, ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener)
  }

  /** Runs `body` as span `name`; work with no `graft.` frame in its call
    * site is charged to `module`, the graft module the span calls. */
  def span[T](name: String, module: String)(body: => T): (T, SpanStats) = {
    PerfbenchBus.drain(sc)
    defaultModule = module
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(SpanKey, prev)
    val wall = (System.nanoTime() - t0) / 1e9; val w1 = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    // the histogram keeps a sample, not a sum: time ≈ count × sample mean (ms)
    val compileS = compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
    (out, lock.synchronized(stats(name, wall, w0, w1, compiles, compileS)))
  }

  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1e3
  }

  private def stats(name: String, wall: Double, w0: Long, w1: Long,
                    compiles: Long, compileS: Double): SpanStats = {
    val st = stages.filter(_.span == name).toSeq
    val jb = jobs.filter(_._1 == name).toSeq
    val q = qes.filter(r => r.start >= w0 && r.start <= w1).toSeq
    val modules = st.groupBy(_.module).map { case (m, ss) =>
      m -> ModuleStats(jb.count(_._2 == m), ss.size, ss.map(_.tasks).sum,
        ss.map(_.taskMs).sum / 1e3, union(ss.map(s => (s.submit, s.complete)), w0, w1))
    }
    // each span name is used once; drop its records so memory stays flat
    stages.filterInPlace(_.span != name); jobs.filterInPlace(_._1 != name)
    qes.filterInPlace(r => !(r.start >= w0 && r.start <= w1))
    SpanStats(name, wall, jb.size, st.size, st.map(_.tasks).sum,
      st.map(_.taskMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      union(st.map(s => (s.submit, s.complete)), w0, w1),
      st.map(_.shW).sum, st.map(_.shR).sum, st.map(_.fetchMs).sum / 1e3,
      st.map(_.spill).sum, st.map(_.input).sum,
      compiles, compileS, q.map(_.planningMs).sum / 1e3, q.size,
      q.groupBy(_.func).map { case (f, r) => f -> r.size }, modules)
  }
}
