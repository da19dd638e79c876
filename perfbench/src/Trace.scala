package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch milliseconds (fractional). `op` groups
  * the spans of one operation; `parent` is the id of the causing span
  * (0 for an operation's root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Per-stage record from the Spark listener, keyed to the operation that
  * submitted its job. */
final case class StageRec(op: Long, startMs: Double, endMs: Double, tasks: Int,
                          cpuMs: Double, runMs: Double, gcMs: Double,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, scanRows: Long, scanBytes: Long) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder plus the Spark listeners that attribute stages
  * and Catalyst phases to operations. Nothing is recorded unless
  * `enabled`; spans are written out once, when the run ends.
  *
  * Attribution: the client thread tags its jobs with the local property
  * [[OpProp]]; micro-batch jobs carry Spark's own `streaming.sql.batchId`
  * property, which [[Tracer.batchOps]] maps to the operation that fed
  * the batch. Catalyst phase times come from each QueryExecution's
  * planning tracker and are assigned to the operation whose root span
  * contains them (the timed loop runs one operation at a time). */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val OpProp = "graftbench.op"
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val phases = new ConcurrentLinkedQueue[Span]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobBatch = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val batchOps = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Runs `f` inside a span; returns its result. */
  def span[T](name: String, op: Long, parent: Long = 0L)(f: Long => T): T = {
    if (!enabled) return f(0L)
    val id = nextId.getAndIncrement()
    val s = nowMs
    try f(id) finally spans.add(Span(id, parent, op, name, s, nowMs))
  }

  private val stageListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      p.flatMap(x => Option(x.getProperty(OpProp))).foreach { o =>
        js.stageIds.foreach(jobOp.put(_, o.toLong))
      }
      p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).foreach { b =>
        js.stageIds.foreach(jobBatch.put(_, b.toLong))
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val op = Option(jobOp.get(si.stageId)).map(_.longValue)
        .orElse(Option(jobBatch.get(si.stageId)).flatMap(b => Option(batchOps.get(b)))
          .map(_.longValue))
      for (o <- op; s <- si.submissionTime; e <- si.completionTime) {
        val m = si.taskMetrics
        stages.add(StageRec(o, s.toDouble, e.toDouble, si.numTasks,
          m.executorCpuTime / 1e6, m.executorRunTime.toDouble, m.jvmGCTime.toDouble,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = addPhases(qe.tracker)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(stageListener)
    spark.listenerManager.register(qeListener)
  }

  /** Tags jobs submitted from this thread with operation `op`. */
  def tagThread(sc: SparkContext, op: Long): Unit =
    if (enabled) sc.setLocalProperty(OpProp, op.toString)

  /** Blocks until every queued listener event has been delivered. */
  def drain(): Unit = if (enabled)
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Adds the phases of a QueryExecution the listener does not see (a
    * micro-batch's IncrementalExecution). */
  def addPhases(t: org.apache.spark.sql.catalyst.QueryPlanningTracker): Unit =
    if (enabled) t.phases.foreach { case (name, p) =>
      phases.add(Span(0L, 0L, 0L, s"catalyst.$name", p.startTimeMs.toDouble,
        p.endTimeMs.toDouble))
    }

  /** Catalyst phase spans whose start lies inside `root`. */
  def phasesIn(root: Span): Seq[Span] =
    phases.asScala.filter(p => p.startMs >= root.startMs - 1 && p.startMs <= root.endMs).toSeq

  def stagesOf(op: Long): Seq[StageRec] = stages.asScala.filter(_.op == op).toSeq

  /** Writes every span as a JSON list: name, start, end, parent, op id. */
  def dump(path: String): Unit = if (enabled) {
    val all = allSpans ++ stages.asScala.map(s =>
      Span(0L, 0L, s.op, "stage", s.startMs, s.endMs))
    val body = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""").mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Interval arithmetic for self-time accounting. */
object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def unionLen(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Per-operation layer ledger, built from an operation's root span, its
  * child spans, its stages and its Catalyst phases. Each layer's time is
  * measured on its own; `coverage` is their sum over the operation's wall
  * time, which is 1 when the layers neither overlap nor leave time out. */
final case class OpLedger(wallMs: Double, buildMs: Double, analysisMs: Double,
                          optimizationMs: Double, planningMs: Double,
                          stageMs: Double, gapMs: Double, stages: Int, tasks: Int,
                          taskCpuMs: Double, gcMs: Double, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, spillBytes: Long, scanRows: Long,
                          scanBytes: Long, coreUtilization: Double,
                          serialStages: Int, serialStageMs: Double) {
  def coverage: Double =
    (buildMs + analysisMs + optimizationMs + planningMs + stageMs + gapMs) / wallMs
}

object OpLedger {
  /** `build` is the child span whose own time (minus the stages and
    * phases inside it) is the build layer; everything not covered by
    * build, Catalyst phases or stages is driver gap. */
  def of(root: Span, build: Option[Span], phases: Seq[Span], stages: Seq[StageRec],
         cores: Int): OpLedger = {
    val lo = root.startMs
    val hi = root.endMs
    val wall = hi - lo
    val stageIv = stages.map(s => (s.startMs, s.endMs))
    val phaseIv = phases.map(p => (p.startMs, p.endMs))
    def phase(n: String) = phases.filter(_.name == s"catalyst.$n").map(p =>
      math.min(p.endMs, hi) - math.max(p.startMs, lo)).filter(_ > 0).sum
    val stageMs = Intervals.unionLen(stageIv, lo, hi)
    val buildMs = build.map { b =>
      b.ms - Intervals.unionLen(stageIv ++ phaseIv, b.startMs, b.endMs)
    }.getOrElse(0.0)
    val covered = Intervals.unionLen(
      stageIv ++ phaseIv ++ build.map(b => (b.startMs, b.endMs)).toSeq, lo, hi)
    val runMs = stages.map(_.runMs).sum
    OpLedger(wall, buildMs, phase("analysis"), phase("optimization"), phase("planning"),
      stageMs, wall - covered, stages.size, stages.map(_.tasks).sum,
      stages.map(_.cpuMs).sum, stages.map(_.gcMs).sum,
      stages.map(_.shuffleWriteBytes).sum, stages.map(_.shuffleReadBytes).sum,
      stages.map(_.spillBytes).sum, stages.map(_.scanRows).sum,
      stages.map(_.scanBytes).sum,
      if (stageMs > 0) runMs / (stageMs * cores) else 0.0,
      stages.count(_.tasks == 1), stages.filter(_.tasks == 1).map(_.ms).sum)
  }
}
