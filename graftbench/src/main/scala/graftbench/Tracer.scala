package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-pass instrumentation. Benchmark spans wrap each call the driver
  * makes into a layer's public function; Spark jobs and stages are recorded
  * by a listener and parented to the enclosing span through a job-local
  * property. Everything is kept in memory and written out at the end.
  *
  * Only passes for which `startPass(traced = true)` was called are recorded:
  * in other passes no span sets the job property, so the listener ignores
  * their jobs, and `recording` is None, so it ignores their other events. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  // ---- benchmark spans (driver thread only)
  val spans = ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 1L
  private var pass = 0
  private var tracing = false

  // ---- listener state (listener-bus thread; read after drain())
  @volatile private var recording: Option[Int] = None
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  val blocks = ArrayBuffer.empty[BlockRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private val writes = mutable.Map.empty[String, QueryExecution]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def startPass(p: Int, traced: Boolean): Unit = {
    drain()
    pass = p
    tracing = traced
    recording = if (traced) Some(p) else None
  }

  def endPass(): Unit = {
    drain()
    recording = None
    tracing = false
  }

  def drain(): Unit = GraftBenchBridge.drainListenerBus(sc)

  /** Run `body` inside a span of `layer`; jobs it launches are parented to
    * it. A no-op wrapper in untraced passes. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!tracing) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId, parent, pass, layer, name, nowMs, Double.NaN)
      nextId += 1
      open.push(s)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanKey, prev)
        open.pop()
        spans += s.copy(endMs = nowMs)
      }
    }

  // ---- SparkListener
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val spanId = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    spanId.foreach { id =>
      val first = e.stageInfos.sortBy(_.stageId)
      val last = first.lastOption
      val details = first.map(_.details).mkString("\n")
      jobs(e.jobId) = JobRec(e.jobId, id.toLong, recording.getOrElse(-1),
        e.time.toDouble, Double.NaN, classify(details),
        last.exists(GraftBenchBridge.isResultStage))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time.toDouble))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageJob.get(info.stageId).filter(jobs.contains).foreach { job =>
      val st = stages.getOrElseUpdate(info.stageId, StageRec(info.stageId, job))
      st.submitMs = info.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
      st.completeMs = info.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      st.name = info.name
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).filter(jobs.contains).foreach { job =>
      val st = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId, job))
      val m = e.taskMetrics
      val ti = e.taskInfo
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.resultBytes += m.resultSize
        st.swRecords += m.shuffleWriteMetrics.recordsWritten
        st.swBytes += m.shuffleWriteMetrics.bytesWritten
        st.srRecords += m.shuffleReadMetrics.recordsRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.diskBytesSpilled
        if (ti != null) {
          // The Spark UI's scheduler delay: task wall time not spent
          // deserializing, running, serializing or fetching the result.
          val wall = ti.finishTime - ti.launchTime
          st.schedMs += math.max(0L, wall - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            ti.gettingResultTime)
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    recording.foreach { p =>
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks += BlockRec(p, b.memSize, b.diskSize)
    }

  // ---- QueryExecutionListener
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit =
    recording.foreach { p =>
      val ms = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      plans += PlanRec(p, funcName, ms.getOrElse("analysis", 0L),
        ms.getOrElse("optimization", 0L), ms.getOrElse("planning", 0L))
      qe.logical match {
        case w: OverwriteByExpression => w.writeOptions.get("id").foreach(writes(_) = qe)
        case _ =>
      }
    }

  /** Joins of the executed plan of the sink write with option `id` (read
    * after drain()): (broadcast-hash, sort-merge, other, rows out of the
    * deepest joins — the candidate rows of a self-join). */
  def writeJoins(id: String): (Int, Int, Int, Long) =
    writes.remove(id).map(qe => joinStats(qe.executedPlan)).getOrElse((0, 0, 0, 0L))

  /** The jobs of pass `p` launched under one of `spanIds`. */
  def passJobs(p: Int, spanIds: Set[Long]): Seq[JobRec] =
    jobs.values.filter(j => j.pass == p && spanIds.contains(j.span)).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids.contains(s.job)).toSeq
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final case class Span(id: Long, parent: Long, pass: Int, layer: String,
      name: String, startMs: Double, endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  final case class JobRec(id: Int, span: Long, pass: Int, startMs: Double,
      endMs: Double, kind: String, resultJob: Boolean)

  final case class StageRec(id: Int, job: Int) {
    var name = ""
    var submitMs = Double.NaN
    var completeMs = Double.NaN
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var resultBytes = 0L
    var swRecords = 0L
    var swBytes = 0L
    var srRecords = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
  }

  final case class BlockRec(pass: Int, memBytes: Long, diskBytes: Long)

  final case class PlanRec(pass: Int, funcName: String,
      analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** The `lda` sub-phase a job belongs to, from its stages' call sites (the
    * stack of the code that launched it). */
  def classify(callSites: String): String =
    if (callSites.contains("GibbsLda$.countPhi")) "gibbs_sweep"
    else if (callSites.contains("LDAOptimizer") || callSites.contains("clustering.LDA.fit") ||
      callSites.contains("clustering.LDA.run")) "fit"
    else if (callSites.contains("CountVectorizer")) "vocab"
    else if (callSites.contains("LdaPipeline$.docTopics")) "infer"
    else "other"

  /** Every node of an executed plan, looking through adaptive execution,
    * query stages and reused exchanges. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(planNodes)
  }

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: SortMergeJoinExec | _: ShuffledHashJoinExec |
         _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }

  def joinStats(plan: SparkPlan): (Int, Int, Int, Long) = {
    val joins = planNodes(plan).filter(isJoin).distinct
    val bhj = joins.count(_.isInstanceOf[BroadcastHashJoinExec])
    val smj = joins.count(_.isInstanceOf[SortMergeJoinExec])
    val deepest = joins.filter(j => !planNodes(j).tail.exists(isJoin))
    val candidates = deepest.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    (bhj, smj, joins.size - bhj - smj, candidates)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => !s.isNaN && !e.isNaN && e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
