package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics of one stage, summed over its finished tasks. */
final class StageAgg {
  var tasks = 0
  var failedTasks = 0
  val runMs = ArrayBuffer.empty[Long]
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakMem = 0L
  var gcMs = 0L

  def totalRunMs: Long = runMs.sum

  /** Slowest task over the median task (the straggler factor of the stage). */
  def skew: Double =
    if (runMs.isEmpty) 0.0
    else {
      val s = runMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

final class JobRec(val id: Int, val startMs: Long, val callSite: String) {
  var endMs: Long = startMs
  var ok = true
}

/** One node of the span tree: workload job → public call → Spark job →
  * stage. Spark jobs, their stages' task metrics and the physical-operator
  * totals of the queries that ran are recorded on the innermost open span.
  */
final class Span(val id: Long, val layer: String, val name: String, val parent: Option[Span]) {
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = startMs
  var failures = 0
  val children = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, (JobRec, StageAgg)]
  val ops = mutable.LinkedHashMap.empty[String, Double]
  var planMs = 0L
  var queries = 0

  def durS: Double = (endMs - startMs) / 1000.0
  def add(k: String, v: Double): Unit = ops(k) = ops.getOrElse(k, 0.0) + v
  def op(k: String): Double = ops.getOrElse(k, 0.0)

  /** This span and every descendant. */
  def all: Seq[Span] = this +: children.toSeq.flatMap(_.all)
  def allStages: Seq[StageAgg] = all.flatMap(_.stages.values.map(_._2))
  def total(k: String): Double = all.map(_.op(k)).sum

  /** Wall time minus the part covered by child spans and Spark jobs. */
  def selfS: Double = {
    val iv = (children.map(c => (c.startMs, c.endMs)) ++ jobs.map(j => (j.startMs, j.endMs)))
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (endMs - startMs - covered) / 1000.0)
  }
}

/** The benchmark's one metrics collector: a SparkListener for task, stage
  * and job events plus a QueryExecutionListener for planning phases and the
  * SQL metrics of the final physical plan. Events land on the span that is
  * current when they are delivered; [[Tracer]] drains the listener bus at
  * every span boundary, so that is the span that caused them.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  @volatile var current: Span = new Span(0, "idle", "idle", None)
  /** Planning phases and plan metrics are read only while tracing. */
  @volatile var readPlans = false
  private val stageOwner = mutable.Map.empty[Int, (Span, JobRec)]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val executionSite = mutable.Map.empty[Long, String]

  /** The innermost library frame of a call stack ("Skew.scala:45"), else
    * the stack's first line. AQE submits query-stage jobs from a pool
    * thread, so a job's own call site does not name the library call; the
    * SQL execution that owns the job records the caller's stack.
    */
  private def librarySite(stack: String): String =
    stack.split("\n").find(_.startsWith("graft.")).map(l => l.substring(l.lastIndexOf('(') + 1)
      .stripSuffix(")")).getOrElse(stack.takeWhile(_ != '\n'))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId) = librarySite(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else librarySite(e.stageInfos.maxBy(_.stageId).details))
    val j = new JobRec(e.jobId, e.time, site)
    jobById(e.jobId) = j
    current.jobs += j
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (current, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (span, job) =>
      val st = span.stages.getOrElseUpdate(e.stageId, (job, new StageAgg))._2
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.diskBytesSpilled
        st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
        st.gcMs += m.jvmGCTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (readPlans) synchronized {
      val span = current
      span.queries += 1
      span.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      Plans.walk(qe.executedPlan, span, feedsJoin = false)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { current.failures += 1 }
}

/** Physical-operator totals from a final (post-AQE) plan. */
object Plans {
  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def wide(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: BinaryType | _: MapType => true
    case s: StructType => s.fields.exists(f => wide(f.dataType))
    case _ => false
  }

  /** Rows a node emits: its own row counter, else (row-preserving wrappers,
    * sorts, windows, shuffle reads) its child's.
    */
  def rowsOut(p: SparkPlan): Double = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ if p.metrics.contains("shuffleRecordsWritten") => metric(p, "shuffleRecordsWritten")
    case _ if p.nodeName == "Union" => p.children.map(rowsOut).sum
    case _ if p.children.size == 1 => rowsOut(p.children.head)
    case _ => 0.0
  }

  private val cachedSeen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private val Aggregates = Set("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec")
  private val Joins = Set("SortMergeJoinExec", "BroadcastHashJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec")

  /** @param feedsJoin the nearest operator above (through sorts, projections
    *   and shuffle reads) is a join: an exchange found here is a join input.
    */
  def walk(p: SparkPlan, span: Span, feedsJoin: Boolean): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, span, feedsJoin)
    // a cached plan runs once, in the first query that reads the cache
    case m: InMemoryTableScanExec =>
      val cached = m.relation.cachedPlan
      if (cachedSeen.add(cached)) walk(cached, span, feedsJoin = false)
    case q: QueryStageExec => walk(q.plan, span, feedsJoin)
    case _: ReusedExchangeExec => ()
    case _ =>
      val cls = p.getClass.getSimpleName
      var childFeedsJoin = feedsJoin
      cls match {
        case "FileSourceScanExec" =>
          span.add("scan.bytes", metric(p, "filesSize"))
          span.add("scan.rows", metric(p, "numOutputRows"))
        case "ShuffleExchangeExec" =>
          val bytes = metric(p, "shuffleBytesWritten")
          span.add("exchange.bytes", bytes)
          span.add("exchange.records", metric(p, "shuffleRecordsWritten"))
          span.add("exchange.fetch_wait_ms", metric(p, "fetchWaitTime"))
          span.add("plan.exchanges", 1)
          if (feedsJoin && p.output.exists(a => wide(a.dataType)))
            span.add("join.late_fetch_bytes", bytes)
          childFeedsJoin = false
        case "BroadcastExchangeExec" =>
          if (feedsJoin && p.output.exists(a => wide(a.dataType)))
            span.add("join.late_fetch_bytes", metric(p, "dataSize"))
          childFeedsJoin = false
        case "SortExec" =>
          span.add("sort.ms", metric(p, "sortTime"))
          span.add("sort.spill_bytes", metric(p, "spillSize"))
        case "WindowExec" =>
          span.add("window.rows_in", rowsOut(p.children.head))
          childFeedsJoin = false
        case c if Aggregates(c) =>
          span.add("aggregate.rows_in", rowsOut(p.children.head))
          span.add("aggregate.rows_out", metric(p, "numOutputRows"))
          childFeedsJoin = false
        case c if Joins(c) =>
          span.add("join.rows_out", metric(p, "numOutputRows"))
          childFeedsJoin = true
        case _ =>
      }
      p match {
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          span.add("sink.bytes", m.get("numOutputBytes").map(_.value.toDouble).getOrElse(0.0))
          span.add("sink.files", m.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
        case _ =>
      }
      p.children.foreach(walk(_, span, childFeedsJoin))
      p.subqueries.foreach(walk(_, span, feedsJoin = false))
  }
}

/** Opens spans around the benchmark's calls into the library. With tracing
  * off it only times: no spans, no job groups, no plan reads — just the
  * root scope of each timed job, whose task metrics the end-to-end counters
  * need.
  */
final class Tracer(spark: SparkSession, val collector: Collector) {
  private var tracing = false
  def on: Boolean = tracing
  def on_=(v: Boolean): Unit = { tracing = v; collector.readPlans = v }
  private var nextId = 1L

  def drain(): Unit = PerfbenchShim.drainListenerBus(spark.sparkContext)

  /** A root scope: everything until it closes is recorded on it; events
    * outside any root scope are dropped.
    */
  def root[T](name: String)(body: => T): (T, Span) = {
    drain()
    val s = new Span(newId(), "workload", name, None)
    collector.current = s
    try (body, s)
    finally {
      drain()
      s.endMs = System.currentTimeMillis()
      collector.current = new Span(0, "idle", "idle", None)
    }
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val parent = collector.current
      val s = new Span(newId(), layer, name, Some(parent))
      parent.children += s
      collector.current = s
      val sc = spark.sparkContext
      sc.setJobGroup(s"${s.id}:$layer", name, interruptOnCancel = false)
      try body
      catch { case t: Throwable => s.failures += 1; throw t }
      finally {
        drain()
        s.endMs = System.currentTimeMillis()
        sc.clearJobGroup()
        collector.current = parent
        if (parent.parent.nonEmpty) sc.setJobGroup(s"${parent.id}:${parent.layer}", parent.name,
          interruptOnCancel = false)
      }
    }

  private def newId(): Long = { val i = nextId; nextId += 1; i }
}
