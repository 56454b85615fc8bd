package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: an operation, a call into one layer of the program
  * inside it, or a Spark job inside that call. Times are wall-clock
  * milliseconds with sub-millisecond resolution; `parent` is -1 for an
  * operation. All spans of one operation carry its `op` id.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** What Spark reported for one job: its span (through the job's local
  * property), interval, and the summed metrics of its tasks.
  */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = startMs
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val bytesWritten = new AtomicLong
}

/** What the planner reported for one SQL execution: planning phase
  * times and counts taken from the executed (final adaptive) plan.
  */
final case class QueryRec(executionId: Long, planMs: Double, exchanges: Int,
    joins: Int, filesScanned: Long, rowsScanned: Long)

/** Spans recorded from the benchmark's own code around each call into
  * the program, plus Spark's public listener events and the JVM's GC
  * beans. Disabled, `span` runs the body and records nothing.
  *
  * Jobs are tied to the span that submitted them through a Spark local
  * property; SQL executions through their start time. Everything stays
  * in memory until [[drain]].
  */
final class Tracer(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var sc: SparkContext = _

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  private val queries = new ConcurrentLinkedQueue[QueryRec]
  // A query execution listener is told of a QueryExecution, whose id is
  // not the SQL execution id. Both it and the SparkListener below hear
  // each SQL execution end on the same listener-bus thread, one end at
  // a time, so ends and query executions pair up in arrival order.
  private val endedIds = mutable.Queue.empty[Long]
  private val unpaired = mutable.Queue.empty[Long => QueryRec]
  private val execEnds = new AtomicLong
  private val queriesSeen = new AtomicLong

  private def pair(): Unit = synchronized {
    while (endedIds.nonEmpty && unpaired.nonEmpty)
      queries.add(unpaired.dequeue()(endedIds.dequeue()))
  }

  private val notes = mutable.Map.empty[Int, Map[String, Double]]

  def currentOp: Int = stack.lastOption.map(_.id).getOrElse(-1)

  /** Add `v` to the count `name` of the current operation. */
  def note(name: String, v: Double): Unit = if (enabled && currentOp >= 0) {
    val m = notes.getOrElse(currentOp, Map.empty)
    notes(currentOp) = m.updated(name, m.getOrElse(name, 0.0) + v)
  }

  /** Run `body` as a span named `name`, nested in the current one. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption
    val open = Span(id, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse(id), name, nowMs, Double.NaN)
    stack = open :: stack
    val prop = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    try body
    finally {
      sc.setLocalProperty(Tracer.SpanProperty, prop)
      stack = stack.tail
      spans.synchronized(spans += open.copy(endMs = nowMs))
    }
  }

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (!enabled) return
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      (j, Option(e.taskMetrics)) match {
        case (Some(job), Some(m)) =>
          job.tasks.incrementAndGet()
          job.taskMs.addAndGet(m.executorRunTime)
          job.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          job.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        case _ =>
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        execEnds.incrementAndGet()
        synchronized(endedIds.enqueue(s.executionId))
        pair()
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      queriesSeen.incrementAndGet()
      val phases = qe.tracker.phases
      val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum.toDouble
      val plan = scala.util.Try(qe.executedPlan).toOption
      val (ex, jn, files, rows) = plan.map(PlanCounts.of).getOrElse((0, 0, 0L, 0L))
      synchronized(unpaired.enqueue(id => QueryRec(id, planMs, ex, jn, files, rows)))
      pair()
    }
  }

  /** Wait (bounded) until the asynchronous listeners have seen every
    * SQL execution that ended, then return what was recorded.
    */
  def drain(): Recorded = {
    if (enabled) {
      val deadline = System.nanoTime() + 3L * 1000000000L
      Thread.sleep(200)
      while (queriesSeen.get() < execEnds.get() && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    Recorded(spans.synchronized(spans.toVector), jobs.values().asScala.toVector,
      queries.asScala.toVector, execStart.asScala.toMap.map { case (k, v) => k -> v },
      notes.toMap)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Everything a traced run recorded, joined up per span. */
final case class Recorded(spans: Vector[Span], jobs: Vector[JobRec],
    queries: Vector[QueryRec], execStart: Map[Long, Long],
    notes: Map[Int, Map[String, Double]]) {

  val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

  /** Jobs submitted inside span `id` or any span below it. */
  def jobsUnder(id: Int): Vector[JobRec] = {
    val ids = subtree(id)
    jobs.filter(j => ids.contains(j.span))
  }

  def subtree(id: Int): Set[Int] =
    children.getOrElse(id, Vector.empty).foldLeft(Set(id))((acc, c) => acc ++ subtree(c.id))

  /** SQL executions that started inside span `s` (by start time; the
    * execution start is stamped in whole milliseconds).
    */
  def queriesIn(s: Span): Vector[QueryRec] = queries.filter { q =>
    execStart.get(q.executionId).exists(t =>
      t >= math.floor(s.startMs) && t <= math.ceil(s.endMs))
  }

  /** Span time during which no Spark job of the span was running. */
  def idleMs(s: Span): Double =
    s.ms - Recorded.covered(s, jobsUnder(s.id).map(j => (j.startMs.toDouble, j.endMs.toDouble)))

  /** Span duration minus the union of its direct children's intervals
    * (job spans included).
    */
  def selfMs(s: Span): Double =
    s.ms - Recorded.covered(s, children.getOrElse(s.id, Vector.empty).map(c => (c.startMs, c.endMs)) ++
      jobs.filter(_.span == s.id).map(j => (j.startMs.toDouble, j.endMs.toDouble)))
}

object Recorded {
  /** Length of the union of `intervals`, clipped to span `s`. */
  def covered(s: Span, intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = s.startMs
    intervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { total += b - from; end = b }
      }
    total
  }
}

/** Counts taken from an executed plan, descending into adaptive plans
  * and query stages.
  */
object PlanCounts extends AdaptiveSparkPlanHelper {
  /** (exchanges, joins, files scanned, rows scanned) */
  def of(plan: SparkPlan): (Int, Int, Long, Long) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val joins = nodes.count(_.isInstanceOf[BaseJoinExec])
    var files = 0L
    var rows = 0L
    nodes.foreach {
      case f: FileSourceScanExec =>
        files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case b: BatchScanExec =>
        files += scala.util.Try(b.inputPartitions.map {
          case fp: FilePartition => fp.files.length.toLong
          case _ => 0L
        }.sum).getOrElse(0L)
        rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
    (exchanges, joins, files, rows)
  }
}
