package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. `op` is the id of the operation the span
  * belongs to (0 for the workload root); `parent` links the tree
  * workload → op → Spark job → stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
  def json: String =
    f"""{"id":$id,"parent":$parent,"op":$op,"kind":"${Trace.esc(kind)}",""" +
      f""""name":"${Trace.esc(name)}","start":$start%.3f,"end":$end%.3f}"""
}

/** What the listeners saw of one operation. */
final class OpAgg {
  var jobs = 0
  var stages = 0
  var tasks = 0
  val taskMs = new ArrayBuffer[Double]
  var taskMsSum = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var planMs = 0.0
  var arcsDecoded = 0L
  var nodesDecoded = 0L
}

/** Spans and per-operation aggregates of a traced run.
  *
  * The benchmark opens op spans around each call into a layer and sets the
  * local property [[Trace.OpProperty]] to the op id, so the Spark jobs the
  * call starts carry it; a [[SparkListener]] turns jobs and stages into
  * child spans and sums task metrics per op. A [[QueryExecutionListener]]
  * adds the query-planning phases and the scan's `bvArcsDecoded` /
  * `bvNodesDecoded` SQL metrics; it is attributed to the op that was open
  * when planning started (the client is a single closed loop, so ops never
  * overlap). Everything stays in memory until [[write]]. */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val aggs = new ConcurrentHashMap[Long, OpAgg]
  // op id -> (start, end) of op spans, for time-based attribution
  private val opTimes = new ConcurrentHashMap[Long, (Double, Double)]
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Int, Integer]
  private val pending = new AtomicLong(0) // jobs started but not ended
  @volatile private var lastEvent = System.currentTimeMillis()

  val root: Long = ids.getAndIncrement()
  private val rootStart = now()

  private def now(): Double = System.nanoTime() / 1e6 - Trace.nanoOffsetMs
  private def agg(op: Long): OpAgg = aggs.computeIfAbsent(op, _ => new OpAgg)

  /** Run `body` as op span `name` of `kind`; Spark jobs it starts are
    * children of the span. */
  def op[T](kind: String, name: String)(body: => T): T = {
    val id = ids.getAndIncrement()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.OpProperty)
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    val start = now()
    opTimes.put(id, (start, Double.MaxValue))
    try body
    finally {
      val end = now()
      opTimes.put(id, (start, end))
      spans.add(Span(id, root, id, kind, name, start, end))
      sc.setLocalProperty(Trace.OpProperty, prev)
    }
  }

  private def opAt(t: Double): Long =
    opTimes.asScala.collectFirst { case (id, (s, e)) if s <= t && t <= e => id }.getOrElse(0L)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
        .map(_.toLong).getOrElse(0L)
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      jobSpan.put(e.jobId, ids.getAndIncrement())
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      pending.incrementAndGet()
      agg(op).synchronized { agg(op).jobs += 1 }
      lastEvent = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op: Long = jobOp.getOrDefault(e.jobId, 0L)
      val start = jobStart.getOrDefault(e.jobId, e.time).toDouble
      spans.add(Span(jobSpan.getOrDefault(e.jobId, 0L), if (op == 0L) root else op, op,
        "spark.job", s"job ${e.jobId}", start, e.time.toDouble))
      pending.decrementAndGet()
      lastEvent = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job: Int = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
      val op: Long = if (job < 0) 0L else jobOp.getOrDefault(job, 0L)
      for (s <- si.submissionTime; c <- si.completionTime)
        spans.add(Span(ids.getAndIncrement(), jobSpan.getOrDefault(job, root), op,
          "spark.stage", s"stage ${si.stageId}.${si.attemptNumber()} (${si.numTasks} tasks)",
          s.toDouble, c.toDouble))
      agg(op).synchronized { agg(op).stages += 1 }
      lastEvent = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val op: Long = if (job < 0) 0L else jobOp.getOrDefault(job, 0L)
      val a = agg(op)
      a.synchronized {
        a.tasks += 1
        val d = e.taskInfo.duration.toDouble
        a.taskMs += d
        a.taskMsSum += d
        val m = e.taskMetrics
        if (m != null) {
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
        }
      }
      lastEvent = System.currentTimeMillis()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val startWall = phases.map(_.startTimeMs).min.toDouble
        val a = agg(opAt(startWall))
        var arcs = 0L
        var nodes = 0L
        Trace.foreachNode(qe.executedPlan) { p =>
          p.metrics.get("bvArcsDecoded").foreach(m => arcs += m.value)
          p.metrics.get("bvNodesDecoded").foreach(m => nodes += m.value)
        }
        a.synchronized {
          a.planMs += phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
          a.arcsDecoded += arcs
          a.nodesDecoded += nodes
        }
      }
      lastEvent = System.currentTimeMillis()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment, then detach both listeners. */
  def close(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (pending.get() > 0 || System.currentTimeMillis() - lastEvent < 300)) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spans.add(Span(root, 0L, 0L, "workload", "workload", rootStart, now()))
  }

  def opAgg(op: Long): OpAgg = aggs.getOrDefault(op, new OpAgg)
  def all: Seq[Span] = spans.asScala.toSeq
  def ops: Seq[Span] = all.filter(s => s.id == s.op && s.op != 0L)

  /** Self time of every span: its length minus the union of its children. */
  def selfTimes: Seq[(Span, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      kids.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      (s, math.max(0.0, s.ms - covered))
    }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.start).foreach(s => w.println(s.json)) finally w.close()
  }
}

object Trace {
  val OpProperty = "perfbench.op"

  // listener events carry epoch milliseconds; op spans read the monotonic
  // clock shifted onto the same epoch axis (sub-millisecond resolution)
  private[perfbench] val nanoOffsetMs: Double =
    System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Visit every physical node, descending into adaptive plans, query
    * stages and subqueries. */
  def foreachNode(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => foreachNode(a.executedPlan)(f)
      case q: QueryStageExec => foreachNode(q.plan)(f)
      case _ =>
    }
    p.children.foreach(foreachNode(_)(f))
    p.subqueries.foreach(foreachNode(_)(f))
  }
}
