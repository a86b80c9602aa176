package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the benchmark's own call into a graft layer. Times are
  * wall-clock milliseconds (the clock Spark stamps its events with) plus
  * the exact duration in nanoseconds; `counts` holds the counting
  * filesystem's deltas over the span when tracing is on.
  */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
                      durNs: Long, parent: Int, op: Int,
                      counts: Map[String, Long])

/** Spans recorded on the single client thread. Always on: a span costs
  * two clock reads, and the end-to-end timings are read from them.
  */
final class Spans(countFs: Boolean) {
  val all = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  var op = 0

  def newOp(): Int = { op += 1; op }

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val c0 = if (countFs) CountingLocalFs.snapshot() else Map.empty[String, Long]
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      val counts =
        if (countFs) {
          val c1 = CountingLocalFs.snapshot()
          c1.map { case (k, v) => k -> (v - c0(k)) }
        } else Map.empty[String, Long]
      open = open.tail
      all += Span(id, name, w0, w1, t1 - t0, parent, op, counts)
    }
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq

  def secondsOf(name: String): Seq[Double] = named(name).map(_.durNs / 1e9)

  def jsonLines: Iterator[String] = all.iterator.map { s =>
    val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"dur_ns":${s.durNs},"parent":${s.parent},""" +
      s""""op":${s.op},"counts":{$counts}}"""
  }
}

/** Spark-side records of a traced run, from public listener APIs only:
  * SQL executions (with their call sites), jobs, tasks, the query
  * executions' planning phases and scan-node metrics, and streaming
  * progress. Everything is kept in memory and aggregated at run end.
  */
final class SparkTrace(spark: SparkSession) {
  import SparkTrace._

  val execs = new ConcurrentHashMap[Long, Exec]()
  val execEnds = new ConcurrentHashMap[Long, Long]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val jobEnds = new ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[Map[String, Long]]()

  // A QueryExecution carries no SQL execution id. The query-execution
  // listener is called while the shared listener queue dispatches the
  // execution's end event, just before this listener sees that event (the
  // session registered its bus first), so the end event claims the query
  // execution recorded last. Both run on the queue's one thread.
  private var lastQe: Option[Qe] = None

  private val listener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId,
          Exec(s.executionId, s.time, moduleOf(s.details, s.description)))
      case e: SparkListenerSQLExecutionEnd =>
        execEnds.put(e.executionId, e.time)
        lastQe.foreach(q => queries.add(q.copy(id = e.executionId)))
        lastQe = None
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val execId = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val own = j.stageInfos.sortBy(_.stageId).headOption
        .map(s => moduleOf(s.details, s.name)).getOrElse("other")
      jobs.put(j.jobId, Job(j.jobId, j.time, execId, own))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobEnds.put(j.jobId, j.time)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) tasks.add(Task(t.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastQe = Some(Qe(-1L, planningMs(qe), scansOf(qe.executedPlan)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lastQe = Some(Qe(-1L, planningMs(qe), Nil))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) // micro-batches, not idle polls
        progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Wait until every started execution and job has ended and the
    * listener has been quiet for a moment, so run-end aggregation sees
    * every event of the measured calls.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    var last = -1L
    var stable = 0
    while (stable < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = execs.size.toLong + execEnds.size + jobs.size + jobEnds.size +
        tasks.size + queries.size + progress.size
      val done = execEnds.keySet.containsAll(execs.keySet) &&
        jobEnds.keySet.containsAll(jobs.keySet)
      if (n == last && done) stable += 1 else stable = 0
      last = n
    }
  }

  /** The module a job counts against: its SQL execution's call site when
    * it has one (AQE submits jobs from pool threads, whose own call site
    * is not graft's), else the job's first stage's call site.
    */
  def jobModule(j: Job): String =
    j.execId.flatMap(id => Option(execs.get(id))).map(_.module).getOrElse(j.ownModule)

  def jobsIn(windows: Seq[Span]): Seq[(Job, Long)] =
    jobs.values.asScala.toSeq.flatMap { j =>
      Option(jobEnds.get(j.id)).filter(_ => windows.exists(inside(j.startMs, _)))
        .map(e => j -> e)
    }

  def tasksIn(windows: Seq[Span]): Seq[Task] =
    tasks.asScala.toSeq.filter(t => windows.exists(inside(t.finishMs, _)))

  def queriesIn(windows: Seq[Span]): Seq[Qe] =
    queries.asScala.toSeq.filter { q =>
      Option(execs.get(q.id)).exists(e => windows.exists(inside(e.startMs, _)))
    }

  /** Span time (seconds) during which no job of the span was running. */
  def driverGapSeconds(windows: Seq[Span]): Double = windows.map { w =>
    val ivs = jobsIn(Seq(w)).map { case (j, end) =>
      (math.max(j.startMs, w.startMs), math.min(end, w.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (w.endMs - w.startMs) - covered) / 1e3
  }.sum
}

object SparkTrace {
  final case class Exec(id: Long, startMs: Long, module: String)
  final case class Job(id: Int, startMs: Long, execId: Option[Long], ownModule: String)
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Scan(node: Int, roots: Seq[String], files: Long, rows: Long)
  final case class Qe(id: Long, planningMs: Long, scans: Seq[Scan])

  def inside(tMs: Long, w: Span): Boolean = tMs >= w.startMs && tMs <= w.endMs

  /** graft source file → the module its jobs are reported under. */
  private val moduleOfFile = Map(
    "Catalog.scala" -> "catalog",
    "Deduplicator.scala" -> "api",
    "Recovery.scala" -> "recovery",
    "OrderedBinarySink.scala" -> "recovery",
    "DocDedup.scala" -> "index",
    "IndexMaintenance.scala" -> "maintenance",
    "WriterLock.scala" -> "maintenance",
    "StreamingNearDup.scala" -> "streaming",
    "MaintainedStream.scala" -> "streaming")

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\(([^:()]+)(?::\d+)?\)\s*$""".r
  private val ShortForm = """^.* at ([^:\s]+)(?::\d+)?$""".r

  /** Innermost graft frame of a call site (long form first, then the
    * short `method at File.scala:N` form); the benchmark's own frames
    * are skipped, so a job counts against the graft file that ran it.
    */
  def moduleOf(longForm: String, shortForm: String): String = {
    val fromLong = Option(longForm).iterator.flatMap(_.split("\n"))
      .collectFirst {
        case Frame(cls, file) if cls.startsWith("graft.") &&
          !cls.startsWith("graft.perfbench.") => file
      }
    val file = fromLong.orElse(Option(shortForm).collect { case ShortForm(f) => f })
    file.flatMap(moduleOfFile.get).getOrElse("other")
  }

  def planningMs(qe: QueryExecution): Long =
    try qe.tracker.phases.values.map(_.durationMs).sum
    catch { case _: Exception => 0L }

  private object Plans extends AdaptiveSparkPlanHelper

  /** File-scan nodes of an executed plan, through AQE stages and into
    * cached relations; `node` identifies the scan object so a cached
    * scan reached from several queries is counted once.
    */
  def scansOf(plan: SparkPlan): Seq[Scan] = {
    def walk(p: SparkPlan): Seq[Scan] = Plans.collectWithSubqueries(p) {
      case s: FileSourceScanExec =>
        def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        Seq(Scan(System.identityHashCode(s),
          s.relation.location.rootPaths.map(_.toUri.getPath),
          metric("numFiles"), metric("numOutputRows")))
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
    }.flatten
    try walk(plan) catch { case _: Exception => Nil }
  }
}
