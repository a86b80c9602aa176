package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Graft's job-level observability: the engine names the stages of a
  * call with a Spark job description, `graft:<operator>.<stage>`
  * ([[tagged]]), and one listener ([[Log]]) records every job with its
  * group, description and call site. A user sees the tags in the Spark
  * UI and in any listener; `graft.Bench` sums jobs and job seconds per
  * tag into `gate_stages`, and `graft.ProfileJobs` prints them per job.
  * A step that pins storage blocks learns which from [[pinnedBy]], so
  * it can free them.
  */
object Jobs {

  /** The description prefix that marks a job as started by a tagged
    * graft stage.
    */
  val Prefix = "graft:"

  private val Description = "spark.job.description"

  /** Run `body` with its jobs (AQE's stage jobs included: they inherit
    * the caller's local properties) described as `graft:<key>`, then
    * restore the thread's previous description, such as a streaming
    * batch's. The job group is left alone, so a caller's group still
    * selects and cancels the jobs.
    */
  def tagged[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, Prefix + key)
    try body
    finally sc.setLocalProperty(Description, previous)
  }

  /** Run `body` and return its value with the RDDs it left persisted,
    * for the caller to unpersist when it is done with them. A
    * `localCheckpoint` pins its blocks behind an internal RDD the
    * returned DataFrame does not expose (`df.rdd` is a fresh wrapper,
    * and unpersisting it frees nothing), so the registry's before/after
    * delta is the only handle on them; it also counts whatever another
    * thread persists on `sc` meanwhile. If `body` throws, what it pinned
    * is unpersisted before the exception propagates.
    */
  def pinnedBy[T](sc: SparkContext)(body: => T): (T, Seq[RDD[_]]) = {
    val before = sc.getPersistentRDDs.keySet
    def pinned = sc.getPersistentRDDs.filterNot(kv => before(kv._1)).values.toSeq
    val out =
      try body
      catch { case e: Throwable => pinned.foreach(_.unpersist(false)); throw e }
    (out, pinned)
  }

  /** One job. `site` is the call site a caller set, else the short call
    * site Spark names the job's result stage by. `endMs` is -1 until the
    * job ends.
    */
  final case class Job(id: Int, group: String, description: String,
                       site: String, stages: Int, tasks: Int,
                       startMs: Long, endMs: Long) {
    def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3

    /** The graft stage that launched the job, if one was tagged. */
    def tag: Option[String] =
      Some(description).filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix))
  }

  /** Records every job of `sc` from construction until [[close]]. */
  final class Log(sc: SparkContext) extends SparkListener with AutoCloseable {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String): String =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val site = Some(prop("callSite.short")).filter(_.nonEmpty)
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("")
      // one line per job: a streaming batch's description spans lines
      jobs.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"),
        prop(Description).replace('\n', ' ').trim, site,
        e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, e.time, -1L))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

    /** Every job recorded so far, by id, once the listener bus has
      * delivered every event posted before the call.
      */
    def snapshot(): Seq[Job] = {
      ListenerDrain(sc)
      jobs.values.asScala.toSeq.sortBy(_.id)
    }

    def clear(): Unit = jobs.clear()

    override def close(): Unit = sc.removeSparkListener(this)
  }

  /** Jobs and summed job seconds per graft tag, by tag. */
  def byTag(jobs: Seq[Job]): Seq[(String, Int, Double)] =
    jobs.flatMap(j => j.tag.map(_ -> j)).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, js) => (t, js.size, js.map(_._2.seconds).sum) }
}
