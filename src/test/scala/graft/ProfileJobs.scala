package graft
// Scratch per-job profiler for gate queries (test scope only): runs the
// named SparkEntry queries with a listener that records every job's
// wall time, task count, description and call site (graft sets no job
// description, so the call site is what names the code that launched a
// job), so fixed scheduling cost vs compute is attributable. Usage:
//   sbt "Test/runMain graft.ProfileJobs q103_minhash_index_append [q55_...]"
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach(_.split(';')
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class Job(id: Int, var desc: String = "", var site: String = "",
                         var stages: Int = 0,
                         var tasks: Int = 0, var t0: Long = 0, var t1: Long = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId)
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        // one line per job: a streaming batch's description spans lines
        j.desc = prop("spark.job.description").replace('\n', ' ').trim
        // the call site a caller set, else the job's own: the short form
        // Spark names the result stage (the job's last-created stage) by
        j.site = Some(prop("callSite.short")).filter(_.nonEmpty)
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        j.stages = e.stageInfos.size
        j.tasks = e.stageInfos.map(_.numTasks).sum
        j.t0 = e.time
        jobs.synchronized { jobs(e.jobId) = j }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      // run twice like Bench; profile the SECOND (JIT-warm) run
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Bench.resetSessionState(spark)
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      println(f"\n=== $name: total $total%.2f s, ${jobs.size} jobs ===")
      var acc = 0.0
      var prevEnd = 0L
      jobs.values.foreach { j =>
        val dur = (j.t1 - j.t0) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.t1)
        acc += math.max(0, dur)
        println(f"job ${j.id}%3d ${dur}%7.3f s gap=${gap}%7.3f stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  ${j.desc.take(80)}%-80s  ${j.site}")
      }
      println(f"sum of job walls: $acc%.2f s (gaps = driver-side time)")
      Bench.resetSessionState(spark)
    }
    spark.stop()
  }
}
