package graft
// Per-job profiler for gate queries (test scope only): runs the named
// SparkEntry queries under a graft.Jobs.Log and prints every job's wall
// time, stage and task counts, description and call site, then one
// subtotal line per `graft:` stage tag, so fixed scheduling cost vs
// compute is attributable to the graft stage that launched each job.
// Usage:
//   sbt "Test/runMain graft.ProfileJobs q103_minhash_index_append [q55_...]"
import org.apache.spark.sql.SparkSession

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
    val log = new Jobs.Log(spark.sparkContext)

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      // run twice like Bench; profile the SECOND (JIT-warm) run
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Bench.resetSessionState(spark)
      log.snapshot() // drain the first run's events before dropping them
      log.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      val jobs = log.snapshot()
      println(f"\n=== $name: total $total%.2f s, ${jobs.size} jobs ===")
      var prevEnd = 0L
      jobs.foreach { j =>
        val gap = if (prevEnd == 0) 0.0 else (j.startMs - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.endMs)
        println(f"job ${j.id}%3d ${j.seconds}%7.3f s gap=$gap%7.3f stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  ${j.description.take(80)}%-80s  ${j.site}")
      }
      Jobs.byTag(jobs).foreach { case (tag, n, sec) =>
        println(f"${Jobs.Prefix + tag}%-50s $n%3d jobs $sec%7.3f s")
      }
      println(f"sum of job walls: ${jobs.map(_.seconds).sum}%.2f s (gaps = driver-side time)")
      Bench.resetSessionState(spark)
    }
    log.close()
    spark.stop()
  }
}
