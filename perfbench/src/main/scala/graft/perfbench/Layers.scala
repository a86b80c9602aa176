package graft.perfbench

import scala.jdk.CollectionConverters._

import Main.Ctx

/** Per-layer metrics shared by the workloads, computed at run end from
  * the loop's spans and the Spark records that fall inside them.
  * "Per batch" divides a total over every measured call by the
  * workload's batch count (incremental_ingest: ingest batches;
  * neardup_stream: fold micro-batches).
  */
object Layers {
  val Modules = Seq("catalog", "api", "recovery", "index", "maintenance", "streaming")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "functions.hash_s" -> "s", "operators.group_s" -> "s",
    "operators.resolve_s" -> "s", "sources.sink_s" -> "s") ++
    Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.jobs_s" -> "s")) ++ Seq(
    "spark.planning_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.busy_share" -> "ratio",
    "fs.creates" -> "count", "fs.renames" -> "count", "fs.deletes" -> "count",
    "fs.lists" -> "count", "fs.opens" -> "count", "fs.bytes_written" -> "B",
    "catalog.bytes_written_per_input_byte" -> "ratio",
    "catalog.data_files" -> "count", "catalog.versions_on_disk" -> "count",
    "catalog.bloom_fpp" -> "ratio",
    "index.files_read_per_probe" -> "count", "index.rows_scanned_per_probe" -> "count",
    "index.data_files" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.wal_commit_s" -> "s",
    "jvm.heap_live_mb" -> "MiB",
    "env.cal_cpu_s" -> "s", "env.cal_io_s" -> "s",
    "trace.batches" -> "count")

  /** Fills every per-layer metric with 0 so layers a workload does not
    * exercise still report; the workload then overwrites its own.
    */
  def zero(ctx: Ctx): Unit = All.foreach { case (k, u) => ctx.layers(k) = (0.0, u) }

  def set(ctx: Ctx, name: String, v: Double): Unit = {
    val unit = ctx.layers.get(name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"unknown layer metric $name"))
    ctx.layers(name) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
  }

  /** Job, Spark-task and filesystem metrics over `windows` (every traced
    * call into graft), per batch; `inputBytes` is the user data the
    * windows ingested.
    */
  def common(ctx: Ctx, windows: Seq[Span], batches: Int, inputBytes: Long): Unit = {
    val t = ctx.trace.get
    val n = math.max(1, batches).toDouble
    val jobs = t.jobsIn(windows)
    Modules.foreach { m =>
      val mine = jobs.filter { case (j, _) => t.jobModule(j) == m }
      set(ctx, s"$m.jobs", mine.size / n)
      set(ctx, s"$m.jobs_s", mine.map { case (j, end) => end - j.startMs }.sum / 1e3 / n)
    }
    val qes = t.queriesIn(windows)
    set(ctx, "spark.planning_s", qes.map(_.planningMs).sum / 1e3 / n)
    set(ctx, "spark.driver_gap_s", t.driverGapSeconds(windows) / n)
    val tasks = t.tasksIn(windows)
    set(ctx, "spark.shuffle_read_bytes", tasks.map(_.shuffleRead).sum / n)
    set(ctx, "spark.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum / n)
    set(ctx, "spark.spill_bytes", tasks.map(_.spill).sum / n)
    set(ctx, "spark.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n)
    set(ctx, "spark.task_gc_s", tasks.map(_.gcMs).sum / 1e3 / n)
    val spanMs = windows.map(w => w.endMs - w.startMs).sum.toDouble
    set(ctx, "spark.busy_share", tasks.map(_.runMs).sum / (ctx.cores * math.max(1.0, spanMs)))
    def fs(k: String) = windows.map(_.counts.getOrElse(k, 0L)).sum
    Seq("creates", "renames", "deletes", "lists", "opens", "bytes_written")
      .foreach(k => set(ctx, s"fs.$k", fs(k) / n))
    if (inputBytes > 0)
      set(ctx, "catalog.bytes_written_per_input_byte",
        fs("catalog_bytes_written").toDouble / inputBytes)
    set(ctx, "trace.batches", batches)
    val joined = t.queries.asScala.count(q => t.execs.containsKey(q.id))
    ctx.notes += s"trace: ${t.execs.size} SQL executions, ${t.jobs.size} jobs, " +
      s"${t.queries.size} query executions ($joined joined to an execution), " +
      s"${t.tasks.size} tasks; ${jobs.size} jobs and ${qes.size} query executions " +
      s"inside the ${windows.size} traced calls"
  }

  /** Scan-node totals of the queries inside `windows` that read under
    * `root`, each scan node counted once.
    */
  def scansUnder(ctx: Ctx, windows: Seq[Span], root: String): (Long, Long) = {
    val scans = ctx.trace.get.queriesIn(windows).flatMap(_.scans)
      .filter(_.roots.exists(_.startsWith(root)))
      .groupBy(_.node).values.map(_.head)
    (scans.map(_.files).sum, scans.map(_.rows).sum)
  }
}
