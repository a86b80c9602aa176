package graft.perfbench

import java.io.File

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run: build a local session, set up one workload
  * several times, run it closed-loop (one client) for `--seconds`, check
  * every output, and print the metrics. With `--trace 1` the loop runs
  * traced and the run reports per-layer metrics as well.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --cores <n> --traces <dir>
  */
object Main {
  final class CheckFailed(msg: String) extends Exception(msg)

  /** State of one run, shared by the workloads. */
  final class Ctx(val spark: SparkSession, val spans: Spans,
                  val trace: Option[SparkTrace], val seed: Long,
                  val seconds: Int, val work: String, val cores: Int) {
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    val e2e = LinkedHashMap.empty[String, (Double, String)]
    val layers = LinkedHashMap.empty[String, (Double, String)]
    val notes = ArrayBuffer.empty[String]
    private val born = System.nanoTime()

    /** Notes how far into the run a phase ended. */
    def phase(name: String): Unit =
      notes += f"phase $name ended at ${(System.nanoTime() - born) / 1e9}%.1f s"

    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) throw new CheckFailed(msg)

    /** One attempted operation: any exception or failed check counts it
      * as failed; it is never retried.
      */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          failures += msg.take(400)
          System.err.println(s"[perfbench] FAILED $msg")
          None
      }
    }

    /** Closed loop over `steps`, taken in turn: `warm` untimed rounds of
      * every step first, so the measured steps start on compiled code and
      * a steady state; then steps run back to back while the next one,
      * taking as long as the last step of its kind, still ends inside the
      * window (the first always runs). Warm-up steps have op id 0, like
      * set-up; measured steps count from 1. A traced run records Spark's
      * events over the measured steps.
      */
    def loop(warm: Int)(steps: (() => Unit)*): Unit = {
      (1 to warm).foreach(_ => steps.foreach(_()))
      phase("warm-up")
      val end = System.nanoTime() + seconds * 1000000000L
      val lastNs = Array.fill(steps.size)(0L)
      def next = spans.op % steps.size
      trace.foreach(_.attach())
      while (spans.op == 0 || System.nanoTime() + lastNs(next) <= end) {
        val k = next
        val s = System.nanoTime()
        spans.newOp()
        steps(k)()
        lastNs(k) = System.nanoTime() - s
      }
      phase("loop")
      trace.foreach(_.settle())
    }

    def measuring: Boolean = spans.op > 0

    /** Spans of the measured steps. */
    def measured(name: String): Seq[Span] = spans.named(name).filter(_.op > 0)

    def dir(name: String): String = {
      val d = new File(work, name)
      d.mkdirs()
      d.getAbsolutePath
    }
  }

  // ------------------------------------------------------------ stats

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the `statistics.quantiles` inclusive
    * method), NaN when there are no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Bytes of every regular file under `path`. */
  def duBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }

  private val MiB = 1024.0 * 1024.0

  /** Peak resident set outside the pre-touched heap (Linux `VmHWM` minus
    * the committed heap: metaspace, code, thread stacks, direct and native
    * buffers), and, traced, the heap still in use after a full collection.
    */
  def memoryMetrics(ctx: Ctx): Unit = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(Double.NaN)
    finally src.close()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    ctx.e2e("native_peak_mb") = (hwmKb / 1024.0 - mem.getHeapMemoryUsage.getCommitted / MiB, "MiB")
    if (ctx.trace.isDefined) {
      System.gc()
      Layers.set(ctx, "jvm.heap_live_mb", mem.getHeapMemoryUsage.getUsed / MiB)
    }
  }

  /** Timing metrics every workload reports: ingest throughput over the
    * ingest calls, batch latency median and tail, and the read path's
    * latency median and throughput. The tail is the 90th percentile: a
    * run holds two to seven batches, too few for a percentile with ten
    * batches beyond it; the table prints the batch count.
    */
  def timingMetrics(ctx: Ctx, ingestBytes: Long, ingestSeconds: Double,
                    batches: Seq[Double], readBytes: Long, reads: Seq[Double],
                    readName: String): Unit = {
    ctx.e2e("ingest_mbps") = (ingestBytes / 1e6 / ingestSeconds, "MB/s")
    ctx.e2e("batch_p50_s") = (median(batches), "s")
    ctx.e2e("batch_tail_s") = (percentile(batches, 90), "s")
    ctx.e2e("read_p50_s") = (median(reads), "s")
    ctx.e2e("read_mbps") = (readBytes / 1e6 / reads.sum, "MB/s")
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString(" ")
    ctx.notes += s"batch_tail_s is p90 of ${batches.size} batches " +
      s"[${list(batches)}] s; read_* time ${reads.size} $readName [${list(reads)}] s"
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    if (traced) builder
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalAfs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try {
      if (traced) {
        val fsClass = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
          spark.sparkContext.hadoopConfiguration).getClass
        require(fsClass == classOf[CountingLocalFs],
          s"session filesystem for file: is $fsClass, not the counting filesystem")
        val afsClass = org.apache.hadoop.fs.FileContext.getFileContext(
          new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
          .getDefaultFileSystem.getClass
        require(afsClass == classOf[CountingLocalAfs],
          s"session file context for file: is $afsClass, not the counting one")
      }
      val ctx = new Ctx(spark, new Spans(traced),
        if (traced) Some(new SparkTrace(spark)) else None,
        seed, seconds, work, cores)
      ctx.notes += f"session ready ${java.lang.management.ManagementFactory
        .getRuntimeMXBean.getUptime / 1e3}%.1f s after JVM start"
      val calStart = if (traced) Some(calibrate(spark)) else None
      workload match {
        case "incremental_ingest" => IncrementalIngest.run(ctx)
        case "neardup_stream" => NearDupStream.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.trace.foreach(_.detach())
      memoryMetrics(ctx)
      calStart.foreach { case (cpu0, io0) =>
        val (cpu1, io1) = calibrate(spark)
        Layers.set(ctx, "env.cal_cpu_s", (cpu0 + cpu1) / 2)
        Layers.set(ctx, "env.cal_io_s", (io0 + io1) / 2)
        val out = new java.io.PrintWriter(new File(opts("traces"), s"trace-$workload-$seed.jsonl"))
        try ctx.spans.jsonLines.foreach(out.println) finally out.close()
      }
      report(ctx, workload, traced)
    } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  /** Epoch context: one sample each of graft's CPU-bound and I/O-bound
    * calibration workloads.
    */
  private def calibrate(spark: SparkSession): (Double, Double) =
    (graft.Bench.calibrate(spark), graft.Bench.calibrateIo(spark))

  /** Prints the metric table and the result line for run.py (both metric
    * sets; run.py prints the one asked for); true when every output check
    * passed.
    */
  private def report(ctx: Ctx, workload: String, traced: Boolean): Boolean = {
    val correct = ctx.failed == 0 && ctx.attempted > 0
    println(s"== $workload seed=${ctx.seed} seconds=${ctx.seconds} " +
      s"cores=${ctx.cores} clients=1 trace=${if (traced) 1 else 0}")
    ctx.notes.foreach(n => println(s"   $n"))
    println(f"   error_rate ${ctx.failed.toDouble / math.max(1L, ctx.attempted)}%.4f " +
      s"(${ctx.failed} failed of ${ctx.attempted} attempted)")
    ctx.failures.foreach(f => println(s"   failure: $f"))
    (if (traced) ctx.layers else ctx.e2e).foreach { case (k, (v, u)) =>
      println(f"   $k%-40s $v%.6g $u") }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def json(ms: LinkedHashMap[String, (Double, String)]) = ms.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "e2e": ${json(ctx.e2e)}, "layers": ${json(ctx.layers)}}""")
    correct
  }
}
