package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

/** Bench-harness stage samples: the oracle gates in [[SparkEntry]] time
  * their stages and record layout gauges here, [[Bench]] times the
  * `attrib_*` split of the dedup pipeline here, and [[Bench]] emits the
  * samples in the `gate_stages` field of BENCH_LOCAL.json.
  *
  * Harness-only: engine code never records here. Its events go to
  * [[graft.ext.MaintenanceEvents]], and its stages are named by Spark
  * job descriptions ([[Jobs.tagged]]), which [[Bench]] reads through
  * [[Jobs.Log]].
  *
  * Every record appends a sample: the bench runs each query twice, and
  * the two runs differ for cached-index gates (run 1 builds and probes,
  * run 2 probes a warm index), so both values matter. A gate records a
  * handful of samples per run, so the lists stay small. Thread-safe.
  */
object Instr {
  private val samples =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  /** Time `body`, appending the elapsed seconds under `key`. */
  def timed[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally record(key, (System.nanoTime() - t0) / 1e9)
  }

  /** Append one sample (a duration, a file count, a row count). */
  def record(key: String, v: Double): Unit =
    samples.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[Double]())
      .add(v)

  /** All samples by key, insertion-ordered per key. */
  def snapshot(): Seq[(String, Seq[Double])] =
    samples.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> v.asScala.toSeq }
}
