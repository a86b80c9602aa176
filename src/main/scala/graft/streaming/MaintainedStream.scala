package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, StreamingQueryStatus, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ext.{IndexMaintenance, MaintenanceEvents, WriterLock}

/** The handle every graft stream returns (r15 verdict ask #2): a
  * [[StreamingQuery]] in every respect — existing call sites keep
  * calling `processAllAvailable`/`stop`/`awaitTermination` unchanged —
  * plus a queryable window onto the maintenance events of the
  * directories this stream owns.
  *
  * [[maintenanceStats]] returns event → count SINCE STREAM START (the
  * [[MaintenanceEvents]] registry is JVM-lifetime; the stream's
  * `start` snapshots the baseline BEFORE the query starts — see
  * [[MaintainedStream.fold]]), keyed by the [[MaintenanceEvents]] event
  * names — lock conflicts, stale/lease takeovers,
  * compaction skips/fires, retention vacuums. Zero-valued events are included
  * only if they were ever recorded against these directories in this
  * JVM, so `getOrElse(event, 0L)` is the read idiom.
  */
final class MaintainedStream(val query: StreamingQuery,
                             val maintainedDirs: Seq[String],
                             baseline: Map[String, Long])
    extends StreamingQuery {

  // Any session running maintained streams is fleet-dashboard-visible
  // without extra wiring: expose the maintenance counters through the
  // Spark metrics system (idempotent, once per JVM).
  graft.ext.MaintenanceMetrics.register()

  /** Maintenance-event counts against this stream's directories since
    * the stream started.
    */
  def maintenanceStats(): Map[String, Long] = {
    val now = MaintenanceEvents.countsFor(maintainedDirs)
    (now.keySet ++ baseline.keySet).iterator
      .map(k => k -> (now.getOrElse(k, 0L) - baseline.getOrElse(k, 0L)))
      .toMap
  }

  override def name: String = query.name
  override def id: java.util.UUID = query.id
  override def runId: java.util.UUID = query.runId
  override def sparkSession: SparkSession = query.sparkSession
  override def isActive: Boolean = query.isActive
  override def exception: Option[StreamingQueryException] = query.exception
  override def status: StreamingQueryStatus = query.status
  override def recentProgress: Array[StreamingQueryProgress] =
    query.recentProgress
  override def lastProgress: StreamingQueryProgress = query.lastProgress
  override def awaitTermination(): Unit = query.awaitTermination()
  override def awaitTermination(timeoutMs: Long): Boolean =
    query.awaitTermination(timeoutMs)
  override def processAllAvailable(): Unit = query.processAllAvailable()
  override def stop(): Unit = query.stop()
  override def explain(): Unit = query.explain()
  override def explain(extended: Boolean): Unit = query.explain(extended)
}

object MaintainedStream {

  /** The one micro-batch loop of the index-backed streams
    * ([[StreamingNearDup]], [[StreamingExactDup]], [[StreamingCdcDup]],
    * [[StreamingImageDedup]], [[StreamingVecDup]]): read `(id, value)`
    * parquet files from `inputDir`, and per micro-batch run `kernel`
    * — probe `$workDir/index`, write the batch's matches, publish the
    * batch into the index.
    *
    * `kernel(batch, index, matches, window)` gets the raw micro-batch,
    * the index directory, the batch's `$workDir/matches/batch_id=N`
    * output directory (batch_id comes back as a partition column on
    * read; writing it into the files too would collide with partition
    * discovery) and the batch's maintenance window: the
    * `compactEvery`/`compactMaxFiles` policy and the batch id. The
    * kernel hands the window to its index's publish step
    * ([[graft.ext.SignatureIndex]]), which decides before anything is
    * written: a batch that is due for compaction is published by a
    * compaction of index ∪ batch, any other batch is appended. Either
    * way the index is written once per batch, on the foreachBatch
    * thread — where the stream is the index's single writer, which is
    * exactly the maintenance window [[IndexMaintenance.compactIndex]]
    * requires; each skip or fire is a [[MaintenanceEvents]] event
    * against the index (see [[IndexMaintenance.maybeCompact]]). The
    * batch is not checkpointed here: a FILE-source micro-batch re-reads
    * its own parquet files deterministically and cheaply, so a kernel
    * persists only what it consumes several times.
    *
    * Why the loop is shaped this way:
    *  - the lease is registered on the index before anything can lock
    *    it, so every lock the stream takes there heartbeats and is
    *    observed at the caller's failover SLO
    *    ([[WriterLock.setLease]] has the failover-latency vs
    *    no-steal-margin tradeoff);
    *  - the [[MaintenanceEvents]] baseline is taken BEFORE `start()`:
    *    an `AvailableNow` first batch can fire before `start()`
    *    returns, and a later snapshot would silently undercount;
    *  - every storage block the batch pinned (the kernel's persists,
    *    a checkpoint) is freed at batch end by registry delta — the
    *    batch's outputs are all written by then, and without it a
    *    long-lived stream pins blocks for its whole lifetime (the
    *    round-7 per-commit leak class).
    */
  private[streaming] def fold(spark: SparkSession, inputDir: String,
      workDir: String, value: StructField,
      trigger: Trigger, maxFilesPerTrigger: Option[Int],
      compactEvery: Option[Int], compactMaxFiles: Option[Long],
      lease: WriterLock.Lease)(
      kernel: (DataFrame, String, String, IndexMaintenance.Window) => Unit)
      : MaintainedStream = {
    val policy = IndexMaintenance.CompactPolicy(
      every = compactEvery, maxDataFiles = compactMaxFiles)
    val index = s"$workDir/index"
    WriterLock.setLease(index, lease)
    val reader = spark.readStream
      .schema(StructType(Seq(StructField("id", LongType), value)))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val baseline = MaintenanceEvents.countsFor(Seq(index))
    val q = reader.parquet(inputDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$workDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Jobs.pinnedBy(spark.sparkContext)(
          kernel(batch, index, s"$workDir/matches/batch_id=$batchId",
            IndexMaintenance.Window(policy, batchId)))
          ._2.foreach(_.unpersist(false))
      }
      .start()
    new MaintainedStream(q, Seq(index), baseline)
  }
}
