package graft.ext

import graft.SparkFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** r16 verdict ask #2: the maintenance counters must be visible to a
  * fleet scrape WITHOUT log parsing — i.e. through the Spark metrics
  * system the configured sinks (Prometheus/Graphite/JMX) poll. This
  * spec forces a conflict + compaction-fire sequence and asserts the
  * deltas are readable from the registered `graft.maintenance` source's
  * gauges, that registration landed in the LIVE SparkEnv metrics system
  * (not a local flag), and that per-directory gauges stay isolated.
  */
class MaintenanceMetricsSpec extends SparkFunSuite {

  private def docs(lo: Int, hi: Int): DataFrame = {
    val s = spark; import s.implicits._
    (lo until hi).map(i =>
      (i.toLong, s"metric document $i topic ${i % 5} token$i end"))
      .toDF("id", "text")
  }

  test("maintenance metrics bridge: a forced conflict + compaction fire " +
    "lands in the Spark-registered source's gauges (total + per-dir), " +
    "isolated per directory") {
    val s = spark; import s.implicits._
    val dir = tempDir("mms")
    val idx = s"$dir/index"
    DocDedup.buildMinHashIndex(docs(0, 40), "id", "text", idx,
      bands = 4, rows = 2, sigBuckets = 4)
    val fs = new Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // start one real maintained stream: the start path registers the
    // source with the live metrics system (idempotent across suites)
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val stage = s"$dir/stage"
    docs(0, 10).repartition(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$inDir/b0.parquet"))
    graft.streaming.StreamingNearDup.start(spark, inDir, s"$dir/work",
      7, 10, bands = 4, rows = 2, sigBuckets = 4).awaitTermination()
    assert(org.apache.spark.metrics.source.GraftMaintenanceSource
      .isRegisteredWithSpark("graft.maintenance"),
      "the maintenance source is not in the SparkEnv metrics system")
    assert(MaintenanceMetrics.isRegistered)

    val ev = MaintenanceEvents.LockConflict
    val fire = MaintenanceEvents.CompactFire
    def gauge(name: String): Long =
      MaintenanceMetrics.snapshot().getOrElse(name, 0L)
    val tag = MaintenanceMetrics.dirTag(idx)
    val conflictTotal0 = gauge(s"$ev.total")
    val conflictDir0 = gauge(s"$tag.$ev")
    val fireDir0 = gauge(s"$tag.$fire")

    // forced conflict: an opaque foreign sentinel makes an append lose
    fs.create(WriterLock.lockPath(new Path(idx)), false).close()
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx))
    WriterLock.breakLock(spark, idx)
    // compaction fire through the maintenance window
    IndexMaintenance.maybeCompact(
      IndexMaintenance.CompactPolicy(maxDataFiles = Some(1L)), 0L,
      idx, IndexMaintenance.dataFileCount(spark, idx))(
      DocDedup.compactMinHashIndex(spark, idx))

    // the gauges read the live counters: deltas visible without logs,
    // per-dir gauge equal to the registry count for that dir
    assert(gauge(s"$ev.total") == conflictTotal0 + 1)
    assert(gauge(s"$tag.$ev") == conflictDir0 + 1)
    assert(gauge(s"$tag.$ev") == MaintenanceEvents.count(idx, ev))
    assert(gauge(s"$tag.$fire") == fireDir0 + 1)
    // per-directory isolation: a sibling index's gauges are untouched
    val otherTag = MaintenanceMetrics.dirTag(s"$dir/other-index")
    assert(gauge(s"$otherTag.$ev") == 0L)
    // two leaf-named "index" dirs under different roots get distinct tags
    assert(MaintenanceMetrics.dirTag(idx) !=
      MaintenanceMetrics.dirTag(s"$dir/elsewhere/index"))
  }

  test("lease-jeopardy gauge (r17 ask #5): forced beat failures flip " +
    "the per-directory gauge to 1 BEFORE any takeover event exists, " +
    "and release drops it back to 0") {
    val dir = tempDir("mms-jeopardy")
    val idx = s"$dir/index"
    val fs = new Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lock = WriterLock.lockPath(new Path(idx))
    def gauge(name: String): Long =
      MaintenanceMetrics.snapshot().getOrElse(name, 0L)
    val tag = MaintenanceMetrics.dirTag(idx)
    WriterLock.withLock(spark, idx, "jeopardyGauge",
      WriterLock.Lease(beatMs = 25, staleBeats = 8)) {
      // healthy hold: gauge registered and reading 0
      assert(gauge(s"$tag.lease_jeopardized") == 0L)
      // break the beat path: replace the beat file with a DIRECTORY so
      // every refresh write fails (same recipe as the hardening spec)
      val hb = fs.listStatus(lock.getParent).map(_.getPath)
        .find(_.getName.contains(".hb_")).get
      var planted = false
      while (!planted) {
        fs.delete(hb, false)
        planted = try fs.mkdirs(hb) && fs.getFileStatus(hb).isDirectory
          catch { case _: java.io.IOException => false }
      }
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (gauge(s"$tag.lease_jeopardized") == 0L &&
        System.nanoTime() < deadline) Thread.sleep(20)
      // the pre-takeover window is dashboard-visible: per-dir 1,
      // fleet count >= 1 — with zero takeover events recorded
      assert(gauge(s"$tag.lease_jeopardized") == 1L,
        "jeopardy gauge never flipped despite persistent beat failures")
      assert(gauge("lease_jeopardized.total") >= 1L)
      assert(WriterLock.leaseJeopardized(spark, idx)) // agrees with the poll API
      assert(fs.delete(hb, false)) // restore releasability
    }
    // released: no live holder, gauge reads 0 again
    assert(gauge(s"$tag.lease_jeopardized") == 0L)
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("the jeopardy gauge follows the CURRENT holder when a later " +
    "acquire qualifies the same directory differently (r18 advice: the " +
    "gauge must not freeze the first acquire's qualified holder key)") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setClass("fs.mockgauge.impl", classOf[GaugeStoreFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    hconf.setBoolean("fs.mockgauge.impl.disable.cache", true)
    val dir = tempDir("mms-rekey")
    val idx = s"$dir/index" // one UNQUALIFIED spelling → one dirTag
    val tag = MaintenanceMetrics.dirTag(idx)
    def gauge(name: String): Long =
      MaintenanceMetrics.snapshot().getOrElse(name, 0L)
    // acquire #1 (session conf, file: qualification) registers the gauge
    WriterLock.withLock(spark, idx, "registerGauge") {
      assert(gauge(s"$tag.lease_jeopardized") == 0L)
    }
    // acquire #2: the SAME dir string through a conf whose default FS
    // is a different store — the qualified lock key changes, the
    // dirTag (and so the registered gauge) does not
    val conf2 = new org.apache.hadoop.conf.Configuration(hconf)
    conf2.set("fs.defaultFS", "mockgauge://store-a/")
    conf2.set(WriterLock.TrustedStoresKey, "mockgauge://store-a")
    val fs2 = new Path(idx).getFileSystem(conf2)
    val lock = WriterLock.lockPath(new Path(idx))
    assert(fs2.makeQualified(lock).toString.startsWith("mockgauge://"),
      "the re-acquire did not actually re-qualify the lock path")
    WriterLock.withLock(conf2, idx, "requalifiedHold",
      WriterLock.Lease(beatMs = 25, staleBeats = 8)) {
      // force beat failures on THIS holder (directory planted on the
      // beat path, the hardening-spec recipe)
      val hb = fs2.listStatus(lock.getParent).map(_.getPath)
        .find(_.getName.contains(".hb_")).get
      var planted = false
      while (!planted) {
        fs2.delete(hb, false)
        planted = try fs2.mkdirs(hb) && fs2.getFileStatus(hb).isDirectory
          catch { case _: java.io.IOException => false }
      }
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (gauge(s"$tag.lease_jeopardized") == 0L &&
        System.nanoTime() < deadline) Thread.sleep(20)
      // the gauge registered under the file:-qualified first acquire
      // reads the mockgauge-qualified holder's jeopardy — the frozen
      // first-acquire key read 0 here
      assert(gauge(s"$tag.lease_jeopardized") == 1L,
        "gauge still frozen on the first acquire's holder key")
      assert(fs2.delete(hb, false)) // restore releasability
    }
    assert(gauge(s"$tag.lease_jeopardized") == 0L)
  }
}

class GaugeStoreFs extends AuthorityCapturingFs("mockgauge")
