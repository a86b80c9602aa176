package graft.streaming

import graft.SparkFunSuite
import graft.ext.{MaintenanceEvents, WriterLock}
import graft.fixtures.GateFixtures
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Every index-backed family through [[MaintainedStream.fold]], on one
  * scenario: three forced micro-batches — base records, then twins of
  * the first half, then twins of the second half — run once plain and
  * once with `compactEvery = Some(2)`, so the third batch probes a
  * COMPACTED index. Per family: the match sets of the two runs are
  * identical, the post-compaction twins are found, the handle reports
  * exactly one compaction against exactly the index directory, the
  * compaction dropped the index's file count, the stream leaked no
  * storage blocks, and the caller's lease governs the index.
  */
class MaintainedStreamSpec extends SparkFunSuite {
  import MaintainedStreamSpec.Family

  private val lease = WriterLock.Lease(beatMs = 250L, staleBeats = 40)

  /** Base ids 0..9, twins of 0..4 as 100.., twins of 5..9 as 200.. */
  private def twinBatches[V](value: Long => V): Seq[Seq[(Long, V)]] = Seq(
    (0L to 9L).map(i => (i, value(i))),
    (0L to 4L).map(i => (i + 100L, value(i))),
    (5L to 9L).map(i => (i + 200L, value(i))))
  private val lateTwins = (5L to 9L).map(i => (i + 200L, i))

  private def text(i: Long): String =
    s"base document $i about topic ${i % 3} with plenty of shared " +
      "phrasing between documents"

  // a shared prefix every blob's CDC chunks have in common, then the
  // blob's own tail
  private def blob(i: Long): Array[Byte] =
    Array.tabulate(6000)(j => ((j * 31 + 7) % 251).toByte) ++
      Array.tabulate(3000)(j => ((j * 17 + i) % 251).toByte)

  private def vec(i: Long): Array[Float] = {
    val rnd = new scala.util.Random(i)
    Array.fill(16)(rnd.nextGaussian().toFloat)
  }

  private def families: Seq[Family] = {
    // the session is touched only when a batch closure runs
    import spark.implicits._
    Seq(
      Family("NearDup", "streamNearDup",
        () => twinBatches(text).map(_.toDF("id", "text")), lateTwins,
        (in, work, every) => StreamingNearDup.start(spark, in, work, 7, 10,
          bands = 8, rows = 4, sigBuckets = 4, maxFilesPerTrigger = Some(1),
          compactEvery = every, lease = lease)),
      Family("ExactDup", "streamExactDup",
        () => twinBatches(text).map(_.toDF("id", "text")), lateTwins,
        (in, work, every) => StreamingExactDup.start(spark, in, work,
          fpBuckets = 8, maxFilesPerTrigger = Some(1),
          compactEvery = every, lease = lease)),
      Family("CdcDup", "streamCdcDup",
        () => twinBatches(blob).map(_.toDF("id", "blob")), lateTwins,
        (in, work, every) => StreamingCdcDup.start(spark, in, work,
          minSize = 256, avgBits = 9, maxSize = 4096, hashBuckets = 8,
          maxFilesPerTrigger = Some(1), compactEvery = every,
          lease = lease)),
      // the q137 gate's generator: an id >= 1000000 renders its base
      // image with a small pixel tweak, a near (not exact) twin
      Family("ImageDedup", "streamImageDedup",
        () => Seq(
          (0L to 9L).map(i => (i, GateFixtures.q137_png(i))),
          (0L to 4L).map(i => (i + 1000000L,
            GateFixtures.q137_png(i + 1000000L))),
          (5L to 9L).map(i => (i + 2000000L,
            GateFixtures.q137_png(i + 2000000L))))
          .map(_.toDF("id", "blob")),
        (5L to 9L).map(i => (i + 2000000L, i)),
        (in, work, every) => StreamingImageDedup.start(spark, in, work,
          maxDist = 3, qBuckets = 8, maxFilesPerTrigger = Some(1),
          compactEvery = every, lease = lease)),
      // identical twin vectors score cosine 1.0 and assign to their
      // original's cell; nprobe = nlist makes recall exhaustive
      Family("VecDup", "streamVecDup",
        () => twinBatches(vec).map(_.toDF("id", "vec")), lateTwins,
        (in, work, every) => StreamingVecDup.start(spark, in, work,
          threshold = 0.9999, nlist = 4, nprobe = 4,
          maxFilesPerTrigger = Some(1), compactEvery = every,
          lease = lease)))
  }

  /** Land each batch as one parquet FILE in the watched directory, in
    * mod-time order = batch order under maxFilesPerTrigger = 1 (the
    * file source lists flat files, not a df.write directory).
    */
  private def land(dir: String, batches: Seq[DataFrame]): String = {
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$dir/stage-$i"
      df.repartition(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = Paths.get(s"$inDir/b$i.parquet")
      Files.copy(part.toPath, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + i * 60000L))
    }
    inDir
  }

  families.foreach { f =>
    test(s"${f.name}: three-batch twins, plain vs compactEvery=2") {
      def run(tag: String, every: Option[Int]): Set[(Long, Long)] = {
        val dir = tempDir(s"ms-${f.name}-$tag")
        val in = land(dir, f.batches())
        val work = s"$dir/work"
        val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
        val handle = f.start(in, work, every)
        handle.awaitTermination()
        // 3 batches at compactEvery=2 compact once; no policy, never
        assert(handle.maintenanceStats()
          .getOrElse(MaintenanceEvents.CompactFire, 0L) ==
          every.map(_ => 1L).getOrElse(0L))
        assert(handle.maintainedDirs == Seq(s"$work/index"))
        assert(WriterLock.leaseFor(s"$work/index") == lease)
        // no storage block outlives its micro-batch (delta vs run
        // start: the shared session may carry other suites' blocks)
        val leaked =
          spark.sparkContext.getPersistentRDDs.keySet.filterNot(blocksBefore)
        assert(leaked.isEmpty, s"leaked blocks: $leaked")
        spark.read.parquet(s"$work/matches").select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }

      val plain = run("plain", None)
      val compacted = run("compact", Some(2))
      assert(compacted == plain,
        s"compaction changed stream output:\n plain=$plain\n comp=$compacted")
      // the third batch probed the compacted index: its twins are found
      val missed = f.lateTwins.filterNot { case (a, b) =>
        compacted((a, b)) || compacted((b, a)) }
      assert(missed.isEmpty, s"post-compaction probe missed $missed")
      val gauges = graft.Instr.snapshot().toMap
      val before = gauges(s"${f.prefix}.compact_files_before").last
      val after = gauges(s"${f.prefix}.compact_files_after").last
      assert(after < before,
        s"compaction did not drop files: $before -> $after")
    }
  }
}

object MaintainedStreamSpec {

  /** One family: its gauge prefix, its three `(id, value)` batches,
    * the (twin, original) pairs of the third batch, and how to start
    * its stream on (input dir, work dir, compactEvery).
    */
  final case class Family(
      name: String, prefix: String, batches: () => Seq[DataFrame],
      lateTwins: Seq[(Long, Long)],
      start: (String, String, Option[Int]) => MaintainedStream)
}
