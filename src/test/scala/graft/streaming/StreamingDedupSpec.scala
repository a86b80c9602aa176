package graft.streaming

import graft.{Fixtures, SparkFunSuite}
import graft.api.DedupOptions
import graft.ext.MaintenanceEvents
import graft.operators.Catalog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class StreamingDedupSpec extends SparkFunSuite {

  test("file-stream dedup: one catalog commit per micro-batch; cross-run pointers") {
    val dir = tempDir("sstream")
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val work = s"$dir/work"
    val cat = new Catalog(spark, s"$work/catalog")

    // ---- micro-batch 1: TWO files (a2 duplicates a1's content) --------
    val dataA = Fixtures.alignedDuplicated(blocks = 256, distinct = 16, seed = 7)
    Fixtures.writeTemp(inDir, "a1.dat", dataA)
    Fixtures.writeTemp(inDir, "a2.dat", dataA)
    val q1 = StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64))
    q1.awaitTermination()
    assert(cat.currentVersion == 1,
      s"two files in one micro-batch must commit ONCE, got v${cat.currentVersion}")
    val filesV1 = cat.files().collect()
    assert(filesV1.length == 2)

    // a2 deduped fully against a1 (in-batch, pre-commit): every chunk of
    // a2 is a pointer into a1's run. Output names embed a path-digest
    // tag, so resolve by the basename suffix, not by sort order.
    val allNames = filesV1.map(_.getAs[String]("filename"))
    val nameA1 = allNames.find(_.endsWith("-a1.dat.bin")).get
    val nameA2 = allNames.find(_.endsWith("-a2.dat.bin")).get
    val fidA1 = cat.getFile(nameA1).head().getAs[Long]("file_id")
    val encA2 = spark.read.parquet(s"$work/encoded/$nameA2.parquet")
    assert(encA2.where(!col("is_pointer")).count() == 0)
    assert(encA2.where(col("cat_file_id") === fidA1).count() == encA2.count())

    // ---- micro-batch 2: one new file, duplicate content again --------
    Fixtures.writeTemp(inDir, "b.dat", dataA)
    val q2 = StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64))
    q2.awaitTermination()
    assert(cat.currentVersion == 2, "second micro-batch = exactly one more version")
    val nameB = cat.files().collect().map(_.getAs[String]("filename"))
      .filter(_.startsWith("b00001")).head
    val encB = spark.read.parquet(s"$work/encoded/$nameB.parquet")
    // b's chunks all point at run a1's store (cross-BATCH pointers)
    assert(encB.where(!col("is_pointer")).count() == 0)
    assert(encB.where(col("cat_file_id") === fidA1).count() == encB.count())
    // refs_num accumulated across batches: 16 distinct blocks cover
    // 3 files × 256 blocks
    assert(cat.links().agg(sum("refs_num")).head().getLong(0) == 3L * 256)
  }

  test("exactly-once: crash between data write and catalog commit replays idempotently") {
    val dir = tempDir("sxonce")
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val work = s"$dir/work"
    val cat = new Catalog(spark, s"$work/catalog")
    val data = Fixtures.alignedDuplicated(blocks = 128, distinct = 8, seed = 11)
    Fixtures.writeTemp(inDir, "x.dat", data)
    // Inject a crash at the exactly-once-critical point: a bare
    // v_000001 dir makes the catalog publish lose its race AFTER the
    // encoded parquet is written and renamed into place — the
    // micro-batch dies between data write and commit.
    Files.createDirectories(Paths.get(s"$work/catalog/v_000001"))
    val q1 = StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64))
    intercept[Exception] { q1.awaitTermination() }
    assert(cat.currentVersion == 0,
      "crashed batch must leave the catalog uncommitted")

    // Restart after the "crash" (same checkpoint): the batch was never
    // recorded as complete, so it replays — deterministic output names
    // (batchId + path digest) make the data write idempotent, and the
    // single commit lands exactly once.
    Files.delete(Paths.get(s"$work/catalog/v_000001"))
    val q2 = StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64))
    q2.awaitTermination()
    assert(cat.currentVersion == 1,
      s"replay must commit exactly one version, got v${cat.currentVersion}")
    val filesRows = cat.files().collect()
    assert(filesRows.length == 1)
    // and the replayed run recovers byte-equal
    val engine = new graft.api.Deduplicator(spark, work)
    val out = s"$dir/recovered"
    engine.recoverFile(filesRows.head.getAs[String]("filename"), out)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), data))

    // a further restart with no new input re-commits nothing
    val q3 = StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64))
    q3.awaitTermination()
    assert(cat.currentVersion == 1)
  }

  test("replay after a landed commit: a batch whose catalog commit landed " +
    "before the checkpoint recorded it commits nothing again") {
    val dir = tempDir("sreplay")
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val work = s"$dir/work"
    val cat = new Catalog(spark, s"$work/catalog")
    val data = Fixtures.alignedDuplicated(blocks = 128, distinct = 8, seed = 13)
    Fixtures.writeTemp(inDir, "r.dat", data)
    StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64)).awaitTermination()
    assert(cat.currentVersion == 1)
    // the process dies after the catalog commit and before Spark's
    // commit log records batch 0: the restart replays batch 0 with the
    // same output names
    Seq("0", ".0.crc").map(n => Paths.get(s"$work/_checkpoint/commits/$n"))
      .foreach(Files.deleteIfExists)
    StreamingDedup.start(spark, inDir, work,
      DedupOptions(chunkBytes = 64)).awaitTermination()
    assert(cat.currentVersion == 1,
      s"the replay must commit nothing, got v${cat.currentVersion}")
    val names = cat.files().collect().map(_.getAs[String]("filename"))
    assert(names.length == 1)
    val engine = new graft.api.Deduplicator(spark, work)
    engine.recoverFile(names.head, s"$dir/rec")
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/rec")), data))
  }

  test("compact() after N micro-batches: fewer files, single live version, " +
    "recovery stays byte-equal") {
    val dir = tempDir("scompact")
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val work = s"$dir/work"
    val cat = new Catalog(spark, s"$work/catalog")
    // three micro-batches of the SAME content: batch 1 inserts the
    // links, batches 2/3 are pure refs_num delta commits that rewrite
    // the SAME buckets again — the fragmenting steady-state workload
    // compaction exists for (each live bucket accumulates one file per
    // version that touched it)
    val data = Fixtures.alignedDuplicated(blocks = 96, distinct = 12, seed = 5)
    val datas = Seq(data, data, data)
    datas.zipWithIndex.foreach { case (d, i) =>
      Fixtures.writeTemp(inDir, s"f$i.dat", d)
      val q = StreamingDedup.start(spark, inDir, work,
        DedupOptions(chunkBytes = 64))
      q.awaitTermination()
    }
    assert(cat.currentVersion == 3, "three micro-batches = three commits")
    def linkFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$work/catalog"))
        .filter(f => f.getName.startsWith("part-") &&
          f.getPath.contains("hash_links"))
    }
    val linksBefore = cat.links().orderBy("hash").collect().toSeq
    val nBefore = linkFiles().size
    val newV = cat.compact()
    assert(newV == 4L && cat.currentVersion == 4L)
    // fragmentation actually dropped, and all files live in one version
    val after = linkFiles()
    assert(after.size < nBefore,
      s"compact must shrink file count: $nBefore -> ${after.size}")
    assert(after.forall(_.getPath.contains("v_000004")))
    // catalog content is row-identical
    assert(cat.links().orderBy("hash").collect().toSeq == linksBefore)
    // and every streamed file still recovers byte-equal THROUGH the
    // compacted catalog (cross-batch pointers resolve via file_id)
    val engine = new graft.api.Deduplicator(spark, work)
    val names = cat.files().collect().map(_.getAs[String]("filename")).sorted
    names.zip(datas).foreach { case (name, data) =>
      val out = s"$dir/rec-$name"
      engine.recoverFile(name, out)
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(out)), data),
        s"post-compact recovery must stay byte-equal for $name")
    }
  }

  test("compactMaxFiles drives the catalog maintenance window on the " +
    "MEASURED file count: skips under the threshold, fires over it, " +
    "output invariant either way") {
    val data = Fixtures.alignedDuplicated(blocks = 96, distinct = 12, seed = 7)
    def run(tag: String, maxFiles: Long): (Seq[org.apache.spark.sql.Row], Long, Long) = {
      val dir = tempDir(s"scostc-$tag")
      val inDir = s"$dir/in"
      Files.createDirectories(Paths.get(inDir))
      val work = s"$dir/work"
      (0 until 3).foreach { i =>
        Fixtures.writeTemp(inDir, s"f$i.dat", data)
        StreamingDedup.start(spark, inDir, work,
          DedupOptions(chunkBytes = 64),
          compactMaxFiles = Some(maxFiles)).awaitTermination()
      }
      val cat = new Catalog(spark, s"$work/catalog")
      (cat.links().orderBy("hash", "file_id", "line").collect().toSeq,
        MaintenanceEvents.count(s"$work/catalog", MaintenanceEvents.CompactSkip),
        MaintenanceEvents.count(s"$work/catalog", MaintenanceEvents.CompactFire))
    }
    // threshold no 3-batch catalog can reach: every check declines,
    // each decline recording the observed count
    val (linksHi, skipsHi, firesHi) = run("hi", 1000000L)
    assert(skipsHi == 3L && firesHi == 0L,
      s"expected 3 skips / 0 fires, got $skipsHi / $firesHi")
    // threshold every non-empty catalog exceeds: fires after every batch
    val (linksLo, skipsLo, firesLo) = run("lo", 1L)
    assert(skipsLo == 0L && firesLo == 3L,
      s"expected 0 skips / 3 fires, got $skipsLo / $firesLo")
    // compaction changes layout, never the row set
    assert(linksHi == linksLo,
      "links must be row-identical with and without cost-fired compaction")
  }

  test("retention on a long-lived stream: retainVersions bounds version " +
    "history between compaction fires, keeps the retained window " +
    "time-travel readable, and reports through maintenanceStats()") {
    val dir = tempDir("sretain")
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val work = s"$dir/work"
    val cat = new Catalog(spark, s"$work/catalog")
    val data = Fixtures.alignedDuplicated(blocks = 96, distinct = 12, seed = 9)
    // 5 micro-batches = 5 versions, all rewriting the same buckets
    // (identical content → pure refs_num delta commits) — without
    // retention every superseded version dir survives until a
    // compaction fire; with retainVersions = 2 each batch's window
    // reclaims exactly the version that just aged out
    var handle: MaintainedStream = null
    (0 until 5).foreach { i =>
      Fixtures.writeTemp(inDir, s"f$i.dat", data)
      handle = StreamingDedup.start(spark, inDir, work,
        DedupOptions(chunkBytes = 64), retainVersions = Some(2))
      handle.awaitTermination()
    }
    assert(cat.currentVersion == 5L)
    def vdirs(): Seq[String] =
      new java.io.File(s"$work/catalog").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("v_")).sorted
    // batches 3/4/5 each reclaimed one aged-out version (v1, v2, v3)
    assert(vdirs() == Seq("v_000004", "v_000005"),
      s"expected only the retained window on disk, got ${vdirs()}")
    // the retained window is fully time-travel readable...
    val at4 = cat.linksAt(4L).orderBy("hash").collect().toSeq
    val at5 = cat.linksAt(5L).orderBy("hash").collect().toSeq
    assert(at4.map(_.getAs[String]("hash")) ==
      at5.map(_.getAs[String]("hash")))
    // ...and refs_num actually differs between the two snapshots (v5
    // added one more file's worth of references)
    assert(at4.map(_.getAs[Long]("refs_num")).sum <
      at5.map(_.getAs[Long]("refs_num")).sum)
    // the LAST batch's handle observed exactly its own batch's events:
    // one vacuum removal (v3), no compaction (no policy configured)
    val stats = handle.maintenanceStats()
    assert(stats.getOrElse(graft.ext.MaintenanceEvents.VacuumRemoved, 0L)
      == 1L, s"stats=$stats")
    assert(stats.getOrElse(graft.ext.MaintenanceEvents.CompactFire, 0L)
      == 0L)
    assert(handle.maintainedDirs == Seq(s"$work/catalog"))
    // recovery still byte-equal through the retained catalog
    val engine = new graft.api.Deduplicator(spark, work)
    val name = cat.files().orderBy("file_id").collect()
      .last.getAs[String]("filename")
    engine.recoverFile(name, s"$dir/rec.bin")
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(s"$dir/rec.bin")), data))
  }

  test("dedupWithinWatermark drops in-stream duplicate keys") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamingDedup.dedupWithinWatermark(
      mem.toDF().toDF("ts", "k"), "ts", Seq("k"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dwm")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((t0, "x"), (t0, "x"), (t0, "y"))
    q.processAllAvailable()
    mem.addData((java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "x"))
    q.processAllAvailable()
    val rows = spark.table("dwm").collect().map(_.getAs[String]("k"))
    q.stop()
    assert(rows.sorted.toSeq == Seq("x", "y")) // later x's suppressed
  }

  test("firstOccurrenceResolve: flatMapGroupsWithState dedups within and " +
    "ACROSS micro-batches (state store = the catalog)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingDedup.{ChunkEvent, ResolvedChunk}
    val mem = MemoryStream[ChunkEvent]
    val resolved = StreamingDedup.firstOccurrenceResolve(mem.toDS())
    val q = resolved.writeStream.format("memory").queryName("for")
      .outputMode("append").start()
    // batch 1: hash A twice in one file (in-batch dup), hash B once
    mem.addData(
      ChunkEvent("A", "f1", 0), ChunkEvent("A", "f1", 2),
      ChunkEvent("B", "f1", 1))
    q.processAllAvailable()
    // batch 2: hash A again from a LATER file — must point at batch 1's
    // first occurrence (cross-batch catalog-in-state), plus a fresh C
    mem.addData(ChunkEvent("A", "f2", 0), ChunkEvent("C", "f2", 1))
    q.processAllAvailable()
    val rows = spark.table("for").as[ResolvedChunk].collect()
      .sortBy(r => (r.file, r.pos))
    q.stop()
    assert(rows.toSeq == Seq(
      ResolvedChunk("A", "f1", 0, is_pointer = false, "f1", 0),
      ResolvedChunk("B", "f1", 1, is_pointer = false, "f1", 1),
      ResolvedChunk("A", "f1", 2, is_pointer = true, "f1", 0),
      ResolvedChunk("A", "f2", 0, is_pointer = true, "f1", 0),
      ResolvedChunk("C", "f2", 1, is_pointer = false, "f2", 1)))
  }

  test("streamAsOf: queries match the latest at-or-before state, " +
    "state carries ACROSS micro-batches, per-key O(1) state") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingDedup.{AsOfEvent, AsOfMatch}
    val mem = MemoryStream[AsOfEvent]
    val q = StreamingDedup.streamAsOf(mem.toDS())
      .writeStream.format("memory").queryName("sao")
      .outputMode("append").start()
    // batch 1: state@100 then query@150 (same batch resolve), and a
    // query@50 BEFORE any state (unmatched)
    mem.addData(
      AsOfEvent("u", 100L, isState = true, 1L, 10.0),
      AsOfEvent("u", 150L, isState = false, 2L, 0),
      AsOfEvent("u", 50L, isState = false, 3L, 0))
    q.processAllAvailable()
    // batch 2: query@200 must see batch 1's state (cross-batch carry);
    // a NEWER state@250 then a query@300 picks the newer one; an OLDER
    // state@10 must NOT displace the newest state
    mem.addData(
      AsOfEvent("u", 200L, isState = false, 4L, 0),
      AsOfEvent("u", 250L, isState = true, 5L, 20.0),
      AsOfEvent("u", 300L, isState = false, 6L, 0),
      AsOfEvent("u", 10L, isState = true, 7L, 5.0))
    q.processAllAvailable()
    // batch 3: the stale state@10 from batch 2 must not have overwritten
    // state@250
    mem.addData(AsOfEvent("u", 400L, isState = false, 8L, 0))
    q.processAllAvailable()
    val rows = spark.table("sao").as[AsOfMatch].collect()
      .map(m => m.id -> m).toMap
    q.stop()
    assert(!rows(3L).matched)
    assert(rows(2L).matched && rows(2L).state_value === 10.0)
    assert(rows(4L).matched && rows(4L).state_us === 100L)
    assert(rows(6L).matched && rows(6L).state_us === 250L)
    assert(rows(8L).matched && rows(8L).state_us === 250L &&
      rows(8L).state_value === 20.0)
  }

  test("sessionCounts: streaming gap sessions merge within the gap and " +
    "split past it") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val sessions = StreamingDedup.sessionCounts(
      mem.toDF().toDF("ts", "k"), "ts", "k", "10 minutes", "1 hour")
    val q = sessions.writeStream.format("memory").queryName("sc")
      .outputMode("complete").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "a"), // merges
      (java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), "a"), // splits
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "b"))
    q.processAllAvailable()
    val rows = spark.table("sc").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ss").toString,
        r.getAs[java.sql.Timestamp]("se").toString,
        r.getAs[String]("k"), r.getAs[Long]("n"))).sorted
    q.stop()
    assert(rows.toSeq == Seq(
      // a's first session spans both events; end = last event + gap
      ("2024-01-01 00:00:00.0", "2024-01-01 00:15:00.0", "a", 2L),
      ("2024-01-01 00:02:00.0", "2024-01-01 00:12:00.0", "b", 1L),
      ("2024-01-01 00:30:00.0", "2024-01-01 00:40:00.0", "a", 1L)))
  }

  test("windowedCounts: tumbling event-time windows per key") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val counts = StreamingDedup.windowedCounts(
      mem.toDF().toDF("ts", "k"), "ts", "k", "10 minutes", "1 hour")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "b"))
    q.processAllAvailable()
    val rows = spark.table("wc").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").toString,
        r.getAs[String]("k"), r.getAs[Long]("n"))).sorted
    q.stop()
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00.0", "a", 2L),
      ("2024-01-01 00:00:00.0", "b", 1L),
      ("2024-01-01 00:10:00.0", "a", 1L)))
  }
}
