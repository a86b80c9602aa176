package graft.ext

import graft.SparkFunSuite
import graft.operators.Catalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r14 verdict asks #2/#4: cost-triggered compaction policy, staging
  * residue of an interrupted compaction, and single-writer enforcement
  * (two interleaved committers — the loser throws, the survivor's rows
  * verify) for both the ext/ indexes (lock sentinel) and the catalog
  * (the pre-existing version-rename CAS, pinned here).
  */
class MaintenanceHardeningSpec extends SparkFunSuite {

  private def docs(lo: Int, hi: Int): DataFrame = {
    val s = spark; import s.implicits._
    (lo until hi).map(i =>
      (i.toLong, s"document number $i about topic ${i % 7} with shared " +
        s"phrasing token$i end")).toDF("id", "text")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def probe(idx: String): Seq[String] = sorted(
    DocDedup.probeMinHashIndex(
      docs(0, 10).select((col("id") + 1000L).as("id"), col("text")),
      docs(0, 40), "id", "text", idx, 7, 10))

  private def freshIndex(tag: String): (String, Seq[String], Long) = {
    val idx = tempDir(tag) + "/index"
    DocDedup.buildMinHashIndex(docs(0, 40), "id", "text", idx,
      bands = 4, rows = 2, sigBuckets = 4)
    val pre = probe(idx)
    assert(pre.nonEmpty)
    (idx, pre, IndexFiles.rows(spark, idx).count())
  }

  // ------------------------------------------------ compaction policy

  test("maybeCompact policy: cadence, cost-threshold skip/fire, lazy " +
    "file count") {
    var fires = 0
    var evals = 0
    def stats = IndexMaintenance.CompactStats(10, 1, 5)
    val policyDir = "/tmp/mhs-policy-dir"
    def run(policy: IndexMaintenance.CompactPolicy, batchId: Long,
            files: Long): Unit =
      IndexMaintenance.maybeCompact(policy, batchId, policyDir,
        { evals += 1; files }) { fires += 1; stats }

    // fixed cadence every 2: fires after batches 1 and 3 only, and the
    // file count is never consulted
    (0L to 3L).foreach(b =>
      run(IndexMaintenance.CompactPolicy(every = Some(2)), b, 999L))
    assert(fires == 2 && evals == 0)

    // cost threshold: at/below skips (and records the observed count),
    // above fires — regardless of batch id
    fires = 0
    def skips = MaintenanceEvents.count(policyDir, MaintenanceEvents.CompactSkip)
    val skipsBefore = skips
    run(IndexMaintenance.CompactPolicy(maxDataFiles = Some(100L)), 0L, 100L)
    assert(fires == 0 && evals == 1)
    assert(skips == skipsBefore + 1)
    run(IndexMaintenance.CompactPolicy(maxDataFiles = Some(100L)), 0L, 101L)
    assert(fires == 1 && evals == 2)

    // both: cadence already due → the cost check is not even evaluated
    run(IndexMaintenance.CompactPolicy(every = Some(1),
      maxDataFiles = Some(100L)), 0L, 0L)
    assert(fires == 2 && evals == 2)

    // neither configured → nothing runs
    run(IndexMaintenance.CompactPolicy(), 0L, 0L)
    assert(fires == 2 && evals == 2)

    intercept[IllegalArgumentException](
      IndexMaintenance.CompactPolicy(maxDataFiles = Some(0L)))
    intercept[IllegalArgumentException](
      IndexMaintenance.CompactPolicy(every = Some(0)))
  }

  // ------------------------------------------- interrupted-swap heal

  test("heal: crash BEFORE the swap (stray tmp, live root) leaves " +
    "probes untouched; the next compaction sweeps the residue") {
    val (idx, pre, rows) = freshIndex("mhs-heal-pre")
    val fs = fsOf(idx)
    val root = new Path(idx)
    // an uncommitted version's staging: no reader looks inside
    val tmp = new Path(root, ".tmp_v2-cafe0000")
    fs.mkdirs(tmp)
    val junk = fs.create(new Path(tmp, "part-junk.parquet"), true)
    try junk.write(Array.fill(8)(0x5A.toByte)) finally junk.close()
    assert(probe(idx) == pre)
    val stats = DocDedup.compactMinHashIndex(spark, idx)
    assert(stats.rows == rows)
    assert(!fs.exists(tmp), "compaction must sweep staging residue")
    assert(probe(idx) == pre)
  }

  // -------------------------------------------- single-writer locks

  test("writer lock: a foreign holder makes append AND compact fail " +
    "loudly; breakLock remediates") {
    val (idx, pre, rows) = freshIndex("mhs-lock")
    val fs = fsOf(idx)
    // a crashed (or live foreign) writer's sentinel
    fs.create(WriterLock.lockPath(new Path(idx)), false).close()
    assert(WriterLock.isLocked(spark, idx))
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx))
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.compactMinHashIndex(spark, idx))
    // nothing was written by the losers
    assert(IndexFiles.rows(spark, idx).count() == rows)
    assert(probe(idx) == pre)
    // remediation: break the stale sentinel, writers work again
    assert(WriterLock.breakLock(spark, idx))
    assert(!WriterLock.isLocked(spark, idx))
    DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).count() > rows)
  }

  private def plantSentinel(idx: String, info: String): Path = {
    val lock = WriterLock.lockPath(new Path(idx))
    val out = fsOf(idx).create(lock, false)
    try out.write(info.getBytes("UTF-8")) finally out.close()
    lock
  }

  private def deadPid: Long = {
    var p = 999999L
    while (ProcessHandle.of(p).isPresent) p -= 1
    p
  }

  test("writer lock: a dead same-BOOT holder's sentinel is taken over " +
    "automatically (the unattended-restart fast path); live-pid, " +
    "boot-less, and foreign-boot sentinels require the lease or " +
    "manual remediation — hostname equality decides NOTHING") {
    val (idx, _, rows) = freshIndex("mhs-lock-stale")
    val host = java.net.InetAddress.getLocalHost.getHostName
    val boot = WriterLock.bootToken.getOrElse(
      cancel("no /proc boot_id on this platform"))
    val c0 = MaintenanceEvents.count(idx, MaintenanceEvents.StaleTakeover)
    plantSentinel(idx, s"op=crashed host=$host pid=$deadPid boot=$boot " +
      "token=deadtok thread=x acquired_ms=0")
    assert(WriterLock.isLocked(spark, idx))
    // the restart proceeds: provably-dead holder, sentinel taken over
    DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).count() > rows)
    assert(MaintenanceEvents.count(idx,
      MaintenanceEvents.StaleTakeover) == c0 + 1)
    assert(!WriterLock.isLocked(spark, idx))
    // live pid, same boot: loud, manual only
    plantSentinel(idx, s"op=live host=$host boot=$boot " +
      s"pid=${ProcessHandle.current().pid()} thread=x acquired_ms=0")
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(50, 60), "id", "text", idx))
    assert(WriterLock.breakLock(spark, idx))
    // SAME hostname but a different boot id and a dead-looking pid:
    // the r15 advisor's silent-takeover hazard (hostname collision on
    // shared storage) — undecidable, loud. No lease declared, so the
    // lease tier cannot fire either.
    plantSentinel(idx, s"op=imposter host=$host pid=$deadPid " +
      "boot=00000000-dead-beef-0000-000000000000 thread=x acquired_ms=0")
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(50, 60), "id", "text", idx))
    assert(WriterLock.breakLock(spark, idx))
    // no boot id at all (legacy/manual sentinel): undecidable, loud
    plantSentinel(idx, s"op=legacy host=$host pid=$deadPid " +
      "thread=x acquired_ms=0")
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.compactMinHashIndex(spark, idx))
    assert(WriterLock.breakLock(spark, idx))
  }

  test("writer lock lease: a non-heartbeating sentinel from a FOREIGN " +
    "machine is taken over after its own declared stale window (the " +
    "cluster-failover story the dead-pid path cannot decide)") {
    val (idx, _, rows) = freshIndex("mhs-lease-dead")
    val c0 = MaintenanceEvents.count(idx, MaintenanceEvents.LeaseTakeover)
    // foreign boot, live-looking pid, a lease promise of 50 ms beats —
    // and NO beat file at all: the holder died before/with its first
    // beat, on a machine we cannot inspect
    plantSentinel(idx, "op=failover host=node-7 pid=1 " +
      "boot=11111111-2222-3333-4444-555555555555 token=goneTok " +
      "lease_ms=50 stale_ms=400 thread=x acquired_ms=0")
    val t0 = System.nanoTime()
    DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx)
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(IndexFiles.rows(spark, idx).count() > rows)
    // the takeover OBSERVED the full declared window (not a shortcut)
    assert(waitedMs >= 400, s"took over after only $waitedMs ms")
    assert(MaintenanceEvents.count(idx,
      MaintenanceEvents.LeaseTakeover) == c0 + 1)
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("writer lock lease: a LIVE heartbeating holder is never stolen, " +
    "even by a reader whose clock would call the sentinel ancient — " +
    "the decision is beat-content observation, never wall-clock math") {
    val (idx, pre, rows) = freshIndex("mhs-lease-live")
    val fs = fsOf(idx)
    // a foreign holder whose acquired_ms is ABSURDLY old (epoch 0) and
    // whose stale window a timestamp-comparing reader would call long
    // expired — but whose heartbeat is actively advancing
    val lock = plantSentinel(idx, "op=remote host=node-9 pid=1 " +
      "boot=99999999-8888-7777-6666-555555555555 token=liveTok " +
      "lease_ms=50 stale_ms=600 thread=x acquired_ms=0")
    val hb = new Path(lock.getParent, s"${lock.getName}.hb_liveTok")
    @volatile var beating = true
    val beater = new Thread(() => {
      var n = 0L
      while (beating) {
        n += 1
        val out = fs.create(hb, true)
        try out.write(s"token=liveTok beat=$n".getBytes("UTF-8"))
        finally out.close()
        Thread.sleep(50)
      }
    })
    beater.setDaemon(true)
    beater.start()
    try {
      intercept[WriterLock.ConcurrentWriterException](
        DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx))
      // nothing stolen, nothing written
      assert(WriterLock.isLocked(spark, idx))
      assert(IndexFiles.rows(spark, idx).count() == rows)
      assert(probe(idx) == pre)
    } finally {
      beating = false
      beater.join(5000)
    }
    assert(WriterLock.breakLock(spark, idx))
    fs.delete(hb, false)
  }

  test("writer lock lease: racing healers of the same expired sentinel " +
    "— the rename CAS yields exactly one winner; the loser fails " +
    "loudly against the winner's fresh lock") {
    val (idx, _, _) = freshIndex("mhs-lease-race")
    plantSentinel(idx, "op=failover host=node-3 pid=1 " +
      "boot=aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee token=raceTok " +
      "lease_ms=50 stale_ms=300 thread=x acquired_ms=0")
    val bodyRelease = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def contender(name: String) = new Thread(() =>
      try WriterLock.withLock(spark, idx, name) {
        results.add("won")
        // hold the lock until BOTH outcomes are decided, so the loser
        // always races a live winner, never an already-released one
        bodyRelease.await(60, java.util.concurrent.TimeUnit.SECONDS)
        ()
      } catch {
        case _: WriterLock.ConcurrentWriterException => results.add("lost")
      })
    val ts = Seq(contender("healer-a"), contender("healer-b"))
    ts.foreach(_.start())
    // wait until both outcomes exist (the loser throws while the winner
    // is still inside the body)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (results.size < 2 && System.nanoTime() < deadline)
      Thread.sleep(20)
    bodyRelease.countDown()
    ts.foreach(_.join(60000))
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSeq.sorted == Seq("lost", "won"),
      s"expected exactly one winner, got $results")
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("lease failover END-TO-END: a stream restarted over a dead " +
    "foreign holder's leased sentinel takes over unattended inside its " +
    "first maintenance mutation and reports it on the handle") {
    val s = spark; import s.implicits._
    val dir = tempDir("mhs-lease-e2e")
    val inDir = s"$dir/in"; val work = s"$dir/work"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def feed(name: String, lo: Int, hi: Int): Unit = {
      val stage = s"$dir/stage-$name"
      docs(lo, hi).repartition(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    }
    // batch 0 builds the index; the stream then stops (AvailableNow)
    feed("b0", 0, 20)
    graft.streaming.StreamingNearDup.start(spark, inDir, work, 7, 10,
      bands = 4, rows = 2, sigBuckets = 4).awaitTermination()
    // the node dies mid-maintenance: its leased sentinel survives, the
    // restart lands on "another machine" (foreign boot id, pid
    // unknowable), no beats ever come
    plantSentinel(s"$work/index", "op=crashed host=node-gone pid=1 " +
      "boot=deadbeef-0000-1111-2222-333333333333 token=e2eTok " +
      "lease_ms=50 stale_ms=400 thread=x acquired_ms=0")
    // unattended restart: batch 1's fold append observes the declared
    // window, wins the sentinel, and the stream completes normally
    feed("b1", 100, 110)
    val handle = graft.streaming.StreamingNearDup.start(spark, inDir,
      work, 7, 10, bands = 4, rows = 2, sigBuckets = 4)
    handle.awaitTermination()
    assert(handle.maintenanceStats()
      .getOrElse(MaintenanceEvents.LeaseTakeover, 0L) == 1L)
    assert(!WriterLock.isLocked(spark, s"$work/index"))
    // and the takeover wrote real work: batch 1's docs are indexed
    assert(IndexFiles.rows(spark, s"$work/index")
      .where(col("id") >= 100L).count() > 0)
  }

  test("takeover CAS is content-verified: renaming a sentinel that no " +
    "longer carries the observed content restores it untouched and " +
    "loses — a stale healer can never steal a fresh winner's lock") {
    val dir = tempDir("mhs-cas-verify")
    val fs = fsOf(dir)
    val lock = WriterLock.lockPath(new Path(s"$dir/index"))
    val fresh = "op=winner host=vm pid=42 token=freshTok lease_ms=1000 " +
      "stale_ms=60000 acquired_ms=123"
    val out = fs.create(lock, false)
    try out.write(fresh.getBytes("UTF-8")) finally out.close()
    val staleExpectation =
      "op=dead host=node-0 pid=1 token=goneTok lease_ms=50 stale_ms=200"
    def residue(): Seq[String] =
      fs.listStatus(lock.getParent).map(_.getPath.getName).toSeq
        .filter(_.contains(".stale_"))
    // the r16 pre-check path: a healer that can already SEE mismatched
    // content loses WITHOUT ever renaming — the fresh lock is never
    // absent from the path, so no tombstone is ever created
    assert(!WriterLock.renameTakeover(fs, lock, staleExpectation,
      Some("goneTok")))
    assert(residue().isEmpty)
    // the post-rename verify path (content flips AFTER the pre-check
    // read — pinned via precheck = false): the stale healer renames the
    // winner's fresh lock, the verify catches it, the restore puts it
    // back byte-identical — the victim never notices
    assert(!WriterLock.renameTakeover(fs, lock, staleExpectation,
      Some("goneTok"), precheck = false))
    val in = fs.open(lock)
    val back = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(back == fresh)
    assert(residue().isEmpty)
    // and a healer whose observation IS current takes over cleanly
    assert(WriterLock.renameTakeover(fs, lock, fresh, Some("freshTok")))
    assert(!fs.exists(lock))
  }

  test("release degrades to skip when the tombstone verify is " +
    "unreadable through every retry (r18 advice): the sentinel is " +
    "already off the path — no manual-restore error, no blind restore " +
    "that could displace a legitimate new holder; the TAKEOVER path " +
    "with the same failure still restores") {
    val dir = tempDir("mhs-release-degrade")
    val fs = new TombstoneUnreadableFs
    fs.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val lock = WriterLock.lockPath(new Path(s"$dir/index"))
    val own = "op=me host=vm pid=7 token=mine lease_ms=1000 " +
      "stale_ms=60000 acquired_ms=5"
    def plant(): Unit = {
      val out = fs.create(lock, true)
      try out.write(own.getBytes("UTF-8")) finally out.close()
    }
    def residue(): Seq[Path] =
      fs.listStatus(lock.getParent).map(_.getPath).toSeq
        .filter(_.getName.contains(".stale_"))
    plant()
    // RELEASE: rename succeeds, every tombstone read fails → degrade.
    // No IllegalStateException, the sentinel stays off the path
    // (effectively released — the caller records ReleaseSkipped), the
    // tombstone is left for the aged-residue sweep.
    assert(!WriterLock.renameTakeover(fs, lock, own, None,
      releasing = true))
    assert(!fs.exists(lock),
      "a degraded release must leave the sentinel off the path")
    assert(residue().nonEmpty, "the unverifiable tombstone is residue " +
      "for the sweep, not silently deleted")
    residue().foreach(p => fs.delete(p, false))
    // TAKEOVER with the same injected failure: conservative the other
    // way — the healer cannot prove the tombstone is what it observed,
    // so it restores the sentinel byte-identical and loses
    plant()
    assert(!WriterLock.renameTakeover(fs, lock, own, None))
    assert(fs.exists(lock),
      "an unverifiable takeover must restore the sentinel")
    val in = fs.open(lock)
    val back = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(back == own)
  }

  test("release verifies ownership: a wedged-then-resumed holder whose " +
    "lease was taken over does NOT delete the new holder's lock — the " +
    "third-writer admission is closed and the skip is observable") {
    val (idx, _, _) = freshIndex("mhs-release-verify")
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val usurper = "op=newHolder host=node-5 pid=7 token=usurpTok " +
      "lease_ms=50 stale_ms=400 thread=x acquired_ms=0"
    val c0 = MaintenanceEvents.count(idx, MaintenanceEvents.ReleaseSkipped)
    WriterLock.withLock(spark, idx, "zombie") {
      // the zombie wedges; a contender observes its whole stale window
      // and takes over (simulated directly: the sentinel now carries
      // the NEW holder's acquisition)
      assert(fs.delete(lock, false))
      val out = fs.create(lock, false)
      try out.write(usurper.getBytes("UTF-8")) finally out.close()
    }
    // the zombie's release SKIPPED the delete: the new holder's lock
    // survives byte-identical, and the skip landed in the counters
    val in = fs.open(lock)
    val now = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(now == usurper, "the zombie's release deleted the new " +
      "holder's lock")
    assert(MaintenanceEvents.count(idx,
      MaintenanceEvents.ReleaseSkipped) == c0 + 1)
    // the zombie's own beat file is still cleaned up (keyed by ITS token)
    assert(!fs.listStatus(lock.getParent).map(_.getPath.getName)
      .exists(n => n.contains(".hb_") && !n.contains("usurpTok")))
    assert(WriterLock.breakLock(spark, idx))
    // and a NORMAL hold still releases its own sentinel as before
    WriterLock.withLock(spark, idx, "normal") { () }
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("holder-side beat failures escalate: persistently failing beat " +
    "writes land in the BeatFailure counter well before the stale " +
    "window, instead of a silent lease lapse") {
    val (idx, _, _) = freshIndex("mhs-beat-fail")
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val c0 = MaintenanceEvents.count(idx, MaintenanceEvents.BeatFailure)
    WriterLock.withLock(spark, idx, "beatFail",
      WriterLock.Lease(beatMs = 25, staleBeats = 60)) {
      // break the beat path: replace the beat FILE with a DIRECTORY so
      // every subsequent refresh write throws IOException
      val hb = fs.listStatus(lock.getParent).map(_.getPath)
        .find(_.getName.contains(".hb_")).get
      // delete+mkdirs races the 25 ms heartbeat re-creating the file;
      // retry until the directory sticks
      var planted = false
      while (!planted) {
        fs.delete(hb, false)
        planted = try fs.mkdirs(hb) && fs.getFileStatus(hb).isDirectory
          catch { case _: java.io.IOException => false }
      }
      // the early-warning threshold is 3 consecutive failures (75 ms
      // here) — poll until the counter moves, bounded
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (MaintenanceEvents.count(idx, MaintenanceEvents.BeatFailure)
        == c0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(fs.delete(hb, false)) // restore releasability
    }
    assert(MaintenanceEvents.count(idx,
      MaintenanceEvents.BeatFailure) > c0,
      "no BeatFailure event despite persistently failing beat writes")
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("compaction refuses its swap under a lease in jeopardy: the " +
    "staged rewrite is discarded, the live index is untouched, and " +
    "the abort is loud") {
    val (idx, pre, rows) = freshIndex("mhs-jeopardy")
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    WriterLock.withLock(spark, idx, "jeopardyHold",
      WriterLock.Lease(beatMs = 25, staleBeats = 8)) {
      // break the beat path → consecutive failures reach half the
      // stale window (4 beats, ~100 ms)
      val hb = fs.listStatus(lock.getParent).map(_.getPath)
        .find(_.getName.contains(".hb_")).get
      var planted = false
      while (!planted) {
        fs.delete(hb, false)
        planted = try fs.mkdirs(hb) && fs.getFileStatus(hb).isDirectory
          catch { case _: java.io.IOException => false }
      }
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!WriterLock.leaseJeopardized(spark, idx) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(WriterLock.leaseJeopardized(spark, idx))
      // the compaction (reentrant under OUR jeopardized hold) must
      // refuse its point of no return
      val e = intercept[IllegalStateException](
        DocDedup.compactMinHashIndex(spark, idx))
      assert(e.getMessage.contains("jeopardy"))
      assert(fs.delete(hb, false)) // restore releasability
    }
    // live index untouched, no staged residue left behind
    assert(IndexFiles.rows(spark, idx).count() == rows)
    assert(probe(idx) == pre)
    assert(IndexFiles.residue(spark, idx).isEmpty)
    // and a HEALTHY hold still compacts (the guard is jeopardy-gated)
    DocDedup.compactMinHashIndex(spark, idx)
    assert(probe(idx) == pre)
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("lease window clamp: an absurd declared stale_ms (the Long-" +
    "overflow shape) does NOT permit an immediate takeover — the " +
    "contender still observes, conservatively") {
    val (idx, _, rows) = freshIndex("mhs-lease-overflow")
    val fs = fsOf(idx)
    // stale_ms * 1e6 overflows Long (9.3e12 * 1e6 > 9.22e18): pre-clamp
    // this produced a NEGATIVE deadline, skipped the observation loop,
    // and took over a possibly-live holder instantly
    val absurd = "op=absurd host=node-x pid=1 " +
      "boot=fefefefe-0000-1111-2222-333333333333 token=absurdTok " +
      "lease_ms=50 stale_ms=9300000000000 thread=x acquired_ms=0"
    plantSentinel(idx, absurd)
    val outcome = new java.util.concurrent.atomic.AtomicReference[String]
    val t = new Thread(() =>
      try {
        DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx)
        outcome.set("took-over")
      } catch {
        case _: WriterLock.ConcurrentWriterException =>
          outcome.set("conflict")
        case e: Exception => outcome.set(s"unexpected: $e")
      })
    t.start()
    Thread.sleep(1500) // far longer than any instant-takeover path
    assert(outcome.get() == null, s"resolved early: ${outcome.get()}")
    val in = fs.open(WriterLock.lockPath(new Path(idx)))
    val still = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(still == absurd, "the sentinel was taken over instantly")
    assert(IndexFiles.rows(spark, idx).count() == rows)
    // interrupting the observer resolves it as a loud conflict
    t.interrupt()
    t.join(30000)
    assert(outcome.get() == "conflict")
    assert(WriterLock.breakLock(spark, idx))
  }

  test("lease knob on the stream APIs: a stream started with a " +
    "non-default lease declares it in every sentinel taken on its " +
    "index; explicit withLock leases still win over the policy") {
    val s = spark; import s.implicits._
    val dir = tempDir("mhs-lease-knob")
    val inDir = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val stage = s"$dir/stage"
    docs(0, 10).repartition(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$inDir/b0.parquet"))
    // an operator with a tighter failover SLO: 100 ms beats, 10x window
    graft.streaming.StreamingNearDup.start(spark, inDir, s"$dir/work",
      7, 10, bands = 4, rows = 2, sigBuckets = 4,
      lease = WriterLock.Lease(beatMs = 100, staleBeats = 10))
      .awaitTermination()
    val idx = s"$dir/work/index"
    val lock = WriterLock.lockPath(new Path(idx))
    val fs = fsOf(idx)
    def sentinelFields(): Map[String, String] = {
      val in = fs.open(lock)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split("\\s+").iterator.filter(_.contains('='))
        .map { kv => val i = kv.indexOf('=')
          kv.take(i) -> kv.drop(i + 1) }.toMap
    }
    // the stream's own lock takes (the fold append above) resolve the
    // same per-directory policy this probe does — assert the declared
    // fields on a registry-resolved hold
    WriterLock.withLock(spark, idx, "knobProbe") {
      val f = sentinelFields()
      assert(f("lease_ms") == "100" && f("stale_ms") == "1000",
        s"policy lease not declared: $f")
    }
    // an explicit lease at a call site still wins over the policy
    WriterLock.withLock(spark, idx, "explicitProbe",
      WriterLock.Lease(beatMs = 200, staleBeats = 5)) {
      val f = sentinelFields()
      assert(f("lease_ms") == "200" && f("stale_ms") == "1000",
        s"explicit lease did not win: $f")
    }
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("createExclusive is truly atomic on the local scheme: of N " +
    "threads racing one path, exactly one wins — the primitive " +
    "Hadoop's local create(overwrite=false) only pretends to be") {
    val dir = tempDir("mhs-excl")
    val fs = fsOf(dir)
    for (round <- 1 to 20) {
      val p = new Path(s"$dir/contested_$round")
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = (1 to 16).map { i =>
        new Thread(() => {
          gate.await()
          if (WriterLock.createExclusive(fs, p, s"winner=$i".getBytes("UTF-8")))
            wins.incrementAndGet()
        })
      }
      ts.foreach(_.start())
      gate.countDown() // release all 16 at once — maximal contention
      ts.foreach(_.join(30000))
      assert(wins.get() == 1,
        s"round $round: ${wins.get()} winners of one exclusive create")
      // and the winner's content is intact (no torn interleaved writes)
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(content.matches("winner=\\d+"), s"torn content: $content")
    }
  }

  test("heal claim: a live claim blocks takeover loudly (one healer at " +
    "a time); an abandoned claim past its TTL is swept and takeover " +
    "proceeds unattended") {
    val (idx, _, rows) = freshIndex("mhs-claim")
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val claim = new Path(lock.getParent, s"${lock.getName}.heal_claim")
    // an expired foreign-lease sentinel — takeover WOULD fire...
    plantSentinel(idx, "op=dead host=node-c pid=1 " +
      "boot=cccccccc-0000-1111-2222-333333333333 token=claimTok " +
      "lease_ms=50 stale_ms=300 thread=x acquired_ms=0")
    // ...but another healer holds a FRESH claim: this contender must
    // lose loudly instead of racing it
    fs.create(claim, false).close()
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx))
    assert(fs.exists(claim) && WriterLock.isLocked(spark, idx))
    assert(IndexFiles.rows(spark, idx).count() == rows)
    // the claim's holder crashed: once the claim ages past its TTL the
    // next healer sweeps it and completes the takeover unattended
    fs.setTimes(claim, System.currentTimeMillis() - 11L * 60 * 1000, -1)
    DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).count() > rows)
    assert(!fs.exists(claim), "winning healer must release its claim")
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("takeover state-machine fuzz: randomized healer schedules with " +
    "injected crashes around renameTakeover — never two concurrent " +
    "holders, never a lock lost forever (seeded, runtime-bounded)") {
    val dir = tempDir("mhs-fuzz")
    val idx = s"$dir/index" // withLock needs only the path, no data
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def readLock(): Option[String] =
      try {
        val in = fs.open(lock)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      // reset to the canonical crash shape: a dead foreign holder's
      // leased sentinel, no beats ever
      WriterLock.breakLock(spark, idx)
      val planted = s"op=dead host=node-f pid=1 " +
        s"boot=00000000-fuzz-0000-0000-00000000000$seed token=fz$seed " +
        s"lease_ms=50 stale_ms=${200 + rnd.nextInt(200)} thread=x " +
        s"acquired_ms=0"
      plantSentinel(idx, planted)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      // AT MOST one crashy healer per schedule, and it follows the
      // REAL protocol to its kill point — including the heal CLAIM. A
      // claim-free crashy is a dishonest simulation: its read→rename
      // gap is stretchable to milliseconds by thread preemption, so it
      // can displace a legitimate claim-winner's fresh lock with the
      // verify dead by construction — a hazard the real protocol's
      // claim makes unreachable (the first two fuzz failures were
      // exactly this simulation artifact, first via two concurrent
      // crashies, then via one preempted one — both manufactured a
      // bug the real state machine does not have; the SECOND of those
      // chases found the real third-contender hole the claim now
      // closes, see withHealClaim's scaladoc).
      val crashySlot = rnd.nextInt(8) // 1-4 = that thread, 5-8 = none
      val threads = (1 to 4).map { i =>
        val delayMs = rnd.nextInt(150)
        val holdMs = rnd.nextInt(30)
        val crashy = crashySlot == i
        // kill point: 0 = die holding only the claim; 1 = die after
        // the rename (claim + tombstone + free path); 2 = die after
        // verify/cleanup but before the claim release
        val killPoint = rnd.nextInt(3)
        new Thread(() => {
          Thread.sleep(delayMs)
          if (crashy) {
            val claim = new Path(lock.getParent,
              s"${lock.getName}.heal_claim")
            val claimed =
              try { fs.create(claim, false).close(); true }
              catch { case _: java.io.IOException => false }
            if (!claimed) outcomes.add("crash-claim-lost")
            else if (killPoint == 0) outcomes.add("crashed-holding-claim")
            else {
              val now = readLock()
              if (now.contains(planted)) {
                val tomb = new Path(lock.getParent,
                  s"${lock.getName}.stale_fuzz_${seed}_$i")
                if (fs.rename(lock, tomb)) {
                  if (killPoint == 2) fs.delete(tomb, false)
                  outcomes.add("crashed-mid-takeover")
                } else outcomes.add("crash-lost-rename")
              } else outcomes.add("crash-precheck-miss")
            }
          } else {
            try WriterLock.withLock(spark, idx, s"fuzz-$seed-$i") {
              val a = active.incrementAndGet()
              try {
                if (a != 1) // recorded, not thrown: thread asserts vanish
                  violations.add(s"TWO CONCURRENT HOLDERS seed=$seed: $a")
                Thread.sleep(holdMs)
              } finally active.decrementAndGet()
              outcomes.add("held")
            } catch {
              case _: WriterLock.ConcurrentWriterException =>
                outcomes.add("lost")
              case e: Exception =>
                violations.add(s"unexpected seed=$seed: $e")
            }
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(threads.forall(!_.isAlive), s"seed=$seed: thread wedged")
      assert(violations.isEmpty, s"invariant violated: $violations")
      // no lock lost forever: whatever the schedule left behind (a
      // tombstone + free path, the planted sentinel still in place, a
      // crashed healer's claim, or a clean release), ONE more
      // unattended acquire always succeeds within a bounded wait — at
      // worst one declared stale window plus the claim TTL, the latter
      // simulated by aging any leftover claim so the sweep path runs
      // inside the test's time budget
      val claimLeft = new Path(lock.getParent,
        s"${lock.getName}.heal_claim")
      if (fs.exists(claimLeft))
        fs.setTimes(claimLeft,
          System.currentTimeMillis() - 11L * 60 * 1000, -1)
      WriterLock.withLock(spark, idx, s"fuzz-final-$seed") {
        val a = active.incrementAndGet()
        try assert(a == 1) finally active.decrementAndGet()
      }
      assert(!WriterLock.isLocked(spark, idx), s"seed=$seed: not released")
    }
  }

  test("aged lock residue is swept in the maintenance window: old " +
    ".stale_ tombstones and orphan beat files go, fresh residue and " +
    "the live sentinel stay") {
    val (idx, pre, _) = freshIndex("mhs-residue")
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val lockName = lock.getName
    def plant(name: String, ageMs: Long): Path = {
      val p = new Path(lock.getParent, name)
      val out = fs.create(p, true)
      try out.write("residue".getBytes("UTF-8")) finally out.close()
      fs.setTimes(p, System.currentTimeMillis() - ageMs, -1)
      p
    }
    // aged: a crashed healer's tombstone + an orphaned beat file
    val agedTomb = plant(s"$lockName.stale_1_123", 8L * 24 * 3600 * 1000)
    val agedBeat = plant(s"$lockName.hb_deadTok", 8L * 24 * 3600 * 1000)
    // fresh: a tombstone microseconds old (takeover in flight / parked
    // evidence) must be kept
    val freshTomb = plant(s"$lockName.stale_2_456", 0L)
    val c0 = MaintenanceEvents.count(idx, MaintenanceEvents.ResidueSwept)
    // the sweep is wired into the compaction window
    DocDedup.compactMinHashIndex(spark, idx)
    assert(!fs.exists(agedTomb), "aged tombstone survived the sweep")
    assert(!fs.exists(agedBeat), "aged orphan beat file survived")
    assert(fs.exists(freshTomb), "fresh tombstone was swept")
    assert(MaintenanceEvents.count(idx,
      MaintenanceEvents.ResidueSwept) == c0 + 1)
    assert(probe(idx) == pre) // the index itself is untouched
    // standalone call: the fresh tombstone ages out and goes too; the
    // sweep never touches a live sentinel
    fs.setTimes(freshTomb, System.currentTimeMillis() - 8L * 24 * 3600 * 1000, -1)
    assert(IndexMaintenance.sweepAgedLockResidue(spark, idx) == 1L)
    assert(!fs.exists(freshTomb))
    assert(IndexMaintenance.sweepAgedLockResidue(spark, idx) == 0L)
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("jeopardy threshold sits STRICTLY below the stale window for " +
    "every legal lease — the swap guard must trip while takeover is " +
    "still illegal, including the short-lease configs where takeover " +
    "is fastest") {
    // r17 advisor (medium): unclamped max(4, staleBeats/2) gave
    // jeopardyAt=4 for any staleBeats <= 8 — AT or PAST the window for
    // staleBeats <= 4, so the guard fired only after takeover was
    // already legal
    (2 to 200).foreach { sb =>
      val j = WriterLock.jeopardyThresholdFor(sb)
      assert(j >= 1 && j < sb, s"staleBeats=$sb: jeopardyAt=$j not in [1, $sb)")
    }
    assert(WriterLock.jeopardyThresholdFor(60) == 30) // half-window, unchanged
    assert(WriterLock.jeopardyThresholdFor(8) == 4)
    assert(WriterLock.jeopardyThresholdFor(3) == 2)
    assert(WriterLock.jeopardyThresholdFor(2) == 1)
  }

  test("heal-claim sweep is rename-arbitrated: an AGED claim is swept " +
    "exactly once under racing sweepers; a FRESH claim is never " +
    "touched — and the path-keyed residue sweep no longer deletes " +
    "claims at any age") {
    val dir = tempDir("mhs-claim-sweep")
    val idx = s"$dir/index"
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val claim = WriterLock.healClaimPath(lock)
    def plantClaim(ageMs: Long): Unit = {
      val out = fs.create(claim, true)
      try out.write("healer_pid=1".getBytes("UTF-8")) finally out.close()
      fs.setTimes(claim, System.currentTimeMillis() - ageMs, -1)
    }
    // 1. racing sweepers of one AGED claim: exactly one wins the rename
    for (round <- 1 to 10) {
      plantClaim(11L * 60 * 1000)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = (1 to 8).map(_ => new Thread(() => {
        gate.await()
        if (WriterLock.sweepAgedHealClaim(fs, lock)) wins.incrementAndGet()
      }))
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(30000))
      assert(wins.get() == 1,
        s"round $round: ${wins.get()} sweepers claimed the one aged claim")
      assert(!fs.exists(claim))
    }
    // 2. a fresh claim survives the claim sweep untouched
    plantClaim(0L)
    assert(!WriterLock.sweepAgedHealClaim(fs, lock))
    assert(fs.exists(claim), "fresh claim was swept")
    // 3. ...and survives the PATH-KEYED aged-residue sweep even when
    // its mtime is ancient (r17 verdict ask #4: a path-keyed delete
    // could kill a FRESH claim landing at the same path between the
    // sweep's listing and its delete — so claims are excluded there
    // wholesale and owned solely by the rename-arbitrated TTL sweep)
    fs.setTimes(claim, System.currentTimeMillis() - 8L * 24 * 3600 * 1000, -1)
    assert(IndexMaintenance.sweepAgedLockResidue(spark, idx) == 0L)
    assert(fs.exists(claim),
      "sweepAgedLockResidue path-deleted a heal claim")
    // the TTL sweep still reclaims it (it IS aged past the claim TTL)
    assert(WriterLock.sweepAgedHealClaim(fs, lock))
    assert(!fs.exists(claim))
    // 4. the TTL sweep's own trash (a failed post-rename delete) IS
    // aged residue: unique-named, so the path-keyed sweep is safe there
    val trash = new Path(lock.getParent, s"${lock.getName}.heal_claim.swept_1_2")
    val out = fs.create(trash, true)
    try out.write("trash".getBytes("UTF-8")) finally out.close()
    fs.setTimes(trash, System.currentTimeMillis() - 8L * 24 * 3600 * 1000, -1)
    assert(IndexMaintenance.sweepAgedLockResidue(spark, idx) == 1L)
    assert(!fs.exists(trash))
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("release is a content-verified rename CAS: a takeover that " +
    "lands in the read->release gap keeps the usurper's sentinel " +
    "intact (the r17 advisor's failing-beats third-writer shape)") {
    val dir = tempDir("mhs-release-cas")
    val idx = s"$dir/index"
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    // a normal hold still releases cleanly through the CAS
    WriterLock.withLock(spark, idx, "casNormal") {
      assert(fs.exists(lock))
    }
    assert(!fs.exists(lock))
    // no tombstone residue from the CAS release
    assert(!fs.listStatus(lock.getParent).exists(
      _.getPath.getName.contains(".stale_")),
      "release CAS left tombstone residue")
  }

  test("Configuration-based withLock resolves the declared " +
    "per-directory lease policy — the sidecar entry point honors the " +
    "same failover SLO the stream declared") {
    val idx = tempDir("mhs-conf-lease") + "/index"
    WriterLock.setLease(idx, WriterLock.Lease(beatMs = 125, staleBeats = 9))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    WriterLock.withLock(conf, idx, "confProbe", null) {
      val in = fs.open(lock)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val f = txt.split("\\s+").iterator.filter(_.contains('='))
        .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
        .toMap
      assert(f("lease_ms") == "125" && f("stale_ms") == "1125",
        s"declared policy not resolved by the conf overload: $f")
    }
    assert(!WriterLock.isLocked(spark, idx))
  }

  test("zombie release after a REAL lease takeover: a wedged holder " +
    "whose beats fail is taken over end-to-end through the live " +
    "protocol, and its resumed release leaves the usurper's sentinel " +
    "untouched (no synthesized sentinels anywhere)") {
    val dir = tempDir("mhs-zombie-e2e")
    val idx = s"$dir/index"
    val fs = fsOf(idx)
    val lock = WriterLock.lockPath(new Path(idx))
    val skipped0 = MaintenanceEvents.count(idx, MaintenanceEvents.ReleaseSkipped)
    val taken0 = MaintenanceEvents.count(idx, MaintenanceEvents.LeaseTakeover)
    val wedged = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val zombie = new Thread(() =>
      WriterLock.withLock(spark, idx, "zombie",
        WriterLock.Lease(beatMs = 25, staleBeats = 8)) {
        // the holder wedges AND its beat path breaks (beat file
        // replaced by a directory): from outside, a silent lease
        val hb = fs.listStatus(lock.getParent).map(_.getPath)
          .find(_.getName.contains(".hb_")).get
        var planted = false
        while (!planted) {
          fs.delete(hb, false)
          planted = try fs.mkdirs(hb) && fs.getFileStatus(hb).isDirectory
            catch { case _: java.io.IOException => false }
        }
        wedged.countDown()
        resume.await(60, java.util.concurrent.TimeUnit.SECONDS)
        ()
      })
    zombie.start()
    assert(wedged.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // the contender runs the REAL tier-2: observes the zombie's whole
    // declared window of silence (200 ms), wins the rename CAS, holds
    var sentinelDuringZombieRelease: Option[String] = None
    WriterLock.withLock(spark, idx, "usurper") {
      assert(MaintenanceEvents.count(idx,
        MaintenanceEvents.LeaseTakeover) == taken0 + 1)
      // wake the zombie WHILE the usurper holds; its release must
      // read-verify, skip, and never touch the usurper's sentinel
      resume.countDown()
      zombie.join(30000)
      assert(!zombie.isAlive)
      val in = fs.open(lock)
      sentinelDuringZombieRelease =
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
    }
    assert(sentinelDuringZombieRelease.exists(_.contains("op=usurper")),
      s"zombie release disturbed the usurper's sentinel: " +
        s"$sentinelDuringZombieRelease")
    assert(MaintenanceEvents.count(idx,
      MaintenanceEvents.ReleaseSkipped) == skipped0 + 1)
    assert(!WriterLock.isLocked(spark, idx)) // usurper released normally
    // no tombstone residue from either release path
    assert(!fs.listStatus(lock.getParent).exists(
      _.getPath.getName.contains(".stale_")))
  }

  test("maintenance observability: a forced conflict + heal + " +
    "compaction fire sequence lands in the MaintenanceEvents counters " +
    "(and only against the touched directory)") {
    val (idx, pre, rows) = freshIndex("mhs-events")
    val fs = fsOf(idx)
    val root = new Path(idx)
    val before = Seq(MaintenanceEvents.LockConflict,
      MaintenanceEvents.CompactFire, MaintenanceEvents.CompactSkip)
      .map(e => e -> MaintenanceEvents.count(idx, e)).toMap
    // 1. forced conflict: an opaque foreign sentinel
    fs.create(WriterLock.lockPath(root), false).close()
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(40, 50), "id", "text", idx))
    WriterLock.breakLock(spark, idx)
    assert(probe(idx) == pre)
    // 2. maintenance window: one gauged skip, then one fire
    IndexMaintenance.maybeCompact(
      IndexMaintenance.CompactPolicy(maxDataFiles = Some(100000L)), 0L,
      idx,
      IndexMaintenance.dataFileCount(spark, idx))(
      sys.error("must not fire"))
    IndexMaintenance.maybeCompact(
      IndexMaintenance.CompactPolicy(maxDataFiles = Some(1L)), 1L,
      idx,
      IndexMaintenance.dataFileCount(spark, idx))(
      DocDedup.compactMinHashIndex(spark, idx))
    assert(IndexFiles.rows(spark, idx).count() == rows)
    def delta(e: String) = MaintenanceEvents.count(idx, e) - before(e)
    assert(delta(MaintenanceEvents.LockConflict) == 1)
    assert(delta(MaintenanceEvents.CompactSkip) == 1)
    assert(delta(MaintenanceEvents.CompactFire) == 1)
    // per-directory isolation: an untouched sibling dir reads zero
    assert(MaintenanceEvents.count(idx + "-never-touched",
      MaintenanceEvents.LockConflict) == 0)
  }

  test("writer lock: two interleaved committers — the loser throws " +
    "while the survivor completes and its rows verify") {
    val (idx, _, rows) = freshIndex("mhs-lock-race")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    var survivorDone = false
    val survivor = new Thread(() =>
      WriterLock.withLock(spark, idx, "survivor") {
        entered.countDown()
        release.await()
        // the survivor is the single writer: its append lands
        DocDedup.appendToMinHashIndex(docs(40, 60), "id", "text", idx)
        survivorDone = true
      })
    survivor.start()
    entered.await()
    // the interleaved second committer loses LOUDLY, before writing
    intercept[WriterLock.ConcurrentWriterException](
      DocDedup.appendToMinHashIndex(docs(60, 80), "id", "text", idx))
    release.countDown()
    survivor.join(120000)
    assert(survivorDone)
    val after = IndexFiles.rows(spark, idx)
    assert(after.count() > rows)
    // survivor's ids present, loser's absent
    assert(after.where(col("id") >= 40 && col("id") < 60).count() > 0)
    assert(after.where(col("id") >= 60).count() == 0)
    // sentinel released: a later (properly serialized) writer proceeds
    DocDedup.appendToMinHashIndex(docs(60, 80), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).where(col("id") >= 60).count() > 0)
  }

  test("writer lock: reentrant on the owning thread (fold append " +
    "inside the stream's maintenance window), released on exit and " +
    "on exception") {
    val dir = tempDir("mhs-lock-reent")
    val got = WriterLock.withLock(spark, dir, "outer") {
      WriterLock.withLock(spark, dir, "inner") { 42 }
    }
    assert(got == 42)
    assert(!WriterLock.isLocked(spark, dir))
    intercept[RuntimeException](
      WriterLock.withLock(spark, dir, "boom") {
        throw new RuntimeException("boom")
      })
    assert(!WriterLock.isLocked(spark, dir))
  }

  // ------------------------------------------------ catalog CAS pin

  test("catalog: two interleaved committers — version-rename CAS makes " +
    "the loser throw; the survivor's rows verify") {
    val s = spark; import s.implicits._
    val dir = tempDir("mhs-cat-race") + "/catalog"
    val noDeltas = Seq.empty[(String, Long)].toDF("hash", "delta")
    val cat = new Catalog(s, dir, 1, 0L)
    cat.commitRuns(Seq(Catalog.RunSpec(1L, "a.bin", 64, "sha",
      Seq(("aa00", 0L, 2L)).toDF("hash", "line", "refs_num"), noDeltas)))
    assert(cat.currentVersion == 1L)
    // A committer whose base version is STALE (it read the catalog
    // before the commit above landed) — the deterministic form of the
    // interleaving, since commitRuns re-reads currentVersion at entry.
    val stale = new Catalog(s, dir, 1, 0L) {
      override def currentVersion: Long = 0L
    }
    val ex = intercept[IllegalStateException](
      stale.commitRuns(Seq(Catalog.RunSpec(2L, "b.bin", 64, "sha",
        Seq(("bb00", 0L, 1L)).toDF("hash", "line", "refs_num"), noDeltas))))
    assert(ex.getMessage.contains("concurrent commit"))
    // loser's bytes never became visible; survivor intact
    assert(cat.currentVersion == 1L)
    assert(cat.files().count() == 1L)
    assert(cat.links().where(col("hash") === "bb00").count() == 0L)
    assert(cat.links().where(col("hash") === "aa00").count() == 1L)
    // and a properly re-based retry of the loser succeeds at v2
    cat.commitRuns(Seq(Catalog.RunSpec(2L, "b.bin", 64, "sha",
      Seq(("bb00", 0L, 1L)).toDF("hash", "line", "refs_num"), noDeltas)))
    assert(cat.currentVersion == 2L)
    assert(cat.links().where(col("hash") === "bb00").count() == 1L)
  }
}

/** A real local filesystem whose reads FAIL on takeover tombstones —
  * the injected shape for the release-degrade pin: rename works, the
  * post-rename verify read does not.
  */
class TombstoneUnreadableFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    if (f.getName.contains(".stale_"))
      throw new java.io.IOException("injected tombstone read failure")
    else super.open(f, bufferSize)
}
