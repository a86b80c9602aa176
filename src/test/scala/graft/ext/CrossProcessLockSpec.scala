package graft.ext

import graft.SparkFunSuite
import org.apache.hadoop.fs.Path

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** r17 verdict ask #2: multi-process crash recovery, against a REAL
  * second JVM. The intra-JVM fuzz and hardening specs prove the state
  * machine; what they cannot prove is the cross-process semantics the
  * tiers actually rely on in production:
  *
  *  1. a LIVE foreign process holding the lock produces the loud
  *     conflict (its heartbeat is observed, never stolen);
  *  2. `kill -9` (no shutdown hooks, no release) leaves the sentinel
  *     behind, and the next writer takes over UNATTENDED through the
  *     tier-1 dead-pid fast path — `ProcessHandle.of(pid)` emptiness
  *     and the boot-id match are genuine cross-process observations
  *     here, not synthesized sentinel content;
  *  3. O_EXCL mutual exclusion holds across PROCESSES: parent and
  *     child racing `createExclusive` on one path yield exactly one
  *     winner per round (the JVM-internal locks that could mask a
  *     broken intra-process race don't exist across a fork).
  *
  * The child JVM runs [[LockChildMain]] from this test classpath
  * (tests fork, so `java.class.path` is the real one) — it speaks the
  * production protocol via the Configuration-based `withLock`, no
  * Spark needed in the child.
  */
class CrossProcessLockSpec extends SparkFunSuite {

  /** Marker lines from the child's merged stdout/stderr, skipping
    * logging noise.
    */
  private final class Child(args: Seq[String]) {
    private val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    private val addOpens = Seq(
      "java.base/java.lang", "java.base/java.util", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio", "java.base/sun.nio.ch",
      "java.base/java.util.concurrent",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    private val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx256m", "-cp",
      System.getProperty("java.class.path"),
      "graft.ext.LockChildMain") ++ args
    val process: Process = {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val lines = new LinkedBlockingQueue[String]()
    private val reader = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(process.getInputStream, "UTF-8"))
      var line = br.readLine()
      while (line != null) {
        if (line.startsWith("CHILD_")) lines.put(line)
        line = br.readLine()
      }
    })
    reader.setDaemon(true)
    reader.start()

    def await(prefix: String, timeoutSec: Long = 120): String = {
      val deadline = System.nanoTime() + timeoutSec * 1000000000L
      while (System.nanoTime() < deadline) {
        val l = lines.poll(200, TimeUnit.MILLISECONDS)
        if (l != null && l.startsWith(prefix)) return l
      }
      fail(s"child never printed '$prefix' within ${timeoutSec}s " +
        s"(alive=${process.isAlive})")
    }

    def kill9(): Unit = {
      process.destroyForcibly() // SIGKILL on Linux: no hooks, no release
      assert(process.waitFor(30, TimeUnit.SECONDS), "child did not die")
    }

    /** SIGSTOP / SIGCONT via /usr/bin/kill — ProcessHandle has no
      * signal API. STOP freezes every thread in the child (beats
      * included) while the pid stays alive: the wedged-holder shape.
      */
    def signal(sig: String): Unit = {
      val rc = new ProcessBuilder("kill", s"-$sig",
        process.pid().toString).start().waitFor()
      assert(rc == 0, s"kill -$sig ${process.pid()} failed (rc=$rc)")
    }
  }

  test("cross-process crash recovery: a LIVE child JVM's lock conflicts " +
    "loudly; kill -9 leaves the sentinel and the parent's next acquire " +
    "takes over unattended via the dead-pid fast path, visible in the " +
    "metrics snapshot") {
    assume(WriterLock.bootToken.isDefined, "no /proc boot_id here")
    val dir = tempDir("xproc-hold")
    val idx = s"$dir/index"
    val lock = WriterLock.lockPath(new Path(idx))
    val fs = new Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ev0 = MaintenanceEvents.count(idx, MaintenanceEvents.StaleTakeover)

    // short lease so the parent's live-conflict probe (which observes
    // the child's whole declared window before giving up) stays fast
    val child = new Child(Seq("hold", idx, "100", "10"))
    try {
      val held = child.await("CHILD_HELD")
      val childPid = held.split("pid=")(1).trim.toLong
      assert(childPid == child.process.pid())
      assert(ProcessHandle.of(childPid).isPresent)
      assert(WriterLock.isLocked(spark, idx))
      // the sentinel carries the child's REAL identity (pid + this
      // machine's boot id), written by the child process itself
      val in = fs.open(lock)
      val info = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(info.contains(s"pid=$childPid"))
      assert(info.contains(s"boot=${WriterLock.bootToken.get}"))

      // 1. LIVE child: the parent loses loudly. Tier-1 sees a live
      // pid; tier-2 observes the child's real heartbeat advancing and
      // aborts the takeover.
      intercept[WriterLock.ConcurrentWriterException](
        WriterLock.withLock(spark, idx, "parent-probe") {
          fail("stole a live child's lock")
        })
      assert(WriterLock.isLocked(spark, idx))
      assert(child.process.isAlive)

      // 2. kill -9: no shutdown hooks run, the sentinel stays behind
      child.kill9()
      assert(!ProcessHandle.of(childPid).isPresent ||
        !ProcessHandle.of(childPid).get().isAlive)
      assert(fs.exists(lock), "SIGKILL must not release the lock")

      // 3. unattended recovery, immediately (no lease window): same
      // boot id + provably dead pid = tier-1 fast path
      val t0 = System.nanoTime()
      var tookOver = false
      WriterLock.withLock(spark, idx, "parent-recover") { tookOver = true }
      val tookMs = (System.nanoTime() - t0) / 1000000L
      assert(tookOver)
      assert(tookMs < 30000, s"dead-pid fast path took ${tookMs}ms — " +
        "did recovery fall through to the lease window?")
      assert(MaintenanceEvents.count(idx,
        MaintenanceEvents.StaleTakeover) == ev0 + 1)
      // the takeover event is scrape-visible (r17 ask: "visible in
      // MaintenanceMetrics.snapshot()")
      val tag = MaintenanceMetrics.dirTag(idx)
      assert(MaintenanceMetrics.snapshot()
        .getOrElse(s"$tag.${MaintenanceEvents.StaleTakeover}", 0L) == ev0 + 1)
      assert(!WriterLock.isLocked(spark, idx))
      // no residue: the child's beat file went with the takeover
      assert(!fs.listStatus(lock.getParent)
        .exists(_.getPath.getName.contains(".hb_")))
    } finally {
      if (child.process.isAlive) child.kill9()
    }
  }

  test("cross-process wedged-holder takeover (tier 2): kill -STOP " +
    "freezes a live child's beats → the parent takes over unattended " +
    "through the clock-free lease tier; kill -CONT resumes the zombie, " +
    "whose release loses loudly and leaves the usurper's sentinel " +
    "byte-intact") {
    val dir = tempDir("xproc-wedge")
    val idx = s"$dir/index"
    val lock = WriterLock.lockPath(new Path(idx))
    val fs = new Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def sentinel(): String = {
      val in = fs.open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val stale0 = MaintenanceEvents.count(idx, MaintenanceEvents.StaleTakeover)
    val ev0 = MaintenanceEvents.count(idx, MaintenanceEvents.LeaseTakeover)
    val releaseGo = s"$dir/release_go"
    // 100 ms beat × 15 = 1.5 s declared window: long enough that the
    // child's live beats (12+ per window) make the pre-STOP probe
    // deterministic, short enough to keep the test runtime-bounded
    val child = new Child(Seq("wedge", idx, releaseGo, "100", "15"))
    try {
      val held = child.await("CHILD_HELD")
      val childPid = held.split("pid=")(1).trim.toLong
      assert(childPid == child.process.pid())

      // alive AND beating: the parent still loses loudly (tier-1 sees
      // a live pid; tier-2 observes real cross-process beats advancing
      // and aborts) — the discriminator the STOP below flips
      intercept[WriterLock.ConcurrentWriterException](
        WriterLock.withLock(spark, idx, "parent-live-probe") {
          fail("stole a live, beating child's lock")
        })
      assert(child.process.isAlive)

      // alive but FROZEN: every child thread (heartbeat included)
      // stops; the pid stays alive so tier-1 must refuse and recovery
      // must ride the lease tier alone
      child.signal("STOP")
      val t0 = System.nanoTime()
      WriterLock.withLock(spark, idx, "parent-usurp") {
        val tookMs = (System.nanoTime() - t0) / 1000000L
        // tier-2, not tier-1: the window was genuinely observed
        assert(tookMs >= 1500, s"takeover after ${tookMs}ms — shorter " +
          "than the holder's declared stale window")
        assert(MaintenanceEvents.count(idx, MaintenanceEvents.StaleTakeover) ==
          stale0, "the frozen-but-alive holder tripped the dead-pid path")
        assert(MaintenanceEvents.count(idx,
          MaintenanceEvents.LeaseTakeover) == ev0 + 1)
        // scrape-visible while the takeover is in effect
        val tag = MaintenanceMetrics.dirTag(idx)
        assert(MaintenanceMetrics.snapshot().getOrElse(
          s"$tag.${MaintenanceEvents.LeaseTakeover}", 0L) == ev0 + 1)
        val usurperInfo = sentinel()
        assert(!usurperInfo.contains(s"pid=$childPid"),
          "the sentinel still names the wedged holder after takeover")

        // wake the zombie while the usurper still holds: its resumed
        // beat/release must LOSE — ReleaseSkipped in the child, the
        // usurper's sentinel untouched
        child.signal("CONT")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(releaseGo), Array.emptyByteArray)
        val rel = child.await("CHILD_RELEASED")
        assert(rel.split("skipped=")(1).trim.toLong >= 1,
          s"the zombie's release did not record ReleaseSkipped: $rel")
        assert(sentinel() == usurperInfo,
          "the zombie's resumed release modified the usurper's sentinel")
      }
      // clean release by the usurper; the child exited normally after
      // its lost release (no crash, no second writer ever admitted)
      assert(!WriterLock.isLocked(spark, idx))
      assert(child.process.waitFor(30, TimeUnit.SECONDS),
        "child did not exit after its lost release")
      assert(child.process.exitValue() == 0)
    } finally {
      if (child.process.isAlive) {
        try child.signal("CONT") catch { case _: Throwable => () }
        child.kill9()
      }
    }
  }

  test("cross-process O_EXCL: parent and child JVMs racing " +
    "createExclusive on one path yield exactly one winner per round, " +
    "with intact content") {
    val dir = tempDir("xproc-race")
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rounds = 12
    val goPrefix = s"$dir/go"
    val contestedPrefix = s"$dir/contested"
    val child = new Child(Seq("race", dir, goPrefix, contestedPrefix,
      rounds.toString))
    try {
      child.await("CHILD_READY")
      var parentWins = 0
      var childWins = 0
      for (r <- 1 to rounds) {
        // drop the go file; both sides spin on its existence, so they
        // reach the create within microseconds of each other
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"${goPrefix}_$r"), Array.emptyByteArray)
        val parentWon = WriterLock.createExclusive(fs,
          new Path(s"${contestedPrefix}_$r"),
          s"parent_round_$r".getBytes("UTF-8"))
        val childLine = child.await(s"CHILD_RACE $r ")
        val childWon = childLine.endsWith("WIN")
        assert(parentWon ^ childWon,
          s"round $r: parent=$parentWon child=$childWon — exactly one " +
            "process must win the exclusive create")
        if (parentWon) parentWins += 1 else childWins += 1
        // winner's content is whole (no torn cross-process write)
        val in = fs.open(new Path(s"${contestedPrefix}_$r"))
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        assert(content == s"${if (parentWon) "parent" else "child"}_round_$r")
      }
      child.await("CHILD_DONE")
      // the invariant is one-winner-per-round; the SPLIT is scheduling
      // luck, so assert only that the race was real enough to decide
      // every round (it always is — both sides spin on the same file)
      assert(parentWins + childWins == rounds)
    } finally {
      if (child.process.isAlive) child.kill9()
    }
  }
}
