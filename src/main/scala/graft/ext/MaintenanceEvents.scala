package graft.ext

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The one event channel of the index/catalog maintenance surface:
  * lock conflicts, stale and lease takeovers, swap heals, compaction
  * skips and fires, retention vacuums. Each event is recorded once,
  * here, and reaches two cheap outlets:
  *
  *  - ONE structured log line (`logger "graft.maintenance"`, strict
  *    `key=value` fields, grep/scrape-friendly) at INFO — WARN for the
  *    events an operator should look at (conflicts, takeovers);
  *  - a per-(directory, event) counter, queryable at runtime — the
  *    streaming handles expose deltas since stream start as
  *    [[graft.streaming.MaintainedStream.maintenanceStats]], and
  *    [[MaintenanceMetrics]] exposes them to the Spark metrics system.
  *
  * Counters are monotone for the JVM's lifetime and O(#dirs × #events)
  * in memory — a handful of longs per maintained index, never
  * per-batch state. Thread-safe; recording is two map ops and a log
  * call, safe on the hot maintenance paths (which are per-micro-batch,
  * not per-row).
  */
object MaintenanceEvents {

  /** A second writer lost the single-writer race and threw. */
  val LockConflict = "lock_conflict"
  /** Dead-pid fast-path takeover (same boot, pid provably dead). */
  val StaleTakeover = "stale_takeover"
  /** Heartbeat-lease takeover (no beat for the holder's whole
    * declared stale window).
    */
  val LeaseTakeover = "lease_takeover"
  /** Interrupted compaction swap completed forward (tmp published). */
  val HealCompleted = "heal_completed"
  /** Interrupted compaction swap rolled back (old restored). */
  val HealRolledBack = "heal_rolled_back"
  /** Residue swept next to a live layout (no swap needed). */
  val HealSwept = "heal_swept"
  /** Maintenance-window compaction fired. */
  val CompactFire = "compact_fire"
  /** Maintenance-window cost check declined (observed count gauged). */
  val CompactSkip = "compact_skip"
  /** Retention vacuum removed at least one catalog version. */
  val VacuumRemoved = "vacuum_removed"
  /** The catalog's capacity-pinned bloom sidecar is saturated: its
    * measured expected-FPP exceeds 10x the design FPP, so the
    * skip-the-join prefilter is passing mostly-useless candidates
    * (still CORRECT — no false negatives — just no longer cheap).
    * Self-heals at the next compaction fire, which rebuilds the
    * sidecar at a capacity rescaled to measured cardinality
    * ([[BloomRebuilt]]).
    */
  val BloomSaturated = "bloom_saturated"
  /** A holder's heartbeat writes are persistently failing: the lease
    * looks silent from the outside and a contender may take it over
    * while the holder is still mutating. Recorded with escalating
    * detail as consecutive failures approach the declared stale
    * window — the holder-side mirror of [[LeaseTakeover]].
    */
  val BeatFailure = "beat_failure"
  /** Release found the sentinel no longer carrying this acquisition's
    * token — the lock was lease-stolen while this (wedged, then
    * resumed) holder still ran. The sentinel now belongs to the new
    * holder and is left untouched; only this holder's own beat file
    * is removed.
    */
  val ReleaseSkipped = "release_skipped"
  /** Aged maintenance residue (`.stale_*` tombstones, interrupted-swap
    * temporaries) swept by the age-gated sweeper.
    */
  val ResidueSwept = "residue_swept"
  /** A winning healer could not release its heal claim after the
    * takeover (IOException on the delete): the claim is left behind
    * and blocks other healers until the TTL sweep reclaims it. The
    * takeover itself SUCCEEDED — this is cleanup debt, not a failure.
    */
  val HealClaimOrphaned = "heal_claim_orphaned"
  /** The bloom sidecar was rebuilt during compaction at a capacity
    * rescaled to the measured cardinality (saturation self-healing).
    */
  val BloomRebuilt = "bloom_rebuilt"
  /** Registering the post-acquire jeopardy gauges failed; the lock
    * proceeds without them (the failure must never leak the sentinel
    * by skipping release — observability degrades, the lock does not).
    */
  val GaugeRegistrationFailed = "gauge_registration_failed"
  /** A release failure could not ride along as a suppressed exception
    * because the body exited via a suppression-disabled throwable
    * (Scala control flow, e.g. a `return` inside the locked closure) —
    * recorded here so the swallowed failure stays visible.
    */
  val ReleaseFailureSwallowed = "release_failure_swallowed"

  private val log = org.slf4j.LoggerFactory.getLogger("graft.maintenance")

  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  // Key by the path STRING as the maintenance code paths pass it,
  // slash-normalized — cheap, and the same directory always reaches
  // here through the same handful of call sites, so qualification
  // variants cannot split a counter in practice.
  private def norm(dir: String): String =
    new org.apache.hadoop.fs.Path(dir).toString

  private def key(dir: String, event: String): String =
    norm(dir) + "\u0000" + event

  /** Record one maintenance event against `dir`: bump the counter by
    * `n` and emit the structured log line. `detail` is extra
    * `key=value` fields for the line only (lazily built — not
    * evaluated unless the line is actually logged).
    */
  def record(dir: String, event: String, detail: => String = "",
             n: Long = 1L): Unit = {
    counters.computeIfAbsent(key(dir, event), _ => new AtomicLong())
      .addAndGet(n)
    // first-record gauge registration only; the gauges read these
    // counters live, so recording itself never touches dropwizard
    MaintenanceMetrics.ensureGauges(dir, event)
    val warn = event == LockConflict || event == StaleTakeover ||
      event == LeaseTakeover || event == BloomSaturated ||
      event == BeatFailure || event == ReleaseSkipped
    if (warn && log.isWarnEnabled() || !warn && log.isInfoEnabled()) {
      val d = detail
      val line = s"event=$event dir=${norm(dir)} n=$n" +
        (if (d.isEmpty) "" else s" $d")
      if (warn) log.warn(line) else log.info(line)
    }
  }

  /** Lifetime count of `event` against `dir` (0 if never recorded). */
  def count(dir: String, event: String): Long = {
    val c = counters.get(key(dir, event))
    if (c == null) 0L else c.get()
  }

  /** Lifetime count of `event` summed across every directory in this
    * JVM — the fleet-level gauge [[MaintenanceMetrics]] exposes.
    */
  def totalCount(event: String): Long = {
    import scala.jdk.CollectionConverters._
    val suffix = "\u0000" + event
    counters.asScala.iterator
      .collect { case (k, v) if k.endsWith(suffix) => v.get() }.sum
  }

  /** All event counts against any of `dirs`, summed per event name —
    * the snapshot the streaming handles baseline at start and diff on
    * [[graft.streaming.MaintainedStream.maintenanceStats]].
    */
  def countsFor(dirs: Seq[String]): Map[String, Long] = {
    val keys = dirs.map(norm).toSet
    import scala.jdk.CollectionConverters._
    counters.asScala.iterator.flatMap { case (k, v) =>
      val i = k.indexOf('\u0000')
      val (d, e) = (k.substring(0, i), k.substring(i + 1))
      if (keys.contains(d)) Some(e -> v.get()) else None
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
