package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.util.sketch.BloomFilter
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Dedup catalog — the reference's two Postgres tables re-expressed as
  * versioned Parquet (SURVEY §1.1, §2.1 S4/S7/S8, §2.5 A2/A4).
  *
  *   files(file_id, filename, chunk_bytes, algorithm)
  *     — one row per deduplicated run (reference: lib/deduplicator/schemas/
  *       file.ex:5-9, migration 20221009155643_add_hash_table.exs:5-9)
  *   hash_links(hash, file_id, line, refs_num)
  *     — one row per distinct chunk ever seen; `line` = position of first
  *       occurrence, `refs_num` = total occurrences so far (schemas/
  *       hash_link.ex:5-12, migration :11-16)
  *
  * The reference leaned on Postgres for PK/unique/FK constraints and
  * row-at-a-time upserts. Spark-first shape: uniqueness by construction
  * (anti-join before append, A4 ≙ `on_conflict: :nothing`), refs_num
  * increments as a grouped delta merge (A1+A2, one job — never per-row),
  * and atomicity via the [[VersionStore]]: each run stages its version
  * in full into a hidden temp dir, then publishes it with one atomic
  * rename; readers use the highest committed version. Failed writes
  * leave only an orphaned temp dir and are invisible — idempotent
  * re-runs (SURVEY §7.4.2). Of two concurrent committers of the same
  * version exactly one rename lands — the loser fails loudly BEFORE any
  * of its bytes are visible, so it can never overwrite a winner's
  * committed data.
  *
  * Scale design (100 TB): hash_links is hash-partitioned by a hex digest
  * prefix of `bucketChars` chars (16^bucketChars buckets, default 256),
  * and a commit rewrites ONLY the buckets its new links / deltas touch;
  * untouched buckets are carried forward *by reference* through a
  * per-version MANIFEST (bucket → version that last wrote it). Commit
  * cost is therefore proportional to the run, not to catalog history.
  * The bucket layout also lets point reads prune to one bucket file and
  * keeps the dedup probe join (J1) co-locatable.
  *
  * Bucket width is a LAYOUT knob, sized to the expected catalog: every
  * commit pays a fixed per-bucket-directory cost in the partitioned
  * write (measured ~11 ms/dir on a local FS — commit-protocol renames
  * and writer setup, independent of row count), so a small catalog
  * wants 16 buckets (width 1) while a 100 TB one wants 256+ (width 2+,
  * keeping per-bucket rewrite units bounded). The width chosen at
  * creation is persisted in a root `_graft_catalog_meta` sidecar and
  * adopted on every reopen — mixing widths within one catalog would
  * scatter a hash's links across buckets and break manifest carry-
  * forward, so the constructor argument only applies to an EMPTY dir.
  *
  * Each version additionally carries a BLOOM sidecar — a rolling bloom
  * filter over every hash ever committed (creation capacity
  * `bloomItems`, pinned in the meta like the bucket width; 0 disables).
  * Commits extend it with a distributed delta sketch over just their
  * new hashes (cost ∝ run), and [[seenBloom]] hands it to the dedup
  * probe as the skip-the-join prefilter
  * ([[graft.functions.BloomMembership]]): certainly-novel chunks — the
  * common case in a growing store — never pay the links join. Correct
  * at any fill level (no false negatives); past capacity it only
  * degrades toward the plain join-everything path — and saturation
  * SELF-HEALS: [[compact]] rebuilds the sidecar at a capacity rescaled
  * to measured cardinality (the rescaled sizing rides a per-version
  * BLOOM_META next to the filter), so the prefilter's cheapness is
  * restored by routine maintenance, not a new-catalog migration.
  *
  * One version per call: every public call resolves [[currentVersion]]
  * once, at entry, and reads only that version, whose MANIFEST, BLOOM
  * and BLOOM_META it reads at most once. Every writer publishes through
  * [[writeVersion]], which resolves the version once more and refuses,
  * writing nothing, to publish on top of a version the writer did not
  * read.
  */
class Catalog(spark: SparkSession, dir: String, bucketChars: Int = 2,
              bloomItems: Long = 1000000L) {
  import Catalog._
  require(bucketChars >= 1 && bucketChars <= 8,
    s"bucketChars must be in [1,8], got $bucketChars")
  require(bloomItems >= 0, s"bloomItems must be >= 0, got $bloomItems")

  private val fs = FileSystem.get(new java.net.URI(dir),
    spark.sparkContext.hadoopConfiguration)

  private val store = new VersionStore(fs, dir, "catalog")

  private def metaPath = new Path(dir, "_graft_catalog_meta")

  /** The `key=value` lines of a sidecar, values trimmed. */
  private def keyValues(bytes: Array[Byte]): Map[String, String] =
    new String(bytes, StandardCharsets.UTF_8).linesIterator
      .filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1).trim }
      .toMap

  /** The layout knobs, parsed once per instance from the meta sidecar:
    * the effective bucket width and the CREATION bloom capacity. A
    * missing line, or a catalog that predates the meta, reads as the
    * historic value (width 2, bloom disabled); an empty catalog takes
    * the constructor's knobs, which its first commit pins. Both are
    * immutable; the EFFECTIVE bloom sizing of a version is
    * [[Sidecars.bloomParams]].
    */
  private lazy val (bucketWidth, bloomCapacity): (Int, Long) =
    VersionStore.readAll(fs, metaPath).map(keyValues) match {
      case Some(kv) => (kv.get("bucket_chars").fold(2)(_.toInt),
        kv.get("bloom_items").fold(0L)(_.toLong))
      case None =>
        if (currentVersion > 0) (2, 0L) // pre-meta layout
        else (bucketChars, bloomItems)
    }

  /** Committed version `v`'s sidecars, each read on first use. */
  private final class Sidecars(val v: Long) {
    private def file(name: String) = store.file(v, name)

    /** bucket → version that last rewrote that bucket. A committed
      * version without a MANIFEST (written by a pre-manifest layout)
      * degrades gracefully: every bucket directory physically present
      * under that version is treated as written there.
      */
    lazy val manifest: Map[String, Long] = store.manifest(v) match {
      case Some(m) => m.map { case (b, vs) => b -> vs.head }
      case None if v > 0 =>
        try fs.listStatus(new Path(versionDir(v), "hash_links")).iterator
          .map(_.getPath.getName)
          .collect { case BucketRe(b) => b -> v }.toMap
        catch { case _: java.io.FileNotFoundException => Map.empty }
      case None => Map.empty
    }

    lazy val bloom: Option[Array[Byte]] = file("BLOOM")

    /** Effective (capacity, numBits) of the bloom sidecar. The root
      * meta's `bloom_items` is the CREATION sizing; a saturated filter
      * rebuilt by [[compact]] carries its rescaled sizing in a
      * per-version `BLOOM_META` (staged atomically with the BLOOM it
      * describes), and every later commit's delta sketch must match the
      * CARRIED filter's sizing — (capacity, numBits) is that
      * bit-compatibility contract, so it is resolved per version, newest
      * sidecar winning, root meta as the pre-rebuild fallback.
      */
    lazy val bloomParams: (Long, Long) = file("BLOOM_META").map(keyValues)
      .flatMap { kv =>
        for (c <- kv.get("capacity").flatMap(_.toLongOption);
             b <- kv.get("num_bits").flatMap(_.toLongOption)) yield (c, b)
      }
      .getOrElse((bloomCapacity, if (bloomCapacity <= 0) 0L
        else BloomFilter.optimalNumOfBits(bloomCapacity, BloomFpp)))
  }

  /** The sidecars of the version [[currentVersion]] resolved last. A
    * committed version never changes (it is published whole by one
    * rename, and no version number is committed twice), so every read
    * of it — a call's readers and commit steps, a dedup batch's probe
    * and commit — shares one read of each file.
    */
  @volatile private var resolved = new Sidecars(0L)

  private def at(v: Long): Sidecars =
    Some(resolved).filter(_.v == v).getOrElse(new Sidecars(v))

  private def bytesOf(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Distributed serialized-bloom sketch of `df.hash` at the given
    * sizing (None for an empty input — the agg returns null rather
    * than an empty filter). Only [[compact]]'s saturation rebuild runs
    * it; commits observe their delta through [[observeCommit]].
    */
  private def sketchHashes(df: DataFrame, cap: Long,
                           bits: Long): Option[Array[Byte]] = {
    graft.functions.VecExpressions.register(spark)
    Option(df.select(call_function("graft_bloom_agg",
        xxhash64(col("hash")), lit(cap), lit(bits)).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
  }

  /** `df` observing, on the pass that materializes it, what a commit on
    * top of version `v` needs besides its rows: the buckets of every
    * row's `hash` (the set the commit rewrites) and, given `isNew`, the
    * bloom delta over the rows where it holds, at `v`'s sizing (None
    * when empty or disabled). The reader returns both once that pass
    * ran.
    */
  private[graft] def observeCommit(df: DataFrame, v: Long, isNew: Option[Column])
      : (DataFrame, () => (Set[String], Option[Array[Byte]])) = {
    graft.functions.VecExpressions.register(spark)
    val (cap, bits) = at(v).bloomParams
    // the aggregate skips null keys; `when` stays outside xxhash64,
    // which hashes a null to its seed
    val bloom = isNew match {
      case Some(n) if cap > 0L => call_function("graft_bloom_agg",
        when(n, xxhash64(col("hash"))), lit(cap), lit(bits))
      case _ => lit(null).cast(BinaryType)
    }
    val o = new Observation()
    (df.observe(o, collect_set(bucketCol(col("hash"))).as("touched"),
        bloom.as("bloom")),
      () => (o.get("touched").asInstanceOf[scala.collection.Seq[String]].toSet,
        Option(o.get("bloom").asInstanceOf[Array[Byte]])))
  }

  /** Serialized bloom filter over EVERY hash ever committed (None when
    * the catalog is empty, was created with `bloomItems = 0`, or
    * predates the sidecar). A bloom filter has no false negatives at
    * ANY fill level, so "not in filter" always proves "never
    * cataloged" — the probe prefilter
    * ([[graft.functions.BloomMembership.certainlyNovel]]) stays exact
    * even long past capacity; saturation only degrades it toward
    * flagging everything, which is the plain join-everything path.
    * The array is the caller's own copy.
    */
  def seenBloom(): Option[Array[Byte]] = bloomAt(currentVersion).map(_.clone)

  /** [[seenBloom]] at committed version `v`, shared with the catalog's
    * own reads of `v`: read-only.
    */
  private[graft] def bloomAt(v: Long): Option[Array[Byte]] = at(v).bloom

  /** Operational health of the bloom sidecar: (measured expected
    * false-positive rate, set-bit count of the underlying filter —
    * Spark's `BloomFilter.cardinality()` counts BITS, not items —
    * effective capacity after any compact-time rebuild). None when the
    * bloom is disabled/absent. Reads the
    * current sidecar once; the commit path warns through
    * [[graft.ext.MaintenanceEvents.BloomSaturated]] when the measured
    * FPP drifts 10x past design — this is the pull-side twin for a
    * live session or a capacity-planning pass.
    */
  def bloomHealth(): Option[(Double, Long, Long)] = {
    val s = at(currentVersion)
    s.bloom.map { bytes =>
      val bf = BloomFilter.readFrom(bytes)
      (bf.expectedFpp(), bf.cardinality(), s.bloomParams._1)
    }
  }

  private def bucketOf(hash: String): String = hash.substring(0, bucketWidth)
  private def bucketCol(hash: org.apache.spark.sql.Column) =
    substring(hash, 1, bucketWidth)

  private def versionDir(v: Long) = store.versionDir(v)

  /** Highest committed version, or 0 (empty catalog): one root listing
    * and, in the common case, one COMMIT check. Every public call
    * resolves it once, at entry, and reads only that version; a writer
    * resolves it once more, in [[VersionStore.publish]], to refuse
    * publishing on top of a version it did not read.
    */
  def currentVersion: Long = {
    val v = store.current()
    if (resolved.v != v) resolved = new Sidecars(v)
    v
  }

  /** file_id the next committed run will receive: max(`file_id`) + 1,
    * read on the driver from the column statistics in the files table's
    * parquet footers, so it runs no Spark job. A non-empty row group
    * whose footer carries no statistics falls back to the aggregate.
    */
  def nextFileId: Long = nextFileIdAt(currentVersion)

  /** [[nextFileId]] at committed version `v`. */
  private[graft] def nextFileIdAt(v: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val maxima: Seq[Option[Long]] =
      if (v == 0) Nil
      else fs.listStatus(new Path(versionDir(v), "files")).toSeq
        .filter(_.getPath.getName.startsWith("part-"))
        .flatMap { st =>
          val in = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try in.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
            .map(_.getColumns.asScala
              .find(_.getPath.toDotString == "file_id")
              .map(_.getStatistics)
              .filter(s => s != null && s.hasNonNullValue)
              .map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue))
          finally in.close()
        }
    if (maxima.forall(_.isDefined)) maxima.flatten.foldLeft(0L)(math.max) + 1
    else filesAt(v).agg(coalesce(max("file_id"), lit(0L))).head().getLong(0) + 1
  }

  // ---------------------------------------------------------------- reads

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def files(): DataFrame = filesAt(currentVersion)

  /** The files table at committed version `v`. */
  private[graft] def filesAt(v: Long): DataFrame =
    if (v == 0) emptyDf(filesSchema)
    else spark.read.schema(filesSchema)
      .parquet(new Path(versionDir(v), "files").toString)

  private def bucketPath(bucket: String, ver: Long): Path =
    new Path(new Path(versionDir(ver), "hash_links"), s"bucket=$bucket")

  /** `hash_links` as manifest `man` maps its buckets. */
  private def linksOf(man: Map[String, Long]): DataFrame =
    if (man.isEmpty) emptyDf(linksSchema)
    else spark.read.schema(linksSchema)
      .parquet(man.map { case (b, ver) => bucketPath(b, ver).toString }.toSeq: _*)

  def links(): DataFrame = linksAt(currentVersion)

  /** Time-travel read: `hash_links` exactly as committed at `version`.
    * Every version's manifest maps bucket → the version that last wrote
    * it, and bucket-pruned commits leave untouched bucket files in
    * place — so ANY un-vacuumed version stays readable forever at zero
    * storage cost beyond the buckets it actually rewrote (the
    * versioned-parquet form of the reference's never-delete catalog,
    * and the read side a reproducible-corpus audit needs: "which
    * chunks did the store know when THIS corpus snapshot was built?").
    * [[vacuum]] is the explicit, logged end of that guarantee.
    */
  def linksAt(version: Long): DataFrame = linksOf(at(version).manifest)

  /** Changefeed between two committed versions — the CDC surface an
    * incremental consumer (a downstream index, a replication target, a
    * billing meter) reads instead of diffing full snapshots itself:
    * per hash, the refs count at each end and a change class
    * (`added` / `refs_changed` / `unchanged`; `removed` arises only
    * from retention — [[dropRun]] — since commits never delete links).
    * One full-outer hash join between the two manifest-pinned reads —
    * both sides bucket-partitioned by digest prefix, so at scale this
    * shuffles only if the bucket layouts differ between versions
    * (compact() rewrites buckets; plain commits preserve layout).
    * Both versions must still be readable, i.e. not vacuumed — same
    * contract as [[linksAt]].
    */
  def changes(vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"changes: vFrom $vFrom > vTo $vTo")
    val a = linksAt(vFrom).select(col("hash"),
      col("refs_num").as("refs_from"))
    val b = linksAt(vTo).select(col("hash"),
      col("refs_num").as("refs_to"))
    a.join(b, Seq("hash"), "full_outer")
      .withColumn("change",
        when(col("refs_from").isNull, lit("added"))
          .when(col("refs_to").isNull, lit("removed"))
          .when(col("refs_from") =!= col("refs_to"), lit("refs_changed"))
          .otherwise(lit("unchanged")))
  }

  /** Catalog point reads (S4; reference files.ex:20-23, hash.ex:29-45).
    * Row-at-a-time probes exist for API parity; the dedup plan itself
    * always uses the join form (J1), never these. The by-hash probe is
    * bucket-pruned: it opens exactly one bucket file.
    */
  def getFile(filename: String): DataFrame =
    files().where(col("filename") === filename)
  def getHashLink(hash: String): DataFrame =
    at(currentVersion).manifest.get(bucketOf(hash)) match {
      case None => emptyDf(linksSchema)
      case Some(ver) => spark.read.schema(linksSchema)
        .parquet(bucketPath(bucketOf(hash), ver).toString)
        .where(col("hash") === hash)
    }
  def getHashLinkByLine(line: Long): DataFrame =
    links().where(col("line") === line)

  /** Catalog-level operational stats — the SHOW-STATS surface a store
    * admin or capacity-planning pass reads: distinct-link count, total
    * reference count (= every chunk occurrence ever committed),
    * duplicated-link count, committed file count, and the current
    * version, all of one version. One bucket-pruned links scan + the
    * files table; every value exact (counts, not sketches —
    * [[seenBloom]] is the approximate tier).
    */
  def stats(): DataFrame = {
    val v = currentVersion
    val l = linksAt(v).agg(
      count(lit(1)).as("n_links"),
      coalesce(sum("refs_num"), lit(0L)).as("sum_refs"),
      coalesce(sum(when(col("refs_num") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_dup_links"))
    val f = filesAt(v).agg(count(lit(1)).as("n_files"))
    l.crossJoin(f).withColumn("version", lit(v))
  }

  /** The reference's only pure relational query: duplicate-frequency
    * report (test/deduplicator_test.exs:323-330) —
    * `refs_num > 1`, projected, sorted descending.
    */
  def chunkRepetition(): DataFrame =
    links().where(col("refs_num") > 1)
      .select("refs_num")
      .orderBy(desc("refs_num"))

  // -------------------------------------------------------------- commits

  /** Single-run commit (S7/S8/A2/A4). Returns the run's file_id, taken
    * at the version the run commits on top of.
    */
  def commitRun(filename: String, chunkBytes: Int, algorithm: String,
                newLinks: DataFrame, deltas: DataFrame): Long = {
    val v = currentVersion
    val fid = nextFileIdAt(v)
    commitRunsAt(v, Seq(RunSpec(fid, filename, chunkBytes, algorithm,
      newLinks, deltas)))
    fid
  }

  /** Atomically commit a batch of dedup runs in ONE version bump — the
    * streaming micro-batch path (one commit per batch, not per file).
    *
    * Requirements on `runs` (guaranteed by Deduplicator's planning):
    *   - fileIds are distinct and unused (≥ [[nextFileId]] at plan time)
    *   - newLinks hash sets are disjoint across runs (a later run that
    *     re-sees an earlier run's new hash reports it in `deltas`, having
    *     planned against base ∪ earlier pending links)
    *
    * Deltas may reference both old-catalog hashes and this batch's new
    * hashes; both get their refs_num incremented.
    */
  def commitRuns(runs: Seq[RunSpec]): Unit =
    if (runs.nonEmpty) commitRunsAt(currentVersion, runs)

  private def commitRunsAt(v: Long, runs: Seq[RunSpec]): Unit =
    commitPrelinkedAt(v,
      runs.map(r => RunMeta(r.fileId, r.filename, r.chunkBytes, r.algorithm)),
      runs.map { r =>
        r.newLinks.select(col("hash"), lit(r.fileId).as("file_id"),
          col("line"), col("refs_num"))
      }.reduce(_ unionByName _),
      runs.map(_.deltas.select(col("hash"), col("delta")))
        .reduce(_ unionByName _))

  /** [[commitRuns]] with the links already combined: `newLinks` carries
    * its own `file_id` column instead of one DataFrame per run. This is
    * the path a WIDE micro-batch must use: building the per-run split
    * only to re-union it makes the commit plan an N-way union whose
    * task count is O(files × partitions) — measured 3× the whole gate
    * cost at 70 files, and a non-starter at the 10k-file micro-batch
    * this API documents. Here the plan stays O(partitions) no matter
    * how many files the batch carried.
    *
    * Same requirements as [[commitRuns]]: fileIds distinct and unused,
    * newLinks hashes disjoint from each other; deltas may reference old
    * and new hashes.
    */
  def commitRunsPrelinked(metas: Seq[RunMeta], newLinks: DataFrame,
                          deltas: DataFrame): Unit =
    if (metas.nonEmpty) commitPrelinkedAt(currentVersion, metas, newLinks, deltas)

  private def commitPrelinkedAt(v: Long, metas: Seq[RunMeta],
                                newLinks: DataFrame, deltas: DataFrame): Unit = {
    // Materialized once, BOTH contributions through ONE checkpoint pass
    // (a union with a marker column — two separate localCheckpoints
    // would cost two jobs per commit, forever, in streaming). Without
    // pinning, a caller's non-deterministic input could yield different
    // buckets across the executions below — and a bucket written but
    // absent from `touched` would silently drop its pre-existing rows.
    // The checkpoint blocks are freed on exit: a streaming session
    // commits hundreds of micro-batches, and leaked per-commit blocks
    // would accumulate for its whole lifetime.
    val base = at(v)
    val (_, pinned) = graft.Jobs.pinnedBy(spark.sparkContext) {
      // the touched buckets ride this checkpoint as an observed metric
      val (stagedDf, stagedSeen) = observeCommit(newLinks
        .select(col("hash"), col("file_id").cast(LongType).as("file_id"),
          col("line"), col("refs_num").cast(LongType).as("refs_num"),
          lit(null).cast(LongType).as("delta"),
          lit(false).as("is_delta"))
        .unionByName(deltas
          .select(col("hash"), col("delta").cast(LongType).as("delta"))
          .groupBy("hash").agg(sum("delta").as("delta"))
          .select(col("hash"), lit(null).cast(LongType).as("file_id"),
            lit(null).cast(LongType).as("line"),
            lit(null).cast(LongType).as("refs_num"),
            col("delta"), lit(true).as("is_delta"))), v, None)
      val staged = stagedDf.localCheckpoint()
      val allNewRaw = staged.where(!col("is_delta"))
        .select("hash", "file_id", "line", "refs_num")
      val allDeltas = staged.where(col("is_delta"))
        .select("hash", "delta")
      val touched = stagedSeen()._1
      // Defensive anti-join: uniqueness of `hash` must hold by
      // construction even if a caller's newLinks overlaps the catalog
      // (idempotent re-runs). A matching old link can only live in the
      // bucket its hash prefixes to, so the anti-join's right side is
      // the TOUCHED buckets, never a full links scan — a commit's cost
      // must stay ∝ the run, and this was the one full-catalog read
      // left on the commit path. Checkpointed: the result feeds the
      // merged write, and its pass observes the bloom delta.
      val (allNewDf, newSeen) = observeCommit(allNewRaw
        .join(linksTouched(base, touched).select("hash"), Seq("hash"),
          "left_anti"), v, Some(lit(true)))
      val allNew = allNewDf.localCheckpoint()
      commitChecked(metas, base, allNew, allDeltas, touched, newSeen()._2)
    }
    pinned.foreach(_.unpersist(false))
  }

  /** [[commitRunsPrelinked]] minus the defensive anti-join and the
    * input re-materialization — the commit path for a caller that has
    * ALREADY checkpointed its contributions and proven them sound
    * (graft's own dedup plan: contributions are complementary slices of
    * one checkpointed batch-first-occurrence pass). Contract, on top of
    * [[commitRuns]]': `newLinks`/`deltas` derive from materialized
    * (checkpointed/persisted) data; `newLinks.hash` is disjoint from
    * the catalog at `probedVersion` (the caller probed that version
    * under the single-writer window); `deltas` carries one row per
    * hash; `touched` and `deltaBloom` are what [[observeCommit]] saw of
    * newLinks ∪ deltas on the pass that materialized them. Commits on
    * top of `probedVersion`, reading its sidecars through the same
    * shared read as the probe; [[writeVersion]] fails loudly, writing
    * nothing, if the catalog moved past it. Spark-job cost per commit:
    * the two version writes only.
    */
  private[graft] def commitRunsPrechecked(metas: Seq[RunMeta],
                                          newLinks: DataFrame,
                                          deltas: DataFrame,
                                          probedVersion: Long,
                                          touched: Set[String],
                                          deltaBloom: Option[Array[Byte]]): Unit =
    if (metas.nonEmpty)
      commitChecked(metas, at(probedVersion),
        newLinks.select(col("hash"), col("file_id").cast(LongType).as("file_id"),
          col("line"), col("refs_num").cast(LongType).as("refs_num")),
        deltas.select(col("hash"), col("delta").cast(LongType).as("delta")),
        touched, deltaBloom)

  /** `hash_links` restricted to `buckets` at version `base` — the commit
    * path's bucket-pruned read: prunes at the PATH level (only the
    * touched buckets' files are opened), where a filter over
    * [[linksAt]] would scan every bucket and drop rows. Sound because
    * a bucket directory physically holds exactly the rows whose hash
    * prefixes to it (the partitioned write's own column). An empty
    * bucket set reads nothing.
    */
  private def linksTouched(base: Sidecars, buckets: Set[String]): DataFrame =
    linksOf(base.manifest.filter { case (b, _) => buckets(b) })

  /** Shared tail of the two commit fronts. `allNew` is the final
    * new-link row set (already catalog-disjoint) and `allDeltas` one
    * row per hash; both must be deterministic (checkpointed/persisted
    * lineage). `touched` is the bucket set this commit rewrites — a
    * superset of allNew ∪ allDeltas' buckets; everything else is
    * carried forward by manifest reference, so commit cost stays ∝ the
    * run, never ∝ catalog history. `deltaBloom` is the sketch of
    * allNew's hashes at `base`'s bloom sizing (None when empty).
    */
  private def commitChecked(metas: Seq[RunMeta], base: Sidecars,
                            allNew: DataFrame,
                            allDeltas: DataFrame,
                            touched: Set[String],
                            deltaBloom: Option[Array[Byte]]): Unit = {
    val newFiles = filesAt(base.v).unionByName(
      spark.createDataFrame(
        metas.map(r => (r.fileId, r.filename, r.chunkBytes, r.algorithm)))
        .toDF("file_id", "filename", "chunk_bytes", "algorithm"))
    // Rolling bloom sidecar: the caller's delta sketch over ONLY this
    // commit's new hashes (cost ∝ run; deltas touch pre-bloomed
    // hashes), OR-merged into the carried filter. (capacity, numBits)
    // come from the pinned meta, so every delta is bit-compatible
    // with every predecessor by construction.
    val (bCap, bBits) = base.bloomParams
    val newBloom: Option[Array[Byte]] =
      if (bCap <= 0L) None
      else {
        val merged = (base.bloom.map(BloomFilter.readFrom),
            deltaBloom.map(BloomFilter.readFrom)) match {
          case (Some(o), Some(d)) => o.mergeInPlace(d)
          case (Some(o), None)    => o
          case (None, Some(d))    => d
          // bloom-enabled catalog, empty first commit: write the
          // empty filter so the sidecar exists from version 1 on
          case (None, None) => BloomFilter.create(bCap, bBits)
        }
        // Saturation watch (r16, free — the filter is already in
        // memory): a capacity-pinned filter fed past its design point
        // stays CORRECT (no false negatives) but stops being a useful
        // prefilter. Warned per commit while saturated, so an
        // alerting scrape sees a sustained rate; the next
        // [[compact]] fire self-heals it by rebuilding the sidecar
        // at a capacity rescaled to the measured cardinality.
        val fpp = merged.expectedFpp()
        if (fpp > BloomFpp * 10)
          graft.ext.MaintenanceEvents.record(dir,
            graft.ext.MaintenanceEvents.BloomSaturated,
            f"expected_fpp=$fpp%.4f design_fpp=$BloomFpp " +
              f"cardinality=${merged.cardinality()} " +
              f"capacity=$bCap")
        Some(bytesOf(merged))
      }
    val mergedData =
      if (touched.isEmpty) None
      else Some(linksTouched(base, touched).unionByName(allNew)
        .join(allDeltas, Seq("hash"), "left")
        .withColumn("refs_num", col("refs_num") + coalesce(col("delta"), lit(0L)))
        .drop("delta"))
    writeVersion(base.v + 1, newFiles, mergedData, base.manifest, newBloom,
      if (bCap > 0L) Some((bCap, bBits)) else None)
  }

  /** Retention/deletion: remove a stored file and its reference counts
    * from the catalog — the erasure-request / quota-retirement path a
    * long-lived catalog must support (and the only operation that makes
    * the changefeed's `removed` class reachable: commits never delete
    * links). The caller supplies the file's chunk-hash stream, one row
    * per occurrence (re-derived by chunking the recovered file, or read
    * from its encoded `.bin` — the catalog deliberately stores only
    * aggregated refs). Semantics: `refs_num -= occurrences(file)`;
    * links reaching zero are DELETED, and a bucket left empty leaves
    * the manifest entirely.
    *
    * Fails loudly — BEFORE writing anything — when the drop is unsound:
    *  - `overdrawn`: the stream subtracts more refs than a link has
    *    (wrong or duplicated stream);
    *  - `still_referenced`: a link whose canonical bytes live in THIS
    *    file's encoded stream would survive with refs > 0 — other
    *    files' pointers depend on it, so dropping would break their
    *    recovery. Recover+rewrite those files first, or drop them in
    *    the same maintenance window;
    *  - `uncovered`: a link owned by this file is absent from the
    *    provided stream (incomplete stream);
    *  - `corrupt`: a link owned by ANOTHER file would reach zero refs —
    *    impossible when refs include the owner's own occurrences, so it
    *    means the catalog and stream disagree structurally.
    *
    * The bloom sidecar is carried forward unchanged: it is an
    * append-only prefilter, so after a drop it may answer "maybe" for a
    * purged hash — a false positive the probe join tolerates by design.
    * Cost: one full links scan (validation) + a rewrite of only the
    * touched buckets; at 100 TB this is the cost class of one commit,
    * paid per deletion request, not per query. Concurrency contract of
    * [[commitRuns]] (can lose the version race, failing loudly).
    * Returns the new current version.
    */
  def dropRun(filename: String, chunkHashes: DataFrame): Long = {
    val v = currentVersion
    val base = at(v)
    val files = filesAt(v)
    val fRows = files.where(col("filename") === filename).collect()
    require(fRows.length == 1,
      s"dropRun: '$filename' has ${fRows.length} catalog rows, need 1")
    val fid = fRows(0).getAs[Long]("file_id")
    val (occ, pinned) = graft.Jobs.pinnedBy(spark.sparkContext)(
      chunkHashes.select(col("hash"))
        .groupBy("hash").agg(count(lit(1)).as("occ")).localCheckpoint())
    try {
      val oldLinks = linksOf(base.manifest)
      val audited = oldLinks.join(occ, Seq("hash"), "left")
        .withColumn("refs2",
          col("refs_num") - coalesce(col("occ"), lit(0L)))
      // touched buckets ride the SAME validation pass as a collect_set
      // (≤ 16^width values) instead of a separate distinct-collect job
      // over occ. buckets(occ ∩ links) rather than buckets(occ): the
      // difference is only occ hashes absent from every link, whose
      // buckets the old set rewrote with identical content — the
      // merged rows are the same either way.
      val viol = audited.agg(
        sum(when(col("refs2") < 0, 1L).otherwise(0L)).as("overdrawn"),
        sum(when(col("file_id") === fid && col("refs2") > 0, 1L)
          .otherwise(0L)).as("still_referenced"),
        sum(when(col("file_id") === fid && col("occ").isNull, 1L)
          .otherwise(0L)).as("uncovered"),
        sum(when(col("file_id") =!= fid && col("refs2") === 0, 1L)
          .otherwise(0L)).as("corrupt"),
        collect_set(when(col("occ").isNotNull, bucketCol(col("hash"))))
          .as("touched")).head()
      val bad = Seq("overdrawn", "still_referenced", "uncovered",
        "corrupt").map(k => k -> Option(viol.getAs[java.lang.Long](k))
          .map(_.longValue).getOrElse(0L)).filter(_._2 > 0)
      require(bad.isEmpty,
        s"dropRun('$filename') unsound, nothing written: " +
          bad.map { case (k, n) => s"$k=$n" }.mkString(", "))
      val touched = viol.getAs[scala.collection.Seq[String]]("touched")
        .toSet
      // a zero-chunk file touches no bucket: files-table change only
      val merged =
        if (touched.isEmpty) None
        else Some(oldLinks
          .where(bucketCol(col("hash")).isin(touched.toSeq: _*))
          .join(occ, Seq("hash"), "left")
          .withColumn("refs_num",
            col("refs_num") - coalesce(col("occ"), lit(0L)))
          .drop("occ")
          .where(col("refs_num") > 0))
      writeVersion(v + 1, files.where(col("file_id") =!= fid), merged,
        base.manifest, base.bloom, Some(base.bloomParams),
        dropBuckets = touched)
      v + 1
    } finally pinned.foreach(_.unpersist(false))
  }

  /** Delete what no reader can reach ([[VersionStore.vacuum]]): version
    * directories the retained manifests no longer reference
    * (bucket-pruned commits keep old versions partially alive — a bucket
    * last written at v3 lives in v_000003 until a later commit rewrites
    * it), plus `.tmp_*` staging of crashed commits and bare version
    * directories without a COMMIT, each after an hour without writes.
    * Returns the committed versions deleted.
    *
    * Retention (r15 verdict ask #3, the long-lived-stream knob): the
    * newest `retainLast` committed versions, plus every version whose
    * commit is younger than `retainMs`, stay TIME-TRAVEL READABLE — each
    * retained head keeps alive every older version its manifest
    * references, so [[linksAt]]/[[changes]] hold on the whole retained
    * window. The defaults keep only the current version's reference
    * set. Cost: one listing plus one manifest read per retained head.
    *
    * NOT safe concurrently with everything: a lazily-evaluated DataFrame
    * planned from [[links]]/[[getHashLink]] under an OLDER manifest
    * still references version dirs this may delete (FileNotFound at its
    * next action). Run it when no such queries are pending.
    */
  def vacuum(retainLast: Int = 1, retainMs: Long = 0L): Seq[Long] = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    require(retainMs >= 0, s"retainMs must be >= 0, got $retainMs")
    // a fresh .tmp_* dir may be an IN-FLIGHT concurrent commit
    val (deleted, heads) = store.vacuum(retainLast, retainMs, 60L * 60 * 1000)
    if (deleted.nonEmpty)
      graft.ext.MaintenanceEvents.record(dir,
        graft.ext.MaintenanceEvents.VacuumRemoved,
        s"versions=${deleted.mkString(",")} retained_heads=" +
          heads.toSeq.sorted.mkString(","),
        n = deleted.size.toLong)
    deleted
  }

  /** Compact the catalog: rewrite EVERY currently-referenced bucket into
    * one fresh version — one task and therefore one parquet file per
    * bucket — then [[vacuum]]. Repeated bucket-pruned commits fragment
    * the physical layout two ways: each touched-bucket rewrite carries
    * its shuffle partitioning into many small part-files, and untouched
    * buckets pin ever-older version dirs alive through the manifest.
    * After compact the manifest references a single version, every
    * bucket is a single file, and vacuum can reclaim all history.
    * Retention: run it when small-file count hurts read fan-out (e.g.
    * after N streaming micro-batch commits), not on every commit — it
    * rewrites the whole links table (one full scan + one shuffle on the
    * bucket key; at 100 TB that is the same cost class as one big
    * commit, amortized over the N commits it cleans up after).
    * Inherits [[vacuum]]'s concurrency contract: it both COMMITS (can
    * lose a race with a concurrent writer, failing loudly) and vacuums
    * (invalidates DataFrames planned against older manifests), so run
    * it from the maintenance window, not alongside live writers or
    * long-running readers. `retainLast`/`retainMs` pass through to the
    * closing [[vacuum]], so a stream with a retention policy keeps its
    * time-travel window across a compaction fire. Returns the new
    * current version.
    */
  def compact(retainLast: Int = 1, retainMs: Long = 0L): Long = {
    val v = currentVersion
    if (v == 0) return 0L
    val base = at(v)
    val allLinks = linksOf(base.manifest).repartition(
      spark.sessionState.conf.numShufflePartitions, bucketCol(col("hash")))
    // The bloom is normally carried forward unchanged. But compact is
    // also the saturation self-heal point (r16 verdict): it already
    // rewrites every live link, so when the carried filter's measured
    // expected-FPP has drifted 10x past design, rebuilding the sidecar
    // from the SAME full scan at a capacity rescaled to the measured
    // cardinality costs one extra pass over data compact reads anyway —
    // saturation heals at the next compaction fire instead of forcing a
    // new-catalog migration. The rescaled sizing rides a per-version
    // BLOOM_META so later delta sketches stay bit-compatible
    // ([[Sidecars.bloomParams]]). Rebuilding from LIVE links is exact: the
    // prefilter's no-false-negatives contract is over currently
    // cataloged hashes, so a hash dropRun purged correctly reads
    // "certainly novel" again — the join it skips would find nothing.
    val (cap0, bits0) = base.bloomParams
    val (bloomOut, paramsOut) = base.bloom match {
      case None => (None, None)
      case Some(bytes) =>
        val bf = BloomFilter.readFrom(bytes)
        val fpp = bf.expectedFpp()
        if (fpp <= BloomFpp * 10) (Some(bytes), Some((cap0, bits0)))
        else {
          // Size from the EXACT live-hash count (hash is unique per
          // link, so links.count() IS the cardinality): a deeply
          // saturated filter's own cardinality() estimate is biased
          // far low (its bits are near-all-set), and sizing from it
          // would rebuild a still-saturated filter. One extra count
          // scan, paid only on the rare saturated-compact.
          val card = math.max(allLinks.count(), 1L)
          val newCap = math.max(cap0, 2L * card)
          val newBits = BloomFilter.optimalNumOfBits(newCap, BloomFpp)
          val rebuilt = sketchHashes(allLinks, newCap, newBits)
            .getOrElse(bytesOf(BloomFilter.create(newCap, newBits)))
          graft.ext.MaintenanceEvents.record(dir,
            graft.ext.MaintenanceEvents.BloomRebuilt,
            f"expected_fpp=$fpp%.4f design_fpp=$BloomFpp " +
              f"cardinality=$card old_capacity=$cap0 new_capacity=$newCap")
          (Some(rebuilt), Some((newCap, newBits)))
        }
    }
    writeVersion(v + 1, filesAt(v), Some(allLinks), Map.empty, bloomOut,
      paramsOut)
    vacuum(retainLast, retainMs)
    v + 1
  }

  /** Publish version `v` through the [[VersionStore]]: the files
    * table, the rewritten link buckets and the bloom sidecars, staged
    * together with the MANIFEST and COMMIT and made visible by one
    * rename. Every writer passes through here, so the store's
    * moved-base refusal is the catalog's one moved-catalog check.
    */
  private def writeVersion(v: Long, filesDf: DataFrame,
                           changedLinks: Option[DataFrame],
                           oldManifest: Map[String, Long],
                           bloom: Option[Array[Byte]],
                           bloomParams: Option[(Long, Long)] = None,
                           dropBuckets: Set[String] = Set.empty): Unit =
    store.publish(v, currentVersion) { tmp =>
      // Pin the layout knobs before the first version becomes visible;
      // an existing meta is never rewritten (width and bloom sizing of a
      // catalog are immutable — see the class scaladoc).
      if (!fs.exists(metaPath)) {
        // Exclusive create: this pin ARBITRATES concurrent first
        // committers' layout knobs, so it needs the truly atomic
        // create-if-absent (on the local FS, Hadoop's
        // create(overwrite=false) is check-then-act — two racers could
        // both "win" and the knob comparison below would never run;
        // see WriterLock.createExclusive).
        val won = graft.ext.WriterLock.createExclusive(fs, metaPath,
          s"bucket_chars=$bucketWidth\nbloom_items=$bloomCapacity\n"
            .getBytes(StandardCharsets.UTF_8))
        if (!won) {
          // Lost the meta race to a concurrent first committer. Safe iff
          // it pinned the SAME knobs this commit's data was staged with;
          // otherwise fail before publishing mixed-layout data.
          val other = new Catalog(spark, dir)
          require(other.bucketWidth == bucketWidth,
            s"concurrent catalog creation with different bucket widths: " +
              s"this commit staged width $bucketWidth, meta pinned " +
              s"${other.bucketWidth}")
          require(other.bloomCapacity == bloomCapacity,
            s"concurrent catalog creation with different bloom sizing: " +
              s"this commit staged $bloomCapacity, meta pinned " +
              s"${other.bloomCapacity}")
        }
      }
      filesDf.write.mode("overwrite").parquet(new Path(tmp, "files").toString)
      val written: Set[String] = changedLinks match {
        case None => Set.empty
        case Some(df) =>
          df.withColumn("bucket", bucketCol(col("hash")))
            // Cluster by bucket before the partitioned write (the same
            // idiom as compact() and the LSH index build): without it
            // every shuffle-partitioned task opens a file in every
            // bucket it sees — tasks × touched-buckets tiny files PER
            // COMMIT, the fragmentation compact() exists to clean up.
            // After it a bucket is written by one task: files ≈ touched
            // buckets. Reducer count pinned so AQE cannot coalesce a
            // small commit to ONE task that writes every bucket file
            // serially.
            .repartition(spark.sessionState.conf.numShufflePartitions,
              col("bucket"))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(new Path(tmp, "hash_links").toString)
          // The buckets actually written (a touched bucket could have
          // been computed from deltas that matched nothing).
          fs.listStatus(new Path(tmp, "hash_links")).iterator
            .map(_.getPath.getName)
            .collect { case BucketRe(b) => b }.toSet
      }
      // BLOOM is staged with everything else so the sidecar is atomic
      // with the commit it describes (no version can be visible with a
      // filter missing its hashes). The filter's effective sizing
      // travels WITH it, so a compact-time rebuild's rescaled capacity
      // survives reopen and later commits' delta sketches stay
      // bit-compatible with the carried filter.
      def put(name: String, bytes: Array[Byte]): Unit = {
        val out = fs.create(new Path(tmp, name), true)
        try out.write(bytes) finally out.close()
      }
      bloom.foreach { bytes =>
        put("BLOOM", bytes)
        bloomParams.foreach { case (c, b) =>
          put("BLOOM_META", s"capacity=$c\nnum_bits=$b\n"
            .getBytes(StandardCharsets.UTF_8))
        }
      }
      // dropBuckets (dropRun only): buckets whose links may ALL have
      // been deleted. They must leave the manifest FIRST — a
      // dropped-empty bucket writes no partition, and carrying its old
      // manifest entry forward would resurrect the deleted links.
      // Buckets that still have rows re-enter via `written`.
      ((oldManifest -- dropBuckets) ++ written.map(_ -> v))
        .map { case (b, ver) => b -> Seq(ver) }
    }
}

object Catalog {
  /** Target false-positive rate the bloom sidecar is sized for at its
    * pinned capacity (optimalNumOfBits(bloomItems, BloomFpp) bits).
    */
  private val BloomFpp = 0.01
  private val BucketRe = "bucket=(.+)".r

  /** One run's catalog contribution, for batched commits.
    * @param newLinks DataFrame(hash, line, refs_num) — first-occurrence
    *                 rows for hashes new to the catalog (and to earlier
    *                 runs of the same batch)
    * @param deltas   DataFrame(hash, delta) — occurrence counts for
    *                 already-known hashes
    */
  case class RunSpec(fileId: Long, filename: String, chunkBytes: Int,
                     algorithm: String, newLinks: DataFrame, deltas: DataFrame)

  /** Per-run metadata for [[Catalog.commitRunsPrelinked]] — [[RunSpec]]
    * without the per-run DataFrames (the links arrive combined, carrying
    * their own file_id column).
    */
  case class RunMeta(fileId: Long, filename: String, chunkBytes: Int,
                     algorithm: String)


  val filesSchema: StructType = StructType(Seq(
    StructField("file_id", LongType, nullable = false),
    StructField("filename", StringType, nullable = false),
    StructField("chunk_bytes", IntegerType, nullable = false),
    StructField("algorithm", StringType, nullable = false)))

  val linksSchema: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("file_id", LongType, nullable = false),
    StructField("line", LongType, nullable = false),
    StructField("refs_num", LongType, nullable = false)))
}
