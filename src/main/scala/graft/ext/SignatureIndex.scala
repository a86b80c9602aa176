package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The persisted signature-index life cycle every index family shares —
  * MinHash and Hamming ([[DocDedup]]), [[Winnow]], [[Cdc]], and LSH,
  * IVF, PQ and IVF-PQ ([[Similarity]]). A family supplies its
  * [[Layout]] (sidecar name, sidecar codec, partition columns), its
  * signing projection, its join keys and its verify step; this object
  * is the only code that opens, writes, appends to and prunes an index:
  *
  *   - open: heal a crashed compaction ([[IndexMaintenance.ensureReadable]])
  *     BEFORE looking at the `_graft_<family>_meta` sidecar, so a fold or
  *     probe never mistakes an interrupted swap for a missing index;
  *   - write: the signed frame clustered by the partition columns with a
  *     pinned reducer count, then `partitionBy` — the small-files
  *     discipline of every build, append and fold;
  *   - append: under the [[WriterLock]], open, sign with the sidecar's
  *     parameters, publish;
  *   - probe: one groupBy-collect for the touched coordinates and the
  *     signed row count, a read of only those partitions, and the
  *     broadcast row guard;
  *   - fold: the streaming micro-batch skeleton (sign once into a
  *     clustered cache, coordinates, matches write, locked publish).
  *
  * Build, append and fold write a batch through one publish step. Given
  * a stream's maintenance window ([[IndexMaintenance.Window]]) it
  * decides first, by the stream's policy, whether the window fires;
  * if it does, the batch is published by a compaction of index ∪ batch
  * ([[IndexMaintenance.compactIndex]] with the batch), otherwise it is
  * written as new files — so the index is written once per batch.
  * Compaction copies the sidecars verbatim, so their bytes are whatever
  * the codec rendered at build time.
  */
private[graft] object SignatureIndex {

  /** A family's on-disk shape: the sidecar file (underscore-prefixed, so
    * parquet discovery ignores it), how its bytes map to the family's
    * parameters `P`, and the partition columns (empty for a flat index).
    */
  final case class Layout[P](sidecar: String, partitionCols: Seq[String],
                             parse: String => P, render: P => String)

  /** Layout whose sidecar is comma-separated integers (`16,8,8`, `64`). */
  def intsLayout(sidecar: String, partitionCols: String*): Layout[Seq[Int]] =
    Layout[Seq[Int]](sidecar, partitionCols,
      _.trim.split(",").map(_.toInt).toSeq, _.mkString(","))

  private def fsOf(ss: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(ss.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------- open

  /** Heal, then report whether the index's sidecar exists. */
  def exists(ss: SparkSession, path: String, layout: Layout[_]): Boolean = {
    IndexMaintenance.ensureReadable(ss, path)
    fsOf(ss, path).exists(new Path(path, layout.sidecar))
  }

  /** Heal, then the sidecar's parameters — failing loudly when the index
    * has none (probing or appending a path that was never built).
    */
  def read[P](ss: SparkSession, path: String, layout: Layout[P]): P = {
    IndexMaintenance.ensureReadable(ss, path)
    readSidecar(ss, path, layout)
  }

  /** Heal, then the sidecar's parameters, or None for a fresh path. */
  def open[P](ss: SparkSession, path: String, layout: Layout[P]): Option[P] =
    if (exists(ss, path, layout)) Some(readSidecar(ss, path, layout))
    else None

  private def readSidecar[P](ss: SparkSession, path: String,
                             layout: Layout[P]): P = {
    val in = fsOf(ss, path).open(new Path(path, layout.sidecar))
    try layout.parse(new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
    finally in.close()
  }

  def writeSidecar[P](ss: SparkSession, path: String, layout: Layout[P],
                      params: P): Unit = {
    val out = fsOf(ss, path).create(new Path(path, layout.sidecar), true)
    try out.write(layout.render(params).getBytes("UTF-8")) finally out.close()
  }

  // --------------------------------------------------------------- write

  /** Cluster by the partition columns before a partitioned write: each
    * partition directory's rows land in one task, so files ≈
    * max(directories, shuffle partitions) instead of tasks × directories.
    * The reducer count is pinned (not left to AQE): coalescing a small
    * write to ONE reducer would serialize every directory's file through
    * a single task — the file count is identical either way, so the pin
    * only buys back write parallelism. A flat layout is left as is.
    */
  private def clustered(signed: DataFrame, layout: Layout[_]): DataFrame =
    if (layout.partitionCols.isEmpty) signed
    else signed.repartition(
      signed.sparkSession.sessionState.conf.numShufflePartitions,
      layout.partitionCols.map(col): _*)

  /** Write an already-clustered frame into the layout. */
  private def write(clusteredFrame: DataFrame, path: String,
                    layout: Layout[_], mode: String): Unit = {
    val w = clusteredFrame.write.mode(mode)
    (if (layout.partitionCols.isEmpty) w
     else w.partitionBy(layout.partitionCols: _*)).parquet(path)
  }

  /** A fresh index: the signed rows, then the parameter sidecar, both
    * through [[publish]] (a stream's `window` can fire on its first
    * batch).
    */
  def build[P](signed: DataFrame, path: String, layout: Layout[P],
               params: P,
               window: Option[IndexMaintenance.Window] = None): Unit = {
    val rows = clustered(signed, layout)
    publish(rows, path, layout, None, Some(params), window)(
      touched(rows, layout, "build")._1.size)
  }

  /** Extend an index with a batch signed by `sign` under the SIDECAR's
    * parameters, so an append can never mix regimes. Without a firing
    * `window`, existing files are never rewritten; cost ∝ the batch.
    * Callers own id-uniqueness across batches.
    */
  def append[P](ss: SparkSession, path: String, layout: Layout[P],
                op: String,
                window: Option[IndexMaintenance.Window] = None)(
                sign: P => DataFrame): Unit =
    WriterLock.withLock(ss, path, op) {
      val rows = clustered(sign(read(ss, path, layout)), layout)
      publish(rows, path, layout, Some(op), None, window)(
        touched(rows, layout, op)._1.size)
    }

  /** The one step that makes a batch's clustered rows part of the index
    * at `path`; its caller holds the writer lock when the index exists.
    * `fresh` is the sidecar's parameters when there is no index yet.
    *
    * With a stream's `window`, [[IndexMaintenance.maybeCompact]] runs
    * BEFORE anything is written. Its cost check counts the index's data
    * files now plus `added`, the files this append would add: one per
    * touched partition coordinate. When the window fires on an existing
    * index, [[IndexMaintenance.compactIndex]] publishes the batch by
    * rewriting index ∪ batch, so `rows` should be cached; on a fresh
    * index the write already holds one file per partition, so it is
    * the compaction. Otherwise — no window, or one that does not
    * fire — the batch is written as new files, tagged `<op>.append`.
    * A fire line's `files_before` counts the files on disk before the
    * publish.
    */
  private def publish[P](rows: DataFrame, path: String, layout: Layout[P],
                         op: Option[String], fresh: Option[P],
                         window: Option[IndexMaintenance.Window])(
                         added: => Long): Unit = {
    val ss = rows.sparkSession
    def put(frame: DataFrame): Unit = {
      def w(): Unit = write(frame, path, layout,
        if (fresh.isDefined) "overwrite" else "append")
      op.fold(w())(o => graft.Jobs.tagged(ss, s"$o.append")(w()))
      fresh.foreach(writeSidecar(ss, path, layout, _))
    }
    val fired = window.exists(w => IndexMaintenance.maybeCompact(w.policy,
        w.batchId, path, IndexMaintenance.dataFileCount(ss, path) + added) {
      if (fresh.isEmpty)
        IndexMaintenance.compactIndex(ss, path, layout.partitionCols,
          Some(rows))
      else {
        val obs = new org.apache.spark.sql.Observation()
        put(rows.observe(obs, count(lit(1)).as("rows")))
        IndexMaintenance.CompactStats(0L,
          IndexMaintenance.dataFileCount(ss, path),
          obs.get("rows").asInstanceOf[Long])
      }
    })
    if (!fired) put(rows)
  }

  // --------------------------------------------------------------- probe

  /** An index read pruned to a signed batch's coordinates, plus that
    * batch's row count for the broadcast guard.
    */
  final case class Probe(index: DataFrame, rows: Long, broadcastLimit: Long) {
    /** The probe-side contract ENFORCED on rows, not coordinates: above
      * `broadcastLimit` rows the join falls back to a shuffle join (same
      * pruned scan, same result) instead of an oversized broadcast.
      */
    def guarded(df: DataFrame): DataFrame =
      if (rows <= broadcastLimit) broadcast(df) else df
  }

  /** The first data file under `path`, descending the partition
    * directories `partitionCols`; None when the index holds no data, as
    * one built from an empty corpus has the sidecar but no partition
    * directories.
    */
  private def dataFile(ss: SparkSession, path: String,
                       partitionCols: Seq[String]): Option[Path] = {
    val fs = fsOf(ss, path)
    def first(dir: Path, cols: List[String]): Option[Path] = cols match {
      case c :: rest => fs.listStatus(dir).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$c="))
        .flatMap(s => first(s.getPath, rest)).nextOption()
      case Nil => fs.listStatus(dir).iterator.map(_.getPath)
        .find(_.getName.startsWith("part-"))
    }
    first(new Path(path), partitionCols.toList)
  }

  /** ONE action: the distinct partition coordinates of `signed` (as
    * combined keys) and its row count. The coordinates are collected
    * driver-side to build the pruning filter — the signed side is the
    * small one by contract, and past 65536 coordinates it fails loudly
    * rather than build a megabyte predicate.
    */
  private def touched(signed: DataFrame, layout: Layout[_],
                      op: String): (Seq[Long], Long) = {
    val cols = layout.partitionCols
    val counts = graft.Jobs.tagged(signed.sparkSession, s"$op.coords")(
      signed.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n")).collect())
    require(counts.length <= 65536,
      s"$op: ${counts.length} distinct (${cols.mkString(", ")}) " +
        "coordinates exceed the small-probe-side contract (<= 65536); " +
        "batch the probe set or use the family's join form")
    (counts.map(r => cols.indices.foldLeft(0L)((key, i) =>
      key * KeyBase + r.getAs[Number](i).longValue)).toSeq,
      counts.map(_.getLong(cols.length)).sum)
  }

  /** Base of the combined coordinate key: every partition value is a
    * non-negative int below 2^31, so the key is lossless.
    */
  private val KeyBase = 2147483648L

  /** The data columns' schema of the parquet table at `path`, read on
    * the driver from the Spark schema one data file's footer carries;
    * None when the table holds no data file. The footer read stands in
    * for `read.parquet`'s schema inference, a Spark job. Partition
    * columns are not in it: a read still discovers them from the
    * directory names.
    */
  def dataSchema(ss: SparkSession, path: String,
                 partitionCols: Seq[String]): Option[StructType] =
    dataFile(ss, path, partitionCols).map { file =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(file,
        ss.sparkContext.hadoopConfiguration))
      try DataType.fromJson(in.getFooter.getFileMetaData
          .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .asInstanceOf[StructType]
      finally in.close()
    }

  /** The whole index, None when it holds no data, read with its
    * [[dataSchema]] (the id column's type is the caller's).
    */
  def scan(ss: SparkSession, path: String,
           layout: Layout[_]): Option[DataFrame] =
    dataSchema(ss, path, layout.partitionCols)
      .map(ss.read.schema(_).parquet(path))

  /** ONE In-expression over the combined key of the partition columns
    * only — Catalyst evaluates it against partition values at
    * file-listing time, so unlisted directories are never opened.
    */
  private def pruned(index: DataFrame, layout: Layout[_],
                     keys: Seq[Long]): DataFrame =
    index.where(layout.partitionCols
      .map(c => col(c).cast("long"))
      .reduce((key, c) => key * KeyBase + c)
      .isin(keys: _*))

  /** Open `signed`'s slice of the index at `path`: None when the index
    * has no data or `signed` touches no coordinate.
    */
  def probe(ss: SparkSession, path: String, layout: Layout[_], op: String,
            signed: DataFrame, broadcastLimit: Long): Option[Probe] = {
    require(broadcastLimit >= 1,
      s"broadcastLimit must be >= 1, got $broadcastLimit")
    scan(ss, path, layout).flatMap { index =>
      val (keys, rows) = touched(signed, layout, op)
      if (keys.isEmpty) None
      else Some(Probe(pruned(index, layout, keys), rows, broadcastLimit))
    }
  }

  // ---------------------------------------------------------------- fold

  /** One micro-batch of a fold kernel: the batch's signed rows (cached,
    * clustered by the partition columns) and the pruned index slice they
    * touch (None on the first batch, or when nothing is touched).
    */
  final case class Batch(signed: DataFrame, cross: Option[Probe])

  /** The streaming fold skeleton: probe the index with a batch, write the
    * batch's matches, publish the batch — signing it ONCE into a cache
    * clustered by the partition columns (the index opened, healing
    * first, or `defaults` when none exists), then three actions:
    *
    *  1. the touched coordinates and row count, which materialize the
    *     cache;
    *  2. the matches write — `matches` plans cross pairs against
    *     `Batch.cross` ∪ within-batch pairs; the write IS the plan's
    *     materialization;
    *  3. the [[publish]] straight from the cache, under the writer lock
    *     (reentrant on a stream's foreachBatch thread), plus the
    *     sidecar on the first batch: an append with no re-shuffle and
    *     one file per touched directory or, when the stream's `window`
    *     fires, a compaction of index ∪ batch that reads the batch from
    *     the cache — never an append and then a rewrite.
    *
    * `op` names the kernel in the coordinate-cap message, the lock and
    * the `graft:<op>.coords/.matches/.append` job tags; a compaction's
    * jobs are tagged `graft:compactIndex.rewrite/.verify`.
    */
  def fold[P](batch: DataFrame, indexPath: String, matchesPath: String,
              layout: Layout[P], defaults: P, op: String,
              broadcastLimit: Long,
              window: Option[IndexMaintenance.Window])(
              sign: P => DataFrame)(
              matches: Batch => DataFrame): Unit = {
    require(broadcastLimit >= 1,
      s"broadcastLimit must be >= 1, got $broadcastLimit")
    val ss = batch.sparkSession
    val existing = open(ss, indexPath, layout)
    val params = existing.getOrElse(defaults)
    val signed = clustered(sign(params), layout).persist()
    try {
      val (keys, rows) = touched(signed, layout, op)
      val cross =
        if (existing.isEmpty || keys.isEmpty) None
        else scan(ss, indexPath, layout).map(index =>
          Probe(pruned(index, layout, keys), rows, broadcastLimit))
      graft.Jobs.tagged(ss, s"$op.matches")(matches(Batch(signed, cross))
        .write.mode("overwrite").parquet(matchesPath))
      WriterLock.withLock(ss, indexPath, s"$op.append") {
        publish(signed, indexPath, layout, Some(op),
          if (existing.isEmpty) Some(params) else None, window)(keys.size)
      }
    } finally signed.unpersist()
  }
}
