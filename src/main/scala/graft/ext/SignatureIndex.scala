package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *     parameters, write;
  *   - probe: one groupBy-collect for the touched coordinates and the
  *     signed row count, a read of only those partitions, and the
  *     broadcast row guard;
  *   - fold: the streaming micro-batch skeleton (sign once into a
  *     clustered cache, coordinates, matches write, locked append).
  *
  * Compaction stays in [[IndexMaintenance.compactIndex]]; it copies the
  * sidecars verbatim, so their bytes are whatever the codec rendered at
  * build time.
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

  /** A fresh index: the signed rows, then the parameter sidecar. */
  def build[P](signed: DataFrame, path: String, layout: Layout[P],
               params: P): Unit = {
    write(clustered(signed, layout), path, layout, "overwrite")
    writeSidecar(signed.sparkSession, path, layout, params)
  }

  /** Extend an index with a batch signed by `sign` under the SIDECAR's
    * parameters, so an append can never mix regimes. Existing files are
    * never rewritten; cost ∝ the batch. Callers own id-uniqueness
    * across batches.
    */
  def append[P](ss: SparkSession, path: String, layout: Layout[P],
                op: String)(sign: P => DataFrame): Unit =
    WriterLock.withLock(ss, path, op) {
      write(clustered(sign(read(ss, path, layout)), layout), path, layout,
        "append")
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

  /** Does the index hold data files? An index built from an empty corpus
    * has the sidecar but no partition directories, and `read.parquet`
    * would fail schema inference on it.
    */
  def hasData(ss: SparkSession, path: String, layout: Layout[_]): Boolean = {
    val prefix = layout.partitionCols.headOption.fold("part-")(c => s"$c=")
    fsOf(ss, path).listStatus(new Path(path))
      .exists(_.getPath.getName.startsWith(prefix))
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

  /** ONE In-expression over the combined key of the partition columns
    * only — Catalyst evaluates it against partition values at
    * file-listing time, so unlisted directories are never opened.
    */
  private def pruned(ss: SparkSession, path: String, layout: Layout[_],
                     keys: Seq[Long]): DataFrame =
    ss.read.parquet(path).where(layout.partitionCols
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
    if (!hasData(ss, path, layout)) return None
    val (keys, rows) = touched(signed, layout, op)
    if (keys.isEmpty) None
    else Some(Probe(pruned(ss, path, layout, keys), rows, broadcastLimit))
  }

  // ---------------------------------------------------------------- fold

  /** One micro-batch of a fold kernel: the batch's signed rows (cached,
    * clustered by the partition columns) and the pruned index slice they
    * touch (None on the first batch, or when nothing is touched).
    */
  final class Batch private[SignatureIndex] (
      val signed: DataFrame, val cross: Option[Probe]) {
    private var held = List.empty[DataFrame]

    /** Persist a frame the matches plan reads several times; it is
      * freed after the matches write.
      */
    def persist(df: DataFrame): DataFrame = { held ::= df; df.persist() }

    private[SignatureIndex] def release(): Unit = held.foreach(_.unpersist())
  }

  /** The streaming fold skeleton: probe the index with a batch, write the
    * batch's matches, append the batch — signing it ONCE:
    *
    *  1. open the index (heal first), or take `defaults` when none exists;
    *  2. sign the batch into a cache clustered by the partition columns,
    *     so the append writes straight from it with no re-shuffle and
    *     one file per touched directory;
    *  3. action: the touched coordinates and row count (materializing the
    *     cache);
    *  4. action: the matches write — `matches` plans cross pairs against
    *     `Batch.cross` ∪ within-batch pairs; the write IS the plan's
    *     materialization;
    *  5. action: the append from the cache under the writer lock
    *     (reentrant on a stream's foreachBatch thread), plus the sidecar
    *     on the first batch.
    *
    * `op` names the kernel in the coordinate-cap message, the lock and
    * the `graft:<op>.coords/.matches/.append` job tags.
    */
  def fold[P](batch: DataFrame, indexPath: String, matchesPath: String,
              layout: Layout[P], defaults: P, op: String,
              broadcastLimit: Long)(sign: P => DataFrame)(
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
        if (existing.isEmpty || keys.isEmpty ||
          !hasData(ss, indexPath, layout)) None
        else Some(Probe(pruned(ss, indexPath, layout, keys), rows,
          broadcastLimit))
      val b = new Batch(signed, cross)
      try graft.Jobs.tagged(ss, s"$op.matches")(
        matches(b).write.mode("overwrite").parquet(matchesPath))
      finally b.release()
      WriterLock.withLock(ss, indexPath, s"$op.append") {
        graft.Jobs.tagged(ss, s"$op.append")(write(signed, indexPath, layout,
          if (existing.isDefined) "append" else "overwrite"))
        if (existing.isEmpty) writeSidecar(ss, indexPath, layout, params)
      }
    } finally signed.unpersist()
  }
}
