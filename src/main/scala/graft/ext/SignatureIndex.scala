package graft.ext

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

import graft.operators.VersionStore

/** The persisted signature-index life cycle every index family shares —
  * MinHash and Hamming ([[DocDedup]]), [[Winnow]], [[Cdc]], and LSH,
  * IVF, PQ and IVF-PQ ([[Similarity]]). A family supplies its
  * [[Layout]] (sidecar name, sidecar codec, partition columns), its
  * signing projection, its join keys and its verify step; this object
  * is the only code that opens, writes, appends to and prunes an index.
  *
  * An index is a [[VersionStore]] — the catalog's commit mechanism —
  * plus the `_graft_<family>_meta` sidecar at its root, written once
  * before the first version. Version `v` holds the partition
  * directories (`band=3/sb=1/part-*`; the files themselves for a flat
  * layout) it wrote, and its MANIFEST maps every partition to the
  * versions holding its data. So:
  *
  *   - open: one root listing resolves the version once per call and
  *     shows the sidecar; data outside any version (the pre-versioned
  *     layout) fails loudly;
  *   - write: the signed frame clustered by the partition columns with a
  *     pinned reducer count, then `partitionBy`, into a staged version;
  *   - read: the manifest's files, named directly (one listing per
  *     partition version, footer schema, no tree descent); a probe reads
  *     only the partitions its batch touches, behind the row guard;
  *   - fold: the streaming micro-batch skeleton (sign once into a
  *     clustered cache, coordinates, matches write, locked publish).
  *
  * Build, append and fold write a batch through one publish step that
  * decides first, by a stream's maintenance window, whether the batch is
  * committed as a new version or published by a compaction of the
  * partitions it touches ([[IndexMaintenance.compactIndex]]) — so the
  * index is written once per batch.
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

  private def isData(st: FileStatus): Boolean =
    st.getPath.getName.startsWith("part-")

  /** Whether root `entries` hold a signature index's sidecar. */
  def isIndex(entries: Seq[FileStatus]): Boolean = entries.exists { e =>
    val n = e.getPath.getName
    n.startsWith("_graft_") && n.endsWith("_meta") && n != "_graft_catalog_meta"
  }

  // ------------------------------------------------------------ versions

  /** One partition's data in one version: its manifest key
    * (`band=3/sb=1`; "" for a flat layout), version and data files.
    */
  final case class Part(key: String, version: Long, files: Seq[FileStatus])

  /** The index at `path` as one call sees it: a root listing taken once
    * (or the caller's), and the newest committed version and its
    * manifest, resolved from that listing on first use.
    */
  final class Version(ss: SparkSession, val path: String,
                      listing: Option[Seq[FileStatus]] = None) {
    val store = new VersionStore(fsOf(ss, path), path, "index")
    private val entries = listing.getOrElse(store.entries())
    require(entries.forall { e =>
      val n = e.getPath.getName
      n.startsWith("_") || n.startsWith(".") || VersionStore.VersionRe.matches(n)
    }, s"$path holds index data outside any committed version (the " +
      "layout before versioned indexes); rebuild the index")

    lazy val v: Long = store.committed(entries).nextOption().getOrElse(0L)
    lazy val manifest: Map[String, Seq[Long]] =
      store.manifest(v).getOrElse(Map.empty)

    /** Whether anything exists at `path`. */
    def exists: Boolean = entries.nonEmpty

    /** The sidecar's parameters, or None for a path never built. */
    def params[P](layout: Layout[P]): Option[P] =
      if (entries.exists(_.getPath.getName == layout.sidecar))
        Some(readSidecar(ss, path, layout))
      else None

    private val listed = scala.collection.mutable.Map.empty[(String, Long), Part]

    /** The data of `keys` present in the manifest: one listing per
      * partition version, made once per call (a committed version never
      * changes).
      */
    def parts(keys: Iterable[String]): Seq[Part] =
      for (k <- keys.toSeq; ver <- manifest.getOrElse(k, Nil))
        yield listed.getOrElseUpdate((k, ver), Part(k, ver,
          store.fs.listStatus(dir(store.versionDir(ver), k)).toSeq.filter(isData)))

    /** The data of every partition the manifest references. */
    lazy val all: Seq[Part] = parts(manifest.keys)

    /** Data files of every partition the manifest references. */
    def dataFiles: Long = all.map(_.files.size.toLong).sum

    /** Commit version v+1: `write` fills its staging directory with
      * partition directories in the layout of `cols`, `check` sees what
      * was written before anything becomes visible (a throw discards the
      * staging directory), and the manifest maps each partition written
      * to v+1 on top of `base` (the current manifest by default).
      * Returns what was written.
      */
    def commit(cols: Seq[String], base: Map[String, Seq[Long]] = manifest,
               check: Seq[Part] => Unit = _ => ())(
               write: Path => Unit): Seq[Part] = {
      var written = Seq.empty[Part]
      store.publish(v + 1) { tmp =>
        write(tmp)
        written = keysUnder(store.fs, tmp, cols).map(k =>
          Part(k, v + 1, store.fs.listStatus(dir(tmp, k)).toSeq.filter(isData)))
        try check(written)
        catch { case e: Throwable => store.fs.delete(tmp, true); throw e }
        base ++ written.map(p => p.key -> (base.getOrElse(p.key, Nil) :+ (v + 1)))
      }
      written
    }
  }

  /** Directory of partition `key` under a version directory. */
  private def dir(version: Path, key: String): Path =
    if (key.isEmpty) version else new Path(version, key)

  /** The partition keys under staged version `dir`: one listing per
    * directory above the partitions' own; a flat layout's one key "" when
    * `dir` holds data.
    */
  private def keysUnder(fs: FileSystem, dir: Path, cols: Seq[String]): Seq[String] =
    cols match {
      case Seq() => if (fs.listStatus(dir).exists(isData)) Seq("") else Nil
      case c +: rest => fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(s"$c=")).flatMap { p =>
          if (rest.isEmpty) Seq(p.getName)
          else keysUnder(fs, p, rest).map(k => s"${p.getName}/$k")
        }
    }

  // ---------------------------------------------------------------- open

  /** Whether the index's sidecar exists. */
  def exists(ss: SparkSession, path: String, layout: Layout[_]): Boolean =
    new Version(ss, path).params(layout).isDefined

  /** The sidecar's parameters — failing loudly when the index has none
    * (probing or appending a path that was never built).
    */
  def read[P](ss: SparkSession, path: String, layout: Layout[P]): P =
    new Version(ss, path).params(layout)
      .getOrElse(readSidecar(ss, path, layout))

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

  /** A fresh index: the sidecar, then the signed rows through [[publish]]
    * (a stream's `window` can fire on its first batch). On a path that
    * holds an index, the new version replaces it.
    */
  def build[P](signed: DataFrame, path: String, layout: Layout[P],
               params: P,
               window: Option[IndexMaintenance.Window] = None): Unit = {
    val rows = clustered(signed, layout)
    publish(new Version(rows.sparkSession, path), rows, layout, None,
      Some(params), window)(touched(rows, layout.partitionCols, "build")._1)
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
      val ix = new Version(ss, path)
      val rows = clustered(sign(readSidecar(ss, path, layout)), layout)
      publish(ix, rows, layout, Some(op), None, window)(
        touched(rows, layout.partitionCols, op)._1)
    }

  /** The one step that makes a batch's clustered rows part of index
    * `ix`; its caller holds the writer lock when the index exists.
    * `fresh` is the sidecar's parameters when there is no index yet.
    * `keys` are the batch's partitions, computed only when needed.
    *
    * With a stream's `window`, [[IndexMaintenance.maybeCompact]] runs
    * BEFORE anything is written. Its cost check counts the index's data
    * files now plus the files this append would add: one per touched
    * partition. When the window fires on an existing index,
    * [[IndexMaintenance.compactLocked]] publishes the batch by
    * rewriting the partitions it touches, so `rows` should be cached;
    * on a fresh index the write already holds one file per partition, so
    * it is the compaction. Otherwise — no window, or one that does not
    * fire — the batch is committed as a new version, its write tagged
    * `<op>.append`.
    */
  private def publish[P](ix: Version, rows: DataFrame, layout: Layout[P],
                         op: Option[String], fresh: Option[P],
                         window: Option[IndexMaintenance.Window])(
                         keys: => Seq[String]): Unit = {
    val ss = rows.sparkSession
    lazy val batchKeys = keys
    def put(frame: DataFrame): Seq[Part] = {
      fresh.foreach(writeSidecar(ss, ix.path, layout, _))
      val written = ix.commit(layout.partitionCols,
          if (fresh.isDefined) Map.empty else ix.manifest) { tmp =>
        val w = frame.write
        def run(): Unit = (if (layout.partitionCols.isEmpty) w
          else w.partitionBy(layout.partitionCols: _*)).parquet(tmp.toString)
        op.fold(run())(o => graft.Jobs.tagged(ss, s"$o.append")(run()))
      }
      // a rebuild leaves the versions it replaced unreferenced
      if (fresh.isDefined && ix.v > 0) ix.store.vacuum(1, 0L, 0L)
      written
    }
    val fired = window.exists(w => IndexMaintenance.maybeCompact(w.policy,
        w.batchId, ix.path, ix.dataFiles + batchKeys.size) {
      if (fresh.isEmpty)
        IndexMaintenance.compactLocked(ss, ix, layout.partitionCols,
          Some((rows, batchKeys)))
      else {
        val obs = new org.apache.spark.sql.Observation()
        val written = put(rows.observe(obs, count(lit(1)).as("rows")))
        IndexMaintenance.CompactStats(0L, written.map(_.files.size.toLong).sum,
          obs.get("rows").asInstanceOf[Long])
      }
    })
    if (!fired) put(rows)
  }

  // ---------------------------------------------------------------- read

  /** A read of exactly the files of `parts`, with data schema `schema`
    * and partition columns `cols` (integers, as partition discovery
    * types them) valued from each part's key. The file index is handed
    * the files already listed, so the read lists nothing and runs no
    * job to resolve.
    */
  private def relation(ss: SparkSession, cols: Seq[String],
                       parts: Seq[Part], schema: StructType): DataFrame = {
    val dirs = parts.filter(_.files.nonEmpty)
      .map(p => p -> p.files.head.getPath.getParent)
    val listed = dirs.map { case (p, d) => d -> p.files.toArray }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = listed.get(p)
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val partSchema = StructType(cols.map(StructField(_, IntegerType)))
    val spec = PartitionSpec(partSchema,
      if (cols.isEmpty) Nil
      else dirs.map { case (p, d) => PartitionPath(InternalRow.fromSeq(
        p.key.split("/").toSeq.map(_.split("=", 2)(1).toInt)), d) })
    val index = new InMemoryFileIndex(ss, dirs.map(_._2), Map.empty,
      Some(schema), cache, Some(spec), None)
    ss.baseRelationToDataFrame(HadoopFsRelation(index, partSchema, schema,
      None, new ParquetFileFormat, Map.empty)(ss))
  }

  /** `parts` read with the data schema that the footer of their first
    * file — or, when they hold none, of the first file of `schemaFrom` —
    * carries, read on the driver in place of `read.parquet`'s schema
    * inference, a Spark job; None when neither holds a file.
    */
  private[ext] def readParts(ss: SparkSession, cols: Seq[String],
                             parts: Seq[Part], schemaFrom: => Seq[Part] = Nil)
      : Option[DataFrame] =
    parts.iterator.flatMap(_.files).nextOption()
      .orElse(schemaFrom.iterator.flatMap(_.files).nextOption()).map { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromStatus(f,
          ss.sparkContext.hadoopConfiguration))
        val schema = try in.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY) finally in.close()
        relation(ss, cols, parts,
          DataType.fromJson(schema).asInstanceOf[StructType])
      }

  /** The whole index, None when it holds no data. */
  def scan(ss: SparkSession, path: String,
           layout: Layout[_]): Option[DataFrame] = {
    readParts(ss, layout.partitionCols, new Version(ss, path).all)
  }

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

  /** ONE action: the distinct partition coordinates of `signed`, as
    * manifest keys, and its row count. The coordinates are collected
    * driver-side to name the partitions a probe reads — the signed side
    * is the small one by contract, and past 65536 coordinates it fails
    * loudly rather than read an unbounded slice.
    */
  private[ext] def touched(signed: DataFrame, cols: Seq[String],
                           op: String): (Seq[String], Long) = {
    val counts = graft.Jobs.tagged(signed.sparkSession, s"$op.coords")(
      signed.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n")).collect())
    require(counts.length <= 65536,
      s"$op: ${counts.length} distinct (${cols.mkString(", ")}) " +
        "coordinates exceed the small-probe-side contract (<= 65536); " +
        "batch the probe set or use the family's join form")
    (counts.map(r => cols.indices.map(i => s"${cols(i)}=${r.get(i)}")
      .mkString("/")).toSeq,
      counts.map(_.getLong(cols.length)).sum)
  }

  /** The index's partitions `keys`, read by name. A key the index does
    * not hold reads nothing; the schema then comes from any partition.
    */
  private def slice(ss: SparkSession, ix: Version, layout: Layout[_],
                    keys: Seq[String]): DataFrame =
    readParts(ss, layout.partitionCols, ix.parts(keys),
      ix.parts(ix.manifest.keys.take(1))).get

  /** Open `signed`'s slice of the index at `path`: None when the index
    * has no data or `signed` touches no coordinate.
    */
  def probe(ss: SparkSession, path: String, layout: Layout[_], op: String,
            signed: DataFrame, broadcastLimit: Long): Option[Probe] = {
    require(broadcastLimit >= 1,
      s"broadcastLimit must be >= 1, got $broadcastLimit")
    val ix = new Version(ss, path)
    if (ix.manifest.isEmpty) None
    else {
      val (keys, rows) = touched(signed, layout.partitionCols, op)
      if (keys.isEmpty) None
      else Some(Probe(slice(ss, ix, layout, keys), rows, broadcastLimit))
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
    * clustered by the partition columns (under the sidecar's parameters,
    * or `defaults` when no index exists), then three actions:
    *
    *  1. the touched coordinates and row count, which materialize the
    *     cache;
    *  2. the matches write — `matches` plans cross pairs against
    *     `Batch.cross` ∪ within-batch pairs; the write IS the plan's
    *     materialization;
    *  3. the [[publish]] straight from the cache, under the writer lock
    *     (reentrant on a stream's foreachBatch thread), plus the
    *     sidecar on the first batch: a new version with no re-shuffle
    *     and one file per touched directory or, when the stream's
    *     `window` fires, a compaction that reads the batch from the
    *     cache — never an append and then a rewrite.
    *
    * The index is resolved once, before the probe; the publish refuses,
    * writing nothing, if another writer committed since. `op` names the
    * kernel in the coordinate-cap message, the lock and the
    * `graft:<op>.coords/.matches/.append` job tags; a compaction's
    * rewrite is tagged `graft:compactIndex.rewrite`.
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
    val ix = new Version(ss, indexPath)
    val existing = ix.params(layout)
    val params = existing.getOrElse(defaults)
    val signed = clustered(sign(params), layout).persist()
    try {
      val (keys, rows) = touched(signed, layout.partitionCols, op)
      val cross =
        if (existing.isEmpty || keys.isEmpty || ix.manifest.isEmpty) None
        else Some(Probe(slice(ss, ix, layout, keys), rows, broadcastLimit))
      graft.Jobs.tagged(ss, s"$op.matches")(matches(Batch(signed, cross))
        .write.mode("overwrite").parquet(matchesPath))
      WriterLock.withLock(ss, indexPath, s"$op.append") {
        publish(ix, signed, layout, Some(op),
          if (existing.isEmpty) Some(params) else None, window)(keys)
      }
    } finally signed.unpersist()
  }
}
