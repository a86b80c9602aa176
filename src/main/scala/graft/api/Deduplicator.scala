package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.Hashing
import graft.operators.{Catalog, Dedup, Recovery}
import graft.sources.{BinFormat, ChunkSource, OrderedBinarySink}

/** Options of one dedup run — mirrors the reference's option surface
  * (lib/deduplicator.ex:22-27) option for option:
  *
  *   - `bytes`        → [[chunkBytes]] (reference prod default 4, test 8;
  *                      we default 64 — the 4-byte default makes per-row
  *                      overhead dominate at scale, SURVEY §7.4.5; 4 remains
  *                      fully supported for parity tests)
  *   - `hash` (and its `:hash_algorimth` typo alias, deduplicator.ex:26;
  *     unknown names fall back to the default, hash.ex:26-27)
  *                    → [[algorithm]] via Hashing.resolve
  *   - `output`       → [[outputName]] (default: generated, ≙ P5)
  *   - `compress`     → [[compress]] (zip the parity `.bin`, delete the
  *                      uncompressed original — files.ex:64-94; the Parquet
  *                      form is always zstd-compressed instead)
  *   - `chunk_amount` (flush batch size, deduplicator.ex:24) has no batch
  *     analog — a Spark run is one job; its streaming analog is the
  *     micro-batch trigger (graft.streaming).
  */
case class DedupOptions(
    chunkBytes: Int = 64,
    algorithm: String = "sha",
    outputName: Option[String] = None,
    compress: Boolean = false,
    binParity: Boolean = false)

case class DedupResult(outputName: String, fileId: Long,
    chunks: Long, pointers: Long)

/** User-facing API with the reference's entry points
  * (`deduplicate_file/2` at deduplicator.ex:22, `recovery_file/3` at
  * deduplicator.ex:149, `chunk_repetition/0` analytics), Spark-native.
  *
  * Layout under `workDir`:
  *   catalog/  — versioned files + hash_links tables ([[Catalog]])
  *   encoded/<name>.parquet — encoded runs (primary representation)
  *   encoded/<name>         — optional byte-exact `.bin` parity file
  *
  * Failure ordering: encoded data is always written BEFORE the catalog
  * commit — a crash between the two leaves orphaned data files (harmless,
  * invisible to the catalog) rather than committed links pointing at a
  * run with no data.
  */
class Deduplicator(spark: SparkSession, workDir: String,
                   bucketChars: Int = 2, bloomItems: Long = 1000000L) {

  // Bucket width sizes the catalog's physical layout to the deployment
  // (16^bucketChars buckets; every commit pays a fixed per-bucket-dir
  // write cost — see Catalog's scaladoc), bloomItems its probe-prefilter
  // sketch (0 disables). Both persisted at first commit; reopening an
  // existing store adopts its pinned knobs.
  val catalog = new Catalog(spark, s"$workDir/catalog", bucketChars, bloomItems)
  private def parquetPath(name: String) = s"$workDir/encoded/$name.parquet"
  private def binPath(name: String) = s"$workDir/encoded/$name"

  // (catalog version, next file_id at that version) — refreshed after
  // every commit this instance makes. catalog.nextFileId is a Spark job
  // over the files table; a streaming session runs one dedup batch per
  // micro-batch forever, and this instance is the catalog's single
  // writer there, so the id only needs re-reading when the version
  // moved under us (checked against an FS listing, not a job).
  private var fidCache: Option[(Long, Long)] = None

  /** Dedupe one file: chunk → hash → probe → encode → write encoded table
    * → commit catalog last (SURVEY §3.1's translation, 2–3 Spark jobs).
    */
  def deduplicateFile(input: String, opts: DedupOptions = DedupOptions()): DedupResult =
    deduplicateBatch(Seq(input), opts).head

  /** Dedupe a batch of files against (and into) the catalog with ONE
    * distributed plan and ONE catalog commit — the streaming micro-batch
    * path. All files are scanned together; the first occurrence of each
    * hash across the whole batch is the minimum (file-index, pos) under
    * the caller's input order, so in-batch cross-file duplicates become
    * pointers exactly as they would across sequential per-file runs —
    * but a 10k-file batch costs one job chain, not 10k sequential ones.
    * Encoded outputs land as one partitioned write renamed into the
    * per-file directories.
    */
  def deduplicateBatch(inputs: Seq[String],
                       opts: DedupOptions = DedupOptions(),
                       outputNames: Seq[String] = Nil,
                       computeCounts: Boolean = true): Seq[DedupResult] = {
    if (inputs.isEmpty) return Seq.empty
    require(outputNames.isEmpty || outputNames.size == inputs.size,
      s"outputNames (${outputNames.size}) must match inputs (${inputs.size})")
    require(inputs.distinct.size == inputs.size,
      "duplicate input paths in one batch would collide on output names")
    val algo = Hashing.resolve(opts.algorithm)
    val fidBase = fidCache match {
      case Some((v, fid)) if v == catalog.currentVersion => fid
      case _ => catalog.nextFileId
    }
    val statuses = inputs.map(requireSingleFile)
    // Raw-string distinctness above is not enough: two aliases of one
    // file ('dir//a' vs 'dir/a', relative vs absolute) resolve to the
    // SAME qualified path, and duplicate keys in the pathToIdx join
    // below would double-count every chunk (corrupting occ/refs_num)
    // and scan huge files twice.
    require(statuses.map(_.getPath.toString).distinct.size == inputs.size,
      "two inputs resolve to the same file: " +
        statuses.map(_.getPath.toString).diff(
          statuses.map(_.getPath.toString).distinct).distinct.mkString(", "))
    val names = inputs.zipWithIndex.map { case (input, i) =>
      if (outputNames.nonEmpty) outputNames(i)
      else if (inputs.size == 1) opts.outputName.getOrElse(generateName(input))
      else opts.outputName.map(n => s"$n-$i").getOrElse(generateName(input))
    }
    // e.g. same basename from two dirs: the second rename would destroy
    // the first file's encoded output and corrupt cross-file pointers
    require(names.distinct.size == names.size,
      s"duplicate output names in one batch: ${names.diff(names.distinct).distinct}")
    // A committed name's encoded file would be overwritten below while
    // the catalog's links still point into it: every later recovery
    // through those links would read the new bytes. Refused before
    // anything is written. An uncommitted orphan (a crash between the
    // data write and the commit) is not held and is overwritten — the
    // crash-retry path.
    val held = committedNames(names)
    require(held.isEmpty,
      s"output name(s) already committed to the catalog: ${held.mkString(", ")}")

    // ---- one scan of the whole batch → (fidx, pos, chunk). Small files
    // share one binaryFile load; each huge file keeps its own ranged
    // splittable scan (no 2 GB ceiling, no one-task-per-file skew) ----
    val chunked = {
      val pathToIdx = spark.createDataFrame(
        statuses.map(_.getPath.toString).zipWithIndex)
        .toDF("file", "fidx")
      val (huge, small) = statuses.partition(
        _.getLen >= ChunkSource.HugeFileThreshold)
      val parts =
        (if (small.isEmpty) Nil
         else Seq(ChunkSource.chunksOfFiles(spark,
           small.map(_.getPath.toString), opts.chunkBytes))) ++
          huge.map(st => ChunkSource.chunksOfHugeFile(spark,
            st.getPath.toString, st.getLen, opts.chunkBytes))
      parts.reduce(_ unionByName _)
        .join(broadcast(pathToIdx), "file")
        .select("fidx", "pos", "chunk")
    }

    // ---- one probe: hash → batch-global first occurrence → catalog ----
    val hashed = chunked.withColumn("hash", algo.digest(col("chunk")))
    val stats = hashed.groupBy("hash")
      .agg(min(struct(col("fidx"), col("pos"))).as("first"),
        count(lit(1)).as("occ"))
    val catLinks = catalog.links().select(col("hash"),
      col("line").as("cat_line"), col("file_id").as("cat_file_id"))
    // Bloom prefilter (when the catalog maintains its sidecar): rows
    // whose hash is certainly novel — no false negatives at any fill
    // level — skip the catalog join entirely and take the no-match
    // columns directly; only the possibly-seen slice (~fpp of the new
    // plus all true repeats) pays the join shuffle. At 100 TB the
    // common case is a mostly-novel batch, so this turns the probe's
    // dominant cost from "shuffle everything" into "shuffle the few".
    // A saturated or absent filter degrades to the plain join — the
    // result is identical either way, only the split ratio moves.
    val catJoined = catalog.seenBloom() match {
      case Some(bloom) =>
        graft.functions.VecExpressions.register(spark) // graft_bloom_might_contain
        val mc = graft.functions.BloomMembership.mightContain(bloom, col("hash"))
        hashed.where(mc).join(catLinks, Seq("hash"), "left_outer")
          .unionByName(hashed.where(!mc)
            .withColumn("cat_line", lit(null).cast("long"))
            .withColumn("cat_file_id", lit(null).cast("long")))
      case None =>
        hashed.join(catLinks, Seq("hash"), "left_outer")
    }
    val probed = catJoined
      .join(stats, Seq("hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cpPinned: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    try {
      val isPtr = col("cat_line").isNotNull ||
        struct(col("fidx"), col("pos")) > col("first")
      // Pointer target: the catalog row if the hash predates the batch;
      // else the batch-first occurrence — cross-FILE references carry the
      // (pre-assigned) file_id of the owning run, in-file ones stay null.
      val refLine = when(col("cat_line").isNotNull, col("cat_line"))
        .otherwise(col("first.pos"))
      val refFile = when(col("cat_line").isNotNull, col("cat_file_id"))
        .otherwise(when(col("first.fidx") =!= col("fidx"),
          col("first.fidx").cast("long") + fidBase))
      val encodedAll = probed.select(
        col("fidx"), col("pos"),
        isPtr.as("is_pointer"),
        when(isPtr, lit(null).cast("binary")).otherwise(col("chunk")).as("chunk"),
        when(isPtr, refLine).otherwise(lit(null).cast("long")).as("ref_line"),
        when(isPtr, refFile).otherwise(lit(null).cast("long")).as("cat_file_id"))

      // ---- data first: one partitioned write, renamed per file ----
      // Stage tags: the jobs of each stage of a dedup run, keyed by
      // chunk width, carry the description `graft:dedup.w<W>.<stage>`
      // (BENCH_LOCAL.json's gate_stages sums them). This first action
      // FUSES scan + hash + probe join + zstd write (one pass is the
      // pipeline's shape); the bench's attrib_* probes split the fused
      // stage separately.
      val w = opts.chunkBytes
      val staging = s"$workDir/encoded/.staging-${java.util.UUID.randomUUID()}"
      // Single-file counts ride the write action as observed metrics
      // (guide §1.2 — don't run a separate job for numbers a running
      // job can report): with one fidx the per-file split IS the global
      // aggregate. Multi-file batches that want counts still pay the
      // grouped collect below; streaming callers that discard the
      // DedupResults skip it entirely (computeCounts = false).
      val countsObs =
        if (computeCounts && inputs.size == 1)
          Some(new org.apache.spark.sql.Observation())
        else None
      val encodedOut = countsObs match {
        case Some(o) => encodedAll.observe(o, count(lit(1)).as("n"),
          coalesce(sum(when(col("is_pointer"), 1L).otherwise(0L)),
            lit(0L)).as("ptrs"))
        case None => encodedAll
      }
      graft.Jobs.tagged(spark, s"dedup.w$w.encoded_write")(
        encodedOut.write.option("compression", "zstd")
          .partitionBy("fidx").parquet(staging))
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val emptyEncoded = Dedup.encode(
        Dedup.probe(hashed.where(lit(false)).select("pos", "chunk"),
          algo, catalog.links()))
      names.zipWithIndex.foreach { case (name, i) =>
        val src = new org.apache.hadoop.fs.Path(staging, s"fidx=$i")
        val dst = new org.apache.hadoop.fs.Path(parquetPath(name))
        if (fs.exists(dst)) fs.delete(dst, true)
        if (fs.exists(src)) {
          // Hadoop rename signals failure by RETURN VALUE; ignoring it
          // would delete dst above, drop the staged data below, and
          // still commit the catalog — silent data loss.
          require(fs.rename(src, dst), s"rename $src -> $dst failed")
        } else {
          // Only a genuinely empty input may produce no staged
          // partition; anything else means its chunks were lost.
          require(statuses(i).getLen == 0,
            s"no staged output for non-empty input ${inputs(i)}")
          emptyEncoded.write.mode("overwrite").parquet(dst.toString)
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      if (opts.binParity) names.zipWithIndex.foreach { case (name, i) =>
        BinFormat.write(
          encodedAll.where(col("fidx") === i).drop("fidx"), binPath(name))
        if (opts.compress) { // files.ex:64-94 + deduplicator.ex:46-50
          BinFormat.zipFile(binPath(name), binPath(name) + ".zip",
            spark.sparkContext.hadoopConfiguration)
          BinFormat.deleteFile(binPath(name),
            spark.sparkContext.hadoopConfiguration)
        }
      }

      // ---- catalog contributions (small) + per-file counts, then the
      //      single commit, LAST. The checkpoint blocks are freed after
      //      the commit (registry delta — localCheckpoint pins internal
      //      RDDs): a streaming session runs this once per micro-batch,
      //      and leaked per-run blocks would accumulate forever. ----
      val beforeCp = spark.sparkContext.getPersistentRDDs.keySet
      // ONE checkpointed pass for both catalog contributions: new links
      // and deltas are complementary slices of the same batch-first-
      // occurrence rows, so materializing them separately would run the
      // probe lineage twice (per micro-batch, forever, in streaming).
      val contrib = graft.Jobs.tagged(spark, s"dedup.w$w.contrib_checkpoint")(
        probed
          .where(struct(col("fidx"), col("pos")) === col("first"))
          .select(col("fidx"), col("hash"), col("pos"), col("occ"),
            col("cat_line").isNotNull.as("known"))
          .localCheckpoint())
      val newLinksAll = contrib.where(!col("known"))
        .select(col("fidx"), col("hash"), col("pos").as("line"),
          col("occ").as("refs_num"))
      val deltasAll = contrib.where(col("known"))
        .select(col("hash"), col("occ").as("delta"))
      cpPinned =
        spark.sparkContext.getPersistentRDDs
          .filterNot(kv => beforeCp(kv._1)).values.toSeq
      val countRows: Map[Int, (Long, Long)] = countsObs match {
        case Some(o) =>
          val r = o.get
          Map(0 -> (r("n").asInstanceOf[Long], r("ptrs").asInstanceOf[Long]))
        case None if computeCounts =>
          graft.Jobs.tagged(spark, s"dedup.w$w.counts")(
            probed.groupBy("fidx")
              .agg(count(lit(1)).as("n"),
                sum(when(isPtr, 1L).otherwise(0L)).as("ptrs"))
              .collect())
            .map(r => r.getAs[Int]("fidx") ->
              (r.getAs[Long]("n"), r.getAs[Long]("ptrs"))).toMap
        case None => Map.empty
      }
      // Commit the batch-wide links AS ONE DataFrame (file_id = fidx +
      // fidBase), never split per file and re-unioned: an N-way union
      // here makes the commit plan O(files × partitions) tasks — ~3× the
      // whole run's cost at 70 files, catastrophic at the 10k-file
      // micro-batch this method documents. refs_num of in-batch new
      // links already counts the whole batch, so catalog deltas exist
      // only for pre-batch hashes.
      // The PRECHECKED commit path: both contributions are projections
      // of the one checkpointed contrib pass, newLinks hashes carry
      // cat_line IS NULL (not in the catalog version this plan probed —
      // this instance is the single writer between probe and commit,
      // the contract commitRuns already documents), and deltas are one
      // row per hash by construction (contrib is per-hash). The public
      // path's re-checkpoints and defensive anti-join would re-pay two
      // jobs per micro-batch for invariants this plan establishes.
      graft.Jobs.tagged(spark, s"dedup.w$w.commit")(
        catalog.commitRunsPrechecked(
          names.zipWithIndex.map { case (name, i) =>
            Catalog.RunMeta(fidBase + i, name, opts.chunkBytes, algo.name)
          },
          newLinksAll.select(col("hash"),
            (col("fidx").cast("long") + fidBase).as("file_id"),
            col("line"), col("refs_num")),
          deltasAll))
      fidCache = Some((catalog.currentVersion, fidBase + inputs.size))
      names.zipWithIndex.map { case (name, i) =>
        val (n, p) = countRows.getOrElse(i, (0L, 0L))
        DedupResult(name, fidBase + i, n, p)
      }
    } finally {
      probed.unpersist()
      cpPinned.foreach(_.unpersist(false))
    }
  }

  /** The names among `names` the catalog already holds. A run's
    * encoded file is written before its commit, so only a name whose
    * encoded file exists can be held: the catalog is read only then,
    * and the common path runs no job.
    */
  private[graft] def committedNames(names: Seq[String]): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = names.filter(n =>
      fs.exists(new org.apache.hadoop.fs.Path(parquetPath(n))))
    if (present.isEmpty) Set.empty
    else catalog.files().where(col("filename").isin(present: _*))
      .select("filename").collect().map(_.getString(0)).toSet
  }

  /** An encoded run, read with the schema [[deduplicateBatch]] writes. */
  private def readEncoded(name: String): DataFrame =
    spark.read.schema(Recovery.encodedSchema).parquet(parquetPath(name))

  /** Recover a deduplicated run to its original bytes at `outputPath`. */
  def recoverFile(encodedName: String, outputPath: String): Unit = {
    // ONE files collect: this run's id and the id → name map
    val files = catalog.files().select("file_id", "filename").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val fids = files.collect { case (id, `encodedName`) => id }
    require(fids.nonEmpty, s"unknown encoded file: $encodedName") // files.ex:25-26
    require(fids.length == 1,
      s"recoverFile: '$encodedName' has ${fids.length} catalog rows, need 1")
    val names = files.toMap
    val r = Recovery.resolveRanged(readEncoded(encodedName), fids.head,
      id => readEncoded(names(id)))
    OrderedBinarySink.write(r.chunks, "pos", "chunk", outputPath,
      r.minPos, r.maxPos)
  }

  /** Recover original bytes directly from a tagged `.bin` file — the
    * reference's recovery entry point takes the tagged file itself
    * (deduplicator.ex:149 `recovery_file/3`), so a user holding only a
    * reference-produced `.bin` can recover through this API without the
    * Parquet twin or a catalog. Sound because `.bin` pointers are
    * in-file line numbers BY FORMAT ([[graft.sources.BinFormat.write]]
    * refuses cross-file pointers), making the file self-contained.
    * A `.zip` input (compress=true output) is unzipped first, like the
    * reference's recovery flow (files.ex:74-86).
    */
  def recoverBinFile(binFile: String, chunkBytes: Int,
                     outputPath: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val (path, cleanup) =
      if (binFile.endsWith(".zip")) {
        val tmp = binFile.stripSuffix(".zip") +
          s".unzip-${java.util.UUID.randomUUID.toString.take(8)}"
        BinFormat.unzipFile(binFile, tmp, hconf)
        (tmp, () => { BinFormat.deleteFile(tmp, hconf); () })
      } else (binFile, () => ())
    try {
      // localCheckpoint: Recovery evaluates its input four times (the
      // narrow id/range pass, then the raws, pointers and targets
      // branches); without pinning, each evaluation re-reads and
      // re-parses the whole tagged file.
      val enc = BinFormat.read(spark, path, chunkBytes)
        .withColumn("cat_file_id", lit(null).cast("long"))
        .localCheckpoint()
      val r = Recovery.resolveRanged(enc, 0L, _ => enc)
      OrderedBinarySink.write(r.chunks, "pos", "chunk", outputPath,
        r.minPos, r.maxPos)
    } finally cleanup()
  }

  /** Duplicate-frequency report (test/deduplicator_test.exs:323-330). */
  def chunkRepetition(): DataFrame = catalog.chunkRepetition()

  /** A run's `pos` column is per-file; a glob matching several files
    * would silently collide positions (ADVICE round-3 item). Multi-file
    * corpora go through [[deduplicateBatch]] / graft.streaming instead.
    * Returns the resolved FileStatus so the scan needn't re-glob.
    */
  private def requireSingleFile(input: String): org.apache.hadoop.fs.FileStatus = {
    val p = new org.apache.hadoop.fs.Path(input)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    require(matches.size == 1 && matches.head.isFile,
      s"deduplicateFile needs exactly one file; '$input' matches " +
        s"${matches.size} path(s) — use deduplicateBatch for multi-file input")
    matches.head
  }

  /** Output-name generation ≙ P5 (deduplicator.ex:217-224 uses
    * md5(hex(now_ms))+".bin"); ours is deterministic per (input, catalog
    * version) so re-runs are idempotent.
    */
  private def generateName(input: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$input:${catalog.currentVersion + 1}".getBytes("UTF-8"))
    h.map("%02x".format(_)).mkString + ".bin"
  }
}
