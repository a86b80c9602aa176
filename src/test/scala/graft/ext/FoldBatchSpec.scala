package graft.ext

import graft.SparkFunSuite
import graft.streaming.StreamingVecDup
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The streaming fold kernels, table-driven.
  *
  * Equivalence (MinHash, Hamming, Winnow, CDC): a kernel must reproduce
  * the unfused semantics exactly — batch 0's matches equal the join
  * form, batch 1's matches equal the probe of a build(batch 0) index ∪
  * the join form over batch 1, and the fold's index equals build +
  * append.
  *
  * Interrupted compaction (those four plus VecDup's stream kernel): a
  * compaction that crashed before its commit rename leaves a `.tmp_*`
  * staging directory inside the index — its rewritten partitions only,
  * or the whole staged version with its MANIFEST and COMMIT. The next
  * fold must read the committed version past it: batch 1's twin of a
  * batch-0 doc is matched, the index holds both batches, and a later
  * compaction leaves no residue and loses no id. (The rows keep the
  * names they had when a compaction swapped directories by two
  * renames.)
  *
  * Fused publish (the four kernels): a fold whose maintenance window
  * fires publishes its batch by a compaction of index ∪ batch. Its
  * matches and index rows are those of an append, and a crash inside
  * that compaction — after the staged rewrite, or at its commit rename
  * — leaves the index as it was, so the batch's replay indexes it
  * exactly once. [[CrashSweepSpec]] sweeps every step of the same
  * commit.
  */
class FoldBatchSpec extends SparkFunSuite {
  import FoldBatchSpec._

  private def words(seed: Int): String =
    s"unique lead $seed " + "the shared long run of text that " +
      "winnowing fingerprints reliably " + s"tail $seed"

  private def blob(seed: Int): Array[Byte] =
    Array.tabulate(6000)(j => ((j * 31 + 7) % 251).toByte) ++
      Array.tabulate(3000)(j => ((j * 17 + seed) % 251).toByte)

  private def text(i: Int): String =
    s"base document $i about topic ${i % 3} with plenty of shared " +
      "phrasing between documents"

  private val hBase = 0x5A5A1234ABCD9876L

  /** Batch `step` folded into `$work/index` in a maintenance window;
    * returns its matches dir.
    */
  private def kernel(fold: (DataFrame, DataFrame, String, String,
                            Option[IndexMaintenance.Window]) => Unit): Kernel = {
    (work, step, batch, earlier, window) =>
      val corpus = earlier.foldLeft(batch.where(lit(false)))(_ union _)
      fold(batch, corpus, s"$work/index", s"$work/m$step", window)
      s"$work/m$step"
  }

  private def families: Seq[Unfused] = {
    // the session is touched only when a batch closure runs
    import spark.implicits._
    Seq(
      Unfused(
        Fold("MinHash",
          // 101 and 102 are twins of 1: cross pairs AND a within pair
          () => (Seq((1L, text(1)), (2L, text(2)), (3L, text(3)))
              .toDF("id", "text"),
            Seq((101L, text(1)), (102L, text(1)), (103L, text(5)))
              .toDF("id", "text")),
          (101L, 1L),
          kernel((b, corpus, idx, m, w) => DocDedup.foldMinHashBatch(b, corpus,
            "id", "text", idx, m, 7, 10, bands = 8, rows = 4,
            sigBuckets = 4, window = w)),
          DocDedup.compactMinHashIndex(spark, _)),
        Seq("id_a", "id_b", "common", "na", "nb"),
        DocDedup.minHashPairs(_, "id", "text", 7, 10, bands = 8, rows = 4),
        DocDedup.buildMinHashIndex(_, "id", "text", _, bands = 8, rows = 4,
          sigBuckets = 4),
        (b, idx, corpus) => DocDedup.probeMinHashIndex(b, corpus, "id",
          "text", idx, 7, 10),
        DocDedup.appendToMinHashIndex(_, "id", "text", _)),
      Unfused(
        // 101 = 1 bit from doc 1; 102 = identical to 101 (within pair);
        // 103 = far from everything
        Fold("Hamming",
          () => (Seq((1L, hBase), (2L, hBase ^ 0xF0F0L)).toDF("id", "sh"),
            Seq((101L, hBase ^ 1L), (102L, hBase ^ 1L),
              (103L, 0x1111222233334444L)).toDF("id", "sh")),
          (101L, 1L),
          kernel((b, _, idx, m, w) => DocDedup.foldHammingBatch(b, "id", "sh",
            idx, m, maxDist = 2, qBuckets = 8, window = w)),
          DocDedup.compactHammingIndex(spark, _)),
        Seq("id_a", "id_b", "hamming"),
        DocDedup.hammingPairs(_, "id", "sh", 2),
        DocDedup.buildHammingIndex(_, "id", "sh", _, qBuckets = 8),
        (b, idx, _) => DocDedup.probeHammingIndex(b, "id", "sh", idx, 2),
        DocDedup.appendToHammingIndex(_, "id", "sh", _)),
      Unfused(
        Fold("Winnow",
          () => (Seq((1L, words(1)), (2L, words(2))).toDF("id", "text"),
            Seq((101L, words(11)), (102L, words(12))).toDF("id", "text")),
          (101L, 1L),
          kernel((b, _, idx, m, w) => Winnow.foldWinnowBatch(b, "id", "text",
            idx, m, k = 8, w = 4, fpBuckets = 8, window = w)),
          Winnow.compactWinnowIndex(spark, _)),
        Seq("id_a", "id_b", "n_matches"),
        Winnow.verifiedPairs(_, "id", "text", k = 8, w = 4),
        Winnow.buildWinnowIndex(_, "id", "text", _, k = 8, w = 4,
          fpBuckets = 8),
        (b, idx, _) => Winnow.probeWinnowIndex(b, "id", "text", idx),
        Winnow.appendToWinnowIndex(_, "id", "text", _)),
      Unfused(
        // 101 vs 102 share the prefix: a within pair next to the cross
        // twins
        Fold("Cdc",
          () => (Seq((1L, blob(1)), (2L, blob(2))).toDF("id", "blob"),
            Seq((101L, blob(11)), (102L, blob(12))).toDF("id", "blob")),
          (101L, 1L),
          kernel((b, _, idx, m, w) => Cdc.foldCdcBatch(b, "id", "blob", idx, m,
            minSize = 256, avgBits = 9, maxSize = 4096, hashBuckets = 8,
            window = w)),
          Cdc.compactCdcIndex(spark, _)),
        Seq("id_a", "id_b", "n_shared"),
        Cdc.sharedChunkPairs(_, "id", "blob", 256, 9, 4096),
        Cdc.buildCdcIndex(_, "id", "blob", _, 256, 9, 4096, 8),
        (b, idx, _) => Cdc.probeCdcIndex(b, "id", "blob", idx),
        Cdc.appendToCdcIndex(_, "id", "blob", _)))
  }

  /** VecDup's kernel lives inside its stream: each batch lands as one
    * parquet file and one `AvailableNow` run folds it as the next batch
    * id, in the stream's own window (no policy), so `run`'s window
    * argument is not used. Identical twin vectors score cosine 1.0;
    * nprobe = nlist makes recall exhaustive.
    */
  private def vecDup: Fold = {
    import spark.implicits._
    def vec(i: Long): Array[Float] = {
      val rnd = new scala.util.Random(i)
      Array.fill(16)(rnd.nextGaussian().toFloat)
    }
    Fold("VecDup",
      () => ((0L to 3L).map(i => (i, vec(i))).toDF("id", "vec"),
        Seq((100L, vec(0)), (104L, vec(4))).toDF("id", "vec")),
      (100L, 0L),
      (work, step, batch, _, _) => {
        val in = s"$work-in"
        batch.repartition(1).write.parquet(s"$work-stage$step")
        val part = new java.io.File(s"$work-stage$step").listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$in/b$step.parquet"))
        StreamingVecDup.start(spark, in, work, threshold = 0.9999,
          nlist = 4, nprobe = 4).awaitTermination()
        s"$work/matches/batch_id=$step"
      },
      Similarity.compactIvfIndex(spark, _))
  }

  private def rows(df: DataFrame, cols: Seq[String]): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private def indexRows(path: String): Seq[String] =
    IndexFiles.rows(spark, path).collect().map(_.toString).sorted.toSeq

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").distinct().collect().map(_.getLong(0)).toSet

  families.foreach { f =>
    test(s"${f.fold.name}: fold matches = unfused cross ∪ within, " +
      "index = build + append") {
      val (b0, b1) = f.fold.batches()
      val work = s"${tempDir(s"fold-${f.fold.name}")}/work"
      val m0 = f.fold.run(work, 0, b0, Nil, None)
      val m1 = f.fold.run(work, 1, b1, Seq(b0), None)
      // batch 0: within pairs only (no index yet)
      assert(rows(spark.read.parquet(m0), f.cols) ==
        rows(f.within(b0), f.cols))
      // batch 1 against the unfused reference: an index built from b0
      val ref = s"${tempDir(s"fold-${f.fold.name}-ref")}/index"
      f.build(b0, ref)
      val wantCross = rows(f.probe(b1, ref, b0), f.cols)
      val wantWithin = rows(f.within(b1), f.cols)
      assert(wantCross.nonEmpty && wantWithin.nonEmpty) // twins planted
      assert(rows(spark.read.parquet(m1), f.cols) == wantCross ++ wantWithin)
      // and the fold's index state equals the unfused build + append
      f.append(b1, ref)
      assert(indexRows(s"$work/index") == indexRows(ref))
    }
  }

  for (f <- families.map(_.fold) :+ vecDup; withTmp <- Seq(false, true))
    test(s"${f.name}: a fold after a compaction crash between its swap " +
      s"renames (${if (withTmp) "old + tmp" else "old only"}) heals it " +
      "and keeps every indexed id") {
      val (b0, b1) = f.batches()
      val want = ids(b0) ++ ids(b1)
      val work = s"${tempDir(s"foldcrash-${f.name}")}/work"
      val index = new Path(s"$work/index")
      val fs = index.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.run(work, 0, b0, Nil, None)
      // the on-disk state of a compaction that crashed before its
      // commit rename: the staged rewrite of version 2 in .tmp_*, with
      // its MANIFEST and COMMIT when the whole version was staged
      val tmp = new Path(index, ".tmp_v2-beadfeed")
      assert(FileUtil.copy(fs, new Path(index, "v_000001"), fs, tmp, false,
        spark.sparkContext.hadoopConfiguration))
      if (!withTmp) Seq("MANIFEST", "COMMIT").foreach(n =>
        assert(fs.delete(new Path(tmp, n), false)))
      val m1 = f.run(work, 1, b1, Seq(b0), None)
      val pairs = rows(spark.read.parquet(m1), Seq("id_a", "id_b"))
      assert(pairs(Seq(f.twin._1, f.twin._2)) ||
        pairs(Seq(f.twin._2, f.twin._1)),
        s"cross twin ${f.twin} missed; matches $pairs")
      assert(ids(IndexFiles.rows(spark, index.toString)) == want,
        "the index lost the pre-crash batch")
      f.compact(index.toString)
      val residue = IndexFiles.residue(spark, index.toString)
      assert(residue.isEmpty, s"residue $residue")
      assert(ids(IndexFiles.rows(spark, index.toString)) == want,
        "compaction lost ids")
    }

  /** A window whose cadence fires on every batch. */
  private def firing(batchId: Long) = Some(IndexMaintenance.Window(
    IndexMaintenance.CompactPolicy(every = Some(1)), batchId))

  /** Data files in each partition of the index at `path`. */
  private def filesPerPartition(path: String): Seq[Int] =
    IndexFiles.filesPerPartition(spark, path)

  private def residue(index: Path) = IndexFiles.residue(spark, index.toString)

  families.foreach { f =>
    test(s"${f.fold.name}: a fold whose window fires publishes the batch " +
      "by one compaction: matches and index rows as an append, one file " +
      "per partition") {
      val (b0, b1) = f.fold.batches()
      val work = s"${tempDir(s"fused-${f.fold.name}")}/work"
      f.fold.run(work, 0, b0, Nil, None)
      val m1 = f.fold.run(work, 1, b1, Seq(b0), firing(1L))
      val ref = s"${tempDir(s"fused-${f.fold.name}-ref")}/index"
      f.build(b0, ref)
      assert(rows(spark.read.parquet(m1), f.cols) ==
        rows(f.probe(b1, ref, b0), f.cols) ++ rows(f.within(b1), f.cols))
      f.append(b1, ref)
      assert(indexRows(s"$work/index") == indexRows(ref))
      val perPartition = filesPerPartition(s"$work/index")
      assert(perPartition.nonEmpty && perPartition.forall(_ == 1),
        s"data files per partition directory: $perPartition")
    }
  }

  families.foreach { f =>
    test(s"${f.fold.name}: a cost window decides on the index's files " +
      "plus the batch's, the count an append would leave") {
      import IndexMaintenance.{CompactPolicy, Window, dataFileCount}
      val (b0, b1) = f.fold.batches()
      val base = tempDir(s"cost-${f.fold.name}")
      f.fold.run(s"$base/w0", 0, b0, Nil, None)
      // two copies of the one-batch work dir, one per threshold
      Seq("w1", "w2").foreach(c => org.apache.commons.io.FileUtils
        .copyDirectory(new java.io.File(s"$base/w0"), new java.io.File(s"$base/$c")))
      f.fold.run(s"$base/w0", 1, b1, Seq(b0), None)
      val appended = dataFileCount(spark, s"$base/w0/index")
      /** (skips, fires) of folding batch 1 under `threshold`. */
      def decide(work: String, threshold: Long): (Long, Long) = {
        val idx = s"$work/index"
        def n(e: String) = MaintenanceEvents.count(idx, e)
        val (s0, f0) = (n(MaintenanceEvents.CompactSkip),
          n(MaintenanceEvents.CompactFire))
        f.fold.run(work, 1, b1, Seq(b0), Some(Window(
          CompactPolicy(maxDataFiles = Some(threshold)), 1L)))
        (n(MaintenanceEvents.CompactSkip) - s0,
          n(MaintenanceEvents.CompactFire) - f0)
      }
      assert(decide(s"$base/w1", appended) == ((1L, 0L)))
      assert(dataFileCount(spark, s"$base/w1/index") == appended)
      assert(decide(s"$base/w2", appended - 1) == ((0L, 1L)))
      assert(dataFileCount(spark, s"$base/w2/index") < appended)
      assert(indexRows(s"$base/w2/index") == indexRows(s"$base/w0/index"))
    }
  }

  // A crash inside the compaction that publishes a batch: (a) after
  // the verified staged rewrite, at its MANIFEST; (b) at the commit
  // rename of the whole staged version. The injected filesystem throws
  // there, as a crash would. (The rows keep the names they had when
  // the compaction swapped directories by two renames.)
  private val crashes = Seq[(String, String, Path => Boolean)](
    ("after the staged rewrite, before the swap", "create",
      p => p.getParent.getName.startsWith(".tmp_") &&
        p.getName == "MANIFEST"),
    ("between the two swap renames", "rename",
      _.getName.startsWith(".tmp_")))

  for (f <- families; (where, op, at) <- crashes)
    test(s"${f.fold.name}: a fused publish that crashed $where heals; the " +
      "replayed batch is indexed once and its twin matched") {
      RecordingLocalFs.register(spark.sparkContext.hadoopConfiguration)
      val (b0, b1) = f.fold.batches()
      val work = RecordingLocalFs.uri(
        s"${tempDir(s"fusedcrash-${f.fold.name}")}/work")
      val index = new Path(s"$work/index")
      f.fold.run(work, 0, b0, Nil, None)
      RecordingLocalFs.failOnce(op)(at)
      val e = intercept[java.io.IOException](
        f.fold.run(work, 1, b1, Seq(b0), firing(1L)))
      assert(e.getMessage.contains("injected") && !RecordingLocalFs.pending)
      assert(residue(index).exists(_.startsWith(".tmp_")))
      // the stream replays the batch it did not commit
      val m1 = f.fold.run(work, 1, b1, Seq(b0), firing(1L))
      val pairs = rows(spark.read.parquet(m1), Seq("id_a", "id_b"))
      assert(pairs(Seq(f.fold.twin._1, f.fold.twin._2)) ||
        pairs(Seq(f.fold.twin._2, f.fold.twin._1)),
        s"cross twin ${f.fold.twin} missed; matches $pairs")
      val ref = s"${tempDir(s"fusedcrash-${f.fold.name}-ref")}/index"
      f.build(b0, ref)
      f.append(b1, ref)
      assert(indexRows(index.toString) == indexRows(ref),
        "the index is not build(b0) + append(b1)")
      f.fold.compact(index.toString)
      assert(residue(index).isEmpty, s"residue ${residue(index)}")
      assert(indexRows(index.toString) == indexRows(ref))
    }
}

object FoldBatchSpec {

  /** Folds batch `step` into `$work/index` given the earlier batches and
    * a maintenance window; returns the batch's matches dir.
    */
  type Kernel = (String, Int, DataFrame, Seq[DataFrame],
    Option[IndexMaintenance.Window]) => String

  /** A fold family: its two batches (the second carries `twin._1`, a
    * twin of batch-0 doc `twin._2`), its kernel, and its compaction.
    */
  final case class Fold(
      name: String, batches: () => (DataFrame, DataFrame),
      twin: (Long, Long), run: Kernel,
      compact: String => IndexMaintenance.CompactStats)

  /** A fold kernel's unfused reference: the match columns, the
    * within-batch join form, build, probe (batch, index, corpus) and
    * append.
    */
  final case class Unfused(
      fold: Fold, cols: Seq[String], within: DataFrame => DataFrame,
      build: (DataFrame, String) => Unit,
      probe: (DataFrame, String, DataFrame) => DataFrame,
      append: (DataFrame, String) => Unit)
}
