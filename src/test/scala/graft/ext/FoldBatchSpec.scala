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
  * compaction that crashed between its two swap renames leaves the
  * index at `.compact_old_index-<uuid>` (optionally next to its verified
  * `.compact_tmp_index-<uuid>` rewrite). The next fold must heal that
  * before deciding "first batch": batch 1's twin of a batch-0 doc is
  * matched, the index holds both batches, and a later compaction leaves
  * no residue and loses no id.
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

  /** Batch `step` folded into `$work/index`; returns its matches dir. */
  private def kernel(fold: (DataFrame, DataFrame, String, String) => Unit)
      : (String, Int, DataFrame, Seq[DataFrame]) => String = {
    (work, step, batch, earlier) =>
      val corpus = earlier.foldLeft(batch.where(lit(false)))(_ union _)
      fold(batch, corpus, s"$work/index", s"$work/m$step")
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
          kernel((b, corpus, idx, m) => DocDedup.foldMinHashBatch(b, corpus,
            "id", "text", idx, m, 7, 10, bands = 8, rows = 4,
            sigBuckets = 4)),
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
          kernel((b, _, idx, m) => DocDedup.foldHammingBatch(b, "id", "sh",
            idx, m, maxDist = 2, qBuckets = 8)),
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
          kernel((b, _, idx, m) => Winnow.foldWinnowBatch(b, "id", "text",
            idx, m, k = 8, w = 4, fpBuckets = 8)),
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
          kernel((b, _, idx, m) => Cdc.foldCdcBatch(b, "id", "blob", idx, m,
            minSize = 256, avgBits = 9, maxSize = 4096, hashBuckets = 8)),
          Cdc.compactCdcIndex(spark, _)),
        Seq("id_a", "id_b", "n_shared"),
        Cdc.sharedChunkPairs(_, "id", "blob", 256, 9, 4096),
        Cdc.buildCdcIndex(_, "id", "blob", _, 256, 9, 4096, 8),
        (b, idx, _) => Cdc.probeCdcIndex(b, "id", "blob", idx),
        Cdc.appendToCdcIndex(_, "id", "blob", _)))
  }

  /** VecDup's kernel lives inside its stream: each batch lands as one
    * parquet file and one `AvailableNow` run folds it as the next batch
    * id. Identical twin vectors score cosine 1.0; nprobe = nlist makes
    * recall exhaustive.
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
      (work, step, batch, _) => {
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
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").distinct().collect().map(_.getLong(0)).toSet

  families.foreach { f =>
    test(s"${f.fold.name}: fold matches = unfused cross ∪ within, " +
      "index = build + append") {
      val (b0, b1) = f.fold.batches()
      val work = s"${tempDir(s"fold-${f.fold.name}")}/work"
      val m0 = f.fold.run(work, 0, b0, Nil)
      val m1 = f.fold.run(work, 1, b1, Seq(b0))
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
      f.run(work, 0, b0, Nil)
      // the on-disk state of a compaction that crashed between its two
      // swap renames: the live layout moved aside to .compact_old_*,
      // optionally next to its verified staged rewrite (same uuid)
      val uuid = "beadfeed"
      if (withTmp)
        assert(FileUtil.copy(fs, index, fs,
          new Path(s"$work/.compact_tmp_index-$uuid"), false,
          spark.sparkContext.hadoopConfiguration))
      assert(fs.rename(index, new Path(s"$work/.compact_old_index-$uuid")))
      val m1 = f.run(work, 1, b1, Seq(b0))
      val pairs = rows(spark.read.parquet(m1), Seq("id_a", "id_b"))
      assert(pairs(Seq(f.twin._1, f.twin._2)) ||
        pairs(Seq(f.twin._2, f.twin._1)),
        s"cross twin ${f.twin} missed; matches $pairs")
      assert(ids(spark.read.parquet(index.toString)) == want,
        "the index lost the pre-crash batch")
      f.compact(index.toString)
      val residue = fs.listStatus(new Path(work)).map(_.getPath.getName)
        .filter(_.startsWith(".compact_"))
      assert(residue.isEmpty, s"residue ${residue.toSeq}")
      assert(ids(spark.read.parquet(index.toString)) == want,
        "compaction lost ids")
    }
}

object FoldBatchSpec {

  /** A fold family: its two batches (the second carries `twin._1`, a
    * twin of batch-0 doc `twin._2`), how to fold batch `step` into
    * `$work/index` given the earlier batches (returning the batch's
    * matches dir), and its compaction.
    */
  final case class Fold(
      name: String, batches: () => (DataFrame, DataFrame),
      twin: (Long, Long),
      run: (String, Int, DataFrame, Seq[DataFrame]) => String,
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
