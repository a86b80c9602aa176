package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils

import graft.api.{DedupOptions, Deduplicator}
import graft.ext.{DocDedup, IndexMaintenance, RecordingLocalFs, Winnow}
import graft.operators.Catalog

/** Per-call job budgets. A small call's floor is set by how many Spark
  * jobs its plan launches, not by its compute, so each row pins one
  * public call's job count on a fixed small input: the second of two
  * identical direct calls (the first pays one-time planning and
  * catalog-cache work) runs under a job group, and every job the
  * shared [[Jobs.Log]] sees in that group is counted. A count above its
  * budget fails. The call's output is checked after the count.
  *
  * Rows whose catalog or index lives on the counting
  * [[RecordingLocalFs]] also pin the `listStatus`, `open`,
  * `getFileStatus` and `rename` calls the counted call makes under that
  * directory, each at its own ceiling.
  */
class JobBudgetSpec extends SparkFunSuite {

  private val W = 64

  /** `n` distinct 64-byte blocks from `from` on, each fixed by its id. */
  private def blocks(from: Int, n: Int): Array[Byte] =
    (from until from + n).toArray.flatMap { i =>
      val b = new Array[Byte](W); new scala.util.Random(i).nextBytes(b); b
    }

  /** Jobs started by `body` on this thread, AQE's stage jobs included
    * (they inherit the caller's job group).
    */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val log = new Jobs.Log(sc)
    try {
      sc.setJobGroup(group, "job budget")
      val out = try body finally sc.clearJobGroup()
      (log.snapshot().count(_.group == group), out)
    } finally log.close()
  }

  /** Documents `from until until`, each sharing the same phrasing. */
  private def docs(from: Long, until: Long, idOffset: Long = 0L) = {
    import spark.implicits._
    (from until until).map(i => (i + idOffset,
      s"base document $i about topic ${i % 3} with plenty of shared " +
        "phrasing between documents")).toDF("id", "text")
  }

  private val copies = new AtomicInteger

  /** A fresh copy of the index at `src`, made without Spark, so every
    * call starts from the same layout.
    */
  private def copyOf(src: String): String = {
    val dst = s"$src-copy${copies.incrementAndGet()}"
    FileUtils.copyDirectory(new java.io.File(src), new java.io.File(dst))
    dst
  }

  /** The twin pairs `(id + offset, id)` of `pairs`' `(id_a, id_b)`. */
  private def twins(pairs: org.apache.spark.sql.DataFrame, offset: Long) =
    pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a == b + offset }.map(_._2).toSet

  /** A budget row: what to call, its job ceiling, and a set-up that
    * returns the call. The call returns its output check, which runs
    * after the count. `dirOps` is the catalog or index directory under
    * the row's directory, on the counting filesystem, with a ceiling per
    * filesystem operation.
    */
  private case class Budget(call: String, maxJobs: Int,
                            setUp: String => () => () => Unit,
                            dirOps: Option[(String, Map[String, Int])] = None)

  /** The row's own directory on the counting filesystem. */
  private def counted(dir: String): String = {
    RecordingLocalFs.register(spark.sparkContext.hadoopConfiguration)
    RecordingLocalFs.uri(dir)
  }

  private val budgets = Seq(
    Budget("recoverFile of a run pointing into itself and two earlier runs", 4, { dir =>
      val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      val a = blocks(0, 40)
      val b = blocks(100, 40)
      // A's and B's first ten blocks, twenty new ones, ten of those again
      val c = a.take(10 * W) ++ b.take(10 * W) ++ blocks(200, 20) ++
        blocks(200, 10) ++ Array.fill[Byte](10)(7)
      Seq("a" -> a, "b" -> b).foreach { case (n, bytes) =>
        d.deduplicateFile(Fixtures.writeTemp(dir, n, bytes), DedupOptions(W))
      }
      val rc = d.deduplicateFile(Fixtures.writeTemp(dir, "c", c), DedupOptions(W))
      assert(rc.pointers == 30)
      () => {
        d.recoverFile(rc.outputName, s"$dir/c.out")
        () => assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/c.out")), c))
      }
    }),
    Budget("recoverBinFile of a tagged run with in-file pointers", 4, { dir =>
      val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      val data = blocks(0, 30) ++ blocks(0, 20)
      d.deduplicateFile(Fixtures.writeTemp(dir, "t", data),
        DedupOptions(W, binParity = true, outputName = Some("t.enc")))
      () => {
        d.recoverBinFile(s"$dir/work/encoded/t.enc", W, s"$dir/t.out")
        () => assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/t.out")), data))
      }
    }),
    Budget("deduplicateBatch of two small files into a seeded store", 11, { dir =>
      val d = new Deduplicator(spark, counted(s"$dir/work"), bucketChars = 1)
      d.deduplicateFile(Fixtures.writeTemp(dir, "seed", blocks(0, 64)), DedupOptions(W))
      val inputs = Seq(
        Fixtures.writeTemp(dir, "f1", blocks(0, 32) ++ blocks(300, 8)),
        Fixtures.writeTemp(dir, "f2", blocks(32, 32) ++ blocks(400, 8)))
      // names are generated per catalog version, so the call repeats as is
      () => {
        val chunks = d.deduplicateBatch(inputs, DedupOptions(W)).map(_.chunks)
        () => assert(chunks == Seq(40L, 40L))
      }
    }, Some("work/catalog" -> Map("listStatus" -> 48, "open" -> 41, "getFileStatus" -> 232))),
    Budget("deduplicateBatch after a compaction moved the catalog", 11, { dir =>
      val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      d.deduplicateFile(Fixtures.writeTemp(dir, "seed", blocks(0, 64)), DedupOptions(W))
      val inputs = Seq(
        Fixtures.writeTemp(dir, "f1", blocks(0, 32) ++ blocks(300, 8)),
        Fixtures.writeTemp(dir, "f2", blocks(32, 32) ++ blocks(400, 8)))
      d.catalog.compact()
      // the check, which runs after the count, compacts again: every
      // counted call starts on a catalog version its engine never saw
      () => {
        val rs = d.deduplicateBatch(inputs, DedupOptions(W))
        () => {
          assert(rs.map(_.chunks) == Seq(40L, 40L))
          assert(rs.map(_.fileId) == Seq(d.catalog.nextFileId - 2, d.catalog.nextFileId - 1))
          d.catalog.compact()
        }
      }
    }),
    Budget("Catalog.commitRuns of two runs into a seeded catalog", 8, { dir =>
      import org.apache.spark.sql.functions.{col, lit, sha1}
      val cat = new Catalog(spark, counted(s"$dir/catalog"), bucketChars = 1)
      def links(from: Int, n: Int) = spark.range(from, from + n)
        .select(sha1(col("id").cast("string")).as("hash"),
          (col("id") - from).as("line"), lit(1L).as("refs_num"))
      // every seeded hash seen once more by each run
      val deltas = links(0, 8).select(col("hash"), lit(1L).as("delta"))
      cat.commitRun("seed", W, "sha", links(0, 8),
        deltas.where(lit(false)))
      var k = 0
      () => {
        k += 1
        val fid = cat.nextFileId
        cat.commitRuns(Seq(
          Catalog.RunSpec(fid, s"a$k", W, "sha", links(1000 * k, 20), deltas),
          Catalog.RunSpec(fid + 1, s"b$k", W, "sha", links(1000 * k + 500, 20), deltas)))
        () => {
          assert(cat.links().where(col("file_id") >= fid).count() == 40L)
          assert(cat.links().where(col("file_id") === 1L)
            .collect().forall(_.getAs[Long]("refs_num") == 1L + 2 * k))
        }
      }
    }, Some("catalog" -> Map("listStatus" -> 47, "open" -> 38, "getFileStatus" -> 224))),
    Budget("probeMinHashIndex of ten twins against a built index", 9, { dir =>
      val idx = counted(s"$dir/index")
      val corpus = docs(0, 40)
      DocDedup.buildMinHashIndex(corpus, "id", "text", idx,
        bands = 8, rows = 4, sigBuckets = 4)
      () => {
        val pairs = DocDedup.probeMinHashIndex(docs(0, 10, idOffset = 1000L),
          corpus, "id", "text", idx, 7, 10)
        () => assert(twins(pairs, 1000L) == (0L until 10L).toSet)
      }
    }, Some("index" -> Map("listStatus" -> 26, "open" -> 27, "rename" -> 0))),
    Budget("foldMinHashBatch of a second batch into an index one batch old", 11, { dir =>
      val first = docs(0, 20)
      def fold(batch: org.apache.spark.sql.DataFrame, idx: String,
               matches: String): Unit =
        DocDedup.foldMinHashBatch(batch, first, "id", "text", idx, matches,
          7, 10, bands = 8, rows = 4, sigBuckets = 4)
      fold(first, s"$dir/index", s"$dir/m0")
      () => {
        val idx = copyOf(s"$dir/index")
        val m = s"$idx-matches"
        fold(docs(0, 10, idOffset = 1000L), idx, m)
        () => assert(twins(spark.read.parquet(m), 1000L) == (0L until 10L).toSet)
      }
    }),
    Budget("foldMinHashBatch whose maintenance window fires, into an index one batch old", 14, { dir =>
      val first = docs(0, 20)
      // the cadence fires on every batch
      val window = IndexMaintenance.Window(
        IndexMaintenance.CompactPolicy(every = Some(1)), 1L)
      RecordingLocalFs.register(spark.sparkContext.hadoopConfiguration)
      DocDedup.foldMinHashBatch(first, first, "id", "text",
        s"$dir/index", s"$dir/m0", 7, 10, bands = 8, rows = 4, sigBuckets = 4)
      // twins of every first-batch doc: the batch touches exactly the
      // index's partition coordinates
      val batch = docs(0, 20, idOffset = 1000L)
      val touched = DocDedup.bandedSignatures(batch, "id", "text", 8, 4, 4)
        .select("band", "sb").distinct().count()
      () => {
        // every call starts from a copy of the one-batch index, in place
        val idx = s"$dir/work/index"
        FileUtils.deleteDirectory(new java.io.File(s"$dir/work"))
        FileUtils.copyDirectory(new java.io.File(s"$dir/index"), new java.io.File(idx))
        RecordingLocalFs.reset()
        DocDedup.foldMinHashBatch(batch, first, "id", "text",
          RecordingLocalFs.uri(idx), RecordingLocalFs.uri(s"$dir/work/matches"),
          7, 10, bands = 8, rows = 4, sigBuckets = 4, window = Some(window))
        () => {
          assert(twins(spark.read.parquet(s"$dir/work/matches"), 1000L) == (0L until 20L).toSet)
          // the parquet files the call wrote under the index, its
          // staging included: one per touched partition (an append and
          // then a compaction would write two)
          val written = RecordingLocalFs.createdPaths
            .count(p => p.startsWith(s"$idx/") && p.endsWith(".parquet"))
          info(s"$written parquet files written")
          assert(written == touched, s"$written parquet files for $touched touched partitions")
          assert(IndexMaintenance.dataFileCount(spark, idx) == touched)
        }
      }
      // renames: Spark's committer merges task outputs in an order that
      // varies (29 to 32 seen), so the ceiling is its bound for the 30
      // files of 4 tasks — a rename per task and per file — plus the
      // one commit rename
    }, Some("work/index" -> Map("listStatus" -> 89, "open" -> 96, "rename" -> 35))),
    Budget("probeWinnowIndex of ten twins against a built index", 9, { dir =>
      val idx = s"$dir/index"
      Winnow.buildWinnowIndex(docs(0, 40), "id", "text", idx, fpBuckets = 8)
      () => {
        val pairs = Winnow.probeWinnowIndex(docs(0, 10, idOffset = 1000L),
          "id", "text", idx)
        () => assert(twins(pairs, 1000L) == (0L until 10L).toSet)
      }
    }),
    Budget("compactMinHashIndex of an index built and appended twice", 4, { dir =>
      val idx = s"$dir/index"
      DocDedup.buildMinHashIndex(docs(0, 20), "id", "text", idx,
        bands = 8, rows = 4, sigBuckets = 4)
      DocDedup.appendToMinHashIndex(docs(20, 30), "id", "text", idx)
      DocDedup.appendToMinHashIndex(docs(30, 40), "id", "text", idx)
      () => {
        val stats = DocDedup.compactMinHashIndex(spark, copyOf(idx))
        () => assert(stats.filesAfter < stats.filesBefore)
      }
    }))

  budgets.foreach { case Budget(call, maxJobs, setUp, dirOps) =>
    test(s"job budget: $call runs at most $maxJobs jobs") {
      val dir = tempDir("budget")
      val run = setUp(dir)
      run()()
      RecordingLocalFs.reset()
      val (jobs, check) = jobsOf(run())
      val ops = dirOps.map { case (sub, _) =>
        RecordingLocalFs.operationsUnder(s"$dir/$sub") }
      check()
      info(s"$jobs jobs")
      assert(jobs <= maxJobs, s"$call ran $jobs jobs, budget $maxJobs")
      for ((sub, ceilings) <- dirOps; made <- ops) {
        info(s"operations under $sub: $made")
        ceilings.foreach { case (op, max) =>
          val n = made.getOrElse(op, 0)
          assert(n <= max, s"$call made $n $op calls under $sub, budget $max")
        }
      }
    }
  }
}
