package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils

import graft.api.{DedupOptions, Deduplicator}
import graft.ext.DocDedup

/** Per-call job budgets. A small call's floor is set by how many Spark
  * jobs its plan launches, not by its compute, so each row pins one
  * public call's job count on a fixed small input: the second of two
  * identical direct calls (the first pays one-time planning and
  * catalog-cache work) runs under a job group, and every job the
  * shared [[Jobs.Log]] sees in that group is counted. A count above its
  * budget fails. The call's output is checked after the count.
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
    * after the count.
    */
  private case class Budget(call: String, maxJobs: Int,
                            setUp: String => () => () => Unit)

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
    Budget("deduplicateBatch of two small files into a seeded store", 17, { dir =>
      val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      d.deduplicateFile(Fixtures.writeTemp(dir, "seed", blocks(0, 64)), DedupOptions(W))
      val inputs = Seq(
        Fixtures.writeTemp(dir, "f1", blocks(0, 32) ++ blocks(300, 8)),
        Fixtures.writeTemp(dir, "f2", blocks(32, 32) ++ blocks(400, 8)))
      // names are generated per catalog version, so the call repeats as is
      () => {
        val chunks = d.deduplicateBatch(inputs, DedupOptions(W)).map(_.chunks)
        () => assert(chunks == Seq(40L, 40L))
      }
    }),
    Budget("probeMinHashIndex of ten twins against a built index", 23, { dir =>
      val idx = s"$dir/index"
      val corpus = docs(0, 40)
      DocDedup.buildMinHashIndex(corpus, "id", "text", idx,
        bands = 8, rows = 4, sigBuckets = 4)
      () => {
        val pairs = DocDedup.probeMinHashIndex(docs(0, 10, idOffset = 1000L),
          corpus, "id", "text", idx, 7, 10)
        () => assert(twins(pairs, 1000L) == (0L until 10L).toSet)
      }
    }),
    Budget("foldMinHashBatch of a second batch into an index one batch old", 26, { dir =>
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
    Budget("compactMinHashIndex of an index built and appended twice", 6, { dir =>
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

  budgets.foreach { case Budget(call, maxJobs, setUp) =>
    test(s"job budget: $call runs at most $maxJobs jobs") {
      val run = setUp(tempDir("budget"))
      run()()
      val (jobs, check) = jobsOf(run())
      check()
      info(s"$jobs jobs")
      assert(jobs <= maxJobs, s"$call ran $jobs jobs, budget $maxJobs")
    }
  }
}
