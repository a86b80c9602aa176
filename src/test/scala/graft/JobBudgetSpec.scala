package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.api.{DedupOptions, Deduplicator}

/** Per-call job budgets. A small call's floor is set by how many Spark
  * jobs its plan launches, not by its compute, so each row pins one
  * public call's job count on a fixed small input: the second of two
  * identical direct calls (the first pays one-time planning and
  * catalog-cache work) runs under a job group, and every job started
  * in that group is counted. A count above its budget fails.
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
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try body
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** A budget row: what to call, its job ceiling, and a set-up that
    * returns the call (a closure that also checks its own output).
    */
  private case class Budget(call: String, maxJobs: Int, setUp: String => () => Unit)

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
        assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/c.out")), c))
      }
    }),
    Budget("recoverBinFile of a tagged run with in-file pointers", 4, { dir =>
      val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      val data = blocks(0, 30) ++ blocks(0, 20)
      d.deduplicateFile(Fixtures.writeTemp(dir, "t", data),
        DedupOptions(W, binParity = true, outputName = Some("t.enc")))
      () => {
        d.recoverBinFile(s"$dir/work/encoded/t.enc", W, s"$dir/t.out")
        assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/t.out")), data))
      }
    }),
    Budget("deduplicateBatch of two small files into a seeded store", 17, { dir =>
      val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      d.deduplicateFile(Fixtures.writeTemp(dir, "seed", blocks(0, 64)), DedupOptions(W))
      val inputs = Seq(
        Fixtures.writeTemp(dir, "f1", blocks(0, 32) ++ blocks(300, 8)),
        Fixtures.writeTemp(dir, "f2", blocks(32, 32) ++ blocks(400, 8)))
      // names are generated per catalog version, so the call repeats as is
      () => assert(d.deduplicateBatch(inputs, DedupOptions(W)).map(_.chunks) == Seq(40L, 40L))
    }))

  budgets.foreach { case Budget(call, maxJobs, setUp) =>
    test(s"job budget: $call runs at most $maxJobs jobs") {
      val run = setUp(tempDir("budget"))
      run()
      val jobs = jobsOf(run())
      info(s"$jobs jobs")
      assert(jobs <= maxJobs, s"$call ran $jobs jobs, budget $maxJobs")
    }
  }
}
