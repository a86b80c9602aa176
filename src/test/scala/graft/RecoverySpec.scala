package graft

import graft.api.{DedupOptions, Deduplicator}
import graft.operators.Recovery
import graft.sources.OrderedBinarySink
import java.nio.file.{Files, Paths}

class RecoverySpec extends SparkFunSuite {

  test(":not_chunk — a pointer to a non-raw record fails loudly in one pass") {
    val s = spark; import s.implicits._
    // run 1's encoded stream: pos 0 raw, pos 1 pointer to line 0 (fine),
    // pos 2 pointer to line 1 — which is itself a pointer → :not_chunk
    val enc = Seq(
      (0L, false, "abcd".getBytes: Array[Byte], Option.empty[Long], Option.empty[Long]),
      (1L, true, null.asInstanceOf[Array[Byte]], Some(0L), Option.empty[Long]),
      (2L, true, null.asInstanceOf[Array[Byte]], Some(1L), Option.empty[Long])
    ).toDF("pos", "is_pointer", "chunk", "ref_line", "cat_file_id")
    val resolved = Recovery.resolve(enc, thisFileId = 1L, encodedFor = _ => enc)
    val e = intercept[Exception] { resolved.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("not_chunk")),
      s"expected :not_chunk in error chain, got: ${messages(e)}")
  }

  test("empty input file round-trips to an empty output") {
    val dir = tempDir("rt-empty")
    val input = Fixtures.writeTemp(dir, "empty.bin", Array.emptyByteArray)
    val engine = new Deduplicator(spark, s"$dir/work")
    val res = engine.deduplicateFile(input, DedupOptions(chunkBytes = 64))
    assert(res.chunks == 0 && res.pointers == 0)
    val out = s"$dir/recovered"
    engine.recoverFile(res.outputName, out)
    assert(Files.size(Paths.get(out)) == 0)
  }

  test("single-chunk file (shorter than chunk size) round-trips") {
    val dir = tempDir("rt-tiny")
    val data = "tiny".getBytes
    val input = Fixtures.writeTemp(dir, "tiny.bin", data)
    val engine = new Deduplicator(spark, s"$dir/work")
    val res = engine.deduplicateFile(input, DedupOptions(chunkBytes = 64))
    assert(res.chunks == 1)
    val out = s"$dir/recovered"
    engine.recoverFile(res.outputName, out)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), data))
  }
}

/** Byte-exact recovery across the shapes the sink's exact-range
  * partitioning must hold for: run sizes around the chunk width and at
  * random, runs whose pointers reach 0, 1 and 2 earlier runs, more sink
  * parts than rows, and the sink called directly with a range that does
  * not cover its data.
  */
class RecoveryRangeSpec extends SparkFunSuite {
  private val W = 64

  /** `n` bytes from `seed`, with every fourth 64-byte block a repeat of
    * the block before it, so runs carry in-run pointers.
    */
  private def content(n: Int, seed: Long): Array[Byte] = {
    val b = Fixtures.highEntropy(n, seed.toInt)
    (3 * W until n by 4 * W).foreach { off =>
      System.arraycopy(b, off - W, b, off, math.min(W, n - off))
    }
    b
  }

  private val rnd = new scala.util.Random(17)
  private val sizes = Seq(0, 1, W - 1, W, W + 1) ++ Seq.fill(3)(1 + rnd.nextInt(80 * W))

  // (case, earlier runs, the run recovered)
  private val runs: Seq[(String, Seq[Array[Byte]], Array[Byte])] =
    sizes.map(n => (s"size $n, no earlier run", Nil, content(n, n))) ++
      (0 to 2).map { k =>
        val earlier = (1 to k).map(i => content(40 * W, 100 + i))
        val run = earlier.flatMap(_.take(10 * W)).toArray ++ content(20 * W + 5, 200)
        (s"pointers into $k earlier run(s)", earlier, run)
      }

  runs.foreach { case (name, earlier, run) =>
    test(s"recoverFile round trip: $name") {
      val dir = tempDir("rt-range")
      val engine = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
      earlier.zipWithIndex.foreach { case (bytes, i) =>
        engine.deduplicateFile(Fixtures.writeTemp(dir, s"e$i", bytes),
          DedupOptions(chunkBytes = W))
      }
      val res = engine.deduplicateFile(Fixtures.writeTemp(dir, "run", run),
        DedupOptions(chunkBytes = W))
      if (earlier.nonEmpty) assert(res.pointers >= 10L * earlier.size)
      val out = s"$dir/recovered"
      engine.recoverFile(res.outputName, out)
      assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), run))
    }
  }

  // (case, positions written, the range handed to the sink)
  private val sinkCases: Seq[(String, Seq[Long], Long, Long)] = Seq(
    ("more parts than rows", Seq(0L, 1L, 2L), 0L, 2L),
    ("range narrower than the data", (0L until 200L), 90L, 95L),
    ("range disjoint from the data", (1000L until 1100L), 0L, 10L),
    ("empty range over rows", (0L until 50L), Long.MaxValue, Long.MinValue),
    ("extreme keys", Seq(Long.MinValue, -1L, 0L, Long.MaxValue), 0L, 1L))

  sinkCases.foreach { case (name, positions, lo, hi) =>
    test(s"OrderedBinarySink orders by pos whatever the range: $name") {
      val s = spark; import s.implicits._
      val dir = tempDir("sink-range")
      val rows = positions.map(p => (p, s"<$p>".getBytes("UTF-8")))
      // shuffled input: the sink alone must restore the order
      val df = new scala.util.Random(5).shuffle(rows).toDF("pos", "chunk").repartition(3)
      val out = s"$dir/out"
      OrderedBinarySink.write(df, "pos", "chunk", out, lo, hi)
      assert(new String(Files.readAllBytes(Paths.get(out)), "UTF-8") ==
        positions.sorted.map(p => s"<$p>").mkString)
    }
  }
}
