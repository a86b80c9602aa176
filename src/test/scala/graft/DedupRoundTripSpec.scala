package graft

import graft.api.{DedupOptions, Deduplicator}
import graft.sources.BinFormat
import java.nio.file.{Files, Paths}

/** End-to-end round-trip oracle — the reference's core test
  * (test/deduplicator_test.exs:96-214): dedupe → recover → byte equality,
  * over the four fixture content classes, plus cross-run pointer
  * resolution and the duplicate-frequency report.
  */
class DedupRoundTripSpec extends SparkFunSuite {

  private def roundTrip(name: String, data: Array[Byte], opts: DedupOptions): Unit = {
    val dir = tempDir(s"rt-$name")
    val input = Fixtures.writeTemp(dir, name, data)
    val engine = new Deduplicator(spark, s"$dir/work")
    val res = engine.deduplicateFile(input, opts)
    assert(res.chunks == (data.length + opts.chunkBytes - 1) / opts.chunkBytes)
    val out = s"$dir/recovered-$name"
    engine.recoverFile(res.outputName, out)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), data),
      s"round-trip bytes differ for $name")
  }

  test("round-trip: natural text, chunk 8 (≙ text.txt test)") {
    roundTrip("text.txt", Fixtures.naturalText(), DedupOptions(chunkBytes = 8))
  }

  test("round-trip: 64-byte-aligned duplicated text, chunk 64 + dedup ratio") {
    val data = Fixtures.alignedDuplicated()
    val dir = tempDir("rt-aligned")
    val input = Fixtures.writeTemp(dir, "aligned.txt", data)
    val engine = new Deduplicator(spark, s"$dir/work")
    val res = engine.deduplicateFile(input, DedupOptions(chunkBytes = 64))
    // 4096 blocks from a 37-block pool: nearly everything is a pointer
    assert(res.pointers > res.chunks / 2, s"expected heavy dedup, got $res")
    // duplicate-frequency report: refs_num > 1 rows must exist, sorted desc
    // (test/deduplicator_test.exs:77,90,323-330)
    val reps = engine.chunkRepetition().collect().map(_.getLong(0))
    assert(reps.nonEmpty && reps.sameElements(reps.sortBy(-_)))
    val out = s"$dir/recovered"
    engine.recoverFile(res.outputName, out)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), data))
  }

  test("round-trip: structured binary, chunk 32 (≙ pdf test)") {
    roundTrip("doc.bin", Fixtures.structuredBinary(), DedupOptions(chunkBytes = 32))
  }

  test("round-trip: high-entropy binary, chunk 128 (≙ media test)") {
    roundTrip("media.bin", Fixtures.highEntropy(), DedupOptions(chunkBytes = 128))
  }

  test("cross-run pointers: second file reuses first file's chunk store") {
    val dir = tempDir("rt-cross")
    val a = Fixtures.alignedDuplicated(blocks = 512, distinct = 20, seed = 7)
    val b = Fixtures.alignedDuplicated(blocks = 512, distinct = 20, seed = 7) ++
      Fixtures.alignedDuplicated(blocks = 64, distinct = 8, seed = 8)
    val pa = Fixtures.writeTemp(dir, "a.bin", a)
    val pb = Fixtures.writeTemp(dir, "b.bin", b)
    val engine = new Deduplicator(spark, s"$dir/work")
    val ra = engine.deduplicateFile(pa, DedupOptions(chunkBytes = 64))
    val rb = engine.deduplicateFile(pb, DedupOptions(chunkBytes = 64))
    // every chunk of b's first half is already in the catalog via run a
    assert(rb.pointers >= 512, s"expected cross-run hits, got $rb")
    val outA = s"$dir/rec-a"; val outB = s"$dir/rec-b"
    engine.recoverFile(ra.outputName, outA)
    engine.recoverFile(rb.outputName, outB)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(outA)), a))
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(outB)), b))
  }

  test("byte-exact .bin parity sink + parser round-trip, with zip") {
    val dir = tempDir("rt-bin")
    val data = Fixtures.alignedDuplicated(blocks = 256, distinct = 10, seed = 9)
    val input = Fixtures.writeTemp(dir, "c.bin", data)
    val engine = new Deduplicator(spark, s"$dir/work")
    val res = engine.deduplicateFile(input,
      DedupOptions(chunkBytes = 64, binParity = true, outputName = Some("c.enc")))
    val binFile = s"$dir/work/encoded/c.enc"
    assert(Files.exists(Paths.get(binFile)))
    // parse the tagged file back and compare against the parquet encoding
    val parsed = BinFormat.read(spark, binFile, 64)
      .orderBy("pos").collect()
    val parquet = spark.read.parquet(s"$dir/work/encoded/c.enc.parquet")
      .orderBy("pos").collect()
    assert(parsed.length == parquet.length && parsed.length == res.chunks)
    parsed.zip(parquet).foreach { case (p, q) =>
      assert(p.getAs[Boolean]("is_pointer") == q.getAs[Boolean]("is_pointer"))
      if (p.getAs[Boolean]("is_pointer"))
        assert(p.getAs[Long]("ref_line") == q.getAs[Long]("ref_line"))
      else
        assert(java.util.Arrays.equals(p.getAs[Array[Byte]]("chunk"),
          q.getAs[Array[Byte]]("chunk")))
    }
    // zip / unzip round-trip (files.ex:64-94)
    val hconf = spark.sparkContext.hadoopConfiguration
    BinFormat.zipFile(binFile, s"$binFile.zip", hconf)
    BinFormat.unzipFile(s"$binFile.zip", s"$binFile.unzipped", hconf)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(binFile)),
      Files.readAllBytes(Paths.get(s"$binFile.unzipped"))))
  }

  test(".bin-input recovery: recover from the tagged file alone, no parquet") {
    val dir = tempDir("rt-binrec")
    val data = Fixtures.alignedDuplicated(blocks = 256, distinct = 10, seed = 4)
    val input = Fixtures.writeTemp(dir, "d.bin", data)
    val engine = new Deduplicator(spark, s"$dir/work")
    val res = engine.deduplicateFile(input,
      DedupOptions(chunkBytes = 64, binParity = true, outputName = Some("d.enc")))
    assert(res.pointers > 0, "fixture must produce pointers")
    // destroy the parquet twin AND the catalog: the tagged file must be
    // self-contained (reference recovery_file/3 takes the .bin itself)
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete()
    }
    rmTree(new java.io.File(s"$dir/work/encoded/d.enc.parquet"))
    rmTree(new java.io.File(s"$dir/work/catalog"))
    val out = s"$dir/recovered-from-bin"
    engine.recoverBinFile(s"$dir/work/encoded/d.enc", 64, out)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), data))
    // zipped variant resolves through the unzip path
    val hconf = spark.sparkContext.hadoopConfiguration
    BinFormat.zipFile(s"$dir/work/encoded/d.enc",
      s"$dir/work/encoded/d.enc.zip", hconf)
    val out2 = s"$dir/recovered-from-zip"
    engine.recoverBinFile(s"$dir/work/encoded/d.enc.zip", 64, out2)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out2)), data))
    assert(!new java.io.File(s"$dir/work/encoded")
      .listFiles().exists(_.getName.contains(".unzip-")),
      "temp unzip file must be cleaned up")
  }

  test("BinFormat.write refuses cross-file pointers (cat_file_id non-null)") {
    val s = spark; import s.implicits._
    val dir = tempDir("rt-binxfile")
    val df = Seq(
      (0L, false, "abcd".getBytes("UTF-8"), None: Option[Long], None: Option[Long]),
      (1L, true, Array.emptyByteArray, Some(0L), Some(7L)))
      .toDF("pos", "is_pointer", "chunk", "ref_line", "cat_file_id")
    val e = intercept[Exception] { BinFormat.write(df, s"$dir/bad.bin") }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("cat_file_id")),
      s"expected loud cat_file_id failure, got: ${messages.mkString(" | ")}")
  }

  test("catalog commit is idempotent under overlapping newLinks") {
    val dir = tempDir("cat-idem")
    val engine = new Deduplicator(spark, s"$dir/work")
    import spark.implicits._
    val links = Seq(("h1", 0L, 2L), ("h2", 1L, 1L)).toDF("hash", "line", "refs_num")
    val empty = Seq.empty[(String, Long)].toDF("hash", "delta")
    engine.catalog.commitRun("f1", 64, "sha", links, empty)
    // second commit re-offers h1 as new (must be dropped by the anti-join)
    // and bumps h2 by 3
    val links2 = Seq(("h1", 5L, 9L)).toDF("hash", "line", "refs_num")
    val deltas2 = Seq(("h2", 3L)).toDF("hash", "delta")
    engine.catalog.commitRun("f2", 64, "sha", links2, deltas2)
    val rows = engine.catalog.links().collect()
      .map(r => r.getAs[String]("hash") -> (r.getAs[Long]("line"), r.getAs[Long]("refs_num")))
      .toMap
    assert(rows == Map("h1" -> (0L, 2L), "h2" -> (1L, 4L)))
  }

  test("a committed output name is refused before anything is written, " +
    "so cross-run pointers into it keep recovering byte-exact") {
    val s = spark; import s.implicits._
    val dir = tempDir("rt-reuse")
    val a = Fixtures.highEntropy(64 * 64, seed = 21)
    val b = Fixtures.highEntropy(64 * 64, seed = 22)
    val c = a.take(20 * 64)
    val engine = new Deduplicator(spark, s"$dir/work")
    val asX = DedupOptions(chunkBytes = 64, outputName = Some("x"))
    engine.deduplicateFile(Fixtures.writeTemp(dir, "a", a), asX)
    val v = engine.catalog.currentVersion
    val e = intercept[IllegalArgumentException] {
      engine.deduplicateFile(Fixtures.writeTemp(dir, "b", b), asX)
    }
    assert(e.getMessage.contains("already committed"), e.getMessage)
    assert(engine.catalog.currentVersion == v)
    assert(engine.catalog.files().count() == 1)
    // C's pointers reach run x, which must still hold A's data
    val rc = engine.deduplicateFile(Fixtures.writeTemp(dir, "c", c),
      DedupOptions(chunkBytes = 64, outputName = Some("c")))
    assert(rc.pointers == 20)
    engine.recoverFile("c", s"$dir/rec-c")
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/rec-c")), c))
    engine.recoverFile("x", s"$dir/rec-x")
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(s"$dir/rec-x")), a))
    // a name with two catalog rows (a catalog written without this
    // check) is ambiguous: recovery fails loudly instead of guessing
    engine.catalog.commitRun("x", 64, "sha",
      Seq.empty[(String, Long, Long)].toDF("hash", "line", "refs_num"),
      Seq.empty[(String, Long)].toDF("hash", "delta"))
    val e2 = intercept[IllegalArgumentException] {
      engine.recoverFile("x", s"$dir/rec-x2")
    }
    assert(e2.getMessage.contains("2 catalog rows"), e2.getMessage)
  }
}
