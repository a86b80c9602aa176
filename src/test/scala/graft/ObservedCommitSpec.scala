package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.api.{DedupOptions, Deduplicator}
import graft.operators.Catalog

/** A dedup batch reads its per-file counts, its touched buckets and its
  * bloom delta off passes that already run (observed metrics). Each
  * case here runs one batch and recomputes all three independently, as
  * separate aggregates: the batch's chunks are hashed and grouped on
  * the driver, the touched buckets are a distinct collect and the bloom
  * delta a `graft_bloom_agg` over the new hashes. The reference commits
  * the same contributions into a copy of the catalog taken before the
  * batch, and the two committed versions must match byte for byte:
  * MANIFEST, BLOOM, BLOOM_META, the links snapshot and the files table.
  */
class ObservedCommitSpec extends SparkFunSuite {
  import spark.implicits._

  private val W = 64

  /** `n` distinct 64-byte blocks from `from` on, each fixed by its id. */
  private def blocks(from: Int, n: Int): Array[Byte] =
    (from until from + n).toArray.flatMap { i =>
      val b = new Array[Byte](W); new scala.util.Random(i).nextBytes(b); b
    }

  private def sha1(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(b)
      .map("%02x".format(_)).mkString

  private def bytesOf(p: String): Option[Seq[Byte]] =
    Some(Paths.get(p)).filter(Files.exists(_)).map(Files.readAllBytes(_).toSeq)

  /** The effective bloom (capacity, bits) a commit on top of version `v`
    * sketches at: the version's BLOOM_META, else the creation capacity.
    */
  private def bloomSizing(catDir: String, v: Long, created: Long): (Long, Long) = {
    val meta = Paths.get(catDir, f"v_$v%06d", "BLOOM_META")
    if (v > 0 && Files.exists(meta)) {
      val kv = new String(Files.readAllBytes(meta), "UTF-8").linesIterator
        .map(_.split("=", 2)).collect { case Array(k, x) => k -> x.trim.toLong }.toMap
      (kv("capacity"), kv("num_bits"))
    } else (created, if (created > 0) BloomFilter.optimalNumOfBits(created, 0.01) else 0L)
  }

  /** Runs `seed` (one batch, if any), then `batch` through a fresh engine
    * and checks the batch against the reference described above.
    */
  private def check(bloomItems: Long, seed: Seq[Array[Byte]],
                    batch: Seq[Array[Byte]]): Seq[graft.api.DedupResult] = {
    val dir = tempDir("observed")
    val catDir = s"$dir/work/catalog"
    val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1, bloomItems = bloomItems)
    def write(tag: String, files: Seq[Array[Byte]]) =
      files.zipWithIndex.map { case (b, i) => Fixtures.writeTemp(dir, s"$tag$i", b) }
    if (seed.nonEmpty) d.deduplicateBatch(write("seed", seed), DedupOptions(W))
    val v = d.catalog.currentVersion
    val refDir = s"$dir/reference"
    if (v > 0) FileUtils.copyDirectory(new java.io.File(catDir), new java.io.File(refDir))
    val known: Set[String] = d.catalog.links().select("hash").as[String].collect().toSet
    val fidBase = d.catalog.files().agg(coalesce(max("file_id"), lit(0L)))
      .head().getLong(0) + 1
    assert(d.catalog.nextFileId == fidBase)

    val names = batch.indices.map(i => s"run$i")
    val results = d.deduplicateBatch(write("in", batch), DedupOptions(W),
      outputNames = names)

    // ---- the reference: chunk, hash and group on the driver ----
    val chunks = for {
      (bytes, fidx) <- batch.zipWithIndex
      (chunk, pos) <- bytes.grouped(W).zipWithIndex
    } yield (fidx, pos.toLong, sha1(chunk))
    val byHash = chunks.groupBy(_._3)
    val first = byHash.map { case (h, cs) => h -> cs.map(c => (c._1, c._2)).min }
    val newLinks = byHash.keys.filterNot(known).toSeq.map { h =>
      (h, fidBase + first(h)._1, first(h)._2, byHash(h).size.toLong)
    }.toDF("hash", "file_id", "line", "refs_num").localCheckpoint()
    val deltas = byHash.keys.filter(known).toSeq.map(h => (h, byHash(h).size.toLong))
      .toDF("hash", "delta").localCheckpoint()
    // per-file (chunks, pointers) as a grouped collect: a pointer is a
    // known hash or a repeat of the batch-first occurrence
    val perFile = chunks.map(c => (c._1, known(c._3) || first(c._3) != ((c._1, c._2))))
      .toDF("fidx", "is_pointer").groupBy("fidx")
      .agg(count(lit(1)), sum(when(col("is_pointer"), 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(results.map(r => (r.chunks, r.pointers)) ==
      batch.indices.map(perFile.getOrElse(_, (0L, 0L))))
    assert(results.map(_.fileId) == batch.indices.map(fidBase + _))
    assert(results.map(_.outputName) == names)

    val ref = new Catalog(spark, refDir, bucketChars = 1, bloomItems = bloomItems)
    val touched = newLinks.select("hash").unionByName(deltas.select("hash"))
      .select(substring(col("hash"), 1, 1)).distinct().as[String].collect().toSet
    val (cap, bits) = bloomSizing(refDir, v, bloomItems)
    val bloom =
      if (cap <= 0) None
      else Option(newLinks.select(call_function("graft_bloom_agg",
        xxhash64(col("hash")), lit(cap), lit(bits))).head().getAs[Array[Byte]](0))
    ref.commitRunsPrechecked(
      names.zipWithIndex.map { case (n, i) => Catalog.RunMeta(fidBase + i, n, W, "sha") },
      newLinks, deltas, v, touched, bloom)

    val next = f"v_${v + 1}%06d"
    Seq("MANIFEST", "BLOOM", "BLOOM_META").foreach { f =>
      assert(bytesOf(s"$catDir/$next/$f") == bytesOf(s"$refDir/$next/$f"), f)
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    assert(sorted(d.catalog.links()) == sorted(ref.links()))
    assert(sorted(d.catalog.files()) == sorted(ref.files()))
    results
  }

  private val seeded = Seq(blocks(0, 64))

  test("all chunks novel") {
    val rs = check(1000L, seeded, Seq(blocks(100, 20), blocks(200, 20) ++ Array.fill[Byte](10)(3)))
    assert(rs.map(_.pointers) == Seq(0L, 0L))
  }

  test("all chunks known") {
    val rs = check(1000L, seeded, Seq(blocks(0, 30), blocks(30, 30)))
    assert(rs.map(_.pointers) == Seq(30L, 30L))
  }

  test("mostly known, with repeats inside a file (the benchmark's mix)") {
    check(1000L, seeded, Seq(
      blocks(0, 36) ++ blocks(300, 4) ++ blocks(2, 2) ++ Array.fill[Byte](10)(7),
      blocks(36, 20) ++ blocks(400, 3) ++ blocks(400, 2)))
  }

  test("three files, one of them empty") {
    val rs = check(1000L, seeded, Seq(blocks(10, 10) ++ blocks(500, 5),
      Array.emptyByteArray, blocks(600, 8)))
    assert(rs(1).chunks == 0L && rs(1).pointers == 0L)
  }

  test("a file whose chunks all point into another file of the batch") {
    val rs = check(1000L, seeded, Seq(blocks(700, 12), blocks(700, 12).take(8 * W)))
    assert(rs(1).pointers == rs(1).chunks)
  }

  test("a first commit into an empty catalog") {
    check(1000L, Nil, Seq(blocks(0, 16) ++ blocks(0, 4), blocks(16, 8)))
  }

  test("bloomItems = 0: no bloom sidecar") {
    check(0L, seeded, Seq(blocks(0, 20) ++ blocks(800, 6)))
  }

  test("a saturated bloom") {
    // a filter sized for 8 items, fed 64 by the seed
    check(8L, seeded, Seq(blocks(20, 20) ++ blocks(900, 10)))
  }

  test("the prechecked front fails loudly, writing nothing, when the " +
    "catalog moved since the probe") {
    val cat = new Catalog(spark, s"${tempDir("moved")}/catalog", bucketChars = 1)
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    cat.commitRun("f1", W, "sha", Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    val probed = cat.currentVersion
    cat.commitRun("f2", W, "sha", Seq(("bb22", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    val e = intercept[IllegalStateException] {
      cat.commitRunsPrechecked(Seq(Catalog.RunMeta(3L, "f3", W, "sha")),
        Seq(("cc33", 3L, 0L, 1L)).toDF("hash", "file_id", "line", "refs_num"),
        none, probed, Set("c"), None)
    }
    assert(e.getMessage.contains("moved"), e.getMessage)
    assert(cat.currentVersion == probed + 1 && cat.links().count() == 2L)
  }

  /** max(file_id) + 1 as the aggregate over the files table. */
  private def aggregateNext(cat: Catalog): Long =
    cat.files().agg(coalesce(max("file_id"), lit(0L))).head().getLong(0) + 1

  test("nextFileId from footer statistics after compact(), and the next " +
    "batch's file ids") {
    val dir = tempDir("next-compact")
    val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
    d.deduplicateBatch(Seq(Fixtures.writeTemp(dir, "a", blocks(0, 20)),
      Fixtures.writeTemp(dir, "b", blocks(20, 20))), DedupOptions(W))
    d.deduplicateFile(Fixtures.writeTemp(dir, "c", blocks(40, 20)), DedupOptions(W))
    d.catalog.compact()
    assert(d.catalog.nextFileId == 4L && aggregateNext(d.catalog) == 4L)
    val rs = d.deduplicateBatch(Seq(Fixtures.writeTemp(dir, "d", blocks(60, 20)),
      Fixtures.writeTemp(dir, "e", blocks(0, 10))), DedupOptions(W))
    assert(rs.map(_.fileId) == Seq(4L, 5L))
    assert(d.catalog.nextFileId == 6L && aggregateNext(d.catalog) == 6L)
  }

  test("nextFileId from footer statistics after dropRun") {
    val dir = tempDir("next-drop")
    val cat = new Catalog(spark, s"$dir/catalog", bucketChars = 1)
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    cat.commitRun("f1", W, "sha", Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f2", W, "sha", Seq(("bb22", 0L, 2L)).toDF("hash", "line", "refs_num"), none)
    assert(cat.nextFileId == 3L)
    cat.dropRun("f2", Seq("bb22", "bb22").toDF("hash"))
    assert(cat.nextFileId == 2L && aggregateNext(cat) == 2L)
    cat.dropRun("f1", Seq("aa11").toDF("hash"))
    assert(cat.nextFileId == 1L && aggregateNext(cat) == 1L)
  }

  test("nextFileId falls back to the aggregate when the footers carry no " +
    "statistics") {
    val dir = tempDir("next-nostats")
    val cat = new Catalog(spark, s"$dir/catalog", bucketChars = 1)
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("parquet.column.statistics.enabled", "false")
    try {
      cat.commitRun("f1", W, "sha", Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
      cat.commitRun("f2", W, "sha", Seq(("bb22", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    } finally conf.unset("parquet.column.statistics.enabled")
    // the files table's footers really carry no file_id statistics
    val parts = new java.io.File(s"$dir/catalog/v_000002/files").listFiles()
      .filter(_.getName.startsWith("part-"))
    val stats = parts.toSeq.flatMap { f =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try {
        import scala.jdk.CollectionConverters._
        in.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
          .flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == "file_id"))
          .map(_.getStatistics)
      } finally in.close()
    }
    assert(stats.nonEmpty && stats.forall(s => s == null || !s.hasNonNullValue))
    assert(cat.nextFileId == 3L)
  }
}
