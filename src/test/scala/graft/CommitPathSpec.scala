package graft

import org.apache.spark.sql.functions._
import graft.operators.Catalog

/** Pins the round-20 commit-path restructuring: the prechecked commit
  * front must commit exactly what the public (defensive) front commits
  * for inputs that honor its contract, the public front's anti-join
  * must still dedup caller overlap even though its right side is now
  * the touched-bucket read, and the streaming counts-skip must not
  * change what lands in the catalog.
  */
class CommitPathSpec extends SparkFunSuite {
  import spark.implicits._

  private def mkLinks(rows: Seq[(String, Long, Long, Long)]) =
    rows.toDF("hash", "file_id", "line", "refs_num")
  private def mkDeltas(rows: Seq[(String, Long)]) =
    rows.toDF("hash", "delta")

  private def snapshot(cat: Catalog) =
    cat.links().orderBy("hash")
      .collect().map(_.toSeq).toSeq

  test("commitRunsPrechecked commits exactly what the public front " +
    "commits for contract-honoring input") {
    val seed = Seq(("aa11", 1L, 0L, 2L), ("bb22", 1L, 1L, 1L))
    val newL = Seq(("ab33", 2L, 0L, 3L), ("ba44", 2L, 1L, 1L))
    val deltas = Seq(("aa11", 2L))

    val dirA = tempDir("commit-public")
    val catA = new Catalog(spark, dirA, bucketChars = 1)
    catA.commitRun("seed", 64, "sha", mkLinks(seed).drop("file_id"),
      mkDeltas(Nil))
    catA.commitRunsPrelinked(
      Seq(Catalog.RunMeta(2L, "run2", 64, "sha")),
      mkLinks(newL), mkDeltas(deltas))

    val dirB = tempDir("commit-prechecked")
    val catB = new Catalog(spark, dirB, bucketChars = 1)
    catB.commitRun("seed", 64, "sha", mkLinks(seed).drop("file_id"),
      mkDeltas(Nil))
    // the prechecked contract: materialized lineage, hashes disjoint
    // from the catalog, deltas one row per hash, and the touched
    // buckets and bloom delta the caller observed on them
    val v = catB.currentVersion
    val (observed, seen) = catB.observeCommit(
      mkLinks(newL).select($"hash", lit(true).as("is_new"))
        .unionByName(mkDeltas(deltas).select($"hash", lit(false).as("is_new"))),
      v, Some($"is_new"))
    observed.collect()
    val (touched, deltaBloom) = seen()
    assert(touched == Set("a", "b"))
    catB.commitRunsPrechecked(
      Seq(Catalog.RunMeta(2L, "run2", 64, "sha")),
      mkLinks(newL).localCheckpoint(), mkDeltas(deltas).localCheckpoint(),
      v, touched, deltaBloom)

    assert(snapshot(catA) == snapshot(catB))
    assert(catA.seenBloom().get.sameElements(catB.seenBloom().get))
    // and both applied the delta to the seeded hash
    assert(catA.links().where($"hash" === "aa11")
      .head().getAs[Long]("refs_num") == 4L)
  }

  test("public front still dedups caller overlap against the catalog " +
    "through the touched-bucket anti-join") {
    val dir = tempDir("commit-overlap")
    val cat = new Catalog(spark, dir, bucketChars = 1)
    cat.commitRun("seed", 64, "sha",
      mkLinks(Seq(("aa11", 1L, 0L, 2L))).drop("file_id"), mkDeltas(Nil))
    // caller replays the already-committed hash alongside a novel one
    cat.commitRunsPrelinked(
      Seq(Catalog.RunMeta(2L, "run2", 64, "sha")),
      mkLinks(Seq(("aa11", 2L, 9L, 9L), ("bb22", 2L, 0L, 1L))),
      mkDeltas(Nil))
    val rows = cat.links().orderBy("hash").collect()
    assert(rows.length == 2)
    // the replayed hash kept its ORIGINAL row — not the replay's
    val aa = rows.find(_.getAs[String]("hash") == "aa11").get
    assert(aa.getAs[Long]("file_id") == 1L &&
      aa.getAs[Long]("line") == 0L && aa.getAs[Long]("refs_num") == 2L)
    assert(rows.exists(r => r.getAs[String]("hash") == "bb22" &&
      r.getAs[Long]("file_id") == 2L))
  }

  test("deduplicateBatch with computeCounts=false commits the same " +
    "catalog and encoded bytes, only the returned counts are zeroed") {
    val data = Bench.benchFixture(64 * 1024, 64)
    def run(computeCounts: Boolean): (Seq[Seq[Any]], Long, Long) = {
      val base = java.nio.file.Files.createTempDirectory("ddc")
      val in = base.resolve("in.bin")
      java.nio.file.Files.write(in, data)
      val engine = new graft.api.Deduplicator(spark,
        base.resolve("work").toString, bucketChars = 1, bloomItems = 0L)
      val res = engine.deduplicateBatch(Seq(in.toString),
        graft.api.DedupOptions(chunkBytes = 64),
        outputNames = Seq("out.bin"), computeCounts = computeCounts)
      val links = snapshot(engine.catalog)
      (links, res.head.chunks, res.head.pointers)
    }
    val (withCounts, n1, p1) = run(computeCounts = true)
    val (without, n0, p0) = run(computeCounts = false)
    assert(withCounts == without)
    assert(n1 == 1024L && p1 > 0L) // observed-metric counts are real
    assert(n0 == 0L && p0 == 0L)   // skipped counts are zeroed, not wrong
  }

  test("fid cache survives across batches and re-reads after a foreign " +
    "commit moved the version") {
    val base = java.nio.file.Files.createTempDirectory("ddfid")
    def write(name: String): String = {
      val p = base.resolve(name)
      java.nio.file.Files.write(p, Bench.benchFixture(8 * 1024, 64))
      p.toString
    }
    val engine = new graft.api.Deduplicator(spark,
      base.resolve("work").toString, bucketChars = 1, bloomItems = 0L)
    val r1 = engine.deduplicateBatch(Seq(write("a.bin")),
      graft.api.DedupOptions(chunkBytes = 64))
    val r2 = engine.deduplicateBatch(Seq(write("b.bin")),
      graft.api.DedupOptions(chunkBytes = 64))
    assert(r2.head.fileId == r1.head.fileId + 1)
    // a SECOND writer commits through its own instance: the first
    // instance must read the file ids of the version that moved
    val other = new graft.api.Deduplicator(spark,
      base.resolve("work").toString, bucketChars = 1, bloomItems = 0L)
    val r3 = other.deduplicateBatch(Seq(write("c.bin")),
      graft.api.DedupOptions(chunkBytes = 64))
    val r4 = engine.deduplicateBatch(Seq(write("d.bin")),
      graft.api.DedupOptions(chunkBytes = 64))
    assert(r4.head.fileId == r3.head.fileId + 1)
  }
}
