package graft

import graft.api.{DedupOptions, Deduplicator}
import graft.operators.Catalog
import java.nio.file.{Files, Paths}

class CatalogSpec extends SparkFunSuite {

  test("bucket-pruned merge: a commit rewrites only touched buckets") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-buckets")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")

    // v1: links in buckets aa and bb
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L), ("bb22", 1L, 2L)).toDF("hash", "line", "refs_num"), none)
    // v2: new link in bucket cc only
    cat.commitRun("f2", 64, "sha",
      Seq(("cc33", 0L, 1L)).toDF("hash", "line", "refs_num"), none)

    val v2Buckets = new java.io.File(s"$dir/catalog/v_000002/hash_links")
      .listFiles().map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(v2Buckets.sameElements(Array("bucket=cc")),
      s"v2 must contain ONLY the touched bucket, got ${v2Buckets.mkString(",")}")
    // untouched buckets still resolve (carried forward by manifest)
    val all = cat.links().collect()
      .map(r => r.getAs[String]("hash") -> r.getAs[Long]("refs_num")).toMap
    assert(all == Map("aa11" -> 1L, "bb22" -> 2L, "cc33" -> 1L))
    // point read prunes to one bucket and still hits
    assert(cat.getHashLink("bb22").count() == 1)

    // v3: delta on bb only → rewrites bucket bb, carries aa/cc forward
    cat.commitRun("f3", 64, "sha",
      Seq.empty[(String, Long, Long)].toDF("hash", "line", "refs_num"),
      Seq(("bb22", 5L)).toDF("hash", "delta"))
    val v3Buckets = new java.io.File(s"$dir/catalog/v_000003/hash_links")
      .listFiles().map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(v3Buckets.sameElements(Array("bucket=bb")))
    assert(cat.getHashLink("bb22").head().getAs[Long]("refs_num") == 7L)
    // the untouched aa bucket file is literally the v1 file (by reference)
    val aaV1 = new java.io.File(s"$dir/catalog/v_000001/hash_links/bucket=aa")
    assert(aaV1.exists())
    assert(!new java.io.File(s"$dir/catalog/v_000003/hash_links/bucket=aa").exists())
  }

  test("linksAt time travel: old versions stay exactly readable after " +
    "later commits and deltas") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-timetravel")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L), ("bb22", 1L, 2L)).toDF("hash", "line", "refs_num"), none)
    val v1 = cat.currentVersion
    val v1Snapshot = cat.links().collect()
      .map(r => r.getAs[String]("hash") -> r.getAs[Long]("refs_num")).toMap
    // commit 2 adds a link AND bumps bb's refs — the bb bucket is
    // rewritten, so v1 must be served from the OLD bucket file
    cat.commitRun("f2", 64, "sha",
      Seq(("cc33", 0L, 1L)).toDF("hash", "line", "refs_num"),
      Seq(("bb22", 5L)).toDF("hash", "delta"))
    val atV1 = cat.linksAt(v1).collect()
      .map(r => r.getAs[String]("hash") -> r.getAs[Long]("refs_num")).toMap
    assert(atV1 === v1Snapshot)
    assert(atV1("bb22") === 2L) // NOT the merged 7
    // current view unchanged by the time-travel read
    assert(cat.linksAt(cat.currentVersion).collect().toSet
      === cat.links().collect().toSet)
  }

  test("bucket width is a creation knob, persisted and adopted on reopen") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-width")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    val cat = new Catalog(spark, s"$dir/catalog", bucketChars = 1)
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L), ("ab22", 1L, 2L), ("b033", 2L, 1L))
        .toDF("hash", "line", "refs_num"), none)
    // width-1 layout: aa11 and ab22 share bucket=a, b033 lives in bucket=b
    val v1Buckets = new java.io.File(s"$dir/catalog/v_000001/hash_links")
      .listFiles().map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(v1Buckets.sameElements(Array("bucket=a", "bucket=b")),
      s"got ${v1Buckets.mkString(",")}")
    // meta pinned at first commit
    assert(Files.readAllLines(
      Paths.get(s"$dir/catalog/_graft_catalog_meta")).get(0)
      == "bucket_chars=1")
    // reopen WITHOUT the knob: persisted width wins — the delta must
    // rewrite bucket=a (width 1), not look for bucket=aa (width 2)
    val reopened = new Catalog(spark, s"$dir/catalog")
    reopened.commitRun("f2", 64, "sha",
      Seq.empty[(String, Long, Long)].toDF("hash", "line", "refs_num"),
      Seq(("aa11", 4L)).toDF("hash", "delta"))
    assert(reopened.getHashLink("aa11").head().getAs[Long]("refs_num") == 5L)
    val v2Buckets = new java.io.File(s"$dir/catalog/v_000002/hash_links")
      .listFiles().map(_.getName).filter(_.startsWith("bucket="))
    assert(v2Buckets.sameElements(Array("bucket=a")))
    // carried-forward bucket=b still resolves through the manifest
    assert(reopened.getHashLink("b033").count() == 1)
  }

  test("bloom sidecar: rolls forward across commits with no false " +
      "negatives; capacity pinned; 0 disables") {
    val s = spark; import s.implicits._
    import graft.functions.BloomMembership
    import org.apache.spark.sql.functions.col
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    val dir = tempDir("cat-bloom")
    val cat = new Catalog(spark, s"$dir/catalog", bloomItems = 1000L)
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L), ("bb22", 1L, 2L))
        .toDF("hash", "line", "refs_num"), none)
    val b1 = cat.seenBloom()
    assert(b1.isDefined, "bloom sidecar must exist from version 1")
    // meta pins both knobs
    val meta = Files.readAllLines(
      Paths.get(s"$dir/catalog/_graft_catalog_meta"))
    assert(meta.contains("bloom_items=1000"))
    // second commit MERGES: both old and new hashes flagged afterwards
    cat.commitRun("f2", 64, "sha",
      Seq(("cc33", 0L, 1L)).toDF("hash", "line", "refs_num"),
      Seq(("aa11", 2L)).toDF("hash", "delta"))
    val b2 = cat.seenBloom().get
    val flags = Seq("aa11", "bb22", "cc33", "zz99").toDF("h")
      .select(col("h"), BloomMembership.mightContain(b2, col("h")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(flags("aa11") && flags("bb22") && flags("cc33"),
      s"committed hashes must all be flagged: $flags")
    // (zz99 is *allowed* to be a false positive; no assertion)
    // a delta-only commit must not lose the filter
    cat.commitRun("f3", 64, "sha",
      Seq.empty[(String, Long, Long)].toDF("hash", "line", "refs_num"),
      Seq(("bb22", 1L)).toDF("hash", "delta"))
    assert(cat.seenBloom().isDefined)
    // compact carries the filter forward
    cat.compact()
    val bc = cat.seenBloom()
    assert(bc.isDefined, "compact must carry the bloom forward")
    // reopen WITHOUT the knob: pinned capacity wins, commits still merge
    val reopened = new Catalog(spark, s"$dir/catalog")
    reopened.commitRun("f4", 64, "sha",
      Seq(("dd44", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    val b4 = reopened.seenBloom().get
    val f4 = Seq("aa11", "dd44").toDF("h")
      .select(graft.functions.BloomMembership.mightContain(b4, col("h"))).collect()
    assert(f4.forall(_.getBoolean(0)))
    // bloomItems = 0 disables the sidecar entirely
    val off = new Catalog(spark, s"$dir/off", bloomItems = 0L)
    off.commitRun("g1", 64, "sha",
      Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    assert(off.seenBloom().isEmpty)
    assert(!new java.io.File(s"$dir/off/v_000001/BLOOM").exists())
  }

  test("bloom saturation watch: a filter fed past its pinned capacity " +
    "warns through MaintenanceEvents and reads saturated in " +
    "bloomHealth(); a healthy filter stays silent") {
    val s = spark; import s.implicits._
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    val dir = tempDir("cat-bloomsat")
    val ev = graft.ext.MaintenanceEvents.BloomSaturated
    // healthy: capacity 10k, 64 items — no warning, sane health
    val ok = new Catalog(spark, s"$dir/ok", bloomItems = 10000L)
    ok.commitRun("f1", 64, "sha",
      (0 until 64).map(i => (f"$i%04x", i.toLong, 1L))
        .toDF("hash", "line", "refs_num"), none)
    assert(graft.ext.MaintenanceEvents.count(s"$dir/ok", ev) == 0)
    val Some((fppOk, cardOk, capOk)) = ok.bloomHealth()
    assert(fppOk < 0.01 * 10 && cardOk > 0 && capOk == 10000L)
    // saturated: capacity 8, 512 distinct hashes — measured FPP blows
    // past 10x design, the commit warns, health reads it back
    val sat = new Catalog(spark, s"$dir/sat", bloomItems = 8L)
    sat.commitRun("f1", 64, "sha",
      (0 until 512).map(i => (f"$i%04x", i.toLong, 1L))
        .toDF("hash", "line", "refs_num"), none)
    assert(graft.ext.MaintenanceEvents.count(s"$dir/sat", ev) == 1)
    val Some((fppSat, _, capSat)) = sat.bloomHealth()
    assert(fppSat > 0.1 && capSat == 8L, s"fpp=$fppSat")
    // no false negatives even saturated (the correctness half)
    import org.apache.spark.sql.functions.col
    val b = sat.seenBloom().get
    val hits = Seq("0001", "01ff").toDF("h")
      .select(graft.functions.BloomMembership.mightContain(b, col("h")))
      .collect()
    assert(hits.forall(_.getBoolean(0)))
  }

  test("bloom saturation self-heals on compact: the sidecar is rebuilt " +
    "at a capacity rescaled to measured cardinality, the prefilter " +
    "stays exact, and post-rebuild commits stay bit-compatible") {
    val s = spark; import s.implicits._
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    val dir = tempDir("cat-bloomheal")
    val sat = graft.ext.MaintenanceEvents.BloomSaturated
    val reb = graft.ext.MaintenanceEvents.BloomRebuilt
    // capacity 8, 512 distinct hashes: saturated after one commit
    val cat = new Catalog(spark, s"$dir/catalog", bloomItems = 8L)
    val hashes = (0 until 512).map(i => f"$i%04x")
    cat.commitRun("f1", 64, "sha",
      hashes.map(h => (h, 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    assert(graft.ext.MaintenanceEvents.count(s"$dir/catalog", sat) >= 1)
    val Some((fpp0, _, cap0)) = cat.bloomHealth()
    assert(fpp0 > 0.01 * 10 && cap0 == 8L)
    // compact: the rebuild fires, health returns under design FPP, and
    // the effective capacity is rescaled to >= 2x measured cardinality
    cat.compact()
    assert(graft.ext.MaintenanceEvents.count(s"$dir/catalog", reb) == 1)
    val Some((fpp1, _, cap1)) = cat.bloomHealth()
    assert(fpp1 <= 0.01, s"still saturated after rebuild: fpp=$fpp1")
    // rescaled to 2x the exact live-hash count (512 links)
    assert(cap1 == 2L * 512, s"capacity not rescaled: cap=$cap1")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      f"$dir/catalog/v_${cat.currentVersion}%06d/BLOOM_META")))
    // the prefilter's no-false-negatives contract holds over every
    // cataloged hash after the rebuild
    import org.apache.spark.sql.functions.col
    val b1 = cat.seenBloom().get
    assert(hashes.toDF("h")
      .select(graft.functions.BloomMembership.mightContain(b1, col("h"))).collect()
      .forall(_.getBoolean(0)))
    // a REOPENED catalog adopts the rescaled sizing: the next commit's
    // delta sketch merges bit-compatibly and stays healthy + exact
    val reopened = new Catalog(spark, s"$dir/catalog")
    val more = (512 until 600).map(i => f"$i%04x")
    reopened.commitRun("f2", 64, "sha",
      more.map(h => (h, 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    val Some((fpp2, _, cap2)) = reopened.bloomHealth()
    assert(cap2 == cap1 && fpp2 <= 0.01, s"post-rebuild commit " +
      s"regressed: fpp=$fpp2 cap=$cap2")
    val b2 = reopened.seenBloom().get
    assert((hashes ++ more).toDF("h")
      .select(graft.functions.BloomMembership.mightContain(b2, col("h"))).collect()
      .forall(_.getBoolean(0)))
    // a HEALTHY filter compacts carried-forward: no rebuild event, and
    // the rescaled sizing survives the carry (BLOOM_META travels)
    reopened.compact()
    assert(graft.ext.MaintenanceEvents.count(s"$dir/catalog", reb) == 1)
    val Some((fpp3, _, cap3)) = reopened.bloomHealth()
    assert(cap3 == cap1 && fpp3 <= 0.01)
  }

  test("vacuum deletes only unreferenced versions, keeps live buckets") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-vacuum")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    // v1 writes buckets aa+bb; v2 rewrites bb only; v3 rewrites bb again
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L), ("bb22", 1L, 1L)).toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f2", 64, "sha",
      Seq(("bb33", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f3", 64, "sha",
      Seq(("bb44", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    // manifest: aa→1, bb→3. v2 is fully unreferenced; v1 still holds aa.
    assert(cat.vacuum() == Seq(2L))
    assert(new java.io.File(s"$dir/catalog/v_000001").exists(), "v1 holds live bucket aa")
    assert(!new java.io.File(s"$dir/catalog/v_000002").exists(), "v2 must be gone")
    val all = cat.links().collect().map(_.getAs[String]("hash")).sorted
    assert(all.sameElements(Array("aa11", "bb22", "bb33", "bb44")))
    assert(cat.vacuum().isEmpty) // idempotent
    // vacuum is the documented END of the time-travel guarantee: the
    // reclaimed v2's own snapshot is no longer servable as committed
    // (its bb bucket file is gone), while the CURRENT version remains
    // exactly readable through linksAt
    assert(cat.linksAt(cat.currentVersion).collect().toSet
      === cat.links().collect().toSet)
    val v2Hashes = cat.linksAt(2L).collect()
      .map(_.getAs[String]("hash")).toSet
    assert(!v2Hashes.contains("bb33"),
      "vacuumed v2 must not still serve its reclaimed bucket")
  }

  test("vacuum retention: retainLast keeps the last K versions' whole " +
    "reference closures time-travel readable; retainMs keeps an age " +
    "window; defaults reproduce the pre-retention behavior") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-retain")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    // v1 writes buckets aa+bb; v2/v3/v4 rewrite bb only — so every
    // version's manifest still references v1 (the aa bucket), and the
    // bb history is what retention arbitrates over
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L), ("bb22", 1L, 1L)).toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f2", 64, "sha",
      Seq(("bb33", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f3", 64, "sha",
      Seq(("bb44", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f4", 64, "sha",
      Seq(("bb55", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    def vdir(v: Long) = new java.io.File(f"$dir/catalog/v_$v%06d")
    // retainMs with every commit fresh: NOTHING is reclaimable
    assert(cat.vacuum(retainLast = 1, retainMs = 3600000L).isEmpty)
    assert(vdir(2).exists() && vdir(3).exists())
    // retainLast = 2: heads {3,4}; v2 is referenced by neither head's
    // manifest → reclaimed; v3 (head) and v1 (aa bucket, referenced by
    // both heads) survive, and v3's WHOLE snapshot stays readable
    assert(cat.vacuum(retainLast = 2) == Seq(2L))
    assert(vdir(1).exists() && vdir(3).exists() && vdir(4).exists())
    assert(!vdir(2).exists())
    assert(cat.linksAt(3L).collect().map(_.getAs[String]("hash")).sorted
      .sameElements(Array("aa11", "bb22", "bb33", "bb44")))
    // aged out of the window: the default (pre-retention) behavior
    // reclaims v3 once no retained head references it
    assert(cat.vacuum() == Seq(3L))
    assert(!vdir(3).exists())
    assert(cat.linksAt(cat.currentVersion).collect().toSet
      === cat.links().collect().toSet)
    // retainMs anchors on the COMMIT marker's mtime: age the current
    // window down to prove the age test actually consults it (nothing
    // left to delete here — v1 and v4 are both still referenced)
    assert(cat.vacuum(retainLast = 1, retainMs = 1L).isEmpty)
    intercept[IllegalArgumentException](cat.vacuum(retainLast = 0))
    intercept[IllegalArgumentException](cat.vacuum(retainMs = -1L))
  }

  test("vacuum reclaims a stale bare version dir that would block its " +
    "version number; a fresh one survives the grace window") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-bare")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    // A bare v_000002 (no COMMIT marker — e.g. debris of a non-atomic
    // rename store) blocks every future committer of version 2.
    val bare = Paths.get(s"$dir/catalog/v_000002")
    Files.createDirectories(bare)
    intercept[IllegalStateException] {
      cat.commitRun("f2", 64, "sha",
        Seq(("bb22", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    }
    // Fresh (mtime within the grace window): vacuum must NOT touch it.
    cat.vacuum()
    assert(Files.exists(bare), "a fresh bare dir could be mid-publish on " +
      "a non-atomic store; the grace window must protect it")
    // Stale: age it past the window — vacuum reclaims, commits unblock.
    Files.setLastModifiedTime(bare,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    cat.vacuum()
    assert(!Files.exists(bare), "stale bare version dir must be reclaimed")
    cat.commitRun("f2", 64, "sha",
      Seq(("bb22", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    assert(cat.currentVersion == 2L)
    assert(cat.links().count() == 2)
  }

  test("vacuum sweeps a stale bare version dir even in an EMPTY catalog " +
    "(currentVersion == 0), unblocking the first commit") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-bare-empty")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    // A stale bare v_000001 in an otherwise-empty catalog: the FIRST
    // commit is blocked, and vacuum is the designated remediation — it
    // must not early-return on currentVersion == 0.
    val bare = Paths.get(s"$dir/catalog/v_000001")
    Files.createDirectories(bare)
    Files.setLastModifiedTime(bare,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    intercept[IllegalStateException] {
      cat.commitRun("f1", 64, "sha",
        Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    }
    assert(cat.vacuum().isEmpty) // no committed versions to report
    assert(!Files.exists(bare), "stale bare dir must be reclaimed at v0")
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    assert(cat.currentVersion == 1L)
  }

  test("batched commitRuns: one version bump; deltas hit the batch's own new links") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-batch")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    cat.commitRuns(Seq(
      Catalog.RunSpec(1L, "r1", 64, "sha",
        Seq(("aa11", 0L, 2L)).toDF("hash", "line", "refs_num"), none),
      // r2 re-sees r1's brand-new hash → reports it as a delta
      Catalog.RunSpec(2L, "r2", 64, "sha",
        Seq(("dd44", 0L, 1L)).toDF("hash", "line", "refs_num"),
        Seq(("aa11", 3L)).toDF("hash", "delta"))))
    assert(cat.currentVersion == 1, "batch of two runs = ONE version")
    val rows = cat.links().collect()
      .map(r => r.getAs[String]("hash") ->
        (r.getAs[Long]("file_id"), r.getAs[Long]("refs_num"))).toMap
    assert(rows == Map("aa11" -> (1L, 5L), "dd44" -> (2L, 1L)))
    assert(cat.files().count() == 2)
  }

  test("failed data write leaves the catalog untouched (data first, commit last)") {
    val dir = tempDir("cat-order")
    val data = Fixtures.alignedDuplicated(blocks = 32, distinct = 8, seed = 3)
    val input = Fixtures.writeTemp(dir, "x.bin", data)
    val engine = new Deduplicator(spark, s"$dir/work")
    // Sabotage the parity sink's destination: a non-empty DIRECTORY at the
    // target path makes the ordered sink's create() fail mid-run, after
    // planning but before any catalog commit.
    Files.createDirectories(Paths.get(s"$dir/work/encoded/blocked.enc"))
    Fixtures.writeTemp(s"$dir/work/encoded/blocked.enc", "occupied", Array[Byte](1))
    intercept[Exception] {
      engine.deduplicateFile(input, DedupOptions(chunkBytes = 64,
        binParity = true, outputName = Some("blocked.enc")))
    }
    assert(engine.catalog.currentVersion == 0, "failed write must not commit")
    assert(engine.catalog.links().count() == 0)
  }

  test("deduplicateFile rejects multi-file globs (pos would collide)") {
    val dir = tempDir("glob")
    Fixtures.writeTemp(dir, "g1.bin", Array[Byte](1, 2, 3))
    Fixtures.writeTemp(dir, "g2.bin", Array[Byte](4, 5, 6))
    val engine = new Deduplicator(spark, s"$dir/work")
    val e = intercept[IllegalArgumentException] {
      engine.deduplicateFile(s"$dir/g*.bin")
    }
    assert(e.getMessage.contains("deduplicateBatch"))
  }

  test("deduplicateBatch rejects two aliases of the same resolved file") {
    val dir = tempDir("alias")
    val p = Fixtures.writeTemp(dir, "a.bin", Array[Byte](1, 2, 3, 4))
    val engine = new Deduplicator(spark, s"$dir/work")
    // same file through a redundant-slash alias: raw strings differ,
    // qualified paths collide — must fail before any scan
    val e = intercept[IllegalArgumentException] {
      engine.deduplicateBatch(Seq(p, p.replace("/a.bin", "//a.bin")))
    }
    assert(e.getMessage.contains("same file"))
    assert(engine.catalog.currentVersion == 0)
  }

  test("losing concurrent committer fails loudly and cannot clobber the winner") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-race")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    val cat = new Catalog(spark, s"$dir/catalog")
    cat.commitRun("w", 64, "sha",
      Seq(("aa11", 0L, 1L)).toDF("hash", "line", "refs_num"), none)
    // Emulate a concurrent winner whose staged rename to v_000002 lands
    // between this writer's base read and its own rename: the version
    // dir exists (uncommitted, so reads still resolve v1), and the
    // loser's publish must fail WITHOUT touching it.
    new java.io.File(s"$dir/catalog/v_000002").mkdirs()
    val e = intercept[IllegalStateException] {
      cat.commitRun("l", 64, "sha",
        Seq(("bb22", 0L, 9L)).toDF("hash", "line", "refs_num"), none)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the winner's state is intact; the loser's bytes are nowhere
    val rows = cat.links().collect()
      .map(r => r.getAs[String]("hash") -> r.getAs[Long]("refs_num")).toMap
    assert(rows == Map("aa11" -> 1L))
    assert(new java.io.File(s"$dir/catalog/v_000002").listFiles().isEmpty,
      "loser must not write into the winner's version dir")
    // no stray staging dirs survive a lost race
    val strays = new java.io.File(s"$dir/catalog").listFiles()
      .map(_.getName).filter(_.startsWith(".tmp_"))
    assert(strays.isEmpty, s"orphaned staging dirs: ${strays.mkString(",")}")
    // after the conflicting dir is gone (real winner would have COMMIT;
    // here we clear the emulation), a re-planned retry lands cleanly
    new java.io.File(s"$dir/catalog/v_000002").delete()
    cat.commitRun("l", 64, "sha",
      Seq(("bb22", 0L, 9L)).toDF("hash", "line", "refs_num"), none)
    assert(cat.currentVersion == 2L)
    assert(cat.getHashLink("bb22").head().getAs[Long]("refs_num") == 9L)
  }

  test("changes(v1, v2) classifies added/refs_changed/unchanged " +
    "exactly; changes(v, v) is all-unchanged") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-changes")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    cat.commitRun("f1", 64, "sha",
      Seq(("aa01", 0L, 2L), ("bb02", 1L, 1L), ("cc03", 2L, 3L))
        .toDF("hash", "line", "refs_num"), none)
    val v1 = cat.currentVersion
    cat.commitRun("f2", 64, "sha",
      Seq(("dd04", 0L, 1L)).toDF("hash", "line", "refs_num"),
      Seq(("bb02", 4L)).toDF("hash", "delta"))
    val v2 = cat.currentVersion
    val ch = cat.changes(v1, v2).collect()
      .map(r => r.getAs[String]("hash") ->
        (r.getAs[String]("change"), r.getAs[Any]("refs_from"),
          r.getAs[Any]("refs_to"))).toMap
    assert(ch("aa01") == (("unchanged", 2L, 2L)))
    assert(ch("bb02") == (("refs_changed", 1L, 5L)))
    assert(ch("cc03") == (("unchanged", 3L, 3L)))
    assert(ch("dd04") == (("added", null, 1L)))
    assert(cat.changes(v2, v2)
      .where(org.apache.spark.sql.functions.col("change") =!= "unchanged")
      .count() === 0L)
    // version ordering is enforced
    intercept[IllegalArgumentException] { cat.changes(v2, v1) }
  }

  test("compact collapses buckets to one file each and frees history") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-compact")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    // Three commits fragmenting bucket bb across versions + multi-file
    // writes (32 shuffle partitions → several part files per bucket).
    cat.commitRun("f1", 64, "sha",
      (0 until 40).map(i => (f"aa$i%02d", i.toLong, 1L))
        .toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f2", 64, "sha",
      (0 until 40).map(i => (f"bb$i%02d", i.toLong, 1L))
        .toDF("hash", "line", "refs_num"), none)
    cat.commitRun("f3", 64, "sha",
      Seq.empty[(String, Long, Long)].toDF("hash", "line", "refs_num"),
      Seq(("bb07", 4L)).toDF("hash", "delta"))
    val before = cat.links().orderBy("hash").collect().toSeq
    def partFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$dir/catalog"))
        .filter(f => f.getName.startsWith("part-") &&
          f.getPath.contains("hash_links"))
    }
    val nBefore = partFiles().size
    val newV = cat.compact()
    assert(newV == 4L)
    assert(cat.currentVersion == 4L)
    // one parquet file per bucket, all under the compacted version
    val after = partFiles()
    assert(after.size == 2, s"expected 1 file per bucket, got ${after.size}")
    assert(after.forall(_.getPath.contains("v_000004")))
    assert(after.size < nBefore)
    // reads are row-identical
    assert(cat.links().orderBy("hash").collect().toSeq == before)
    // history fully reclaimed: only the compacted version remains
    val versions = new java.io.File(s"$dir/catalog").listFiles()
      .map(_.getName).filter(_.startsWith("v_")).sorted
    assert(versions.sameElements(Array("v_000004")))
    // point reads still prune correctly post-compaction
    assert(cat.getHashLink("bb07").head().getAs[Long]("refs_num") == 5L)
  }

  test("vacuum/GC safety: cross-run pointers survive vacuum AND " +
    "compact+vacuum — recovery still byte-matches (SURVEY risk #3)") {
    // Adversarial shape: run-2's encoded file is MOSTLY pointers into
    // run-1's chunk store, then version churn makes run-1's catalog
    // version reclaimable. The property under test: vacuum may delete
    // old catalog VERSIONS (manifest-carried buckets keep the links
    // alive) but must never break pointer resolution — the encoded
    // chunk store is not vacuum's to touch, and every refs_num-bearing
    // link must still resolve identically afterwards.
    val dir = tempDir("cat-vacuum-safety")
    val a = Fixtures.alignedDuplicated(blocks = 512, distinct = 20, seed = 7)
    val b = Fixtures.alignedDuplicated(blocks = 512, distinct = 20, seed = 7) ++
      Fixtures.alignedDuplicated(blocks = 64, distinct = 8, seed = 8)
    val c = Fixtures.alignedDuplicated(blocks = 64, distinct = 8, seed = 9)
    val pa = Fixtures.writeTemp(dir, "a.bin", a)
    val pb = Fixtures.writeTemp(dir, "b.bin", b)
    val pc = Fixtures.writeTemp(dir, "c.bin", c)
    val engine = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
    val ra = engine.deduplicateFile(pa, DedupOptions(chunkBytes = 64))
    val rb = engine.deduplicateFile(pb, DedupOptions(chunkBytes = 64))
    val rc = engine.deduplicateFile(pc, DedupOptions(chunkBytes = 64))
    assert(rb.pointers >= 512, s"expected cross-run pointers into run 1, got $rb")
    val cat = engine.catalog
    def snapshot() = cat.links().collect().map(r =>
      (r.getAs[String]("hash"), r.getAs[Long]("line"),
        r.getAs[Long]("refs_num"))).toSet
    val before = snapshot()

    // run 2 bumped refs on EVERY run-1 hash, so every v1 bucket was
    // rewritten at v2 and v1 must actually be reclaimable — a vacuum
    // that deletes nothing here would vacuously "preserve" recovery.
    val deleted = cat.vacuum()
    assert(deleted.nonEmpty, "vacuum reclaimed nothing — scenario is not adversarial")
    assert(!deleted.contains(cat.currentVersion))

    // links identical, and recovery of ALL THREE runs still byte-matches
    assert(snapshot() == before, "vacuum changed link resolution")
    def checkRecovery(): Unit =
      Seq((ra, a, "a"), (rb, b, "b"), (rc, c, "c")).foreach { case (r, data, n) =>
        val out = s"$dir/rec-$n-${System.nanoTime()}"
        engine.recoverFile(r.outputName, out)
        assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)), data),
          s"recovery of run $n diverged after vacuum/compact")
      }
    checkRecovery()

    // compact (rewrite + vacuum all history): the strongest reclaim the
    // API offers — pointer resolution and byte recovery must still hold
    cat.compact()
    assert(snapshot() == before, "compact changed link resolution")
    checkRecovery()
  }

  test("dropRun: refs decremented, zero-ref links deleted, an emptied " +
    "bucket leaves the manifest; unsound drops fail loudly BEFORE " +
    "writing") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-drop")
    val cat = new Catalog(spark, s"$dir/catalog")
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    // f1 owns aa11 (2 own occurrences) and bb22 (1)
    cat.commitRun("f1", 64, "sha",
      Seq(("aa11", 0L, 2L), ("bb22", 1L, 1L))
        .toDF("hash", "line", "refs_num"), none)
    // f2 owns cc33 (×3; bucket cc is touched ONLY by f2) and re-refs
    // aa11 twice
    cat.commitRun("f2", 64, "sha",
      Seq(("cc33", 0L, 3L)).toDF("hash", "line", "refs_num"),
      Seq(("aa11", 2L)).toDF("hash", "delta"))
    val v2 = cat.currentVersion
    def snapshot() = cat.links().collect()
      .map(r => (r.getAs[String]("hash"), r.getAs[Long]("file_id"),
        r.getAs[Long]("refs_num"))).toSet
    val before = snapshot()

    def streamOf(h: (String, Int)*) =
      h.flatMap { case (x, n) => Seq.fill(n)(x) }.toDF("hash")
    // (b) still_referenced: f1 owns aa11 but f2 still refs it
    val e1 = intercept[IllegalArgumentException] {
      cat.dropRun("f1", streamOf("aa11" -> 2, "bb22" -> 1))
    }
    assert(e1.getMessage.contains("still_referenced=1"), e1.getMessage)
    // (a) overdrawn: stream claims more aa11 refs than exist
    val e2 = intercept[IllegalArgumentException] {
      cat.dropRun("f2", streamOf("cc33" -> 3, "aa11" -> 9))
    }
    assert(e2.getMessage.contains("overdrawn=1"), e2.getMessage)
    // (c) uncovered: f2's own cc33 missing from the stream → both its
    // link is uncovered AND dropping only aa11 refs leaves it owned
    val e3 = intercept[IllegalArgumentException] {
      cat.dropRun("f2", streamOf("aa11" -> 2))
    }
    assert(e3.getMessage.contains("uncovered=1"), e3.getMessage)
    // unknown file
    intercept[IllegalArgumentException] {
      cat.dropRun("nope", streamOf("aa11" -> 1))
    }
    // nothing was written by any failed attempt
    assert(cat.currentVersion == v2 && snapshot() == before,
      "failed dropRun must leave the catalog untouched")

    // sound drop of f2
    val v3 = cat.dropRun("f2", streamOf("cc33" -> 3, "aa11" -> 2))
    assert(v3 == cat.currentVersion)
    // equivalence: catalog now equals the f1-only state — cc33 GONE
    // even though bucket cc writes no partition in v3 (the manifest
    // entry must vanish, else the deleted links resurrect)
    assert(snapshot() == Set(("aa11", 1L, 2L), ("bb22", 1L, 1L)))
    assert(cat.getHashLink("cc33").count() == 0)
    assert(cat.files().collect().map(_.getAs[String]("filename")).toSet
      == Set("f1"))
    // the changefeed classifies all three legs
    val ch = cat.changes(v2, v3).collect()
      .map(r => r.getAs[String]("hash") -> r.getAs[String]("change")).toMap
    assert(ch == Map("aa11" -> "refs_changed", "bb22" -> "unchanged",
      "cc33" -> "removed"))
    // time travel to v2 still sees the pre-drop state (until vacuum)
    assert(cat.linksAt(v2).count() == 3)
    // compact after a drop: the rewrite must not resurrect cc33
    cat.compact()
    assert(snapshot() == Set(("aa11", 1L, 2L), ("bb22", 1L, 1L)),
      "compact after dropRun changed link state")
  }

  test("dropRun randomized rewind: dropping runs reverse-chronologically " +
    "returns the catalog to each prefix state exactly") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    // hash pool spread over many buckets; runs share hashes heavily so
    // drops exercise refs_changed AND removed on every step
    val pool = (0 until 40).map(i => f"${i % 16}%x_h$i%02d")
    val streams = (1 to 4).map { _ =>
      (0 until 30).map(_ => pool(rnd.nextInt(pool.length)))
    }
    def commitStream(cat: Catalog, name: String, runIdx: Int,
                     st: Seq[String]): Unit = {
      val sdf = st.zipWithIndex
        .map { case (h, p) => (h, runIdx * 1000L + p) }.toDF("hash", "gl")
      val known = cat.links().select("hash")
      cat.commitRun(name, 64, "sha",
        sdf.join(known, Seq("hash"), "left_anti").groupBy("hash")
          .agg(org.apache.spark.sql.functions.min("gl").as("line"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("refs_num")),
        sdf.join(known, Seq("hash"), "left_semi").groupBy("hash")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("delta")))
    }
    def snap(cat: Catalog) = cat.links().collect()
      .map(r => (r.getAs[String]("hash"), r.getAs[Long]("file_id"),
        r.getAs[Long]("line"), r.getAs[Long]("refs_num"))).toSet
    val dir = tempDir("cat-rewind")
    // prefix catalogs: state after runs 1..k only
    val prefixSnaps = (0 to 4).map { k =>
      val c = new Catalog(spark, s"$dir/prefix$k")
      (0 until k).foreach(i => commitStream(c, s"r${i + 1}", i, streams(i)))
      snap(c)
    }
    assert(prefixSnaps(4).nonEmpty && prefixSnaps(0).isEmpty)
    // the real catalog: commit all four, then drop 4,3,2,1
    val cat = new Catalog(spark, s"$dir/main")
    (0 until 4).foreach(i => commitStream(cat, s"r${i + 1}", i, streams(i)))
    assert(snap(cat) == prefixSnaps(4))
    (4 to 1 by -1).foreach { k =>
      cat.dropRun(s"r$k", streams(k - 1).toDF("hash"))
      assert(snap(cat) == prefixSnaps(k - 1),
        s"after dropping r$k the catalog must equal the prefix-${k - 1} state")
    }
    assert(cat.files().count() == 0 && cat.links().count() == 0)
  }

  test("commitRun refuses, writing nothing, a catalog that moved between " +
    "its file-id read and its publish") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-moved") + "/catalog"
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    def run(hash: String) = Seq((hash, 0L, 1L)).toDF("hash", "line", "refs_num")
    val other = new Catalog(spark, dir, bucketChars = 1)
    other.commitRun("seed", 64, "sha", run("aa11"), none)
    // Another writer's commit lands just before this writer's second
    // resolution of the version — the deterministic form of the race.
    var resolutions = 0
    val cat = new Catalog(spark, dir, bucketChars = 1) {
      override def currentVersion: Long = {
        resolutions += 1
        if (resolutions == 2) other.commitRun("winner", 64, "sha", run("bb22"), none)
        super.currentVersion
      }
    }
    val e = intercept[IllegalStateException](
      cat.commitRun("loser", 64, "sha", run("cc33"), none))
    assert(e.getMessage.contains("moved from version 1 to 2"), e.getMessage)
    assert(other.currentVersion == 2L)
    assert(other.files().orderBy("file_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(1L -> "seed", 2L -> "winner"))
    assert(other.links().where($"hash" === "cc33").count() == 0L)
    val staged = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith(".tmp_"))
    assert(staged.isEmpty, s"staged: ${staged.mkString(",")}")
  }

  test("every public call resolves the catalog version once, and every " +
    "writer once more to refuse a moved catalog") {
    val s = spark; import s.implicits._
    val dir = tempDir("cat-resolve") + "/catalog"
    val none = Seq.empty[(String, Long)].toDF("hash", "delta")
    def run(hash: String) = Seq((hash, 0L, 1L)).toDF("hash", "line", "refs_num")
    val seed = new Catalog(spark, dir, bucketChars = 1)
    seed.commitRun("a", 64, "sha", Seq(("aa11", 0L, 2L), ("bb22", 1L, 1L))
      .toDF("hash", "line", "refs_num"), none)
    seed.commitRun("b", 64, "sha", run("cc33"), Seq(("aa11", 1L)).toDF("hash", "delta"))
    var resolutions = 0
    val cat = new Catalog(spark, dir, bucketChars = 1) {
      override def currentVersion: Long = {
        resolutions += 1
        super.currentVersion
      }
    }
    // the prechecked front takes the version its caller probed, with
    // what the caller observed on its contributions
    def prechecked(): Unit = {
      val v = cat.currentVersion
      val fid = cat.nextFileId
      val links = Seq(("ff66", fid, 0L, 1L)).toDF("hash", "file_id", "line", "refs_num")
      val (observed, seen) = cat.observeCommit(
        links.select($"hash", org.apache.spark.sql.functions.lit(true).as("n")),
        v, Some($"n"))
      observed.collect()
      val (touched, bloom) = seen()
      resolutions = 0
      cat.commitRunsPrechecked(Seq(Catalog.RunMeta(fid, "f", 64, "sha")),
        links.localCheckpoint(), none, v, touched, bloom)
    }
    val rows: Seq[(String, Int, () => Any)] = Seq(
      ("files", 1, () => cat.files().collect()),
      ("links", 1, () => cat.links().collect()),
      ("getFile", 1, () => cat.getFile("a").collect()),
      ("getHashLink", 1, () => cat.getHashLink("aa11").collect()),
      ("getHashLinkByLine", 1, () => cat.getHashLinkByLine(0L).collect()),
      ("stats", 1, () => cat.stats().collect()),
      ("chunkRepetition", 1, () => cat.chunkRepetition().collect()),
      ("seenBloom", 1, () => cat.seenBloom()),
      ("bloomHealth", 1, () => cat.bloomHealth()),
      ("nextFileId", 1, () => cat.nextFileId),
      ("linksAt", 0, () => cat.linksAt(1L).collect()),
      ("changes", 0, () => cat.changes(1L, 2L).collect()),
      ("vacuum", 0, () => cat.vacuum(retainLast = 100)),
      ("commitRun", 2, () => cat.commitRun("c", 64, "sha", run("dd44"), none)),
      ("commitRuns", 2, () => cat.commitRuns(Seq(Catalog.RunSpec(
        4L, "d", 64, "sha", run("ee55"), none)))),
      ("commitRunsPrelinked", 2, () => cat.commitRunsPrelinked(
        Seq(Catalog.RunMeta(100L, "e", 64, "sha")),
        Seq(("ab77", 100L, 0L, 1L)).toDF("hash", "file_id", "line", "refs_num"),
        Seq(("cc33", 1L)).toDF("hash", "delta"))),
      ("commitRunsPrechecked", 1, () => prechecked()),
      ("dropRun", 2, () => cat.dropRun("e", Seq("ab77", "cc33").toDF("hash"))),
      ("compact", 2, () => cat.compact()))
    val counted = rows.map { case (call, _, body) =>
      resolutions = 0
      body()
      call -> resolutions
    }
    info(counted.map { case (c, n) => s"$c=$n" }.mkString(" "))
    assert(counted == rows.map { case (call, n, _) => call -> n })
    // and the reads still see every commit above
    assert(cat.files().count() == 5L)
    assert(cat.links().where($"hash" === "ab77").count() == 0L)
  }
}
