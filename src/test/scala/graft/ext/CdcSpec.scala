package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.functions.lit

class CdcSpec extends SparkFunSuite {

  private def blob(seed: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      var z = (seed * 1000003L + i) * 0x9E3779B97F4A7C15L + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      out(i) = (z ^ (z >>> 31)).toByte
      i += 1
    }
    out
  }

  test("cut points partition the input; sizes respect [min, max]") {
    val combos = Seq((64, 8, 1024), (128, 8, 1024), (48, 6, 256),
      (2048, 13, 65536))
    for ((min, avgBits, max) <- combos; seed <- 1L to 8L) {
      val n = 100 + (seed * 977 % 20000).toInt
      val b = blob(seed, n)
      val cuts = Cdc.cutPoints(b, min, avgBits, max)
      assert(cuts.last == n, s"last cut must be n ($min/$avgBits/$max)")
      assert(cuts.sameElements(cuts.sorted.distinct), "cuts strictly increasing")
      val sizes = (0 +: cuts.toSeq).sliding(2).map { case Seq(a, c) => c - a }.toSeq
      sizes.init.foreach { s =>
        assert(s >= math.min(min, n) && s <= max, s"interior size $s out of [$min,$max]")
      }
      assert(sizes.last >= 1 && sizes.last <= max)
      // determinism
      assert(Cdc.cutPoints(b, min, avgBits, max).sameElements(cuts))
    }
    assert(Cdc.cutPoints(Array.empty[Byte], 64, 8, 1024).isEmpty)
    assert(Cdc.cutPoints(null, 64, 8, 1024).isEmpty)
  }

  test("average chunk size tracks 2^avgBits (normalized chunking)") {
    val b = blob(99, 1 << 20)
    val cuts = Cdc.cutPoints(b, 128, 9, 4096)
    val avg = b.length.toDouble / cuts.length
    assert(avg > 256 && avg < 1024, s"avg chunk $avg not near 512")
  }

  test("chunk table: hash/sum match a direct recompute; concat == input") {
    val b = blob(5, 7001)
    val chunks = Cdc.chunkTable(b, 64, 8, 1024)
    assert(chunks.map(_.size).sum == b.length)
    var off = 0
    chunks.foreach { ck =>
      assert(ck.offset == off)
      val slice = b.slice(ck.offset, ck.offset + ck.size)
      var h = 0L; var sum = 0L
      slice.foreach { x => h = h * 0x9E3779B97F4A7C15L + (x & 0xFF); sum += x & 0xFF }
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
      h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
      h ^= h >>> 33
      assert(ck.hash == h && ck.sum == sum)
      off += ck.size
    }
    assert(Cdc.chunkTable(Array.empty[Byte], 64, 8, 1024).isEmpty)
    assert(Cdc.chunkTable(null, 64, 8, 1024).isEmpty)
  }

  test("boundary resync: shared payload behind differing prefixes shares chunks") {
    // The CDC promise, pinned empirically over 200 deterministic pairs:
    // two blobs = (distinct prefix of distinct length) ++ (same 8 KiB
    // payload) always share >= 1 interior chunk identity, and once the
    // first payload-relative cut coincides, ALL later cuts coincide.
    var minShared = Int.MaxValue
    (0 until 200).foreach { t =>
      val payload = blob(10000 + t, 8192)
      val pa = blob(20000 + t, 13 + (t * 37) % 479)
      val pb = blob(30000 + t, 13 + (t * 53 + 11) % 479)
      val a = pa ++ payload
      val b = pb ++ payload
      def payloadCuts(full: Array[Byte], plen: Int): Seq[Int] =
        Cdc.cutPoints(full, 128, 8, 1024).toSeq
          .filter(_ > plen).map(_ - plen)
      val ca = payloadCuts(a, pa.length)
      val cb = payloadCuts(b, pb.length)
      val common = ca.toSet.intersect(cb.toSet)
      assert(common.nonEmpty, s"pair $t never resynced")
      val sync = common.min
      assert(ca.filter(_ >= sync) == cb.filter(_ >= sync),
        s"pair $t diverged after sync point $sync")
      val ha = Cdc.chunkTable(a, 128, 8, 1024).map(c => (c.hash, c.size, c.sum)).toSet
      val hb = Cdc.chunkTable(b, 128, 8, 1024).map(c => (c.hash, c.size, c.sum)).toSet
      val shared = ha.intersect(hb).size
      assert(shared >= 1, s"pair $t shares no chunk identity")
      minShared = math.min(minShared, shared)
    }
    assert(minShared >= 1)
  }

  test("fixed-size chunking is alignment-fragile where CDC is not") {
    val payload = blob(777, 8192)
    val a = blob(1, 17) ++ payload
    val b = blob(2, 30) ++ payload // 17 != 30 (mod 512): all windows differ
    def fixedIds(x: Array[Byte]): Set[(Long, Int, Long)] = {
      val s = spark
      import s.implicits._
      Cdc.fixedChunks(Seq((1L, x)).toDF("id", "bin"), "bin", 512)
        .select("chash", "csize", "csum").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(fixedIds(a).intersect(fixedIds(b)).isEmpty)
    val ha = Cdc.chunkTable(a, 128, 8, 1024).map(c => (c.hash, c.size, c.sum)).toSet
    val hb = Cdc.chunkTable(b, 128, 8, 1024).map(c => (c.hash, c.size, c.sum)).toSet
    assert(ha.intersect(hb).nonEmpty)
  }

  test("cdcChunks: contiguous offsets, sizes sum to blob length, poison -> 0 rows") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, blob(41, 5000)), (2L, blob(42, 300)),
      (3L, Array.empty[Byte]), (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "bin")
    val rows = Cdc.cdcChunks(df, "bin", 64, 8, 1024)
      .select("id", "chunk_idx", "offset", "csize")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(!rows.exists(r => r._1 == 3L || r._1 == 4L))
    Seq(1L -> 5000, 2L -> 300).foreach { case (id, n) =>
      val mine = rows.filter(_._1 == id).sortBy(_._2)
      assert(mine.map(_._4).sum == n)
      var off = 0
      mine.foreach { r => assert(r._3 == off); off += r._4 }
    }
  }

  test("cdc index: build + append + pruned probe == the join form") {
    val s = spark
    import s.implicits._
    def doc(seedBase: Long, id: Long): Array[Byte] =
      blob(seedBase + id, 20 + (id * 31 % 400).toInt) ++
        blob(90000 + id % 3, 6144)
    val corpus = (1L to 12L).map(i => (i, doc(100, i))).toDF("id", "bin")
    val probes = (101L to 106L).map(i => (i, doc(500, i))).toDF("id", "bin")
    val path = tempDir("cdcidx") + "/index"
    Cdc.buildCdcIndex(corpus.where($"id" <= 6), "id", "bin", path,
      128, 8, 1024, hashBuckets = 16)
    Cdc.appendToCdcIndex(corpus.where($"id" > 6), "id", "bin", path)
    val got = Cdc.probeCdcIndex(probes, "id", "bin", path,
        maxDocsPerChunk = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // join form over the union corpus, restricted to probe->corpus pairs
    val want = (for (p <- 101L to 106L; c <- 1L to 12L
                     if p % 3 == c % 3) yield (p, c)).toSet
    assert(got == want, s"got $got")
    // append contributed: ids > 6 present on the id_b side
    assert(got.exists(_._2 > 6))
    // mixed-regime protection: sidecar pins the chunking parameters
    val (mn, ab, mx, hb) = {
      val m = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, "_graft_cdc_meta"))
      val Array(a, b, c, d) = new String(m, "UTF-8").split(",").map(_.toInt)
      (a, b, c, d)
    }
    assert((mn, ab, mx, hb) == (128, 8, 1024, 16))
    // empty probe set -> empty result, no read
    assert(Cdc.probeCdcIndex(probes.where(lit(false)), "id", "bin", path)
      .count() == 0)
  }

  test("cdc index probe scan is partition-pruned to the probe's buckets") {
    val s = spark
    import s.implicits._
    val corpus = (1L to 40L)
      .map(i => (i, blob(i, 300) ++ blob(90000 + i % 5, 6144)))
      .toDF("id", "bin")
    val path = tempDir("cdc-prune") + "/index"
    Cdc.buildCdcIndex(corpus, "id", "bin", path, 128, 8, 1024,
      hashBuckets = 16)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = captured.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      // a probe that is EXACTLY corpus doc 1's first chunk: same bytes
      // from the same start -> same first cut -> ONE identity, one
      // bucket; and it shares that identity with doc 1, so AQE cannot
      // erase the scan via empty-relation propagation
      val doc1 = blob(1, 300) ++ blob(90001L, 6144)
      val firstCut = Cdc.cutPoints(doc1, 128, 8, 1024)(0)
      val probe = Seq((999L, doc1.take(firstCut))).toDF("id", "bin")
      val hits = Cdc.probeCdcIndex(probe, "id", "bin", path).collect()
      assert(hits.nonEmpty)
      val total = IndexFiles.partitions(spark, path)
      def scans(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          scans(m.relation.cachedPlan)
        case other => other.children.flatMap(scans)
      }
      val deadline = System.currentTimeMillis() + 15000
      var pruned = Seq.empty[Int]
      while (pruned.isEmpty && System.currentTimeMillis() < deadline) {
        import scala.jdk.CollectionConverters._
        pruned = captured.asScala.toSeq
          .flatMap(qe => scans(qe.executedPlan))
          .filter(_.relation.location.rootPaths.exists(
            _.toString.contains("cdc-prune")))
          .map(_.selectedPartitions.partitionCount)
        if (pruned.isEmpty) Thread.sleep(100)
      }
      assert(pruned.nonEmpty, "no index file scan captured")
      assert(pruned.min < total,
        s"probe scanned ${pruned.min} of $total buckets — pruning lost")
    } finally s.listenerManager.unregister(listener)
  }

  test("sharedChunkPairs: planted classes pair; hot boilerplate chunk is capped out") {
    val s = spark
    import s.implicits._
    // class payloads 0/1 disjoint; docs 1..4 class 0, docs 5..8 class 1,
    // doc 9 unrelated. ALL docs additionally carry one common 2 KiB
    // boilerplate blob -> with the cap at 4 that identity is excluded,
    // so cross-class pairs (which share ONLY boilerplate) must not appear.
    val boiler = blob(555, 2048)
    def doc(id: Long): Array[Byte] = {
      val cls = if (id <= 4) 0 else if (id <= 8) 1 else 2 + id
      blob(id * 7 + 100, 20 + (id * 31 % 400).toInt) ++
        blob(90000 + cls, 6144) ++ boiler
    }
    val df = (1L to 9L).map(i => (i, doc(i))).toDF("id", "bin")
    val pairs = Cdc.sharedChunkPairs(df, "id", "bin", 128, 8, 1024,
        maxDocsPerChunk = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSet ++
      (for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)).toSet
    assert(pairs == want, s"got $pairs")
    // without the cap the boilerplate chunk pairs everything
    val uncapped = Cdc.sharedChunkPairs(df, "id", "bin", 128, 8, 1024,
        maxDocsPerChunk = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == (for (a <- 1L to 9L; b <- (a + 1) to 9L) yield (a, b)).toSet)
  }
}
