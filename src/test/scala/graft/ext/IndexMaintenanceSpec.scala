package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compaction of the persisted append-index families: probe results
  * must be BIT-IDENTICAL before and after, file counts must drop
  * after fragmenting appends, row counts and sidecars must be
  * preserved, and the op must abort cleanly rather than publish a
  * wrong row set.
  */
class IndexMaintenanceSpec extends SparkFunSuite {

  private def docs(lo: Int, hi: Int): DataFrame = {
    val s = spark; import s.implicits._
    (lo until hi).map(i =>
      (i.toLong, s"document number $i about topic ${i % 7} with shared " +
        s"phrasing token$i end")).toDF("id", "text")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("minhash: probe bit-identical across compact, files drop, " +
    "rows and sidecar preserved") {
    val idx = tempDir("im-mh") + "/index"
    DocDedup.buildMinHashIndex(docs(0, 40), "id", "text", idx,
      bands = 4, rows = 2, sigBuckets = 4)
    DocDedup.appendToMinHashIndex(docs(40, 80), "id", "text", idx)
    DocDedup.appendToMinHashIndex(docs(80, 120), "id", "text", idx)
    val corpus = docs(0, 120)
    val probes = docs(0, 10).select((col("id") + 1000L).as("id"), col("text"))
    val pre = sorted(DocDedup.probeMinHashIndex(
      probes, corpus, "id", "text", idx, 7, 10))
    assert(pre.nonEmpty) // twins at J=1 must hit
    val rowsPre = IndexFiles.rows(spark, idx).count()
    val stats = DocDedup.compactMinHashIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore,
      s"expected fewer files, got $stats")
    assert(stats.rows == rowsPre)
    assert(IndexFiles.rows(spark, idx).count() == rowsPre)
    val post = sorted(DocDedup.probeMinHashIndex(
      probes, corpus, "id", "text", idx, 7, 10))
    assert(post == pre)
    // sidecar still pins the build parameters: an append after compact
    // must land in the same regime
    DocDedup.appendToMinHashIndex(docs(120, 130), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).count() > rowsPre)
  }

  test("hamming: probe bit-identical across compact, files drop") {
    val s = spark; import s.implicits._
    def sig(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, (i % 16).toLong * 0x1111L)).toDF("id", "sh")
    val idx = tempDir("im-ham") + "/index"
    DocDedup.buildHammingIndex(sig(0, 50), "id", "sh", idx, qBuckets = 8)
    DocDedup.appendToHammingIndex(sig(50, 100), "id", "sh", idx)
    val probes = sig(0, 8).select((col("id") + 1000L).as("id"), col("sh"))
    val pre = sorted(DocDedup.probeHammingIndex(probes, "id", "sh", idx, 2))
    assert(pre.nonEmpty)
    val stats = DocDedup.compactHammingIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore)
    assert(sorted(DocDedup.probeHammingIndex(
      probes, "id", "sh", idx, 2)) == pre)
  }

  test("winnow: probe bit-identical across compact, files drop") {
    val idx = tempDir("im-win") + "/index"
    Winnow.buildWinnowIndex(docs(0, 30), "id", "text", idx,
      k = 8, w = 4, fpBuckets = 8)
    Winnow.appendToWinnowIndex(docs(30, 60), "id", "text", idx)
    val probes = docs(5, 12).select((col("id") + 1000L).as("id"), col("text"))
    val pre = sorted(Winnow.probeWinnowIndex(probes, "id", "text", idx))
    assert(pre.nonEmpty)
    val stats = Winnow.compactWinnowIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore)
    assert(sorted(Winnow.probeWinnowIndex(
      probes, "id", "text", idx)) == pre)
  }

  test("cdc: probe bit-identical across compact, files drop") {
    val s = spark; import s.implicits._
    def blobs(lo: Int, hi: Int) = (lo until hi).map { i =>
      val shared = Array.tabulate(6000)(j => ((j * 31 + 7) % 251).toByte)
      val own = Array.tabulate(3000)(j => ((j * 17 + i) % 251).toByte)
      (i.toLong, shared ++ own)
    }.toDF("id", "bin")
    val idx = tempDir("im-cdc") + "/index"
    Cdc.buildCdcIndex(blobs(0, 20), "id", "bin", idx,
      minSize = 256, avgBits = 9, maxSize = 4096, hashBuckets = 8)
    Cdc.appendToCdcIndex(blobs(20, 40), "id", "bin", idx)
    val probes = blobs(0, 5).select((col("id") + 1000L).as("id"), col("bin"))
    val pre = sorted(Cdc.probeCdcIndex(probes, "id", "bin", idx))
    assert(pre.nonEmpty) // the shared prefix chunks must match
    val stats = Cdc.compactCdcIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore)
    assert(sorted(Cdc.probeCdcIndex(probes, "id", "bin", idx)) == pre)
  }

  private def vecs(lo: Int, hi: Int): DataFrame = {
    val s = spark; import s.implicits._
    (lo until hi).map { i =>
      val base = Array.tabulate(8)(d =>
        math.cos((i % 5) + d * 0.7).toFloat)
      (i.toLong, base.updated(i % 8, base(i % 8) + 0.01f * (i % 3)))
    }.toDF("id", "vec")
  }

  test("ivf: probe bit-identical across compact, files drop") {
    val idx = tempDir("im-ivf") + "/index"
    Similarity.buildIvfIndex(vecs(0, 60), "id", "vec", idx, nlist = 4)
    Similarity.appendToIvfIndex(vecs(60, 120), "id", "vec", idx)
    val queries = vecs(0, 6).select((col("id") + 1000L).as("id"), col("vec"))
    val pre = sorted(Similarity.probeIvfIndex(
      queries, "id", "vec", idx, k = 5, nprobe = 2))
    assert(pre.nonEmpty)
    val stats = Similarity.compactIvfIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore)
    assert(sorted(Similarity.probeIvfIndex(
      queries, "id", "vec", idx, k = 5, nprobe = 2)) == pre)
  }

  test("flat pq: probe bit-identical across compact, files drop") {
    val idx = tempDir("im-pq") + "/index"
    Similarity.buildPqIndex(vecs(0, 60), "id", "vec", idx, m = 4, ksub = 8)
    Similarity.appendToPqIndex(vecs(60, 120), "id", "vec", idx)
    Similarity.appendToPqIndex(vecs(120, 180), "id", "vec", idx)
    val queries = vecs(0, 6).select((col("id") + 1000L).as("id"), col("vec"))
    val pre = sorted(Similarity.probePqIndex(queries, "id", "vec", idx, 5))
    assert(pre.nonEmpty)
    val stats = Similarity.compactPqIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore)
    assert(sorted(Similarity.probePqIndex(
      queries, "id", "vec", idx, 5)) == pre)
  }

  test("ivf-pq: probe bit-identical across compact, files drop") {
    val idx = tempDir("im-ivfpq") + "/index"
    Similarity.buildIvfPqIndex(vecs(0, 60), "id", "vec", idx,
      nlist = 4, m = 4, ksub = 8)
    Similarity.appendToIvfPqIndex(vecs(60, 120), "id", "vec", idx)
    val queries = vecs(0, 6).select((col("id") + 1000L).as("id"), col("vec"))
    val pre = sorted(Similarity.probeIvfPqIndex(
      queries, "id", "vec", idx, k = 5, nprobe = 2))
    assert(pre.nonEmpty)
    val stats = Similarity.compactIvfPqIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore)
    assert(sorted(Similarity.probeIvfPqIndex(
      queries, "id", "vec", idx, k = 5, nprobe = 2)) == pre)
  }

  test("sidecar-only (empty-corpus) index is a no-op") {
    val s = spark; import s.implicits._
    val idx = tempDir("im-empty") + "/index"
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    DocDedup.buildMinHashIndex(empty, "id", "text", idx,
      bands = 4, rows = 2, sigBuckets = 4)
    val stats = DocDedup.compactMinHashIndex(spark, idx)
    assert(stats.rows == 0L)
    // the sidecar must survive so the index remains appendable
    DocDedup.appendToMinHashIndex(docs(0, 5), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).count() > 0)
  }

  test("a compaction that carries a batch publishes it, also on a " +
    "sidecar-only index") {
    val s = spark; import s.implicits._
    val idx = tempDir("im-batch") + "/index"
    DocDedup.buildMinHashIndex(Seq.empty[(Long, String)].toDF("id", "text"),
      "id", "text", idx, bands = 4, rows = 2, sigBuckets = 4)
    def banded(lo: Int, hi: Int) =
      DocDedup.bandedSignatures(docs(lo, hi), "id", "text", 4, 2, 4)
    val ref = tempDir("im-batch-ref") + "/index"
    DocDedup.buildMinHashIndex(docs(0, 5), "id", "text", ref,
      bands = 4, rows = 2, sigBuckets = 4)
    DocDedup.appendToMinHashIndex(docs(5, 10), "id", "text", ref)
    val first = IndexMaintenance.compactIndex(spark, idx, Seq("band", "sb"),
      Some(banded(0, 5)))
    assert(first.filesBefore == 0L && first.rows == banded(0, 5).count())
    val second = IndexMaintenance.compactIndex(spark, idx, Seq("band", "sb"),
      Some(banded(5, 10)))
    assert(second.rows == first.rows + banded(5, 10).count())
    assert(sorted(IndexFiles.rows(spark, idx)) == sorted(IndexFiles.rows(spark, ref)))
    // one file per partition, and the sidecar still pins the regime
    assert(second.filesAfter ==
      IndexFiles.rows(spark, idx).select("band", "sb").distinct().count())
    DocDedup.appendToMinHashIndex(docs(10, 12), "id", "text", idx)
    assert(IndexFiles.rows(spark, idx).count() > second.rows)
  }

  test("a compaction after an append that touched one partition " +
    "rewrites that partition only") {
    RecordingLocalFs.register(spark.sparkContext.hadoopConfiguration)
    val idx = RecordingLocalFs.uri(tempDir("im-one") + "/index")
    // one band: every document lands in exactly one (band, sb) partition
    DocDedup.buildMinHashIndex(docs(0, 40), "id", "text", idx,
      bands = 1, rows = 4, sigBuckets = 4)
    DocDedup.appendToMinHashIndex(docs(40, 41), "id", "text", idx)
    val partitions = IndexFiles.partitions(spark, idx)
    assert(partitions > 1)
    val rowsPre = IndexFiles.rows(spark, idx).count()
    RecordingLocalFs.reset()
    val stats = DocDedup.compactMinHashIndex(spark, idx)
    val written = RecordingLocalFs.createdPaths.count(_.endsWith(".parquet"))
    assert(written == 1, s"$written files written for one touched partition")
    assert(stats.filesBefore == partitions + 1 && stats.filesAfter == partitions,
      s"$stats over $partitions partitions")
    assert(stats.rows == rowsPre)
    assert(IndexFiles.rows(spark, idx).count() == rowsPre)
    assert(IndexFiles.residue(spark, idx).isEmpty)
  }

  test("missing index fails loudly") {
    intercept[IllegalArgumentException] {
      IndexMaintenance.compactIndex(spark, tempDir("im-miss") + "/nope",
        Seq("x"))
    }
  }
}
