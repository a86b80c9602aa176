package graft.streaming

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

class StreamingNearDupSpec extends SparkFunSuite {

  test("cross-batch near-dups are found through the persisted index; " +
    "within-batch dups are not missed; state accumulates") {
    val s = spark; import s.implicits._
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val dir = tempDir("snd")
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val work = s"$dir/work"

    // land one parquet FILE per batch in the watched dir (the file
    // source takes flat files; a df.write directory would not be listed)
    def writeBatch(df: DataFrame, name: String): Unit = {
      val tmp = s"$dir/stage-$name"
      df.repartition(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$inDir/$name.parquet"))
    }

    // batch 1: distinct docs, one within-batch identical pair (10, 11)
    writeBatch(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark engines shuffle data across the cluster nodes"),
      (10L, "identical text arriving twice in one single batch here"),
      (11L, "identical text arriving twice in one single batch here"))
      .toDF("id", "text"), "b1")
    StreamingNearDup.start(spark, inDir, work, 7, 10,
      bands = 8, rows = 4).awaitTermination()

    // batch 2: 100 is an identical twin of batch 1's doc 1; 101 is new.
    // The resumed stream deliberately passes DIFFERENT banding defaults
    // (16, 8): the index's pinned (8, 4, 8) must win for the appends.
    writeBatch(Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely unrelated content about training data pipelines"))
      .toDF("id", "text"), "b2")
    StreamingNearDup.start(spark, inDir, work, 7, 10).awaitTermination()

    val matches = spark.read.parquet(s"$work/matches")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-batch pair from batch 1 (join form: a < b)
    assert(matches.contains((10L, 11L)), s"within-batch dup missed: $matches")
    // cross-batch: probe 100 found corpus doc 1 through the index
    assert(matches.contains((100L, 1L)), s"cross-batch dup missed: $matches")
    // and nothing invented a pair for the unrelated doc
    assert(!matches.exists(p => p._1 == 101L || p._2 == 101L))

    // state accumulated: corpus has all 6 docs; the index meta still
    // pins batch 1's parameters (stream-restart parameters ignored)
    assert(spark.read.parquet(s"$work/corpus").count() == 6)
    assert(new String(Files.readAllBytes(
      Paths.get(s"$work/index/_graft_minhash_meta")), "UTF-8")
      .startsWith("8,4,"))
    // no leaked storage blocks from the per-batch operators (delta vs
    // test start: the shared session may carry other suites' blocks)
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet -- blocksBefore
    assert(leaked.isEmpty, s"leaked blocks: $leaked")
  }
}
