package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.Trigger

import graft.ext.{DocDedup, IndexMaintenance}
import graft.streaming.StreamingNearDup

import Main.{Ctx, deleteTree, duBytes, median}

/** neardup_stream: set-up builds a MinHash index and corpus of synthetic
  * documents with planted near-dup pairs. The loop then runs one
  * `StreamingNearDup.start` query for its whole window, with index
  * compaction after every micro-batch, so every step of a kind does the
  * same work. Steps alternate: a fold step drops one document file into
  * the stream's input directory and waits until the query has folded it
  * (one micro-batch); a probe step makes one `DocDedup.probeMinHashIndex`
  * call against the grown, compacted index. The index core and the fold
  * stream do the work; the chunk-store catalog none. One untimed round
  * comes first, so the first measured micro-batch is not the query's
  * first.
  */
object NearDupStream {
  val BaseDocs = 4000
  val BasePlanted = 0.05
  val DocsPerFile = 100
  val StreamPlanted = 0.10
  val ProbeDocs = 200
  val ProbePlanted = 0.20
  val CompactEvery = 1
  val PollMs = 200L // the loop's query looks for new files this often
  val Num = 8 // verify threshold: word-bigram Jaccard >= 8/10
  val Den = 10
  val SetupReps = 3
  val WarmRounds = 1

  private def textBytes(docs: Seq[Gen.Doc]): Long =
    docs.map(_.text.getBytes("UTF-8").length.toLong).sum

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet

  private def norm(p: (Long, Long)) = (math.min(p._1, p._2), math.max(p._1, p._2))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen.DocStore(ctx.seed)
    val (base, _) = gen.corpusDocs(BaseDocs, BasePlanted)
    val staging = ctx.dir("staging")
    var fileNo = 0

    // Input files land atomically: written aside, then renamed in.
    def feed(in: String, docs: Seq[Gen.Doc]): Unit = {
      fileNo += 1
      val tmp = s"$staging/f$fileNo"
      docs.toDF().coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      require(part.renameTo(new File(in, f"docs-$fileNo%06d.parquet")))
      deleteTree(tmp)
    }

    val dirs = (0 until SetupReps).map { r =>
      val wd = ctx.dir(s"nd-$r")
      ctx.attempt("setup") {
        ctx.spans("setup") {
          base.toDF().write.mode(SaveMode.Overwrite).parquet(s"$wd/corpus")
          DocDedup.buildMinHashIndex(spark.read.parquet(s"$wd/corpus"), "id", "text",
            s"$wd/index")
        }
      }
      wd
    }
    ctx.e2e("setup_s") = (median(ctx.spans.secondsOf("setup")), "s")
    ctx.phase("setup")
    dirs.init.foreach(deleteTree)
    val wd = dirs.last
    val in = ctx.dir("in")
    val index = s"$wd/index"
    val corpus = s"$wd/corpus"
    def probe(docs: Seq[Gen.Doc]): Set[(Long, Long)] =
      pairsOf(DocDedup.probeMinHashIndex(docs.toDF(), spark.read.parquet(corpus),
        "id", "text", index, Num, Den))

    val setUpBytes = duBytes(index) + duBytes(corpus)
    var storedInput = 0L // every fold step's input, warm-up included
    var inputBytes = 0L
    val streamPlanted = ArrayBuffer.empty[(Long, Long)]
    var probePlantedTotal = 0L
    var probePlantedFound = 0L
    var probeBase = 1000000000L
    var probeBytes = 0L
    val q = StreamingNearDup.start(spark, in, wd, Num, Den,
      trigger = Trigger.ProcessingTime(PollMs), maxFilesPerTrigger = Some(1),
      compactEvery = Some(CompactEvery))
    def fold(): Unit = {
      val (docs, planted) = gen.corpusDocs(DocsPerFile, StreamPlanted)
      streamPlanted ++= planted.map(norm)
      feed(in, docs)
      ctx.attempt("fold") {
        ctx.spans("op.ingest")(q.processAllAvailable())
        storedInput += textBytes(docs)
        if (ctx.measuring) inputBytes += textBytes(docs)
      }
    }
    def probeStep(): Unit = {
      val (probes, want) = gen.probeDocs(ProbeDocs, ProbePlanted, probeBase)
      probeBase += ProbeDocs
      probePlantedTotal += want.size
      ctx.attempt("probe") {
        val found = ctx.spans("op.probe")(probe(probes))
        if (ctx.measuring) probeBytes += textBytes(probes)
        val wanted = want.map(norm).toSet
        probePlantedFound += wanted.count(found)
        ctx.check(found == wanted, s"probe found ${found.size} pairs, " +
          s"${(found -- wanted).size} unplanted, ${(wanted -- found).size} planted missed")
      }
    }
    try ctx.loop(WarmRounds)(() => fold(), () => probeStep())
    finally q.stop()
    q.exception.foreach(e => throw e)

    val ingests = ctx.measured("op.ingest")
    val probes = ctx.measured("op.probe")
    // One micro-batch per fold step (one file, maxFilesPerTrigger = 1).
    val microBatches = q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(WarmRounds)
      .map(_.durationMs.asScala.get("triggerExecution").map(_.toDouble / 1e3).getOrElse(0.0))
    Main.timingMetrics(ctx, inputBytes, ingests.map(_.durNs / 1e9).sum, microBatches,
      probeBytes, probes.map(_.durNs / 1e9), "probe calls")

    // The stream's matches must be exactly the planted stream pairs.
    val streamFound = ctx.attempt("stream matches") {
      val found = pairsOf(spark.read.parquet(s"$wd/matches"))
      val want = streamPlanted.toSet
      ctx.check(found == want, s"stream matched ${found.size} pairs, " +
        s"${(found -- want).size} unplanted, ${(want -- found).size} planted missed")
      want.count(found).toLong
    }.getOrElse(0L)
    ctx.e2e("planted_recall") = ((streamFound + probePlantedFound).toDouble /
      math.max(1L, streamPlanted.size + probePlantedTotal), "ratio")

    if (ctx.trace.isDefined) {
      Layers.zero(ctx)
      val windows = ingests ++ probes
      Layers.common(ctx, windows, microBatches.size, 0L)
      val (files, rows) = Layers.scansUnder(ctx, probes, new File(index).getAbsolutePath)
      Layers.set(ctx, "index.files_read_per_probe", files.toDouble / math.max(1, probes.size))
      Layers.set(ctx, "index.rows_scanned_per_probe", rows.toDouble / math.max(1, probes.size))
      val progress = ctx.trace.get.progress.asScala.toSeq
      def perBatch(k: String) =
        progress.map(_.getOrElse(k, 0L)).sum / 1e3 / math.max(1, progress.size)
      Layers.set(ctx, "streaming.add_batch_s", perBatch("addBatch"))
      Layers.set(ctx, "streaming.planning_s", perBatch("queryPlanning"))
      Layers.set(ctx, "streaming.wal_commit_s", perBatch("walCommit"))
      Layers.set(ctx, "index.data_files", IndexMaintenance.dataFileCount(spark, index).toDouble)
    }
    // No final maintenance: the stream compacts the index every
    // `CompactEvery` micro-batches, and graft never compacts the corpus.
    ctx.e2e("stored_bytes_per_input_byte") =
      ((duBytes(index) + duBytes(corpus) - setUpBytes).toDouble / storedInput, "ratio")
    ctx.phase("checks")
  }
}
