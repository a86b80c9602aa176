package graft.perfbench

import java.io.File

import graft.api.{DedupOptions, Deduplicator}
import graft.sources.ChunkSource

import Main.{Ctx, deleteTree, duBytes, median}

/** incremental_ingest: a seeded store (16 buckets) takes
  * batches of small files at the reference's 64 B chunk width through
  * `deduplicateBatch` — the call `StreamingDedup` makes per micro-batch —
  * where most chunks are already stored. After each batch the loop's first
  * run is recovered, and every `CompactEvery` batches the catalog is
  * compacted inside that batch. `WarmSteps` untimed steps come first, as
  * many as `CompactEvery`, so the warm-up compacts once and the measured
  * batches compact at the same places in every run (the 3rd, 6th, ...):
  * plain batches are the majority of any run of two or more batches, so
  * `batch_p50_s` is a plain batch's and compactions form the tail.
  * Per-batch fixed costs dominate.
  * The bloom prefilter is created with a capacity the seed store already
  * fills, so the catalog grows past it: the larger-than-cache case.
  */
object IncrementalIngest {
  val BlockBytes = 64
  val SeedBlocks = 8192 // 512 KiB seed file
  val BloomItems = 8192L
  val BucketChars = 1
  val FilesPerBatch = 2
  val FileBlocks = 2048 // 128 KiB per file
  val TailBytes = 10
  val Novel = 0.10
  val InFile = 0.05
  val CompactEvery = 3
  val SetupReps = 3
  val WarmSteps = CompactEvery

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val inputs = ctx.dir("inputs")
    val gen = new Gen.BlockStore(ctx.seed, BlockBytes)
    def batchOf(tag: String): Seq[Gen.BlockFile] =
      (0 until FilesPerBatch).map(i =>
        gen.write(s"$inputs/$tag-$i", FileBlocks, Novel, InFile, TailBytes))
    val opts = DedupOptions(chunkBytes = BlockBytes)
    val seedFile = gen.write(s"$inputs/seed", SeedBlocks, 0.9, 0.1, TailBytes)

    val stores = (0 until SetupReps).map { r =>
      val store = ctx.dir(s"store-$r")
      ctx.attempt("setup") {
        ctx.spans("setup") {
          val d = new Deduplicator(spark, store, bucketChars = BucketChars, bloomItems = BloomItems)
          DedupWork.checkCounts(ctx, d.deduplicateBatch(Seq(seedFile.path), opts,
            outputNames = Seq("seed")).head, seedFile)
        }
      }
      store
    }
    ctx.e2e("setup_s") = (median(ctx.spans.secondsOf("setup")), "s")
    ctx.phase("setup")
    stores.init.foreach(deleteTree)
    val store = stores.last
    val d = new Deduplicator(spark, store)

    val setUpBytes = duBytes(store)
    var storedInput = 0L // every step's input, warm-up included
    var plantedTotal = seedFile.pointers
    var plantedFound = seedFile.pointers
    val bytesByOp = collection.mutable.Map.empty[Int, Long]
    var firstRun = Option.empty[(String, Gen.BlockFile)]
    val recoveredByOp = collection.mutable.Map.empty[Int, Long]
    val batchSeconds = collection.mutable.Map.empty[Int, Double]
    var b = 0
    ctx.loop(WarmSteps) { () =>
      b += 1
      val files = batchOf(s"b$b")
      plantedTotal += files.map(_.pointers).sum
      val names = files.map(f => new File(f.path).getName)
      val committed = ctx.attempt(s"batch $b") {
        val rs = ctx.spans("op.ingest")(d.deduplicateBatch(files.map(_.path), opts, names))
        plantedFound += rs.zip(files).map { case (r, f) => math.min(r.pointers, f.pointers) }.sum
        storedInput += files.map(_.bytes).sum
        bytesByOp(ctx.spans.op) = files.map(_.bytes).sum
        rs.zip(files).foreach { case (r, f) => DedupWork.checkCounts(ctx, r, f) }
      }.isDefined
      if (b % CompactEvery == 0) ctx.attempt(s"compact after batch $b") {
        ctx.spans("op.compact")(d.catalog.compact())
      }
      batchSeconds(ctx.spans.op) = ctx.spans.all.filter(s => s.op == ctx.spans.op &&
        (s.name == "op.ingest" || s.name == "op.compact")).map(_.durNs / 1e9).sum
      // The loop's first run, recovered after every step: each recovery
      // is the same work (its pointers reach only the seed run), however
      // many batches the store has taken since.
      if (committed && firstRun.isEmpty) firstRun = Some(names.head -> files.head)
      val recovered = firstRun
      recovered.foreach { case (name, f) =>
        recoveredByOp(ctx.spans.op) = f.bytes
        ctx.attempt(s"recover $name") {
          DedupWork.recoverChecked(ctx, d, name, s"$inputs/$name.out", f.sha256)
        }
      }
      if (ctx.trace.isDefined && ctx.measuring) {
        DedupWork.ingestDrains(ctx, ChunkSource.chunksOfFiles(spark, files.map(_.path), BlockBytes))
        recovered.foreach { case (name, _) => DedupWork.resolveDrain(ctx, d, store, name) }
      }
      files.foreach(f => new File(f.path).delete())
    }

    val ingests = ctx.measured("op.ingest")
    val recovers = ctx.measured("op.recover")
    def batchesOf(spans: Seq[Span]) = spans.flatMap(s => batchSeconds.get(s.op))
    val measuredBytes = ingests.map(s => bytesByOp.getOrElse(s.op, 0L)).sum
    Main.timingMetrics(ctx, measuredBytes, ingests.map(_.durNs / 1e9).sum, batchesOf(ingests),
      recovers.map(s => recoveredByOp(s.op)).sum, recovers.map(_.durNs / 1e9),
      "recoveries of earlier runs")
    if (ctx.trace.isDefined) {
      Layers.zero(ctx)
      DedupWork.drainLayers(ctx)
      Layers.common(ctx, ingests ++ ctx.measured("op.compact") ++ recovers, ingests.size,
        measuredBytes)
      DedupWork.catalogGauges(ctx, d, store)
    }

    ctx.attempt("compact")(d.catalog.compact())
    ctx.e2e("stored_bytes_per_input_byte") =
      ((duBytes(store) - setUpBytes).toDouble / storedInput, "ratio")
    ctx.e2e("planted_recall") = (plantedFound.toDouble / math.max(1L, plantedTotal), "ratio")
    ctx.phase("checks")
  }
}
