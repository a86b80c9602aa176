package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField}
import graft.ext.DocDedup

/** Incremental NEAR-dup detection against a persisted MinHash index —
  * the streaming production shape of document near-dedup (SURVEY §2.8
  * applied to the ext/ near-dup family): a crawl feed arrives in
  * micro-batches, each batch is probed against the accumulated corpus's
  * [[graft.ext.DocDedup.buildMinHashIndex]]-layout index (partition-
  * pruned read of only the batch's signature buckets — NOT a re-band of
  * the whole history), then appended to the index and the corpus so
  * later batches dedup against it.
  *
  * The per-batch pipeline is the FUSED
  * [[graft.ext.DocDedup.foldMinHashBatch]] kernel — cross-index
  * matches, within-batch matches, the matches write, and the index
  * append in four Spark actions, banding and shingling the batch once
  * (the unfused probe + pairs + two writes form cost eight actions,
  * and the r13 bench attribution showed action count, not compute,
  * dominates the micro-batch floor). One more action per batch here:
  * the corpus append.
  *
  * State lives entirely in external storage (index + corpus parquet),
  * not the state store — the same unbounded-key trade as
  * [[StreamingDedup]]: the corpus grows forever; per-batch cost is
  * probe (∝ batch) + append (∝ batch), never ∝ history. The flip side
  * of per-batch appends is small-file accumulation (one file set per
  * touched partition per batch); `compactEvery = Some(n)` runs
  * [[graft.ext.DocDedup.compactMinHashIndex]] after every n-th batch,
  * in the between-batches maintenance window of
  * [[MaintainedStream.fold]]. Probe results are
  * bit-identical across a compaction, so match output is unaffected
  * (IndexMaintenanceSpec + the q238 gate pin this).
  *
  * Delivery semantics: match emission is at-least-once (a replayed
  * batch re-emits its `batch_id`-tagged matches), while index/corpus
  * state is replay-SAFE: duplicate appended rows cannot change any
  * later batch's verified pairs — candidates are `distinct()`ed ids and
  * shingle relations are distinct (id, shingle) sets, so re-appended
  * rows collapse before verification. Consumers keyed on
  * (batch_id, id_a, id_b) read the matches exactly-once.
  */
object StreamingNearDup {

  /** Layout under `workDir`:
    *   index/   — (band, sb)-partitioned ids-only MinHash index
    *   corpus/  — (id, text) payload parquet, appended per batch
    *   matches/ — verified near-dup pairs, batch_id-partitioned
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            num: Int, den: Int,
            bands: Int = 16, rows: Int = 8, sigBuckets: Int = 8,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            lease: graft.ext.WriterLock.Lease =
              graft.ext.WriterLock.Lease()): MaintainedStream = {
    val corpusPath = s"$workDir/corpus"
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MaintainedStream.fold(spark, inputDir, workDir,
        StructField("text", StringType), trigger,
        maxFilesPerTrigger, compactEvery, compactMaxFiles, lease) {
      (batch, indexPath, matchesPath) =>
        // The fused kernel: cross-index + within-batch matches, then
        // the index append — from ONE banding of the batch. First
        // batch: builds the index with the caller's (bands, rows,
        // sigBuckets); afterwards the index sidecar's pinned parameters
        // win, so a replayed or later batch can never mix banding
        // regimes.
        // gate on COMMITTED corpus data, not directory existence: a
        // crash between the committer creating the directory and the
        // first task commit would otherwise leave every replay dying
        // on parquet schema inference over an empty dir
        val corpusHasData = {
          val p = new org.apache.hadoop.fs.Path(corpusPath)
          fs.exists(p) && fs.listStatus(p).exists { s =>
            val nm = s.getPath.getName
            !nm.startsWith("_") && !nm.startsWith(".")
          }
        }
        DocDedup.foldMinHashBatch(batch,
          if (corpusHasData) spark.read.parquet(corpusPath)
          else batch.where(org.apache.spark.sql.functions.lit(false)),
          "id", "text", indexPath, matchesPath,
          num, den, bands, rows, sigBuckets)
        batch.write.mode("append").parquet(corpusPath)
    }(DocDedup.compactMinHashIndex(spark, _))
  }
}
