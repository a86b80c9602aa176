package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, StructField}
import graft.ext.{DocDedup, Multimodal}

/** Incremental IMAGE near-dup detection against a persisted Hamming
  * index — [[StreamingNearDup]]'s production shape for the image
  * modality: blobs arrive in micro-batches, each batch is hashed
  * through the real codec ([[graft.ext.Multimodal.imageHash]]), probed
  * against the accumulated [[graft.ext.DocDedup.buildHammingIndex]]
  * layout (partition-pruned read of only the batch's quarter buckets —
  * never a re-hash or re-join of history), then appended so later
  * batches dedup against it.
  *
  * Simpler state than the text fold: the index rows carry the FULL
  * 64-bit signature, so the exact `bit_count` verify needs no corpus
  * payload — state is the index alone. Per-batch cost is hash (∝
  * batch) + probe (∝ batch) + append (∝ batch), never ∝ history.
  *
  * Delivery semantics match [[StreamingNearDup]]: matches are
  * at-least-once (batch_id-tagged, overwritten per batch directory);
  * index state is replay-safe — duplicate appended rows collapse in
  * the probe's `distinct()` before any verdict, so a replayed batch
  * cannot change later batches' pairs.
  */
object StreamingImageDedup {

  /** Layout under `workDir`:
    *   index/   — (q, qb)-partitioned Hamming index (full hashes)
    *   matches/ — (id_a, id_b, hamming), batch_id-partitioned
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            maxDist: Int, qBuckets: Int = 64,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            lease: graft.ext.WriterLock.Lease =
              graft.ext.WriterLock.Lease()): MaintainedStream = {
    MaintainedStream.fold(spark, inputDir, workDir,
        StructField("blob", BinaryType), trigger,
        maxFilesPerTrigger, compactEvery, compactMaxFiles, lease) {
      (batch, indexPath, matchesPath) =>
        // The fused kernel: cross-index + within-batch matches, then
        // the index append — the batch's images are DECODED ONCE into
        // the fold's quarter cache (the unfused probe + pairs + append
        // form checkpointed the signatures and still exploded them
        // three times, and hammingPairs re-joined the signature table
        // twice to verify). First batch builds the index with the
        // caller's qBuckets; afterwards the sidecar's pinned value wins.
        val sig = Multimodal.imageHash(batch, "blob")
          .where(col("img.ok"))
          .select(col("id"), col("img.ahash").as("ahash"))
        DocDedup.foldHammingBatch(sig, "id", "ahash", indexPath,
          matchesPath, maxDist, qBuckets)
    }(DocDedup.compactHammingIndex(spark, _))
  }
}
