package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, StructField}
import graft.ext.Cdc

/** Incremental shift-invariant BINARY dedup against a persisted CDC
  * chunk index — the streaming production shape of the [[Cdc]] family,
  * completing the per-family streaming forms ([[StreamingDedup]] =
  * exact fixed chunks, [[StreamingNearDup]] = MinHash,
  * [[StreamingImageDedup]] = image signatures, [[StreamingExactDup]] =
  * exact substrings): a blob feed arrives in micro-batches, each batch
  * probes the accumulated [[Cdc.buildCdcIndex]]-layout index
  * (partition-pruned to the batch's hash buckets), emits its
  * within-batch pairs through the join form, then appends its own
  * chunk identities so later batches dedup against it.
  *
  * Like the winnow stream, NO blob payload store is needed: the chunk
  * identity `(chash, csize, csum)` is self-verifying, so state is ONE
  * identity table — cost per batch = probe (∝ batch buckets) + append
  * (∝ batch), never ∝ history.
  *
  * Delivery semantics: match emission is at-least-once
  * (batch_id-tagged, overwritten per replay); index appends are
  * replay-tolerant for the pairing decision — duplicated identity rows
  * can inflate `n_shared` for pairs involving a replayed batch, but
  * cannot create a pair sharing no chunk content, and any true pair
  * stays ≥ minShared. Consumers keyed on (batch_id, id_a, id_b) read
  * matches exactly-once.
  */
object StreamingCdcDup {

  /** Layout under `workDir`:
    *   index/   — hb-partitioned CDC chunk-identity index
    *   matches/ — pair rows (id_a, id_b, n_shared), batch_id-partitioned
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            minSize: Int = 2048, avgBits: Int = 13, maxSize: Int = 65536,
            hashBuckets: Int = 64, maxDocsPerChunk: Int = 256,
            minShared: Int = 1,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            lease: graft.ext.WriterLock.Lease =
              graft.ext.WriterLock.Lease()): MaintainedStream = {
    MaintainedStream.fold(spark, inputDir, workDir,
        StructField("blob", BinaryType), trigger,
        maxFilesPerTrigger, compactEvery, compactMaxFiles, lease) {
      (batch, indexPath, matchesPath, window) =>
        // The fused kernel: cross-index + within-batch pairs, then the
        // index append — from ONE chunking of the batch (the unfused
        // probe + pairs + append form chunked every blob four times).
        // First batch builds the index with the caller's parameters;
        // afterwards the sidecar's pinned chunking regime wins.
        Cdc.foldCdcBatch(batch, "id", "blob", indexPath, matchesPath,
          minSize, avgBits, maxSize, hashBuckets,
          maxDocsPerChunk, minShared, window = Some(window))
    }
  }
}
