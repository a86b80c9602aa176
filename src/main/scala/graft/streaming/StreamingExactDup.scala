package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField}
import graft.ext.Winnow

/** Incremental EXACT-substring dedup against a persisted winnowing
  * index — the streaming production shape of the [[Winnow]] family,
  * completing the per-family streaming forms ([[StreamingDedup]] =
  * exact chunks, [[StreamingNearDup]] = MinHash, [[StreamingImageDedup]]
  * = image signatures): a crawl feed arrives in micro-batches, each
  * batch probes the accumulated [[Winnow.buildWinnowIndex]]-layout
  * index (partition-pruned to the batch's fingerprint buckets), emits
  * its within-batch pairs through the join form, then appends its own
  * fingerprints so later batches dedup against it.
  *
  * Unlike the MinHash stream, NO corpus payload store is needed: the
  * winnow index carries the k-gram characters, so probe verification
  * is collision-proof against the index alone — state is ONE
  * fingerprint table, cost per batch = probe (∝ batch buckets) +
  * append (∝ batch), never ∝ history.
  *
  * Delivery semantics: match emission is at-least-once
  * (batch_id-tagged, overwritten per replay); index appends are
  * replay-TOLERANT for the pairing DECISION — duplicated fingerprint
  * rows can inflate `n_matches` for pairs involving a replayed batch,
  * but cannot create a pair that shares no verified gram, and any
  * true pair stays ≥ minMatches. Consumers keyed on
  * (batch_id, id_a, id_b) read matches exactly-once.
  */
object StreamingExactDup {

  /** Layout under `workDir`:
    *   index/   — fb-partitioned winnow fingerprint index (with grams)
    *   matches/ — pair rows (id_a, id_b, n_matches), batch_id-partitioned
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            k: Int = 8, w: Int = 16, fpBuckets: Int = 64,
            maxDocsPerFp: Int = 256, minMatches: Int = 1,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            lease: graft.ext.WriterLock.Lease =
              graft.ext.WriterLock.Lease()): MaintainedStream = {
    MaintainedStream.fold(spark, inputDir, workDir,
        StructField("text", StringType), "streamExactDup", trigger,
        maxFilesPerTrigger, compactEvery, compactMaxFiles, lease) {
      (batch, indexPath, matchesPath) =>
        // The fused kernel: cross-index + within-batch matches, then
        // the index append — from ONE fingerprinting of the batch (the
        // unfused probe + pairs + append form fingerprinted it three
        // times and re-joined the texts to verify; the fold verifies
        // gram-vs-gram from its own cache). First batch builds the
        // index with the caller's parameters; afterwards the sidecar's
        // pinned regime wins.
        Winnow.foldWinnowBatch(batch, "id", "text", indexPath, matchesPath,
          k, w, fpBuckets, maxDocsPerFp, minMatches)
    }(Winnow.compactWinnowIndex(spark, _))
  }
}
