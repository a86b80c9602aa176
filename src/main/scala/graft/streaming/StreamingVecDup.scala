package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField}
import graft.ext.{Similarity, SignatureIndex}

/** Incremental EMBEDDING near-dup detection against a persisted IVF
  * index — the streaming production shape of semantic dedup,
  * completing the per-family streaming coverage (exact chunks /
  * MinHash text / image hash / exact substring / CDC / now
  * embedding-cosine): vectors arrive in micro-batches, each batch is
  * probed against the accumulated corpus's
  * [[graft.ext.Similarity.buildIvfIndex]]-layout index (cell
  * partitions pruned at file-listing time; candidates scored by exact
  * cosine, thresholded), plus the batch's own within-batch LSH
  * near-dup pairs, then appended into the index
  * ([[Similarity.appendToIvfIndex]] — assignment against the PINNED
  * sidecar centroids, cost ∝ batch).
  *
  * The index rows carry the vectors, so no separate corpus store is
  * needed — probes are self-contained (the [[StreamingImageDedup]]
  * argument). State lives entirely in external storage; per-batch
  * cost is probe (∝ batch · nprobe cells) + append (∝ batch), never
  * ∝ history. Delivery: match emission is at-least-once per
  * batch_id; index appends on replay can duplicate candidate rows,
  * which dedup in the match view (distinct on the pair).
  */
object StreamingVecDup {

  /** Layout under `workDir`:
    *   index/   — cid-partitioned (id, vec) IVF index + sidecar
    *   matches/ — thresholded pairs, batch_id-partitioned
    */
  def start(spark: SparkSession, inputDir: String, workDir: String,
            threshold: Double, k: Int = 9,
            nlist: Int = 8, nprobe: Int = 4,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None,
            compactEvery: Option[Int] = None,
            compactMaxFiles: Option[Long] = None,
            lease: graft.ext.WriterLock.Lease =
              graft.ext.WriterLock.Lease()): MaintainedStream = {
    MaintainedStream.fold(spark, inputDir, workDir,
        StructField("vec", ArrayType(FloatType)), trigger,
        maxFilesPerTrigger, compactEvery, compactMaxFiles, lease) {
      (batch, indexPath, matchesPath, window) =>
        val b = batch.localCheckpoint()
        // "first batch" is decided by the committed sidecar
        val indexExists =
          SignatureIndex.exists(spark, indexPath, Similarity.IvfLayout)
        // 1. cross-batch: probe the accumulated index, exact-cosine
        //    threshold over the top-k candidates
        val cross =
          if (indexExists)
            Similarity.probeIvfIndex(b, "id", "vec", indexPath, k, nprobe)
              .where(col("sim") >= threshold)
              .select(col("query_id").as("id_a"),
                col("neighbor_id").as("id_b"), col("sim"))
              .distinct()
          else
            b.select(col("id").as("id_a"), col("id").as("id_b"),
              lit(0.0).as("sim")).where(lit(false))
        // 2. within-batch: LSH-blocked exact-verified pairs on the
        //    small batch (a twin arriving twice in ONE batch)
        // unordered variant: the matches parquet write needs no row
        // order, and the ordered form paid a range exchange +
        // sampling pass per micro-batch
        val within = Similarity
          .cosineNearDupPairs(b, "id", "vec", threshold,
            bits = 8, tables = 6, ordered = false)
          .select(col("id_a"), col("id_b"), col("sim"))
        cross.unionByName(within)
          .write.mode("overwrite")
          .parquet(matchesPath)
        // 3. publish the batch into the index (a compaction of index ∪
        //    batch when the window fires)
        if (indexExists)
          Similarity.appendToIvfIndex(b, "id", "vec", indexPath, Some(window))
        else
          Similarity.buildIvfIndex(b, "id", "vec", indexPath, nlist,
            Some(window))
    }
  }
}
