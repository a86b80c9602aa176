package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Recovery — byte-exact reassembly of a deduplicated run (SURVEY §2.4 J3,
  * §2.6 O3, §3.2).
  *
  * The reference resolves each pointer with a per-record catalog query plus
  * a full re-stream of the target file (`Enum.fetch` at lib/deduplicator/
  * files.ex:37-43 → O(n²) recovery). Spark-first shape: the pointer side
  * and every referenced run's raw records meet in ONE equi-join, then the
  * ordered concat sink range-partitions by `pos` — O(n log n), fully
  * distributed.
  *
  * Cross-run pointers (SURVEY §7.4.3): a pointer's canonical chunk may live
  * in an *earlier* run's encoded file (catalog `file_id` → files →
  * filename). The encoded Parquet carries `cat_file_id` for exactly this;
  * a null means "this run".
  *
  * Job shape of `Deduplicator.recoverFile` on a small run: four jobs —
  *   1. the catalog `files` collect (this run's id and the id → name map);
  *   2. the narrow pass of [[resolveRanged]]: referenced run ids and the
  *      `pos` range, no exchange;
  *   3. the broadcast of the referenced runs' raw records (a run too big
  *      to broadcast makes AQE plan a shuffle join instead, one stage
  *      job per side);
  *   4. the ordered sink: the shuffle by the exact `pos` range and the
  *      part writes, one job with no sampling job before it.
  * Encoded runs are read with [[encodedSchema]], so no schema-inference
  * job runs. `recoverBinFile` swaps job 1 for its input checkpoint.
  */
object Recovery {

  /** The columns `Deduplicator.deduplicateBatch` writes per encoded run. */
  val encodedSchema: StructType = StructType(Seq(
    StructField("pos", LongType),
    StructField("is_pointer", BooleanType),
    StructField("chunk", BinaryType),
    StructField("ref_line", LongType),
    StructField("cat_file_id", LongType)))

  /** [[resolve]]'s result plus the `pos` range of the run, the input the
    * ordered sink partitions by (`minPos > maxPos` for an empty run).
    */
  final case class Resolved(chunks: DataFrame, minPos: Long, maxPos: Long)

  /** Reassemble the original bytes of encoded run `encodedDf`.
    *
    * @param encodedDf   (pos, is_pointer, chunk, ref_line, cat_file_id)
    * @param thisFileId  catalog file_id of this run
    * @param encodedFor  loader: file_id → that run's encoded DataFrame
    *                    (resolves through the files catalog)
    * @return (pos, chunk) with every pointer resolved, ready for the
    *         ordered sink
    */
  def resolve(encodedDf: DataFrame, thisFileId: Long,
              encodedFor: Long => DataFrame): DataFrame =
    resolveRanged(encodedDf, thisFileId, encodedFor).chunks

  /** [[resolve]], also returning the run's `pos` range. */
  def resolveRanged(encodedDf: DataFrame, thisFileId: Long,
                    encodedFor: Long => DataFrame): Resolved = {
    val enc = encodedDf.withColumn("ref_file_id",
      coalesce(col("cat_file_id"), lit(thisFileId)))
    val raws = enc.where(!col("is_pointer")).select(col("pos"), col("chunk"))
    val ptrs = enc.where(col("is_pointer"))
      .select(col("pos"), col("ref_file_id"), col("ref_line"))

    // ONE narrow pass (no exchange) over three narrow columns: the set of
    // runs referenced — small, at most the catalog's `files` cardinality —
    // and each partition's min/max pos. Ids and bounds are collected,
    // never data.
    val perPartition = enc.select(col("pos").cast("long"), col("is_pointer"),
      col("ref_file_id")).queryExecution.toRdd.mapPartitions { rows =>
      var lo = Long.MaxValue
      var hi = Long.MinValue
      val ids = scala.collection.mutable.HashSet.empty[Long]
      rows.foreach { r =>
        val pos = r.getLong(0)
        if (pos < lo) lo = pos
        if (pos > hi) hi = pos
        if (!r.isNullAt(1) && r.getBoolean(1)) ids += r.getLong(2)
      }
      Iterator.single((lo, hi, ids.toArray))
    }.collect()
    val refIds = perPartition.flatMap(_._3).distinct.sorted.toSeq
    val minPos = perPartition.map(_._1).foldLeft(Long.MaxValue)(math.min)
    val maxPos = perPartition.map(_._2).foldLeft(Long.MinValue)(math.max)

    val chunks = if (refIds.isEmpty) raws else {
      // Raw records of every referenced run, keyed (file_id, line). A
      // pointer target is always a raw record — first sight overall; a
      // pointer landing on a pointer is the reference's :not_chunk error
      // (deduplicator.ex:209-215), surfaced here as an unresolved join.
      val targets = refIds.map { fid =>
        encodedFor(fid).where(!col("is_pointer"))
          .select(lit(fid).as("ref_file_id"), col("pos").as("ref_line"),
            col("chunk").as("target_chunk"))
      }.reduce(_ unionByName _)

      // Single pass: the :not_chunk check rides inside the output
      // projection (raise_error on a null target) instead of a separate
      // validation count() that would execute the dominant join twice.
      val resolved = ptrs.join(targets, Seq("ref_file_id", "ref_line"), "left_outer")
      val checkedChunk = when(col("target_chunk").isNull,
        raise_error(concat(
          lit("pointer at pos "), col("pos"),
          lit(" resolves to no raw record (:not_chunk; reference "),
          lit("deduplicator.ex:209-215): file_id="), col("ref_file_id"),
          lit(" line="), col("ref_line"))).cast("binary"))
        .otherwise(col("target_chunk"))
      raws.unionByName(resolved.select(col("pos"), checkedChunk.as("chunk")))
    }
    Resolved(chunks, minPos, maxPos)
  }
}
