package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Deduplicator
import graft.functions.Hashing
import graft.operators.Recovery

import Main.Ctx

/** Calls and checks of the chunk-store workload. */
object DedupWork {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cumulative drains of the ingest pipeline's first three layers:
    * chunk scan, + digest, + first-occurrence group. Self time of each
    * layer is its drain minus the previous one.
    */
  def ingestDrains(ctx: Ctx, chunks: => DataFrame): Unit = {
    ctx.spans("drain.scan")(noop(chunks))
    val hashed = () => chunks.withColumn("hash", Hashing.resolve("sha").digest(col("chunk")))
    ctx.spans("drain.hash")(noop(hashed()))
    ctx.spans("drain.group")(noop(hashed().groupBy("hash")
      .agg(min(struct(col("pos"))).as("first"), count(lit(1)).as("occ"))))
  }

  /** Drains `Recovery.resolve` of run `name` the way `recoverFile` plans
    * it, without the ordered sink.
    */
  def resolveDrain(ctx: Ctx, d: Deduplicator, store: String, name: String): Unit =
    ctx.spans("drain.resolve") {
      val spark = ctx.spark
      def encoded(n: String) = spark.read.parquet(s"$store/encoded/$n.parquet")
      val fid = d.catalog.getFile(name).collect().head.getAs[Long]("file_id")
      val names = d.catalog.files().select("file_id", "filename").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      noop(Recovery.resolve(encoded(name), fid, id => encoded(names(id))))
    }

  /** Recovers run `name` and fails the op unless the bytes match. */
  def recoverChecked(ctx: Ctx, d: Deduplicator, name: String, out: String,
                     sha256: String): Unit = {
    ctx.spans("op.recover")(d.recoverFile(name, out))
    val got = Gen.sha256Of(out)
    new File(out).delete()
    ctx.check(got == sha256, s"recovered $name has SHA-256 $got, input had $sha256")
  }

  def checkCounts(ctx: Ctx, r: graft.api.DedupResult, f: Gen.BlockFile): Unit =
    ctx.check(r.chunks == f.chunks && r.pointers == f.pointers,
      s"${r.outputName}: graft reported ${r.chunks} chunks / ${r.pointers} pointers, " +
        s"generator expects ${f.chunks} / ${f.pointers}")

  /** Catalog shape gauges: data files, committed version dirs on disk,
    * and the bloom prefilter's expected false-positive rate.
    */
  def catalogGauges(ctx: Ctx, d: Deduplicator, store: String): Unit = {
    val cat = s"$store/catalog"
    Layers.set(ctx, "catalog.data_files",
      graft.ext.IndexMaintenance.dataFileCount(ctx.spark, cat).toDouble)
    Layers.set(ctx, "catalog.versions_on_disk",
      Option(new File(cat).list()).map(_.count(_.matches("v_\\d+"))).getOrElse(0).toDouble)
    Layers.set(ctx, "catalog.bloom_fpp", d.catalog.bloomHealth().map(_._1).getOrElse(0.0))
  }

  /** Per-layer metrics of the drains, per ingest op and per recovery. */
  def drainLayers(ctx: Ctx): Unit = {
    def per(name: String) = ctx.measured(name).map(_.durNs / 1e9)
    val scan = per("drain.scan")
    val hash = per("drain.hash")
    val group = per("drain.group")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Layers.set(ctx, "sources.scan_s", mean(scan))
    Layers.set(ctx, "functions.hash_s", mean(hash) - mean(scan))
    Layers.set(ctx, "operators.group_s", mean(group) - mean(hash))
    val resolve = mean(per("drain.resolve"))
    Layers.set(ctx, "operators.resolve_s", resolve)
    Layers.set(ctx, "sources.sink_s", mean(per("op.recover")) - resolve)
  }
}
