package graft.sources

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.io.{BufferedInputStream, BufferedOutputStream}

/** Ordered byte-reassembly sink (SURVEY §2.6 O3, §4 custom-physical #1).
  *
  * The reference writes recovered chunks strictly in input order through a
  * single file handle (lib/deduplicator.ex:159-164,173-184). Distributed
  * equivalent: range-partition by `pos` (ranges are globally ordered by
  * partition index), each task streams its range to a ranged part file via
  * the Hadoop FS API, then the driver concatenates part *streams* in index
  * order — no `collect()`, bounded memory everywhere. The final concat is
  * the irreducible single-writer step of ordered reassembly; on a real
  * cluster with an FS that supports it (HDFS `concat`), even that step is
  * a metadata operation.
  *
  * The caller hands in the `pos` range: [[graft.operators.Recovery]]
  * gets it from the narrow pass it already makes, `BinFormat.write`
  * from one aggregate. The parts split `[minPos, maxPos]` evenly, so the
  * shuffle, the in-partition sort and the part writes are ONE job — no
  * range-sampling job runs first. The range only balances the parts: a
  * key outside it is clamped to the first or last part, and part order
  * never depends on it, so a wrong range can cost balance, never order.
  */
object OrderedBinarySink {

  /** Write `bytesCol` of `df` concatenated in ascending `posCol` order to
    * a single file at `dest`. `[minPos, maxPos]` is the range of `posCol`
    * (`minPos > maxPos` for no rows); see the object doc for what a wrong
    * range costs.
    */
  def write(df: DataFrame, posCol: String, bytesCol: String, dest: String,
            minPos: Long, maxPos: Long): Unit = {
    val spark = df.sparkSession
    val tmpDir = dest + ".parts"
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, 64))
    // Executors must build their FS from the SESSION Hadoop conf (a bare
    // `new Configuration()` drops spark.hadoop.* and breaks on any
    // non-default FS) — ship it via the serializable wrapper.
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val confBc = spark.sparkContext.broadcast(serConf)
    df.select(col(posCol).cast("long"), col(bytesCol))
      .queryExecution.toRdd
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getBinary(1)))
      .repartitionAndSortWithinPartitions(new ExactRange(parts, minPos, maxPos))
      .mapPartitionsWithIndex { (idx, rows) =>
        if (rows.isEmpty) Iterator.empty
        else {
          val fs = FileSystem.get(new java.net.URI(tmpDir), confBc.value.value)
          val os = new BufferedOutputStream(fs.create(new Path(tmpDir, f"part-$idx%05d"), true))
          rows.foreach { case (_, bytes) => if (bytes != null) os.write(bytes) }
          os.close()
          Iterator.single(idx)
        }
      }.collect() // collects only partition indices (tiny), not data
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(dest), conf)
    val out = new BufferedOutputStream(fs.create(new Path(dest), true))
    val buf = new Array[Byte](1 << 20)
    val tmpPath = new Path(tmpDir)
    if (fs.exists(tmpPath)) {
      fs.listStatus(tmpPath).map(_.getPath).sortBy(_.getName).foreach { pf =>
        val in = new BufferedInputStream(fs.open(pf))
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
        in.close()
      }
      fs.delete(tmpPath, true)
    }
    out.close()
  }

  /** `[lo, hi]` cut into `parts` equal slices, keys outside clamped to
    * the end slices. Computed in doubles: every step is monotone, so the
    * part index never decreases as the key grows, at any magnitude.
    */
  private final class ExactRange(parts: Int, lo: Long, hi: Long)
      extends Partitioner {
    private val scale =
      if (hi >= lo) parts / (hi.toDouble - lo.toDouble + 1) else 0.0
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = {
      val p = (key.asInstanceOf[Long].toDouble - lo.toDouble) * scale
      if (p <= 0) 0 else math.min(parts - 1, p.toInt)
    }
  }
}
