package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a test reads of a signature index: the rows and partitions its
  * newest committed version references, as the index's own reads see
  * them.
  */
object IndexFiles {

  /** Every row of the index at `path`, partition columns included. */
  def rows(spark: SparkSession, path: String): DataFrame = {
    val ix = new SignatureIndex.Version(spark, path)
    val cols = ix.manifest.keys.headOption.toSeq
      .flatMap(_.split("/").filter(_.nonEmpty).map(_.takeWhile(_ != '=')))
    SignatureIndex.readParts(spark, cols, ix.all).getOrElse(spark.emptyDataFrame)
  }

  /** The partitions the index's manifest names. */
  def partitions(spark: SparkSession, path: String): Int =
    new SignatureIndex.Version(spark, path).manifest.size

  /** Data files per partition, one entry per partition. */
  def filesPerPartition(spark: SparkSession, path: String): Seq[Int] =
    new SignatureIndex.Version(spark, path).all.groupBy(_.key).values
      .map(_.map(_.files.size).sum).toSeq

  /** What nothing reads under the index at `path`: `.tmp_*` staging
    * directories and committed versions its manifest does not reference.
    */
  def residue(spark: SparkSession, path: String): Seq[String] = {
    val ix = new SignatureIndex.Version(spark, path)
    val live = ix.manifest.values.flatten.toSet + ix.v
    ix.store.entries().map(_.getPath.getName).filter {
      case graft.operators.VersionStore.VersionRe(n) => !live(n.toLong)
      case n => n.startsWith(".tmp_")
    }
  }
}
