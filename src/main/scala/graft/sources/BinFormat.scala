package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.io.{BufferedInputStream, BufferedOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import scala.collection.mutable.ArrayBuffer

/** Byte-exact tagged `.bin` format — parity sink/source (SURVEY §2.1
  * S2/S5/S6/S9, §1.3).
  *
  * Record grammar (reference: lib/deduplicator/binary_utils.ex:4-7, encoder
  * lib/deduplicator.ex:186-190, parser binary_utils.ex:26-45):
  *   raw record     = byte '0' ++ chunk           (chunk ≤ n bytes; the
  *                    final chunk of a file may be short)
  *   pointer record = byte '1' ++ 4 ASCII digits  (first-occurrence line,
  *                    zero-padded)
  *
  * We replicate the 4-digit width for byte parity but treat it as a
  * documented quirk: it caps a run at 10,000 addressable first occurrences
  * (SURVEY §1.4.1). Our primary encoded representation is a Parquet table
  * (columnar, no width limit); this format exists only so a user of the
  * reference can read/write its exact files.
  */
object BinFormat {
  val RawTag: Byte = '0'.toByte
  val PointerTag: Byte = '1'.toByte
  val PointerDigits = 4 // binary_utils.ex:7 (@hash_size 4)

  /** Encode one logical record to its tagged byte form.
    *
    * The 4-digit pointer cap fails LOUDLY: the reference silently emits
    * 5+ digits for line ≥ 10000 while its parser always consumes 4 —
    * a silently corrupt file (SURVEY §1.4.1). We share the format cap
    * but not the silence. (The Parquet representation has no such cap;
    * this guard is parity-sink-only.)
    */
  def encodeRecord(isPointer: Boolean, chunk: Array[Byte], refLine: Long): Array[Byte] =
    if (isPointer) {
      require(refLine >= 0 && refLine < 10000,
        s"pointer line $refLine does not fit the .bin format's 4-digit " +
          "width (reference binary_utils.ex:7); use the Parquet form for runs " +
          "with >=10000 first occurrences")
      (PointerTag.toChar +: f"$refLine%04d".toCharArray.toSeq).map(_.toByte).toArray
    } else RawTag +: chunk

  /** Parse a whole tagged file into (pos, isPointer, chunk, refLine) rows.
    * Mirrors the recursive splitter binary_utils.ex:26-45: a raw record
    * consumes min(n, remaining-1) payload bytes; a pointer consumes 4.
    */
  def parse(bytes: Array[Byte], chunkBytes: Int): Seq[(Long, Boolean, Array[Byte], Option[Long])] = {
    val out = ArrayBuffer.empty[(Long, Boolean, Array[Byte], Option[Long])]
    var off = 0
    var pos = 0L
    while (off < bytes.length) {
      bytes(off) match {
        case RawTag =>
          val len = math.min(chunkBytes, bytes.length - off - 1)
          out += ((pos, false, bytes.slice(off + 1, off + 1 + len), None))
          off += 1 + len
        case PointerTag =>
          val line = new String(bytes, off + 1, PointerDigits, "US-ASCII").toLong
          out += ((pos, true, Array.emptyByteArray, Some(line)))
          off += 1 + PointerDigits
        case other =>
          throw new IllegalArgumentException(
            s"corrupt tagged file: unknown tag byte $other at offset $off")
      }
      pos += 1
    }
    out.toSeq
  }

  /** Scan a tagged `.bin` file → DataFrame(pos, is_pointer, chunk, ref_line).
    * Whole-file parse (tagged records have data-dependent widths, so the
    * format is not splittable — another reason Parquet is the primary form).
    */
  def read(spark: SparkSession, path: String, chunkBytes: Int): DataFrame = {
    val parseUdf = udf((content: Array[Byte]) =>
      parse(content, chunkBytes).map { case (p, ip, c, rl) => (p, ip, c, rl) })
    spark.read.format("binaryFile").load(path)
      .select(explode(parseUdf(col("content"))).as("r"))
      .select(
        col("r._1").as("pos"),
        col("r._2").as("is_pointer"),
        col("r._3").as("chunk"),
        col("r._4").as("ref_line"))
  }

  /** Write an encoded DataFrame(pos, is_pointer, chunk, ref_line) as a
    * byte-exact tagged file at `dest` (single logical file) via the
    * ordered-concat sink (O3).
    *
    * Cross-file pointers fail LOUDLY: the tagged format's 4-digit
    * pointer is an IN-FILE line number (reference binary_utils.ex:7) —
    * it has no way to name another catalog file, so a row carrying a
    * non-null `cat_file_id` (routine in deduplicateBatch/streaming
    * output, which encodes in-batch cross-file duplicates) would
    * serialize ambiguously and the `.bin` could not round-trip
    * standalone. Same policy as the 4-digit cap: the Parquet form is
    * the lossless representation; `.bin` parity refuses what it cannot
    * express.
    */
  def write(df: DataFrame, dest: String): Unit = {
    val encodeUdf = udf((isPtr: Boolean, chunk: Array[Byte],
                         refLine: java.lang.Long, catFid: java.lang.Long) => {
      require(catFid == null,
        s"cross-file pointer (cat_file_id=$catFid) cannot be represented " +
          "in the .bin tagged format: pointers are in-file line numbers " +
          "(reference binary_utils.ex:7); use the Parquet form for " +
          "batch/streaming runs with cross-file duplicates")
      encodeRecord(isPtr,
        if (chunk == null) Array.emptyByteArray else chunk,
        if (refLine == null) 0L else refLine.longValue())
    })
    val catFid = if (df.columns.contains("cat_file_id")) col("cat_file_id")
      else lit(null).cast("long")
    val recs = df.select(col("pos"),
      encodeUdf(col("is_pointer"), col("chunk"), col("ref_line"), catFid)
        .as("rec"))
    // the sink's part ranges: one aggregate, no range-sampling job
    val range = df.agg(coalesce(min("pos").cast("long"), lit(Long.MaxValue)),
      coalesce(max("pos").cast("long"), lit(Long.MinValue))).head()
    OrderedBinarySink.write(recs, "pos", "rec", dest,
      range.getLong(0), range.getLong(1))
  }

  /** Whole-file zip / unzip / delete (reference: lib/deduplicator/files.ex:64-94).
    * The reference zips the encoded output when `compress: true` and deletes
    * the uncompressed original; recovery unzips first. All three take the
    * session's Hadoop configuration — a bare `new Configuration()` would
    * ignore spark.hadoop.* settings and break on any non-default FS.
    */
  def zipFile(src: String, dest: String,
              conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = FileSystem.get(new java.net.URI(src), conf)
    val in = new BufferedInputStream(fs.open(new Path(src)))
    val zos = new ZipOutputStream(new BufferedOutputStream(
      FileSystem.get(new java.net.URI(dest), conf).create(new Path(dest), true)))
    zos.putNextEntry(new ZipEntry(new Path(src).getName))
    val buf = new Array[Byte](1 << 20)
    var n = in.read(buf)
    while (n >= 0) { if (n > 0) zos.write(buf, 0, n); n = in.read(buf) }
    in.close(); zos.closeEntry(); zos.close()
  }

  def unzipFile(src: String, dest: String,
                conf: org.apache.hadoop.conf.Configuration): Unit = {
    val zis = new ZipInputStream(new BufferedInputStream(
      FileSystem.get(new java.net.URI(src), conf).open(new Path(src))))
    val entry = zis.getNextEntry
    require(entry != null, s"empty zip: $src")
    val out = new BufferedOutputStream(
      FileSystem.get(new java.net.URI(dest), conf).create(new Path(dest), true))
    val buf = new Array[Byte](1 << 20)
    var n = zis.read(buf)
    while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = zis.read(buf) }
    out.close(); zis.close()
  }

  def deleteFile(path: String,
                 conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    fs.delete(new Path(path), false)
  }
}
