package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** safetensors ingest (the huggingface/safetensors file format —
  * public spec): 8-byte little-endian header length, a JSON header
  * mapping tensor names to `{dtype, shape, data_offsets}` (plus an
  * optional `__metadata__` string map), then one contiguous data
  * region the offsets index. This is the format modern model weights
  * and precomputed embedding shards ship in — for a training-data
  * engine it is the embedding-sidecar reader.
  *
  * Spark-first split: the byte layer (header length, JSON slice,
  * per-tensor byte sums over the data region) is one narrow
  * `mapPartitions` pass; the header JSON is then parsed by Spark's
  * own `from_json` into a map column and exploded — schema work stays
  * in Catalyst where it belongs ([[safeTensorTable]] wires the two
  * halves together).
  *
  * Strict and total: header length is bounds-checked before any
  * allocation (a 5-byte blob can claim an 8 EiB header), offsets must
  * be monotonic, in-bounds, non-overlapping, start at 0, end exactly
  * at the data region's end, and each tensor's byte extent must equal
  * `product(shape) · sizeof(dtype)` — any violation is a typed
  * reject.
  */
object SafeTensors {

  private def u(b: Byte): Int = b & 0xFF

  val dtypeSizes: Map[String, Long] = Map(
    "BOOL" -> 1L, "U8" -> 1L, "I8" -> 1L, "F8_E4M3" -> 1L, "F8_E5M2" -> 1L,
    "I16" -> 2L, "U16" -> 2L, "F16" -> 2L, "BF16" -> 2L,
    "I32" -> 4L, "U32" -> 4L, "F32" -> 4L,
    "I64" -> 8L, "U64" -> 8L, "F64" -> 8L)

  /** Byte-layer pass: `(…keep…, header_json, tensor_name, off0, off1,
    * byte_sum)` — one row per tensor entry found by a minimal
    * offsets-only scan of the JSON (names + data_offsets), with the
    * byte sum of each tensor's slice. The JSON SCHEMA work (dtype,
    * shape) is left to `from_json` downstream; this pass only needs
    * offsets to sum bytes. Poison blobs yield zero rows;
    * [[safeTensorErrors]] is the error channel.
    */
  def extractTensorSlices(df: DataFrame, binCol: String,
                          maxHeader: Long = 16L << 20): DataFrame = {
    val schema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      Seq(StructField("header_json", StringType, nullable = false),
        StructField("tensor_name", StringType, nullable = false),
        StructField("off0", LongType, nullable = false),
        StructField("off1", LongType, nullable = false),
        StructField("byte_sum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == binCol).map(_._2)
    val nKeep = keepIdx.length
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        parse(r.getAs[Array[Byte]](idx), maxHeader) match {
          case Left(_) => Iterator.empty
          case Right((json, tensors)) =>
            val prefix = new Array[Any](nKeep)
            var i = 0
            while (i < nKeep) { prefix(i) = r.get(keepIdx(i)); i += 1 }
            tensors.iterator.map { case (name, o0, o1, sum) =>
              val arr = new Array[Any](nKeep + 5)
              System.arraycopy(prefix, 0, arr, 0, nKeep)
              arr(nKeep) = json; arr(nKeep + 1) = name
              arr(nKeep + 2) = o0; arr(nKeep + 3) = o1; arr(nKeep + 4) = sum
              Row.fromSeq(scala.collection.immutable.ArraySeq
                .unsafeWrapArray(arr))
            }
        }
      }
    }(enc)
  }

  /** Error channel: `(…keep…, error)`. */
  def safeTensorErrors(df: DataFrame, binCol: String,
                       maxHeader: Long = 16L << 20): DataFrame = {
    val schema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      Seq(StructField("error", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == binCol).map(_._2)
    val nKeep = keepIdx.length
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        parse(r.getAs[Array[Byte]](idx), maxHeader) match {
          case Left(e) =>
            val arr = new Array[Any](nKeep + 1)
            var i = 0
            while (i < nKeep) { arr(i) = r.get(keepIdx(i)); i += 1 }
            arr(nKeep) = e
            Iterator.single(Row.fromSeq(scala.collection.immutable.ArraySeq
              .unsafeWrapArray(arr)))
          case Right(_) => Iterator.empty
        }
      }
    }(enc)
  }

  /** Full tensor table: byte layer + Catalyst `from_json` over the
    * header, with the shape/dtype-vs-extent contract enforced in
    * column expressions: `(…keep…, tensor_name, dtype, n_elems,
    * nbytes, byte_sum)`. Rows whose declared dtype·shape disagree
    * with their byte extent are surfaced with `extent_ok = false`
    * rather than dropped (quarantine, not a guess).
    */
  def safeTensorTable(df: DataFrame, binCol: String): DataFrame = {
    val slices = extractTensorSlices(df, binCol)
    val entrySchema = MapType(StringType, StructType(Seq(
      StructField("dtype", StringType),
      StructField("shape", ArrayType(LongType)),
      StructField("data_offsets", ArrayType(LongType)))))
    val sizeMapSql = dtypeSizes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'$k', ${v}L" }.mkString("map(", ", ", ")")
    // try_* forms throughout: a crafted header (unknown dtype, shape
    // whose product overflows) must quarantine via extent_ok, not
    // throw under ANSI mode
    slices
      .withColumn("hdr", from_json(col("header_json"), entrySchema))
      .withColumn("entry", try_element_at(col("hdr"), col("tensor_name")))
      .withColumn("dtype", col("entry.dtype"))
      .withColumn("n_elems", expr(
        "aggregate(entry.shape, CAST(1 AS BIGINT), " +
          "(acc, x) -> try_multiply(acc, x))"))
      .withColumn("nbytes", col("off1") - col("off0"))
      .withColumn("extent_ok", coalesce(
        expr(s"try_multiply(n_elems, try_element_at($sizeMapSql, dtype))")
          === col("nbytes"), lit(false)))
      .drop("hdr", "entry", "header_json", "off0", "off1")
  }

  /** Shared strict parse: returns (headerJson, per-tensor
    * (name, off0, off1, byteSum)) or a typed error.
    */
  private[ext] def parse(bytes: Array[Byte], maxHeader: Long)
      : Either[String, (String, Seq[(String, Long, Long, Long)])] =
    parseScan(bytes, maxHeader).map { case (json, _, entries) =>
      (json, entries.map { case (e, sum) => (e.name, e.off0, e.off1, sum) })
    }

  private final case class ScanEntry(name: String, off0: Long, off1: Long,
                                     dtype: String, shape: Seq[Long])

  private def parseScan(bytes: Array[Byte], maxHeader: Long)
      : Either[String, (String, Int, Seq[(ScanEntry, Long)])] = {
    if (bytes == null || bytes.length < 9) return Left("too short")
    var hl = 0L
    var i = 7
    while (i >= 0) { hl = (hl << 8) | u(bytes(i)); i -= 1 }
    if (hl < 2) return Left("header too short")
    if (hl > maxHeader) return Left("header length cap")
    if (hl > bytes.length - 8) return Left("header out of bounds")
    val json = new String(bytes, 8, hl.toInt,
      java.nio.charset.StandardCharsets.UTF_8)
    val dataStart = 8 + hl.toInt
    val dataLen = (bytes.length - dataStart).toLong
    // minimal structural scan of the header: top-level object keys and
    // their data_offsets pairs (full schema semantics stay in Catalyst)
    offsetsScan(json) match {
      case Left(e) => Left(e)
      case Right(entries) =>
        // offsets contract: sorted by off0, start 0, contiguous
        // (spec: offsets are non-overlapping and cover the region)
        val sorted = entries.sortBy(_.off0)
        var expect = 0L
        var k = 0
        while (k < sorted.length) {
          val e = sorted(k)
          if (e.off0 != expect) return Left("offsets not contiguous")
          if (e.off1 < e.off0) return Left("negative tensor extent")
          if (e.off1 > dataLen) return Left("offsets out of bounds")
          expect = e.off1
          k += 1
        }
        if (sorted.nonEmpty && expect != dataLen)
          return Left("data region not covered")
        if (sorted.isEmpty && dataLen != 0)
          return Left("data region not covered")
        Right((json, dataStart, entries.map { e =>
          var sum = 0L
          var p = dataStart + e.off0.toInt
          val end = dataStart + e.off1.toInt
          while (p < end) { sum += u(bytes(p)); p += 1 }
          (e, sum)
        }))
    }
  }

  /** Scan the header JSON for top-level entries and their
    * `data_offsets: [a, b]` pairs; `__metadata__` is skipped. This is
    * a STRUCTURAL scan (bracket-depth + string-aware), not a JSON
    * parser — `from_json` does the real parsing downstream.
    */
  private def offsetsScan(json: String)
      : Either[String, Seq[ScanEntry]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ScanEntry]
    val n = json.length
    var p = 0
    def skipWs(): Unit = { while (p < n && json.charAt(p).isWhitespace) p += 1 }
    def readString(): String = {
      // at opening quote
      val sb = new StringBuilder
      p += 1
      while (p < n && json.charAt(p) != '"') {
        val c = json.charAt(p)
        if (c == '\\' && p + 1 < n) { sb.append(json.charAt(p + 1)); p += 2 }
        else { sb.append(c); p += 1 }
      }
      if (p >= n) return null
      p += 1
      sb.toString
    }
    skipWs()
    if (p >= n || json.charAt(p) != '{') return Left("bad header json")
    p += 1
    var done = false
    while (!done) {
      skipWs()
      if (p >= n) return Left("bad header json")
      if (json.charAt(p) == '}') { p += 1; done = true }
      else {
        if (json.charAt(p) != '"') return Left("bad header json")
        val key = readString()
        if (key == null) return Left("bad header json")
        skipWs()
        if (p >= n || json.charAt(p) != ':') return Left("bad header json")
        p += 1
        skipWs()
        if (p >= n || json.charAt(p) != '{') return Left("bad header json")
        // walk the value object, capturing data_offsets
        var depth = 0
        var off0 = -1L
        var off1 = -1L
        var sawOffsets = false
        val vStart = p
        while (p < n && (depth > 0 || p == vStart)) {
          val c = json.charAt(p)
          if (c == '"') { readString(); () }
          else {
            if (c == '{' || c == '[') depth += 1
            if (c == '}' || c == ']') depth -= 1
            p += 1
          }
        }
        if (depth != 0) return Left("bad header json")
        val vJson = json.substring(vStart, p)
        val m = "\"data_offsets\"\\s*:\\s*\\[\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\]"
          .r.findFirstMatchIn(vJson)
        m.foreach { mm =>
          off0 = mm.group(1).toLong; off1 = mm.group(2).toLong
          sawOffsets = true
        }
        // dtype and shape matched INDEPENDENTLY per entry object —
        // JSON keys are unordered, so a dtype-before-shape combined
        // pattern would silently drop spec-valid headers written in a
        // different key order
        val dtype = "\"dtype\"\\s*:\\s*\"([^\"\\\\]+)\""
          .r.findFirstMatchIn(vJson).map(_.group(1)).orNull
        val shape = "\"shape\"\\s*:\\s*\\[([0-9,\\s]*)\\]"
          .r.findFirstMatchIn(vJson).map(_.group(1).split(',').toSeq
            .map(_.trim).filter(_.nonEmpty).map(_.toLong)).orNull
        if (key != "__metadata__") {
          if (!sawOffsets) return Left("missing data_offsets")
          out += ScanEntry(key, off0, off1, dtype, shape)
        }
        skipWs()
        if (p < n && json.charAt(p) == ',') p += 1
      }
    }
    Right(out.toSeq)
  }

  /** Decode every F32 tensor into float vectors:
    * `(…keep…, tensor_name, row_idx, vector)` — 1-D tensors emit one
    * row (row_idx 0), 2-D `(n, d)` tensors emit `n` rows of length
    * `d`. This is the embedding-sidecar loader: the output column
    * plugs straight into [[Similarity]] (brute force / LSH / IVF /
    * PQ). Bit-exact: floats are rebuilt from the raw little-endian
    * data region, so a recall gate over decoded vectors reproduces
    * the raw-table ranking exactly.
    */
  def extractTensorVectors(df: DataFrame, binCol: String,
                           maxHeader: Long = 16L << 20): DataFrame = {
    val schema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      Seq(StructField("tensor_name", StringType, nullable = false),
        StructField("row_idx", IntegerType, nullable = false),
        StructField("vector", ArrayType(FloatType, containsNull = false),
          nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == binCol).map(_._2)
    val nKeep = keepIdx.length
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        parseWithShapes(bytes, maxHeader) match {
          case Left(_) => Iterator.empty
          case Right(entries) =>
            val prefix = new Array[Any](nKeep)
            var i = 0
            while (i < nKeep) { prefix(i) = r.get(keepIdx(i)); i += 1 }
            entries.iterator
              .filter(e => e.dtype == "F32" && e.shape.length <= 2 &&
                (e.off1 - e.off0) ==
                  e.shape.product * 4 && e.shape.product > 0)
              .flatMap { e =>
                val d = if (e.shape.length == 2) e.shape(1).toInt
                  else e.shape.head.toInt
                val nRows = if (e.shape.length == 2) e.shape.head.toInt else 1
                val dataStart = e.dataStart
                (0 until nRows).iterator.map { ri =>
                  val vec = new Array[Float](d)
                  var k = 0
                  var p = dataStart + (ri.toLong * d * 4).toInt
                  while (k < d) {
                    val bits = (u(bytes(p)) | (u(bytes(p + 1)) << 8) |
                      (u(bytes(p + 2)) << 16) | (u(bytes(p + 3)) << 24))
                    vec(k) = java.lang.Float.intBitsToFloat(bits)
                    k += 1
                    p += 4
                  }
                  val arr = new Array[Any](nKeep + 3)
                  System.arraycopy(prefix, 0, arr, 0, nKeep)
                  arr(nKeep) = e.name; arr(nKeep + 1) = ri
                  arr(nKeep + 2) = vec
                  Row.fromSeq(scala.collection.immutable.ArraySeq
                    .unsafeWrapArray(arr))
                }
              }
        }
      }
    }(enc)
  }

  private final case class TensorEntry(name: String, dtype: String,
                                       shape: Seq[Long], off0: Long,
                                       off1: Long, dataStart: Int)

  /** Like [[parse]] but also captures dtype + shape per entry (still
    * a structural scan; validation contract identical).
    */
  private def parseWithShapes(bytes: Array[Byte], maxHeader: Long)
      : Either[String, Seq[TensorEntry]] = {
    parseScan(bytes, maxHeader).map { case (_, dataStart, entries) =>
      entries.collect {
        case (e, _) if e.dtype != null && e.shape != null =>
          TensorEntry(e.name, e.dtype, e.shape, e.off0, e.off1,
            dataStart + e.off0.toInt)
      }
    }
  }

  // ------------------------------------------------------------------
  // Fixture writer

  /** Build a safetensors blob from explicit raw data bytes per tensor
    * `(name, dtype, shape, data)` — what the float fixtures use
    * (little-endian F32 rows serialized by the caller).
    */
  def buildSafeTensorsRaw(tensors: Seq[(String, String, Seq[Long], Array[Byte])])
      : Array[Byte] = {
    val sb = new StringBuilder("{")
    var off = 0L
    val data = new java.io.ByteArrayOutputStream()
    var first = true
    tensors.foreach { case (name, dtype, shape, bytes) =>
      if (!first) sb.append(",")
      first = false
      sb.append(s""""$name":{"dtype":"$dtype","shape":[${shape.mkString(",")}],""")
      sb.append(s""""data_offsets":[$off,${off + bytes.length}]}""")
      data.write(bytes, 0, bytes.length)
      off += bytes.length
    }
    sb.append("}")
    val hdr = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream()
    var hl = hdr.length.toLong
    var i = 0
    while (i < 8) { out.write((hl & 0xFF).toInt); hl >>= 8; i += 1 }
    out.write(hdr, 0, hdr.length)
    out.write(data.toByteArray, 0, data.size())
    out.toByteArray
  }

  /** Build a safetensors blob from `(name, dtype, shape, fill)`
    * tensors — data bytes are `fill`-valued so sums are formulas.
    * Entries are written in given order; offsets are contiguous.
    */
  def buildSafeTensors(tensors: Seq[(String, String, Seq[Long], Int)],
                       metadata: Seq[(String, String)] = Nil)
      : Array[Byte] = {
    val sb = new StringBuilder("{")
    var off = 0L
    val data = new java.io.ByteArrayOutputStream()
    var first = true
    if (metadata.nonEmpty) {
      sb.append("\"__metadata__\":{")
      sb.append(metadata.map { case (k, v) => s""""$k":"$v"""" }
        .mkString(","))
      sb.append("}")
      first = false
    }
    tensors.foreach { case (name, dtype, shape, fill) =>
      val n = shape.product * dtypeSizes(dtype)
      if (!first) sb.append(",")
      first = false
      sb.append(s""""$name":{"dtype":"$dtype","shape":[${shape.mkString(",")}],""")
      sb.append(s""""data_offsets":[$off,${off + n}]}""")
      var i = 0L
      while (i < n) { data.write(fill); i += 1 }
      off += n
    }
    sb.append("}")
    val hdr = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream()
    var hl = hdr.length.toLong
    var i = 0
    while (i < 8) { out.write((hl & 0xFF).toInt); hl >>= 8; i += 1 }
    out.write(hdr, 0, hdr.length)
    out.write(data.toByteArray, 0, data.size())
    out.toByteArray
  }
}
