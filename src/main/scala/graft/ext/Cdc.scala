package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Content-defined chunking (CDC) — the shift-resistant generalization
  * of the reference engine's fixed-size chunk dedup.
  *
  * The reference splits files into fixed n-byte chunks and dedups on
  * the chunk hash (`/root/reference/lib/deduplicator.ex:88-92`,
  * `lib/deduplicator/binary_utils.ex:14-24`). Fixed-size chunking is
  * alignment-fragile: inserting ONE byte near the start of a file
  * shifts every later chunk boundary, so two files sharing 99% of
  * their bytes at different offsets dedup to nothing. CDC places
  * boundaries where a rolling hash of the content itself hits a mask,
  * so boundaries re-synchronize shortly after any insertion and the
  * shared region dedups regardless of its offset. Published art this
  * follows: LBFS Rabin chunking (Muthitacharoen, Chen, Mazières —
  * "A Low-Bandwidth Network File System", SOSP 2001) and FastCDC
  * (Xia et al., USENIX ATC 2016) for the Gear rolling hash, the
  * min-size cut-point skip, and normalized (two-mask) chunking.
  *
  * 100 TB shape: chunking is a NARROW per-partition map over blobs
  * (no shuffle); dedup joins shuffle on the 64-bit chunk hash only —
  * the same join discipline as the fixed-size path
  * ([[graft.api.Deduplicator.deduplicateBatch]] J1/J2). [[sharedChunkPairs]] carries the
  * hot-chunk cap ([[Winnow]]'s / q149's argument): a chunk content
  * appearing in more than `maxDocsPerChunk` documents is boilerplate,
  * non-discriminative for pairing, and would otherwise go quadratic on
  * one reducer — one map-side-combined count excludes it before the
  * self-join.
  */
object Cdc {

  /** Gear table: 256 deterministic 64-bit values (SplitMix64 of the
    * byte value — fixed, seedless, so chunk boundaries are stable
    * across JVMs/sessions and persisted chunk indexes stay valid).
    */
  val GearTable: Array[Long] = Array.tabulate(256) { i =>
    var z = i.toLong * 0x9E3779B97F4A7C15L + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Mask with `bits` one-bits spread over the high half of the word
    * (positions 63, 61, 59, …). Spreading — rather than a contiguous
    * run — widens the effective boundary window (FastCDC §3.3's
    * padded-mask argument): bit 63-2k of the Gear fingerprint depends
    * on the last (2k+1) bytes, so a 13-bit spread mask keys the cut
    * decision on a ~26-byte window instead of ~13.
    */
  def spreadMask(bits: Int): Long = {
    require(bits >= 1 && bits <= 32, s"cdc: mask bits in [1,32], got $bits")
    var m = 0L
    var k = 0
    while (k < bits) { m |= 1L << (63 - 2 * k); k += 1 }
    m
  }

  /** Cut points of FastCDC normalized chunking: end-exclusive chunk
    * boundaries, last element always `bytes.length`. `avgBits` sets
    * the target chunk size 2^avgBits; before the normal point the
    * harder mask (avgBits+2 bits) applies, after it the easier one
    * (avgBits-2), which concentrates sizes around the target (FastCDC
    * Algorithm 2). Invariants: every chunk size is in
    * `[minSize, maxSize]` except a possibly-short final chunk; cuts
    * partition the input exactly.
    */
  def cutPoints(bytes: Array[Byte], minSize: Int, avgBits: Int,
                maxSize: Int): Array[Int] = {
    require(minSize >= 1, s"cdc: minSize >= 1, got $minSize")
    require(avgBits >= 3 && avgBits <= 30, s"cdc: avgBits in [3,30]")
    val avgSize = 1 << avgBits
    require(minSize <= avgSize && avgSize <= maxSize,
      s"cdc: need minSize <= 2^avgBits <= maxSize ($minSize, $avgSize, $maxSize)")
    if (bytes == null || bytes.isEmpty) return Array.empty
    val maskS = spreadMask(avgBits + 2)
    val maskL = spreadMask(math.max(1, avgBits - 2))
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var base = 0
    while (base < n) {
      val remain = n - base
      if (remain <= minSize) {
        out += n
        base = n
      } else {
        val end = math.min(remain, maxSize)
        val normal = math.min(avgSize, end)
        var fp = 0L
        var i = minSize
        var cut = -1
        while (cut < 0 && i < normal) {
          fp = (fp << 1) + GearTable(bytes(base + i) & 0xFF)
          if ((fp & maskS) == 0) cut = i + 1
          i += 1
        }
        while (cut < 0 && i < end) {
          fp = (fp << 1) + GearTable(bytes(base + i) & 0xFF)
          if ((fp & maskL) == 0) cut = i + 1
          i += 1
        }
        if (cut < 0) cut = end
        base += cut
        out += base
      }
    }
    out.toArray
  }

  /** One chunk of a blob: position-free content identity is
    * `(hash, size, sum)` — the 64-bit content hash plus two cheap
    * independent checks so a hash collision cannot fabricate a dedup
    * hit downstream.
    */
  final case class CdcChunk(idx: Int, offset: Int, size: Int,
                            hash: Long, sum: Long)

  /** Chunk one blob: polynomial content hash (the [[Winnow]] fmix64
    * construction) + byte sum per chunk. Pure, deterministic, O(n).
    */
  def chunkTable(bytes: Array[Byte], minSize: Int, avgBits: Int,
                 maxSize: Int): Array[CdcChunk] = {
    if (bytes == null || bytes.isEmpty) return Array.empty
    val cuts = cutPoints(bytes, minSize, avgBits, maxSize)
    val out = new Array[CdcChunk](cuts.length)
    var from = 0
    var c = 0
    while (c < cuts.length) {
      val until = cuts(c)
      var h = 0L
      var sum = 0L
      var i = from
      while (i < until) {
        val b = bytes(i) & 0xFF
        h = h * 0x9E3779B97F4A7C15L + b
        sum += b
        i += 1
      }
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
      h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
      h ^= h >>> 33
      out(c) = CdcChunk(c, from, until - from, h, sum)
      from = until
      c += 1
    }
    out
  }

  /** Explode a binary column into one row per CDC chunk:
    * `(…keep…, chunk_idx, offset, csize, chash, csum)`. Narrow
    * per-partition map — payload bytes are never emitted, only the
    * content identity, so downstream shuffles move ~32 bytes per
    * chunk regardless of chunk size.
    */
  def cdcChunks(df: DataFrame, binCol: String, minSize: Int = 2048,
                avgBits: Int = 13, maxSize: Int = 65536): DataFrame = {
    val schema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      Seq(StructField("chunk_idx", IntegerType, nullable = false),
        StructField("offset", IntegerType, nullable = false),
        StructField("csize", IntegerType, nullable = false),
        StructField("chash", LongType, nullable = false),
        StructField("csum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == binCol).map(_._2)
    val nKeep = keepIdx.length
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val chunks = chunkTable(r.getAs[Array[Byte]](idx),
          minSize, avgBits, maxSize)
        if (chunks.isEmpty) Iterator.empty
        else {
          val prefix = new Array[Any](nKeep)
          var i = 0
          while (i < nKeep) { prefix(i) = r.get(keepIdx(i)); i += 1 }
          chunks.iterator.map { ck =>
            val arr = new Array[Any](nKeep + 5)
            System.arraycopy(prefix, 0, arr, 0, nKeep)
            arr(nKeep) = ck.idx; arr(nKeep + 1) = ck.offset
            arr(nKeep + 2) = ck.size; arr(nKeep + 3) = ck.hash
            arr(nKeep + 4) = ck.sum
            Row.fromSeq(scala.collection.immutable.ArraySeq
              .unsafeWrapArray(arr))
          }
        }
      }
    }(enc)
  }

  /** Documents sharing CDC chunk content: `(id_a, id_b, n_shared)`
    * where `n_shared` counts DISTINCT shared chunk identities
    * `(chash, csize, csum)`. Shift-invariant: a region shared at any
    * byte offset contributes its interior chunks once boundaries
    * re-synchronize (within ~one chunk of the region start).
    *
    * Scale discipline: one map-side-combined distinct-doc count per
    * chunk identity; identities in more than `maxDocsPerChunk`
    * documents (boilerplate) are excluded via a broadcast of the rare
    * survivors, so no self-join group exceeds the cap and no reducer
    * goes quadratic. Pair cost ∝ actually-shared content, never
    * ∝ corpus².
    */
  def sharedChunkPairs(df: DataFrame, idCol: String, binCol: String,
                       minSize: Int = 2048, avgBits: Int = 13,
                       maxSize: Int = 65536,
                       maxDocsPerChunk: Int = 256): DataFrame = {
    require(maxDocsPerChunk >= 2,
      s"cdc: maxDocsPerChunk >= 2, got $maxDocsPerChunk")
    val chunks = cdcChunks(df.select(col(idCol), col(binCol)), binCol,
        minSize, avgBits, maxSize)
      .select(col(idCol), col("chash"), col("csize"), col("csum"))
      .distinct() // one row per (doc, chunk identity)
    val hot = chunks.groupBy("chash", "csize", "csum")
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxDocsPerChunk)
      .select("chash", "csize", "csum")
    val kept = chunks.join(broadcast(hot), Seq("chash", "csize", "csum"),
        "left_anti")
      .select(col(idCol), col("chash"), col("csize"), col("csum"))
    val a = kept.toDF("id_a", "chash", "csize", "csum")
    val b = kept.toDF("id_b", "chash", "csize", "csum")
    a.join(b, Seq("chash", "csize", "csum"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  // ------------------------------------------------------------------
  // Persisted chunk index (the [[Winnow.buildWinnowIndex]] /
  // [[DocDedup]] build/append/probe family, for shift-invariant
  // binary dedup against an accumulated corpus).
  // ------------------------------------------------------------------

  /** The index's signing projection: per-doc distinct chunk identities
    * (id, chash, csize, csum) with `hb = chash mod hashBuckets`.
    */
  private def signedChunks(df: DataFrame, idCol: String, binCol: String,
                           minSize: Int, avgBits: Int, maxSize: Int,
                           hashBuckets: Int): DataFrame =
    cdcChunks(df.select(col(idCol).as("id"), col(binCol)), binCol,
        minSize, avgBits, maxSize)
      .select(col("id"), col("chash"), col("csize"), col("csum"))
      .distinct()
      .withColumn("hb", pmod(col("chash"), lit(hashBuckets.toLong)).cast("int"))

  private val CdcLayout = SignatureIndex.intsLayout("_graft_cdc_meta", "hb")

  private def requireHashBuckets(hashBuckets: Int): Unit =
    require(hashBuckets >= 1 && hashBuckets <= 4096,
      s"cdc: hashBuckets must be in [1,4096], got $hashBuckets")

  /** Persist a corpus's CDC chunk identities partitioned by
    * `hb = chash mod hashBuckets` — probes prune to their own buckets
    * at file-listing time (the [[Winnow.buildWinnowIndex]] layout
    * argument). The identity `(chash, csize, csum)` is self-verifying
    * — size and byte-sum ride in the join key, so a 64-bit collision
    * cannot fabricate a match and the index never needs the corpus
    * bytes back. A `_graft_cdc_meta` sidecar pins
    * (minSize, avgBits, maxSize, hashBuckets) so appends and probes
    * can never mix chunking regimes (mixed regimes silently share
    * nothing — boundaries differ).
    */
  def buildCdcIndex(corpus: DataFrame, idCol: String, binCol: String,
                    path: String, minSize: Int = 2048, avgBits: Int = 13,
                    maxSize: Int = 65536, hashBuckets: Int = 64): Unit = {
    requireHashBuckets(hashBuckets)
    SignatureIndex.build(signedChunks(corpus, idCol, binCol, minSize,
        avgBits, maxSize, hashBuckets), path, CdcLayout,
      Seq(minSize, avgBits, maxSize, hashBuckets))
  }

  /** Append a blob batch into the same (hb) layout — cost ∝ batch
    * only; existing files are never rewritten. Chunking parameters
    * come from the sidecar. Callers own id-uniqueness across batches.
    */
  def appendToCdcIndex(newDocs: DataFrame, idCol: String, binCol: String,
                       path: String): Unit =
    SignatureIndex.append(newDocs.sparkSession, path, CdcLayout,
        "appendToCdcIndex") {
      case Seq(mn, ab, mx, hb) =>
        signedChunks(newDocs, idCol, binCol, mn, ab, mx, hb)
    }

  /** Compact a [[buildCdcIndex]] layout back to one file per (hb)
    * partition — probe results bit-identical, sidecar preserved; see
    * [[IndexMaintenance.compactIndex]] for the single-writer contract.
    */
  def compactCdcIndex(ss: org.apache.spark.sql.SparkSession,
                      path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, CdcLayout.partitionCols)

  /** Shared-chunk matches of a probe side (id_a, chash, csize, csum, hb)
    * against a pruned index read, with the hot-chunk cap applied over
    * that read — an identity's doc count lives entirely inside its own
    * bucket partition, so the pruned count IS the global count,
    * appends included.
    */
  private def probeVerify(index: DataFrame, probeSide: DataFrame,
                          maxDocsPerChunk: Int, minShared: Int): DataFrame = {
    val hot = index.groupBy("chash", "csize", "csum")
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") > maxDocsPerChunk)
      .select("chash", "csize", "csum")
    index.join(broadcast(hot), Seq("chash", "csize", "csum"), "left_anti")
      .join(probeSide, Seq("chash", "csize", "csum", "hb"))
      .where(col("id_a") =!= col("id"))
      .select(col("id_a"), col("id").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Shared-chunk matches of a probe batch against the index:
    * `(id_a = probe id, id_b = indexed id, n_shared)` over distinct
    * chunk identities, the hot-chunk cap applied over the pruned read.
    *
    * Probe batch is the small side by contract: its distinct buckets
    * are collected driver-side (bounded, ≤ `hashBuckets` values) and
    * the probe identity set broadcasts into the candidate join
    * (row-guarded like every [[SignatureIndex.probe]]).
    */
  def probeCdcIndex(probes: DataFrame, idCol: String, binCol: String,
                    path: String, maxDocsPerChunk: Int = 256,
                    minShared: Int = 1): DataFrame = {
    val ss = probes.sparkSession
    val Seq(mn, ab, mx, hbuckets) = SignatureIndex.read(ss, path, CdcLayout)
    val p = signedChunks(probes, idCol, binCol, mn, ab, mx, hbuckets)
      .select(col("id").as("id_a"), col("chash"), col("csize"),
        col("csum"), col("hb"))
      .persist()
    try SignatureIndex.probe(ss, path, CdcLayout, "probeCdcIndex", p,
        4L << 20) match {
      case None =>
        probes.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
          lit(0L).as("n_shared")).where(lit(false))
      case Some(idx) =>
        probeVerify(idx.index, idx.guarded(p), maxDocsPerChunk, minShared)
          // materialize while `p` is still cached (the unpersist below
          // runs before any caller action) — and so a caller's ordering
          // sort samples a tiny in-memory result instead of re-chunking
          // the probes and re-running the pruned-read joins per
          // evaluation (the probeMinHashIndex discipline)
          .localCheckpoint()
    } finally p.unpersist()
  }

  /** The streaming micro-batch kernel behind
    * [[graft.streaming.StreamingCdcDup]] — the [[DocDedup
    * .foldMinHashBatch]] discipline applied to the CDC family: the
    * batch is CHUNKED ONCE (FastCDC over every blob byte is the
    * CPU-heavy step; the unfused probe + within-pairs + append form
    * chunked it four times) into the [[SignatureIndex.fold]] cache and
    * spent across exactly three Spark actions: (1) the bucket collect;
    * (2) the matches WRITE (cross pairs with the index-side hot cap ∪
    * within-batch pairs with the batch-side hot cap — the
    * [[probeCdcIndex]] and [[sharedChunkPairs]] semantics verbatim, on
    * the shared cache); (3) the index append straight from the cache —
    * shuffle-free. First batch: the append becomes the initial
    * [[buildCdcIndex]] layout + sidecar; afterwards the sidecar's pinned
    * chunking parameters win, exactly like [[appendToCdcIndex]].
    *
    * `window` is a stream's maintenance window for this batch (None for
    * a direct call): when it fires, the batch is published by a
    * compaction of index ∪ batch instead of an append
    * ([[SignatureIndex.fold]]).
    */
  def foldCdcBatch(batch: DataFrame, idCol: String, binCol: String,
                   indexPath: String, matchesPath: String,
                   minSize: Int = 2048, avgBits: Int = 13,
                   maxSize: Int = 65536, hashBuckets: Int = 64,
                   maxDocsPerChunk: Int = 256, minShared: Int = 1,
                   broadcastLimit: Long = 4L << 20,
                   window: Option[IndexMaintenance.Window] = None): Unit = {
    require(maxDocsPerChunk >= 2,
      s"cdc: maxDocsPerChunk >= 2, got $maxDocsPerChunk")
    SignatureIndex.fold(batch, indexPath, matchesPath, CdcLayout,
        Seq(minSize, avgBits, maxSize, hashBuckets), "foldCdcBatch",
        broadcastLimit, window) {
      case Seq(mn, ab, mx, hbuckets) =>
        requireHashBuckets(hbuckets)
        signedChunks(batch, idCol, binCol, mn, ab, mx, hbuckets)
    } { b =>
      val pChunks = b.signed
      val cross = b.cross.fold(
        pChunks.select(col("id").as("id_a"), col("id").as("id_b"),
          lit(0L).as("n_shared")).where(lit(false))) { idx =>
        probeVerify(idx.index, idx.guarded(pChunks.select(
          col("id").as("id_a"), col("chash"), col("csize"), col("csum"),
          col("hb"))), maxDocsPerChunk, minShared)
      }
      // within-batch pairs: sharedChunkPairs semantics on the SAME
      // chunk cache (batch-side hot cap; rows are per-doc distinct)
      val hotW = pChunks.groupBy("chash", "csize", "csum")
        .agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") > maxDocsPerChunk)
        .select("chash", "csize", "csum")
      val keptIds = pChunks.select("id", "chash", "csize", "csum")
        .join(broadcast(hotW), Seq("chash", "csize", "csum"), "left_anti")
        // re-pin column ORDER: a usingColumns join fronts the join
        // keys, and the positional toDF renames below depend on it
        .select("id", "chash", "csize", "csum")
      cross.unionByName(keptIds.toDF("id_a", "chash", "csize", "csum")
        .join(keptIds.toDF("id_b", "chash", "csize", "csum"),
          Seq("chash", "csize", "csum"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= minShared))
    }
  }

  /** Fixed-size chunk identities of a binary column — the reference's
    * alignment-fragile baseline, exposed for side-by-side gates:
    * `(…keep…, chunk_idx, csize, chash, csum)` with the SAME content
    * hash as [[cdcChunks]], so the only variable is boundary
    * placement.
    */
  def fixedChunks(df: DataFrame, binCol: String, size: Int): DataFrame = {
    require(size >= 1, s"cdc: fixed chunk size >= 1, got $size")
    val schema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      Seq(StructField("chunk_idx", IntegerType, nullable = false),
        StructField("csize", IntegerType, nullable = false),
        StructField("chash", LongType, nullable = false),
        StructField("csum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == binCol).map(_._2)
    val nKeep = keepIdx.length
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val prefix = new Array[Any](nKeep)
          var i = 0
          while (i < nKeep) { prefix(i) = r.get(keepIdx(i)); i += 1 }
          val nChunks = (bytes.length + size - 1) / size
          (0 until nChunks).iterator.map { c =>
            val from = c * size
            val until = math.min(bytes.length, from + size)
            var h = 0L
            var sum = 0L
            var j = from
            while (j < until) {
              val b = bytes(j) & 0xFF
              h = h * 0x9E3779B97F4A7C15L + b
              sum += b
              j += 1
            }
            h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
            h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
            h ^= h >>> 33
            val arr = new Array[Any](nKeep + 4)
            System.arraycopy(prefix, 0, arr, 0, nKeep)
            arr(nKeep) = c; arr(nKeep + 1) = until - from
            arr(nKeep + 2) = h; arr(nKeep + 3) = sum
            Row.fromSeq(scala.collection.immutable.ArraySeq
              .unsafeWrapArray(arr))
          }
        }
      }
    }(enc)
  }
}
