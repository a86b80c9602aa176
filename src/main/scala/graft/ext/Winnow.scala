package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-substring duplicate detection via winnowing fingerprints
  * (Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms for
  * Document Fingerprinting", SIGMOD 2003; the MOSS algorithm). This is
  * the exact-span dedup class of Lee et al.'s "Deduplicating Training
  * Data Makes Language Models Better": two documents sharing ANY
  * character run of length ≥ `w + k - 1` are GUARANTEED to share a
  * selected fingerprint (the winnowing theorem — a deterministic
  * guarantee, unlike MinHash's probabilistic recall), at a fingerprint
  * density of ~2/(w+1) per character.
  *
  * The reference engine's dedup is whole-chunk exact
  * (`/root/reference/lib/deduplicator.ex:88-92` hashes fixed chunks);
  * winnowing is the sub-document generalization: position-independent,
  * alignment-free shared-span detection.
  *
  * Pipeline (all stages shuffle only on the fingerprint / pair keys —
  * no all-pairs stage anywhere, the [[DocDedup]] scale discipline):
  *   1. per-document fingerprint selection — narrow map, O(n) rolling
  *      k-gram hash + monotonic-deque window minimum;
  *   2. hot-fingerprint cap — fingerprints appearing in more than
  *      `maxDocsPerFp` documents are EXCLUDED before pairing (shared
  *      boilerplate is non-discriminative; the q149 block-cap
  *      argument), via one map-side-combined count whose rare
  *      survivors broadcast;
  *   3. candidate pairs — self-join on the 64-bit fingerprint;
  *   4. verification — each candidate (pos_a, pos_b) re-checks the
  *      k-gram CHARACTERS via substring equality against both texts,
  *      so a 64-bit hash collision cannot produce a false pair and the
  *      output is exact, not probabilistic.
  */
object Winnow {

  /** Selected fingerprints of one text: (position, hash) pairs.
    * Rolling polynomial hash (64-bit wraparound, odd multiplier) over
    * UTF-16 code units; window minimum by monotonic deque (O(n));
    * rightmost-min tie rule + consecutive-duplicate suppression per
    * the paper. Texts shorter than `w + k - 1` yield no fingerprints.
    */
  def selectFingerprints(text: String, k: Int, w: Int): Array[(Int, Long)] = {
    require(k >= 2 && w >= 1, "winnow: k >= 2, w >= 1")
    if (text == null) return Array.empty
    val n = text.length
    val m = n - k + 1
    if (m < w) return Array.empty
    val B = 0x9E3779B97F4A7C15L // odd -> invertible mod 2^64
    var bk1 = 1L // B^(k-1): the window's leading-term weight
    var i = 0
    while (i < k - 1) { bk1 *= B; i += 1 }
    val h = new Array[Long](m)
    var acc = 0L
    i = 0
    while (i < n) {
      if (i >= k) acc -= bk1 * text.charAt(i - k)
      acc = acc * B + text.charAt(i)
      if (i >= k - 1) h(i - k + 1) = acc
      i += 1
    }
    // final mix so adjacent grams don't produce arithmetically-related
    // values (fmix64 of MurmurHash3 / SplitMix64 — public domain)
    i = 0
    while (i < m) {
      var x = h(i)
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
      x ^= x >>> 33
      h(i) = x
      i += 1
    }
    // windowed minimum, rightmost on ties: the deque keeps indices with
    // strictly increasing hash values; equal values evict (rightmost
    // wins), so the head is always the rightmost minimum of the window
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val dq = new Array[Int](m)
    var head = 0; var tail = 0 // dq[head until tail]
    var last = -1
    i = 0
    while (i < m) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1 && dq(head) != last) {
        last = dq(head)
        out += ((last, h(last)))
      }
      i += 1
    }
    out.toArray
  }

  /** Fingerprint table: `(idCol, pos, fp)` — one row per selected
    * fingerprint. Narrow per-partition map over (id, text).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 16): DataFrame = {
    val fpUdf = udf((text: String) => selectFingerprints(text, k, w))
    df.select(col(idCol), explode(fpUdf(col(textCol))).as("f"))
      .select(col(idCol), col("f._1").as("pos"), col("f._2").as("fp"))
  }

  /** Verified shared-substring pairs: `(id_a, id_b, n_matches)` where
    * `n_matches` counts fingerprint matches whose k-gram CHARACTERS
    * were re-checked against both texts (collision-proof). Guaranteed
    * non-empty for any pair sharing a run of length ≥ `w + k - 1`
    * whose fingerprints survive the hot cap.
    *
    * 100 TB shape: fingerprint self-join shuffles on `fp` (density
    * ~2/(w+1) per char); the hot cap bounds every fp group at
    * `maxDocsPerFp` docs so no reducer sees a quadratic group; the
    * verify join shuffles candidates back to the two texts by id —
    * cost ∝ candidates, never ∝ corpus².
    */
  def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, w: Int = 16,
                    maxDocsPerFp: Int = 256): DataFrame = {
    val fps = fingerprints(df, idCol, textCol, k, w)
    // hot-fingerprint cap: ONE map-side-combined distinct-doc count;
    // survivors (rare by construction) broadcast into an anti join
    val hot = fps.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") > maxDocsPerFp)
      .select("fp")
    val cold = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val a = cold.select(col(idCol).as("id_a"), col("pos").as("pos_a"),
      col("fp"))
    val b = cold.select(col(idCol).as("id_b"), col("pos").as("pos_b"),
      col("fp"))
    val cand = a.join(b, "fp").where(col("id_a") < col("id_b"))
    val ta = df.select(col(idCol).as("id_a"),
      col(textCol).as("text_a"))
    val tb = df.select(col(idCol).as("id_b"),
      col(textCol).as("text_b"))
    cand.join(ta, "id_a").join(tb, "id_b")
      .where(expr(
        s"substring(text_a, pos_a + 1, $k) = substring(text_b, pos_b + 1, $k)"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matches"))
  }

  /** The excluded hot fingerprints (the cap's cut, for quarantine /
    * boilerplate analysis — the [[DocDedup]] `oversizedPrefixBlocks`
    * convention).
    */
  def hotFingerprints(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, w: Int = 16,
                      maxDocsPerFp: Int = 256): DataFrame =
    fingerprints(df, idCol, textCol, k, w)
      .groupBy("fp").agg(countDistinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") > maxDocsPerFp)

  // ------------------------------------------------------------------
  // Persisted fingerprint index (the [[DocDedup.buildMinHashIndex]]
  // build/append/probe family, for exact-substring lookups).
  // ------------------------------------------------------------------

  /** Fingerprint table WITH the k-gram characters — the index stores
    * the gram so probe verification is collision-proof WITHOUT reading
    * the original corpus text back (8 chars/row; the price of making
    * the index self-contained).
    */
  private def fingerprintsWithGrams(df: DataFrame, idCol: String,
                                    textCol: String, k: Int,
                                    w: Int): DataFrame = {
    val fpUdf = udf((text: String) =>
      selectFingerprints(text, k, w).map { case (pos, fp) =>
        (pos, fp, text.substring(pos, pos + k)) })
    df.select(col(idCol).as("id"), explode(fpUdf(col(textCol))).as("f"))
      .select(col("id"), col("f._1").as("pos"), col("f._2").as("fp"),
        col("f._3").as("gram"))
  }

  /** Persist a corpus's winnowing fingerprints partitioned by
    * `fb = fp mod fpBuckets` — probes prune to their own buckets at
    * file-listing time (the [[DocDedup.buildMinHashIndex]] layout
    * argument: a raw 64-bit partition value would mean one directory
    * per fingerprint). A `_graft_winnow_meta` sidecar pins
    * (k, w, fpBuckets) so appends and probes can never mix regimes.
    * Index size ∝ corpus chars · 2/(w+1) rows — at 100 TB the index is
    * ~1/8 of corpus bytes at w=16, and probing reads only the probe
    * batch's buckets.
    */
  def buildWinnowIndex(corpus: DataFrame, idCol: String, textCol: String,
                       path: String, k: Int = 8, w: Int = 16,
                       fpBuckets: Int = 64): Unit = {
    requireFpBuckets(fpBuckets)
    SignatureIndex.build(
      signedFingerprints(corpus, idCol, textCol, k, w, fpBuckets), path,
      WinnowLayout, Seq(k, w, fpBuckets))
  }

  private val WinnowLayout =
    SignatureIndex.intsLayout("_graft_winnow_meta", "fb")

  private def requireFpBuckets(fpBuckets: Int): Unit =
    require(fpBuckets >= 1 && fpBuckets <= 4096,
      s"fpBuckets must be in [1,4096], got $fpBuckets")

  /** The index's signing projection: (id, pos, fp, gram, fb). */
  private def signedFingerprints(df: DataFrame, idCol: String,
                                 textCol: String, k: Int, w: Int,
                                 fpBuckets: Int): DataFrame =
    fingerprintsWithGrams(df, idCol, textCol, k, w)
      .withColumn("fb", pmod(col("fp"), lit(fpBuckets.toLong)).cast("int"))

  /** Append a document batch into the same (fb) layout — cost ∝ batch
    * only; existing files are never rewritten. Parameters come from
    * the sidecar. Callers own id-uniqueness across batches.
    */
  def appendToWinnowIndex(newDocs: DataFrame, idCol: String,
                          textCol: String, path: String): Unit =
    SignatureIndex.append(newDocs.sparkSession, path, WinnowLayout,
        "appendToWinnowIndex") {
      case Seq(k, w, fpBuckets) =>
        signedFingerprints(newDocs, idCol, textCol, k, w, fpBuckets)
    }

  /** Compact a [[buildWinnowIndex]] layout back to one file per (fb)
    * partition — probe results bit-identical, sidecar preserved; see
    * [[IndexMaintenance.compactIndex]] for the single-writer contract.
    */
  def compactWinnowIndex(ss: org.apache.spark.sql.SparkSession,
                         path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, WinnowLayout.partitionCols)

  /** Gram-verified matches of a fingerprint probe side (id_a, fp, gram,
    * fb) against a pruned index read, with the hot-fingerprint cap
    * applied over that read — a fingerprint's doc count lives entirely
    * inside its own bucket partition, so the count seen through the
    * pruned read IS the global count, appends included.
    */
  private def probeVerify(index: DataFrame, probeSide: DataFrame,
                          maxDocsPerFp: Int, minMatches: Int): DataFrame = {
    val hot = index.groupBy("fp")
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") > maxDocsPerFp)
      .select("fp")
    index.join(broadcast(hot), Seq("fp"), "left_anti")
      .join(probeSide, Seq("fp", "gram", "fb")) // gram-verified
      .where(col("id_a") =!= col("id"))
      .select(col("id_a"), col("id").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matches"))
      .where(col("n_matches") >= minMatches)
  }

  /** The streaming micro-batch kernel behind
    * [[graft.streaming.StreamingExactDup]] — the
    * [[graft.ext.DocDedup.foldMinHashBatch]] discipline for the
    * winnow family: the batch is FINGERPRINTED ONCE (with grams) into
    * the [[SignatureIndex.fold]] cache and spent across three actions:
    * (1) the bucket collect; (2) the matches write — cross pairs with
    * the index-side hot cap ([[probeWinnowIndex]] semantics) ∪
    * within-batch pairs with the batch-side hot cap, verified
    * gram-vs-gram straight from the cache (`gram_a = gram_b` IS
    * [[verifiedPairs]]' substring check — the gram is
    * `text.substring(pos, pos+k)` — so no text re-join); (3) the index
    * append from the same cache, shuffle-free. First batch: the append
    * becomes the initial [[buildWinnowIndex]] layout + sidecar;
    * afterwards the sidecar's pinned (k, w, fpBuckets) win, exactly
    * like [[appendToWinnowIndex]].
    *
    * `window` is a stream's maintenance window for this batch (None for
    * a direct call): when it fires, the batch is published by a
    * compaction of index ∪ batch instead of an append
    * ([[SignatureIndex.fold]]).
    */
  def foldWinnowBatch(batch: DataFrame, idCol: String, textCol: String,
                      indexPath: String, matchesPath: String,
                      k: Int = 8, w: Int = 16, fpBuckets: Int = 64,
                      maxDocsPerFp: Int = 256, minMatches: Int = 1,
                      broadcastLimit: Long = 4L << 20,
                      window: Option[IndexMaintenance.Window] = None)
      : Unit = {
    require(maxDocsPerFp >= 2,
      s"winnow: maxDocsPerFp >= 2, got $maxDocsPerFp")
    SignatureIndex.fold(batch, indexPath, matchesPath, WinnowLayout,
        Seq(k, w, fpBuckets), "foldWinnowBatch", broadcastLimit, window) {
      case Seq(ek, ew, eBuckets) =>
        requireFpBuckets(eBuckets)
        signedFingerprints(batch, idCol, textCol, ek, ew, eBuckets)
    } { b =>
      val pFps = b.signed
      val cross = b.cross.fold(
        pFps.select(col("id").as("id_a"), col("id").as("id_b"),
          lit(0L).as("n_matches")).where(lit(false))) { idx =>
        probeVerify(idx.index, idx.guarded(pFps.select(col("id").as("id_a"),
          col("fp"), col("gram"), col("fb"))), maxDocsPerFp, minMatches)
      }
      // within-batch pairs: verifiedPairs semantics on the cache —
      // batch-side hot cap, then gram-verified candidates
      val hotW = pFps.groupBy("fp")
        .agg(countDistinct(col("id")).as("n_docs"))
        .where(col("n_docs") > maxDocsPerFp)
        .select("fp")
      val keptFps = pFps.select("id", "fp", "gram")
        .join(broadcast(hotW), Seq("fp"), "left_anti")
        // re-pin column ORDER: a usingColumns join fronts the join
        // keys, and the positional toDF renames below depend on it
        .select("id", "fp", "gram")
      cross.unionByName(keptFps.toDF("id_a", "fp", "gram")
        .join(keptFps.toDF("id_b", "fp", "gram"), Seq("fp", "gram"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_matches"))
        .where(col("n_matches") >= minMatches))
    }
  }

  /** Exact-substring matches of a probe batch against the index:
    * `(id_a = probe id, id_b = indexed id, n_matches)` with every
    * match gram-verified against the STORED gram (no corpus re-read,
    * no hash-collision false pairs), the hot-fingerprint cap applied
    * over the pruned read.
    *
    * Probe batch is the small side by contract: its distinct buckets
    * are collected driver-side for the pruning filter (bounded,
    * `fpBuckets` ≤ 4096 values) and the fingerprinted probe set
    * broadcasts into the candidate join (row-guarded like every
    * [[SignatureIndex.probe]]).
    */
  def probeWinnowIndex(probes: DataFrame, idCol: String, textCol: String,
                       path: String, maxDocsPerFp: Int = 256,
                       minMatches: Int = 1): DataFrame = {
    val ss = probes.sparkSession
    val Seq(k, w, fpBuckets) = SignatureIndex.read(ss, path, WinnowLayout)
    val p = signedFingerprints(probes, idCol, textCol, k, w, fpBuckets)
      .select(col("id").as("id_a"), col("fp"), col("gram"), col("fb"))
      .persist()
    try SignatureIndex.probe(ss, path, WinnowLayout, "probeWinnowIndex", p,
        4L << 20) match {
      case None =>
        probes.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
          lit(0L).as("n_matches")).where(lit(false))
      case Some(idx) =>
        probeVerify(idx.index, idx.guarded(p), maxDocsPerFp, minMatches)
          // materialize while `p` is still cached (the unpersist below
          // runs before any caller action) — and so a caller's ordering
          // sort samples a tiny in-memory result instead of re-running
          // the pruned-read joins per evaluation (the probeMinHashIndex
          // discipline; output is matched pairs only)
          .localCheckpoint()
    } finally p.unpersist()
  }
}
