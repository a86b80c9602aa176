package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — the
  * north-star ANN surface (SURVEY §7.1 `ext/`). Two tiers:
  *
  *   - [[bruteForceTopK]]: exact cosine top-k. Correctness baseline and
  *     the right plan when ONE side is small (queries broadcast; the
  *     corpus streams — one scan, no shuffle of the corpus).
  *   - [[lshTopK]]: random-hyperplane LSH. The 100 TB path: corpus is
  *     bucketed by signature ONCE (write-time partitioning in a real
  *     deployment); a query probes only its bucket(s). Recall tunable
  *     via bits/tables: P(same bucket | angle θ) = (1 − θ/π)^bits per
  *     table.
  *
  * All vector math is built-in (`zip_with` + `aggregate` over doubles,
  * left-to-right — deterministic), no UDFs, fully codegen'd.
  */
object Similarity {

  /** Dot product of two array<float> columns, computed in double in
    * element order (deterministic across engines) — the native
    * codegen'd expression (graft.functions.VecExpressions.VecDot); the
    * interpreted `aggregate(zip_with(...))` built-in formulation it
    * replaces is bit-identical but pays a lambda dispatch per element.
    * Callers outside the operators below must
    * `VecExpressions.register(spark)` first (the operators do it
    * themselves).
    */
  def dot(a: Column, b: Column): Column = {
    // best-effort: make standalone Column use work without an explicit
    // VecExpressions.register call (operators register their own session)
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecExpressions.register)
    call_function("graft_vec_dot", a, b)
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors of each query vector.
    *
    * @param corpus  (idCol, vecCol) — the big side; scanned once
    * @param queries (idCol, vecCol) — the small side; broadcast
    * @return (query_id, neighbor_id, rank, sim), rank 1..k, ties broken
    *         by neighbor_id for determinism; self-matches excluded
    *
    * Plan shape: broadcast-nested-loop of |corpus| × |queries| rows —
    * linear in the corpus for fixed query count — then the shared
    * two-level top-k tail ([[topKPerQuery]]): map-side group-limit
    * prunes each partition to ≤ k rows per query BEFORE the shuffle, so
    * the per-query window never sees the corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VecExpressions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("cv"), col("qv")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Exact per-query top-k over scored (query_id, neighbor_id, sim) rows
    * — the ranking tail every ANN tier shares. Ties broken by
    * neighbor_id for determinism.
    *
    * Scale shape: this is a TWO-LEVEL top-k, not a one-task-per-query
    * sort. For k ≤ spark.sql.optimizer.windowGroupLimitThreshold
    * (default 1000), Spark's `InferWindowGroupLimit` (3.5+) plans the
    * `row_number() ≤ k` filter as WindowGroupLimit(Partial) BELOW the
    * query_id exchange — each map task locally prunes to ≤ k rows per
    * query — so the shuffle and the final per-query window see at most
    * k·partitions rows per query, never the scored corpus
    * (PlanSpec asserts the executed shape). Above the threshold (where
    * the rule cannot fire) we pre-prune with a salted window: the
    * scored set still crosses the (query_id, __salt) exchange ONCE at
    * full size — only the per-task sort is bounded, to one (query,
    * salt) slice's rows — and the second, per-query exchange then sees
    * ≤ k·salts rows per query. So the group-limit path bounds shuffle
    * INPUT; the salted path bounds per-task sort size but not the
    * first shuffle — size shuffles accordingly when k > threshold. In
    * neither path does a single task ever sort a whole query's
    * candidate set.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val ss = scored.sparkSession
    val threshold =
      ss.conf.get("spark.sql.optimizer.windowGroupLimitThreshold", "1000").toInt
    val pre = if (k > threshold) {
      val salts = math.max(2, ss.sparkContext.defaultParallelism)
      val ws = Window.partitionBy("query_id", "__salt")
        .orderBy(desc("sim"), col("neighbor_id"))
      scored
        .withColumn("__salt", pmod(xxhash64(col("neighbor_id")), lit(salts)))
        .withColumn("__r", row_number().over(ws))
        .where(col("__r") <= k)
        .drop("__salt", "__r")
    } else scored
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), col("neighbor_id"))
    pre.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
    // no determinism orderBy (guide §2.4): rank already totally orders
    // within a query, and every consumer re-orders or aggregates — the
    // global range exchange + sampling pass per top-k call bought nothing
  }

  /** `bits`-bit random-hyperplane signature of a vector column for LSH
    * table `table`: bit j = sign(Σ_d ±v[d]), the ± signs drawn from
    * xxhash64(table, j, d) — sign-random-projection with ±1 components
    * (Charikar '02). Native expression
    * (graft.functions.VecExpressions.VecLshSignature): the hyperplane
    * sign matrix is row-independent, so it is hashed once per executor
    * and cached, where the built-in `zip_with`+`aggregate` formulation
    * re-hashed every (bit, dim) per ROW, interpreted.
    */
  def lshSignature(vec: Column, bits: Int, table: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecExpressions.register)
    call_function("graft_vec_lsh_sig", vec, lit(bits), lit(table))
  }

  /** LSH-bucketed approximate top-k: candidates = corpus vectors sharing
    * a signature bucket with the query in ANY of `tables` tables; exact
    * cosine + window top-k over candidates only.
    *
    * 100 TB sizing: bucket count per table ≈ 2^bits; with bits=12 and a
    * 10^10-vector corpus a bucket holds ~2.4M vectors → a query probes
    * tables·bucket ≈ 10M candidates instead of 10^10 (≈1000× cut). The
    * corpus signature pass is one scan; in a real deployment signatures
    * are precomputed and the table is partitioned by (table, bucket) so
    * a probe is a partition-pruned read, not a join.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              bits: Int = 8, tables: Int = 4): DataFrame = {
    graft.functions.VecExpressions.register(corpus.sparkSession)
    // All `tables` signatures come from ONE projection per input
    // (posexplode, pos ≙ table index) — a per-table union would scan
    // and re-hash the corpus `tables` times.
    def signed(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), lshSignatures(col(vecCol), bits, tables))
    // Candidate generation is ids-only — vectors are re-joined after
    // the dedup so the (tables×) exploded rows and the dedup shuffle
    // never carry the embedding payload.
    val cand = signed(corpus, "neighbor_id")
      .join(broadcast(signed(queries, "query_id")), Seq("tbl", "sig"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    scoreCandidates(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Shared exact-scoring tail of the approximate tiers: candidate
    * (query_id, neighbor_id) pairs → vectors re-joined by id → cosine →
    * per-query rank ≤ k, ties broken by neighbor_id. One definition so
    * a scoring fix (tie-breaks, degenerate-norm handling) cannot drift
    * between tiers.
    */
  private def scoreCandidates(cand: DataFrame, corpus: DataFrame,
                              queries: DataFrame, idCol: String,
                              vecCol: String, k: Int): DataFrame =
    topKPerQuery(
      cand
        .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
          "neighbor_id")
        .join(broadcast(queries.select(col(idCol).as("query_id"),
          col(vecCol).as("qv"))), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("cv"), col("qv")).as("sim")),
      k)

  /** WRITE-time LSH index — the deployment shape [[lshTopK]]'s scaladoc
    * describes, made real: the corpus is persisted as a parquet table
    * PARTITIONED BY (tbl, sig), one directory per signature bucket,
    * with ids AND vectors stored per bucket. A probe then reads ONLY
    * its buckets via partition pruning — tables·|queries| directories
    * out of tables·2^bits — instead of scanning or joining the corpus.
    *
    * 100 TB sizing: the index stores each vector `tables` times (the
    * classic space-for-pruning trade); build cost is one corpus scan +
    * one partitioned shuffle write. With bits=12, tables=4 and a
    * 10^10-vector corpus, a probe reads 4 buckets ≈ 10M vectors —
    * a partition-pruned scan of ~0.1% of the index, with NO join
    * against the corpus at query time. (bits, tables) ride in a
    * `_graft_lsh_meta` sidecar so probes cannot mix hash parameters.
    */
  def buildLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, bits: Int = 8, tables: Int = 4): Unit = {
    require(bits >= 1 && bits <= 30 && tables >= 1,
      s"need 1 <= bits <= 30 and tables >= 1, got bits=$bits tables=$tables")
    graft.functions.VecExpressions.register(corpus.sparkSession)
    SignatureIndex.build(corpus.select(col(idCol).as("id"),
          col(vecCol).as("vec"), lshSignatures(col(vecCol), bits, tables))
        .select("tbl", "sig", "id", "vec"),
      path, LshLayout, Seq(bits, tables))
  }

  private val LshLayout =
    SignatureIndex.intsLayout("_graft_lsh_meta", "tbl", "sig")

  /** All `tables` signatures of a vector in ONE projection — (tbl, sig)
    * rows via posexplode (pos ≙ table index); a per-table union would
    * scan and re-hash the input `tables` times.
    */
  private def lshSignatures(vec: Column, bits: Int, tables: Int): Column =
    posexplode(array((0 until tables).map(t =>
      lshSignature(vec, bits, t)): _*)).as(Seq("tbl", "sig"))

  /** Approximate top-k against a [[buildLshIndex]] index: compute the
    * queries' bucket coordinates with the index's own (bits, tables),
    * read ONLY those partitions (the bucket filter is a literal
    * disjunction, so Catalyst prunes at file-listing time — asserted by
    * SimilaritySpec), score candidates with the exact cosine, and rank
    * through the shared two-level top-k tail. Query signatures are
    * collected driver-side: queries are the SMALL side by contract
    * (tables·|queries| pairs of ints), exactly like the broadcast the
    * join-form tiers already do.
    *
    * Returns the same rows [[lshTopK]] returns for the same
    * (bits, tables) — the index changes the ACCESS PATH, not the
    * result; SimilaritySpec pins the equivalence.
    */
  def probeLshIndex(queries: DataFrame, idCol: String, vecCol: String,
                    path: String, k: Int,
                    broadcastLimit: Long = 4L << 20): DataFrame = {
    val ss = queries.sparkSession
    graft.functions.VecExpressions.register(ss)
    val Seq(bits, tables) = SignatureIndex.read(ss, path, LshLayout)
    val qsig = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshSignatures(col(vecCol), bits, tables))
    // the (tbl, sig) bucket filter is driver-built from tables·|queries|
    // coordinates, so an oversized query batch fails loudly in
    // SignatureIndex.probe instead of producing a megabyte predicate
    SignatureIndex.probe(ss, path, LshLayout, "probeLshIndex", qsig,
        broadcastLimit) match {
      case None =>
        qsig.select(col("query_id"), col("query_id").as("neighbor_id"),
          lit(1).as("rank"), lit(0.0).as("sim")).where(lit(false))
      case Some(idx) =>
        val cand = idx.index
          .join(idx.guarded(qsig.drop("qv")), Seq("tbl", "sig"))
          .where(col("query_id") =!= col("id"))
          // the index carries the vector, so scoring needs no corpus
          // join; same-pair rows from several tables are identical —
          // dedup keeps one
          .select(col("query_id"), col("id").as("neighbor_id"), col("vec"))
          .dropDuplicates("query_id", "neighbor_id")
        topKPerQuery(
          cand.join(idx.guarded(queries.select(col(idCol).as("query_id"),
              col(vecCol).as("qv"))), "query_id")
            .select(col("query_id"), col("neighbor_id"),
              cosine(col("vec"), col("qv")).as("sim")),
          k)
    }
  }

  /** IVF (inverted-file) approximate top-k — the third ANN tier and the
    * classic coarse-quantizer scale path: the corpus is partitioned into
    * `nlist` cells by nearest centroid; a query scans only its `nprobe`
    * nearest cells, i.e. ~nprobe/nlist of the corpus.
    *
    * The coarse quantizer is SAMPLED-CENTROIDS IVF-flat: centroids are
    * the `nlist` corpus vectors with the smallest xxhash64(id) — a
    * deterministic uniform sample (no iterative k-means: its
    * order-dependent float averaging would make cell assignment — and
    * thus results — nondeterministic across runs, breaking the oracle/
    * test contract; with a trained quantizer only cell QUALITY changes,
    * not the operator's shape).
    *
    * Scale shape (100 TB): assignment is one broadcast(centroids)
    * cross-join emitting (id, cell-sim) ids only — |corpus|·nlist slim
    * rows, partial-aggregated max_by — then the probe is an equi-join
    * on cell id. The deployment shape — corpus WRITTEN partitioned by
    * cell, probe = partition-pruned read — is [[buildIvfIndex]] /
    * [[probeIvfIndex]]; this join form is the ad-hoc (no prebuilt
    * index) path. No all-pairs stage exists in either.
    *
    * @return (query_id, neighbor_id, rank, sim) — rank 1..k within the
    *         probed cells; ties broken by neighbor_id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, got nprobe=$nprobe nlist=$nlist")
    graft.functions.VecExpressions.register(corpus.sparkSession)
    // Persisted: the corpus projection feeds three plan branches (the
    // centroid sample, the assignment cross-join, the payload rejoin),
    // and concurrent first-compute of a shared branch from broadcast
    // threads serializes on block locks (see minHashPairs).
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v")).persist()
    try {
      c.count() // materialize before the multi-branch plan executes
      // Deterministic uniform sample of nlist centroids (ids re-keyed
      // to dense 0..nlist-1 by hash order).
      val centroids = broadcast(
        c.select(col("id"), col("v"), xxhash64(col("id")).as("h"))
          .orderBy("h", "id").limit(nlist)
          .select((row_number().over(Window.orderBy("h", "id")) - 1).as("cid"),
            col("v").as("cvec")))
      // Cell assignment: argmax-cosine centroid per vector. Slim rows
      // (id, cid, sim) only; the max_by partial-aggregates map-side.
      def assign(df: DataFrame, id: String, keep: Int): DataFrame = {
        val sims = df.crossJoin(centroids)
          .select(col(id), col("cid"),
            cosine(col("v"), col("cvec")).as("csim"))
        if (keep == 1)
          sims.groupBy(id)
            .agg(expr("max_by(cid, struct(csim, -cid))").as("cid"))
        else {
          val w = Window.partitionBy(id).orderBy(desc("csim"), col("cid"))
          sims.withColumn("r", row_number().over(w)).where(col("r") <= keep)
            .select(col(id), col("cid"))
        }
      }
      val cells = assign(c, "id", 1)
      val qCells = assign(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("v")),
        "query_id", nprobe)
      // Probe: candidates = corpus of the probed cells; vectors
      // re-joined by id so the assignment rows never carry payloads.
      val cand = qCells.join(cells.toDF("neighbor_id", "cid"), "cid")
        .where(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      scoreCandidates(cand, corpus, queries, idCol, vecCol, k)
        // materialize (tiny: ≤ k·|queries| rows) while `c` is cached —
        // the unpersist in `finally` runs before any caller action
        .localCheckpoint()
    } finally c.unpersist()
  }

  /** WRITE-time IVF index — the deployment shape [[ivfTopK]]'s scaladoc
    * describes, made real (the IVF twin of [[buildLshIndex]]): the
    * corpus is persisted as a parquet table PARTITIONED BY cell id,
    * one directory per coarse-quantizer cell, ids and vectors stored
    * per cell. A probe reads ONLY its `nprobe` cells via partition
    * pruning — no corpus join at query time.
    *
    * The quantizer is the SAME deterministic sampled-centroids
    * construction as [[ivfTopK]] (nlist corpus vectors with the
    * smallest xxhash64(id), re-keyed 0..nlist-1 in hash order), and
    * the centroids are persisted BIT-EXACT (raw float bits) in a
    * `_graft_ivf_meta` sidecar: the probe must reproduce build-time
    * cell geometry exactly or assignment drifts — and a float
    * text-round-trip would be exactly such a drift. Unlike LSH, each
    * vector is stored ONCE (cells partition the corpus; buckets
    * overlay it `tables`×).
    *
    * 100 TB sizing: build is one corpus scan + an ids-only assignment
    * cross-join (|corpus|·nlist slim rows, map-side max_by) + one
    * clustered partitioned write. With nlist=4096 and a 10^10-vector
    * corpus, a probe at nprobe=64 reads ~1.6% of the index as a
    * partition-pruned scan.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int = 16): Unit = {
    require(nlist >= 1 && nlist <= (1 << 20),
      s"need 1 <= nlist <= 2^20, got nlist=$nlist")
    val ss = corpus.sparkSession
    graft.functions.VecExpressions.register(ss)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec")).persist()
    try {
      c.count() // materialize before the multi-branch plan executes
      // nlist rows by construction — driver-small; they go to the
      // sidecar anyway (the probe needs them without the corpus).
      val cents: Array[Array[Float]] = c
        .select(col("id"), col("vec"), xxhash64(col("id")).as("h"))
        .orderBy("h", "id").limit(nlist)
        .select("vec").collect()
        .map(_.getSeq[Float](0).toArray)
      // cell assignment (ids-only, map-side max_by), vectors re-joined
      // by id; the sidecar holds nlist + the bit-exact centroids
      SignatureIndex.build(
        c.join(assignCells(c, "vec", centroidsDf(ss, cents)), "id")
          .select("cid", "id", "vec"),
        path, IvfLayout, Quantizer(Seq(nlist), Seq(cents)))
    } finally c.unpersist()
  }

  private[graft] val IvfLayout = quantizerLayout("_graft_ivf_meta", "cid")

  /** Argmax-cosine cell of every (id, `vecCol`) row against broadcast
    * centroids — (id, cid), ties to the lowest cid; the slim ids-only
    * rows partial-aggregate map-side.
    */
  private def assignCells(c: DataFrame, vecCol: String,
                          cdf: DataFrame): DataFrame =
    c.crossJoin(cdf)
      .select(col("id"), col("cid"),
        cosine(col(vecCol), col("cvec")).as("csim"))
      .groupBy("id")
      .agg(expr("max_by(cid, struct(csim, -cid))").as("cid"))

  /** Incremental batch append into a [[buildIvfIndex]] layout: new
    * vectors are assigned to their argmax-cosine cell against the
    * SIDECAR centroids (never re-clustered — the cell geometry is
    * pinned at build time, so existing partitions stay valid) and
    * appended into the same `cid=` partitioning. Append cost ∝ batch;
    * existing files are never rewritten.
    */
  def appendToIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val ss = corpus.sparkSession
    graft.functions.VecExpressions.register(ss)
    SignatureIndex.append(ss, path, IvfLayout, "appendToIvfIndex") { q =>
      val Seq(cents) = q.blocks
      require(cents.nonEmpty, "cannot append into an empty-centroid index")
      val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      c.join(assignCells(c, "vec", centroidsDf(ss, cents)), "id")
        .select("cid", "id", "vec")
    }
  }

  /** Compact a [[buildIvfIndex]] layout back to one file per (cid)
    * partition — probe results bit-identical, centroid sidecar
    * preserved; see [[graft.ext.IndexMaintenance.compactIndex]] for
    * the single-writer contract.
    */
  def compactIvfIndex(ss: SparkSession, path: String)
      : IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, IvfLayout.partitionCols)

  /** Compact a flat [[buildPqIndex]] code table — appends stack file
    * sets at the root; this rewrites them into at most
    * `spark.sql.shuffle.partitions` files. Probe results
    * bit-identical, codebook sidecar preserved.
    */
  def compactPqIndex(ss: SparkSession, path: String)
      : IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, PqLayout.partitionCols)

  /** Compact a [[buildIvfPqIndex]] layout back to one file per (cid)
    * partition — probe results bit-identical, sidecar preserved.
    */
  def compactIvfPqIndex(ss: SparkSession, path: String)
      : IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, IvfPqLayout.partitionCols)

  /** Approximate top-k against a [[buildIvfIndex]] index: assign each
    * query to its `nprobe` nearest persisted centroids, read ONLY
    * those cell partitions (an `isin` over the cell id — pruned at
    * file-listing time, like [[probeLshIndex]]), and rank through the
    * shared scoring tail. Cell ids are collected driver-side: bounded
    * by nlist by construction.
    *
    * Returns the same rows [[ivfTopK]] returns for the same
    * (nlist, nprobe) — the index changes the ACCESS PATH, not the
    * result; SimilaritySpec pins the equivalence.
    */
  def probeIvfIndex(queries: DataFrame, idCol: String, vecCol: String,
                    path: String, k: Int, nprobe: Int = 4,
                    broadcastLimit: Long = 4L << 20): DataFrame = {
    val ss = queries.sparkSession
    graft.functions.VecExpressions.register(ss)
    val Quantizer(Seq(nlist), Seq(cents)) =
      SignatureIndex.read(ss, path, IvfLayout)
    require(nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist=$nlist, got nprobe=$nprobe")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    def emptyResult = q
      .select(col("query_id"), col("query_id").as("neighbor_id"),
        lit(1).as("rank"), lit(0.0).as("sim")).where(lit(false))
    // an index built from an EMPTY corpus has no centroids (and no cid=
    // partitions): ivfTopK — whose results this contracts to match —
    // returns empty
    if (cents.isEmpty) return emptyResult
    // Query → nprobe nearest cells (queries are the small side by
    // contract; the window is per-query over nlist rows). The touched
    // cells are ≤ nlist by construction; the broadcasts below are
    // row-guarded (q rows <= qCells rows = queries · nprobe).
    val w = Window.partitionBy("query_id").orderBy(desc("csim"), col("cid"))
    val qCells = q.crossJoin(centroidsDf(ss, cents))
      .select(col("query_id"), col("cid"),
        cosine(col("qv"), col("cvec")).as("csim"))
      .withColumn("r", row_number().over(w)).where(col("r") <= nprobe)
      .select("query_id", "cid")
    SignatureIndex.probe(ss, path, IvfLayout, "probeIvfIndex", qCells,
        broadcastLimit) match {
      case None => emptyResult
      case Some(idx) =>
        val cand = idx.index.join(idx.guarded(qCells), "cid")
          .where(col("query_id") =!= col("id"))
          // a corpus vector lives in exactly ONE cell, so (query, id)
          // pairs are already distinct — no dedup stage (unlike LSH)
          .select(col("query_id"), col("id").as("neighbor_id"), col("vec"))
        topKPerQuery(
          cand.join(idx.guarded(q), "query_id")
            .select(col("query_id"), col("neighbor_id"),
              cosine(col("vec"), col("qv")).as("sim")),
          k)
    }
  }

  /** Broadcast-ready (cid, cvec) relation from driver-held centroids —
    * shared by the IVF index build and probe so cell geometry cannot
    * drift between them.
    */
  private def centroidsDf(ss: org.apache.spark.sql.SparkSession,
                          cents: Array[Array[Float]]): DataFrame = {
    import ss.implicits._
    broadcast(cents.toSeq.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cid", "cvec"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥
    * `threshold`, found via LSH blocking (same-bucket candidates in any
    * table) + exact verification — the vector analog of
    * [[DocDedup.minHashPairs]]. Never all-pairs.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double,
                         bits: Int = 8, tables: Int = 6): DataFrame =
    cosineNearDupPairs(df, idCol, vecCol, threshold, bits, tables,
      ordered = true)

  /** `ordered = false` drops the determinism orderBy (guide §2.4) for
    * callers that write or aggregate the pair set — the per-batch
    * streaming fold pays a range exchange + sampling pass per
    * micro-batch otherwise. The public overload stays ordered: q41
    * returns this operator's rows as its final gate output.
    */
  private[graft] def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int, tables: Int, ordered: Boolean): DataFrame = {
    graft.functions.VecExpressions.register(df.sparkSession)
    // Slim signatures (id, tbl, sig) are computed ONCE and cached: the
    // signature expression (tables × bits aggregates over the vector)
    // is the most expensive projection here and feeds both self-join
    // sides. Vectors are re-joined after the candidate dedup so the
    // exploded rows never carry the embedding payload.
    val signed = df.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(t =>
        lshSignature(col(vecCol), bits, t)): _*)).as(Seq("tbl", "sig")))
      .persist()
    try {
      val cand = signed.toDF("id_a", "tbl", "sig")
        .join(signed.toDF("id_b", "tbl", "sig"), Seq("tbl", "sig"))
        .where(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
      val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      val pairs = cand
        .join(vecs.toDF("id_a", "va"), "id_a")
        .join(vecs.toDF("id_b", "vb"), "id_b")
        .select(col("id_a"), col("id_b"),
          cosine(col("va"), col("vb")).as("sim"))
        .where(col("sim") >= threshold)
      // Checkpoint BELOW the determinism sort (guide §2.4, the
      // minHashPairs/jaccardVerify reordering): materializing
      // Sort(pairs) pays the range exchange's sampling pass over the
      // LIVE candidate+verify joins — over the checkpoint the sampling
      // is a cheap in-memory scan. Same rows, same final order; still
      // materialized while `signed` is cached.
      val ck = pairs.localCheckpoint()
      if (ordered) ck.orderBy("id_a", "id_b") else ck
    } finally { signed.unpersist() }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication of an embedded corpus — cluster with a coarse
    * quantizer, then inside each cluster drop every vector that has a
    * LOWER-id neighbor at cosine ≥ `eps`. One deterministic canonical
    * survivor per semantic-duplicate group (the paper picks the copy
    * farthest from the centroid; id-canonical is the oracle-friendly
    * deterministic variant — same set sizes, stable across runs).
    *
    * Scale shape: the quantizer is [[ivfTopK]]'s deterministic sampled
    * centroids (broadcast, ids-only argmax assignment, map-side
    * max_by); the only quadratic stage is the within-cell self-join,
    * bounded by cell size like every blocked near-dup tier here (the
    * whole point of clustering first — nlist scales with the corpus so
    * cells stay bounded). Dropped ids materialize once (ids only);
    * survivors are an anti-join, so payload columns never ride through
    * the pair stage.
    *
    * @return the surviving rows of `df`, schema unchanged.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               eps: Double, nlist: Int = 16): DataFrame = {
    require(eps > 0.0 && eps <= 1.0, s"eps must be in (0,1], got $eps")
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    graft.functions.VecExpressions.register(df.sparkSession)
    val c = df.select(col(idCol).as("id"), col(vecCol).as("v")).persist()
    try {
      c.count() // materialize before the multi-branch plan executes
      val centroids = broadcast(
        c.select(col("id"), col("v"), xxhash64(col("id")).as("h"))
          .orderBy("h", "id").limit(nlist)
          .select((row_number().over(Window.orderBy("h", "id")) - 1).as("cid"),
            col("v").as("cvec")))
      // ids-only argmax-cosine cell assignment (ties → lowest cid),
      // vectors re-joined by id for the verify stage
      val cells = c.crossJoin(centroids)
        .select(col("id"), col("cid"), cosine(col("v"), col("cvec")).as("csim"))
        .groupBy("id").agg(expr("max_by(cid, struct(csim, -cid))").as("cid"))
        .join(c, "id")
      val dropped = cells.select(col("cid"), col("id").as("id_a"), col("v").as("va"))
        .join(cells.select(col("cid"), col("id").as("id_b"), col("v").as("vb")),
          "cid")
        .where(col("id_a") < col("id_b") &&
          cosine(col("va"), col("vb")) >= eps)
        .select(col("id_b").as("__drop")).distinct()
        .localCheckpoint() // ids only; materialize while `c` is cached
      df.join(dropped, col(idCol) === col("__drop"), "left_anti")
    } finally c.unpersist()
  }

  /** Semantic decontamination: drop every corpus row whose embedding
    * has cosine ≥ `eps` to ANY benchmark embedding — the semantic twin
    * of [[graft.ext.CorpusPrep.decontaminate]]'s n-gram overlap (a
    * paraphrased eval answer shares no 32-gram but sits right next to
    * the original in embedding space; both filters run before
    * training, Brown et al. 2020 appendix C / Touvron et al. 2023 use
    * exactly this shape).
    *
    * Scale shape mirrors [[bruteForceTopK]]'s small-side contract:
    * benchmark sets are tiny (thousands of rows) and BROADCAST with
    * precomputed norms; the corpus streams through ONE scan with no
    * shuffle of the payload — the comparison is `dot ≥ eps·|a|·|b|`
    * (no division), codegen'd end to end. Contaminated ids
    * materialize ids-only; survivors are an anti-join (broadcast
    * under AQE when the contaminated set is small — the common case).
    * For benchmark sets too big to broadcast, pre-filter with
    * [[lshTopK]]'s bucketing and feed the candidate slice here.
    *
    * @return the surviving rows of `corpus`, schema unchanged
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, eps: Double): DataFrame = {
    graft.operators.Reserved.assertNone(corpus, "semanticDecontaminate")
    graft.functions.VecExpressions.register(corpus.sparkSession)
    val b = broadcast(bench.select(col(vecCol).as("_graft_bv"),
      norm(col(vecCol)).as("_graft_bn")))
    val contaminated = corpus
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("_graft_cn"))
      .crossJoin(b)
      .where(dot(col(vecCol), col("_graft_bv")) >=
        lit(eps) * col("_graft_cn") * col("_graft_bn"))
      .select(col(idCol)).distinct()
      .withColumnRenamed(idCol, "_graft_contaminated")
    corpus.join(contaminated,
      col(idCol) === col("_graft_contaminated"), "left_anti")
  }

  // ------------------------------------------------- product quantization

  /** Squared L2 distance of two array<float> columns, accumulated in
    * double in element order (the [[dot]] determinism convention).
    */
  private def sqdist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Deterministic PQ codebook sample: the `ksub` corpus vectors with
    * the smallest xxhash64(id) — the [[buildIvfIndex]] quantizer
    * convention (no iterative k-means: only codebook QUALITY would
    * change, not the operator shape, and float k-means would break
    * the oracle/test determinism contract). Subspace `s` of sampled
    * vector `cid` is codeword (s, cid).
    */
  private def pqSample(c: DataFrame, ksub: Int): Array[Array[Float]] =
    c.select(col("id"), col("v"), xxhash64(col("id")).as("h"))
      .orderBy("h", "id").limit(ksub)
      .select("v").collect().map(_.getSeq[Float](0).toArray)

  /** Broadcast-ready (s, cid, cw) codeword relation from a sampled
    * codebook — shared by encode and probe so geometry cannot drift.
    */
  private def codewordsDf(ss: org.apache.spark.sql.SparkSession,
                          sample: Array[Array[Float]], m: Int,
                          dsub: Int): DataFrame = {
    import ss.implicits._
    broadcast((for {
      s <- 0 until m; ci <- sample.indices
    } yield (s, ci, sample(ci).slice(s * dsub, (s + 1) * dsub)))
      .toDF("s", "cid", "cw"))
  }

  /** Per-(vector, subspace) nearest-codeword assignment — (id, s,
    * code). Slim ids-only rows through the |corpus|·ksub·m cross
    * join; the argmin partial-aggregates map-side (ties to the
    * smallest cid).
    */
  private def pqEncode(c: DataFrame, cw: DataFrame,
                       dsub: Int): DataFrame =
    c.crossJoin(cw)
      .select(col("id"), col("s"),  col("cid"),
        sqdist(expr(s"slice(v, s * $dsub + 1, $dsub)"), col("cw"))
          .as("d2"))
      .groupBy("id", "s")
      .agg(expr("max_by(cid, struct(-d2, -cid))").as("code"))

  /** ADC scoring tail shared by [[pqTopK]] and [[probePqIndex]]:
    * queries precompute a (query, s, cid) → d2 distance table (the
    * asymmetric distance computation of Jégou et al.'s PQ), a
    * candidate's score is the m-term table-lookup SUM over its codes
    * — original vectors are never touched — and rank 1..k ascends by
    * (adc, neighbor_id).
    */
  private def adcTopK(codes: DataFrame, q: DataFrame, cw: DataFrame,
                      dsub: Int, m: Int, k: Int,
                      broadcastDtable: Boolean = true): DataFrame = {
    // distance table = queries × m·ksub rows — broadcast only while
    // the caller's row arithmetic says it fits (row-guard discipline)
    val dtableRaw = q.crossJoin(cw)
      .select(col("query_id").as("dq"), col("s").as("qs"),
        col("cid").as("qcid"),
        sqdist(expr(s"slice(qv, s * $dsub + 1, $dsub)"), col("cw"))
          .as("d2"))
    val dtable = if (broadcastDtable) broadcast(dtableRaw) else dtableRaw
    // code rows already bound to a probing query (the IVF-PQ pruned
    // path) keep that binding; unbound rows (flat PQ) score against
    // every query
    val base =
      if (codes.columns.contains("query_id"))
        codes.join(dtable, col("query_id") === col("dq") &&
          col("s") === col("qs") && col("code") === col("qcid"))
      else
        codes.join(dtable, col("s") === col("qs") &&
          col("code") === col("qcid"))
          .withColumn("query_id", col("dq"))
    val w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    base.where(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum("d2").as("adc"), count(lit(1)).as("__nm"))
      .where(col("__nm") === m) // every subspace scored exactly once
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc")
  }

  /** Product-quantized approximate top-k — the MEMORY layer of
    * billion-vector ANN (the PQ half of FAISS's IVF-PQ): each vector
    * compresses to `m` subspace codes (m·log2(ksub) bits instead of
    * 4·dim bytes), and search never touches the original vectors.
    * Join form; [[buildPqIndex]]/[[probePqIndex]] is the persisted
    * deployment shape. Scores are squared-L2 ADC (ascending) — on the
    * normalized embeddings this corpus carries, L2 ranking and cosine
    * ranking agree.
    *
    * 100 TB sizing: with m=8, ksub=256 a 10^10-vector corpus's code
    * table is 80 GB (scannable) where the raw float vectors at d=512
    * are 20 TB; encode is one |corpus|·ksub·m slim-row pass.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, ksub: Int = 16): DataFrame = {
    require(m >= 1 && ksub >= 1 && k >= 1,
      s"bad pq params m=$m ksub=$ksub k=$k")
    val ss = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist()
    try {
      c.count()
      val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))
      val sample = pqSample(c, ksub)
      def emptyResult = q.select(col("query_id"),
        col("query_id").as("neighbor_id"), lit(1).as("rank"),
        lit(0.0).as("adc")).where(lit(false))
      if (sample.isEmpty) return emptyResult
      val dim = sample.head.length
      require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
      val dsub = dim / m
      val cw = codewordsDf(ss, sample, m, dsub)
      adcTopK(pqEncode(c, cw, dsub), q, cw, dsub, m, k)
        .localCheckpoint() // materialize while `c` is cached
    } finally c.unpersist()
  }

  /** WRITE-time PQ index: the corpus stored as its CODE TABLE — (id,
    * s, code) rows, no vector column anywhere in the index — plus a
    * `_graft_pq_meta` sidecar carrying m/ksub/dsub and the sampled
    * codebook vectors BIT-EXACT (raw float bits, the
    * [[buildIvfIndex]] convention): the probe must reproduce encode
    * geometry exactly or ADC scores drift.
    */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   path: String, m: Int = 8, ksub: Int = 16): Unit = {
    require(m >= 1 && ksub >= 1 && ksub <= (1 << 16),
      s"bad pq params m=$m ksub=$ksub")
    val ss = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist()
    try {
      c.count()
      val sample = pqSample(c, ksub)
      val dim = if (sample.isEmpty) m else sample.head.length
      require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
      val dsub = dim / m
      SignatureIndex.build(
        if (sample.nonEmpty)
          pqEncode(c, codewordsDf(ss, sample, m, dsub), dsub)
        else // empty corpus: no code rows, sidecar only
          c.select(col("id"), lit(0).as("s"), lit(0).as("code"))
            .where(lit(false)),
        path, PqLayout, Quantizer(Seq(m, ksub, dsub), Seq(sample)))
    } finally c.unpersist()
  }

  private val PqLayout = quantizerLayout("_graft_pq_meta")

  /** ADC search against a [[buildPqIndex]] code table: one scan of
    * m-codes-per-vector rows joined to the broadcast query distance
    * table — the original vectors exist nowhere in the plan. Returns
    * the same rows [[pqTopK]] returns for the same (m, ksub)
    * (SimilaritySpec pins the equivalence).
    */
  def probePqIndex(queries: DataFrame, idCol: String, vecCol: String,
                   path: String, k: Int,
                   broadcastLimit: Long = 4L << 20): DataFrame = {
    require(broadcastLimit >= 1,
      s"broadcastLimit must be >= 1, got $broadcastLimit")
    val ss = queries.sparkSession
    val Quantizer(Seq(m, _, dsub), Seq(sample)) =
      SignatureIndex.read(ss, path, PqLayout)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    def emptyResult = q.select(col("query_id"),
      col("query_id").as("neighbor_id"), lit(1).as("rank"),
      lit(0.0).as("adc")).where(lit(false))
    if (sample.isEmpty || !SignatureIndex.hasData(ss, path, PqLayout))
      return emptyResult
    // flat PQ has no coordinate collect to reuse: one count on the
    // (small by contract) probe batch prices the distance table
    val nQ = q.count()
    adcTopK(ss.read.parquet(path), q,
      codewordsDf(ss, sample, m, dsub), dsub, m, k,
      broadcastDtable = nQ * m * sample.length <= broadcastLimit)
  }

  // ------------------------------------------------------------- IVF-PQ

  /** The composed billion-vector deployment shape (FAISS IVF-PQ): a
    * coarse IVF quantizer prunes WHICH codes are read (cells partition
    * the corpus; a probe reads `nprobe` partitions) and PQ prunes WHAT
    * a code row costs (m ints, no vector column anywhere in the
    * index). Both quantizers are the deterministic sampled
    * constructions of [[buildIvfIndex]]/[[buildPqIndex]] and both are
    * persisted bit-exact in one `_graft_ivfpq_meta` sidecar. A single
    * shared codebook encodes all cells (per-cell residual codebooks
    * change code QUALITY, not the operator shape — the
    * [[ivfTopK]] no-k-means argument).
    *
    * 100 TB sizing: nlist=4096, nprobe=64, m=8 → a probe reads ~1.6%
    * of an 80 GB code table (10^10 vectors) instead of any part of
    * the 20 TB vector corpus.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, nlist: Int = 16, m: Int = 8,
                      ksub: Int = 16): Unit = {
    require(nlist >= 1 && m >= 1 && ksub >= 1,
      s"bad ivf-pq params nlist=$nlist m=$m ksub=$ksub")
    val ss = corpus.sparkSession
    graft.functions.VecExpressions.register(ss)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist()
    try {
      c.count()
      val cents = c
        .select(col("id"), col("v"), xxhash64(col("id")).as("h"))
        .orderBy("h", "id").limit(nlist)
        .select("v").collect().map(_.getSeq[Float](0).toArray)
      val sample = pqSample(c, ksub)
      val dim = if (sample.isEmpty) m else sample.head.length
      require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
      val dsub = dim / m
      val params = Quantizer(Seq(cents.length, m, ksub, dsub),
        Seq(cents, sample))
      if (sample.nonEmpty)
        SignatureIndex.build(
          pqEncode(c, codewordsDf(ss, sample, m, dsub), dsub)
            .join(assignCells(c, "v", centroidsDf(ss, cents)), "id")
            .select("cid", "id", "s", "code"),
          path, IvfPqLayout, params)
      else // empty corpus: no code rows, sidecar only
        SignatureIndex.writeSidecar(ss, path, IvfPqLayout, params)
    } finally c.unpersist()
  }

  private val IvfPqLayout = quantizerLayout("_graft_ivfpq_meta", "cid")

  /** ADC search against a [[buildIvfPqIndex]] index: each query picks
    * its `nprobe` nearest persisted centroids, reads ONLY those cid
    * partitions (pruned at file-listing time), and ranks by the PQ
    * distance-table sum — vectors appear nowhere in the plan.
    */
  def probeIvfPqIndex(queries: DataFrame, idCol: String, vecCol: String,
                      path: String, k: Int, nprobe: Int = 4,
                      broadcastLimit: Long = 4L << 20)
      : DataFrame = {
    val ss = queries.sparkSession
    graft.functions.VecExpressions.register(ss)
    val Quantizer(Seq(nlist, m, _, dsub), Seq(cents, sample)) =
      SignatureIndex.read(ss, path, IvfPqLayout)
    require(nprobe >= 1 && (nlist == 0 || nprobe <= nlist),
      s"need 1 <= nprobe <= nlist=$nlist, got nprobe=$nprobe")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    def emptyResult = q.select(col("query_id"),
      col("query_id").as("neighbor_id"), lit(1).as("rank"),
      lit(0.0).as("adc")).where(lit(false))
    if (cents.isEmpty || sample.isEmpty) return emptyResult
    val w = Window.partitionBy("query_id").orderBy(desc("csim"), col("cid"))
    val qCells = q.crossJoin(centroidsDf(ss, cents))
      .select(col("query_id"), col("cid"),
        cosine(col("qv"), col("cvec")).as("csim"))
      .withColumn("r", row_number().over(w)).where(col("r") <= nprobe)
      .select("query_id", "cid")
    SignatureIndex.probe(ss, path, IvfPqLayout, "probeIvfPqIndex", qCells,
        broadcastLimit) match {
      case None => emptyResult
      case Some(idx) =>
        // exact query count by construction, no extra action: row_number
        // over the crossJoin with ALL centroids gives every query exactly
        // min(nprobe, |centroids|) qCells rows — dividing by nprobe alone
        // would undercount queries (and under-guard the dtable broadcast)
        // whenever the index was built from fewer than nlist vectors
        val nQueries = idx.rows / math.min(nprobe, cents.length)
        // joining qCells binds each code row to exactly the queries that
        // probed its cell, so adcTopK scores only pruned candidates;
        // dtable rows = queries × m·ksub, with the EXACT query count
        adcTopK(idx.index.join(idx.guarded(qCells), Seq("cid")), q,
          codewordsDf(ss, sample, m, dsub), dsub, m, k,
          broadcastDtable = nQueries * m * sample.length <= broadcastLimit)
    }
  }

  /** A quantizer sidecar: a header line of space-separated ints, then
    * blocks of raw-float-bit vectors (one per line, comma-separated),
    * blocks separated by a `--` line — IVF (nlist; centroids), PQ
    * (m ksub dsub; codebook), IVF-PQ (nlist m ksub dsub; centroids --
    * codebook). Bit-exact: a float text round-trip would drift cell and
    * code geometry between build and probe.
    */
  private[graft] final case class Quantizer(header: Seq[Int],
                                            blocks: Seq[Array[Array[Float]]])

  private def quantizerLayout(sidecar: String, partitionCols: String*)
      : SignatureIndex.Layout[Quantizer] =
    SignatureIndex.Layout[Quantizer](sidecar, partitionCols,
      body => {
        val lines = body.linesIterator.toSeq
        val blocks = lines.tail.foldLeft(Vector(Vector.empty[Array[Float]])) {
          case (acc, "--") => acc :+ Vector.empty
          case (acc, "") => acc
          case (acc, l) => acc.init :+ (acc.last :+ l.split(",").map(b =>
            java.lang.Float.intBitsToFloat(b.trim.toInt)))
        }
        Quantizer(lines.head.trim.split(" ").map(_.toInt).toSeq,
          blocks.map(_.toArray))
      },
      q => q.header.mkString(" ") + "\n" + q.blocks.map(_.map(v =>
        v.map(java.lang.Float.floatToRawIntBits).mkString(",") + "\n")
        .mkString).mkString("--\n"))

  /** Incremental batch append into a [[buildPqIndex]] layout: the new
    * vectors encode against the SIDECAR codebook (never re-sampled —
    * re-sampling would silently re-key every existing code), and the
    * append cost is ∝ the batch. The corpus-grows-daily ingest shape
    * of [[graft.ext.DocDedup.appendToMinHashIndex]], for vectors.
    */
  def appendToPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String): Unit = {
    val ss = corpus.sparkSession
    SignatureIndex.append(ss, path, PqLayout, "appendToPqIndex") { q =>
      val Quantizer(Seq(m, _, dsub), Seq(sample)) = q
      require(sample.nonEmpty, "cannot append to an empty-codebook index")
      pqEncode(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        codewordsDf(ss, sample, m, dsub), dsub)
    }
  }

  /** Incremental batch append into a [[buildIvfPqIndex]] layout: cell
    * assignment uses the SIDECAR centroids and codes the sidecar
    * codebook, so new rows land in the existing partition scheme —
    * mixing quantizer generations is impossible, and cost is ∝ batch.
    */
  def appendToIvfPqIndex(corpus: DataFrame, idCol: String,
                         vecCol: String, path: String): Unit = {
    val ss = corpus.sparkSession
    graft.functions.VecExpressions.register(ss)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist()
    try SignatureIndex.append(ss, path, IvfPqLayout,
        "appendToIvfPqIndex") { q =>
      val Quantizer(Seq(_, m, _, dsub), Seq(cents, sample)) = q
      require(cents.nonEmpty && sample.nonEmpty,
        "cannot append to an empty-quantizer index")
      c.count()
      pqEncode(c, codewordsDf(ss, sample, m, dsub), dsub)
        .join(assignCells(c, "v", centroidsDf(ss, cents)), "id")
        .select("cid", "id", "s", "code")
    } finally c.unpersist()
  }
}
