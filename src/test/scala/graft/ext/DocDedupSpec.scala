package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class DocDedupSpec extends SparkFunSuite {

  // 1 ≡ 2 exactly; 3 is a near-dup of both (one word differs → bigram
  // Jaccard 7/9 ≈ 0.78); 4 is unrelated; 5/6 are degenerate docs.
  private lazy val docs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different content about spark engines and shuffles"),
      (5L, "one"),
      (6L, "")
    ).toDF("doc_id", "text")
  }

  test("exactDedup keeps the lowest id per duplicate text") {
    val kept = DocDedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L, 3L, 4L, 5L, 6L)))
  }

  test("exactDupReport: one duplicate group, first_id = 1, refs_num = 2") {
    val rep = DocDedup.exactDupReport(docs, "doc_id", "text").collect()
    assert(rep.length == 1)
    assert(rep.head.getAs[Long]("refs_num") == 2)
    assert(rep.head.getAs[Long]("first_id") == 1)
  }

  test("paragraphDedup: first occurrence wins globally, within-doc " +
      "repeats collapse, full-loser docs go empty") {
    val s = spark; import s.implicits._
    val in = Seq(
      (1L, "header\nalpha beta\nheader"), // within-doc repeat of "header"
      (2L, "header\ngamma delta"),        // loses "header" to doc 1
      (3L, "alpha beta"),                 // loses everything to doc 1
      (4L, ""),                           // one empty paragraph
      (5L, "unique last")
    ).toDF("doc_id", "text")
    val out = DocDedup.paragraphDedup(in, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("clean_text"), r.getAs[Long]("n_paras"),
        r.getAs[Long]("n_kept")))).toMap
    assert(byId(1L) == (("header\nalpha beta", 3L, 2L)))
    assert(byId(2L) == (("gamma delta", 2L, 1L)))
    assert(byId(3L) == (("", 1L, 0L)))
    // doc 4's single empty paragraph is the first "" occurrence → kept
    assert(byId(4L) == (("", 1L, 1L)))
    assert(byId(5L) == (("unique last", 1L, 1L)))
    assert(out.length == 5)
  }

  test("paragraphDedup honors a custom separator (regex-quoted)") {
    val s = spark; import s.implicits._
    val in = Seq((1L, "a||b"), (2L, "b||c")).toDF("doc_id", "text")
    val out = DocDedup.paragraphDedup(in, "doc_id", "text", sep = "||")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") == "a||b")
    assert(out(1).getAs[String]("clean_text") == "c")
  }

  test("ngramJaccardPairs at J>=0.7: exactly the planted trio") {
    val pairs = DocDedup.ngramJaccardPairs(docs, "doc_id", "text", 7, 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("common")))
    assert(pairs.toSeq == Seq((1L, 2L, 8L), (1L, 3L, 7L), (2L, 3L, 7L)))
  }

  test("ngramJaccardPairs at J=1: only the exact pair") {
    val pairs = DocDedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  /** Reference implementation: the unfiltered all-shared-shingle join
    * (round-4's plan) — the semantic definition the two-tier candidate
    * generation must reproduce exactly.
    */
  private def naivePairs(corpus: org.apache.spark.sql.DataFrame,
                         num: Int, den: Int): Set[(Long, Long, Long, Long, Long)] = {
    val sh = DocDedup.shingles(corpus, "doc_id", "text")
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    sh.toDF("id_a", "shingle").join(sh.toDF("id_b", "shingle"), "shingle")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("id_a", "na"), "id_a")
      .join(counts.toDF("id_b", "nb"), "id_b")
      .where(lit(den) * col("common") >=
        lit(num) * (col("na") + col("nb") - col("common")))
      .select("id_a", "id_b", "common", "na", "nb")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("common"), r.getAs[Long]("na"), r.getAs[Long]("nb")))
      .toSet
  }

  test("ngramJaccardPairs two-tier candidates are complete: equals the naive " +
    "join for every τ, on both verify paths (bitmap + fallback)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val hotW = Vector("alpha", "beta", "gamma", "delta")
    val rareW = Vector.tabulate(300)(i => s"w$i")
    // hot-dominated cluster: near-identical docs of hot words ONLY — their
    // pairs share no rare shingle and exist solely via tier 2
    val base = Array.fill(30)(hotW(rnd.nextInt(hotW.size)))
    val cluster = (0 until 6).map { i =>
      val a = base.clone()
      (0 until i).foreach(_ => a(rnd.nextInt(a.length)) = hotW(rnd.nextInt(hotW.size)))
      (100L + i, a.mkString(" "))
    }
    // background docs mixing hot and rare words
    val bg = (0 until 40).map { i =>
      val words = Seq.fill(20)(
        if (rnd.nextInt(10) < 3) hotW(rnd.nextInt(hotW.size))
        else rareW(rnd.nextInt(rareW.size)))
      (200L + i, words.mkString(" "))
    }
    // a planted rare-shingle near-dup pair (tier 1)
    val r = Seq.fill(25)(rareW(rnd.nextInt(rareW.size))).mkString(" ")
    val corpus = (cluster ++ bg ++ Seq((300L, r), (301L, r + " extra")))
      .toDF("doc_id", "text")
    val expected = naivePairs(corpus, 7, 10)
    assert(expected.exists(p => p._1 >= 100L && p._2 < 200L),
      "fixture must exercise tier 2 (hot-only pairs)")
    assert(expected.exists(p => p._1 == 300L && p._2 == 301L),
      "fixture must exercise tier 1 (rare-shingle pair)")
    // hotBudget 0 forces tier 2's shuffled ids-only fallback (the
    // broadcast-overflow path); MaxValue keeps the broadcast join.
    for (tau <- Seq(1, 5, 1000); denseMax <- Seq(0, 65536);
         hotBudget <- Seq(0L, Long.MaxValue)) {
      val got = DocDedup
        .ngramJaccardPairsImpl(corpus, "doc_id", "text", 7, 10, tau, denseMax,
          hotBudget)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("common"), r.getAs[Long]("na"), r.getAs[Long]("nb")))
        .toSet
      assert(got == expected,
        s"mismatch at tau=$tau denseMaxBits=$denseMax hotBudget=$hotBudget")
    }
  }

  test("nearDupClusters: multi-hop chains, cliques, and disjoint pairs " +
    "all resolve to min-reachable-id labels") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4 (diameter 3: node 4 learns label 1 only after
    // several propagation rounds), clique 10-11-12, disjoint pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = DocDedup.nearDupClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // only pair members get cluster rows
    assert(got.size == 9)
    // superseded per-iteration checkpoints are freed; only the final
    // labels (backing the returned DataFrame) stay pinned
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.size <= 1, s"leaked checkpoint blocks: $leaked")
  }

  test("nearDupClusters closes a deep chain in O(log n) contraction rounds, " +
    "not O(diameter)") {
    val s = spark; import s.implicits._
    // a single 129-node chain (diameter 128): min-label propagation
    // would need ~128 rounds / Spark jobs; alternating large-star /
    // small-star must close it in O(log n).
    val n = 128
    val pairs = (0 until n).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val (labels, rounds) = DocDedup.nearDupClustersImpl(pairs)
    val got = labels.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
    assert(got.length == n + 1)
    assert(got.forall(_._2 == 0L),
      s"all chain nodes must label 0, got ${got.filter(_._2 != 0L).take(5).toSeq}")
    val bound = 2 * (math.log(n + 1) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound,
      s"contraction took $rounds rounds on a diameter-$n chain " +
        s"(O(log n) bound: $bound) — did clustering regress to " +
        "per-hop propagation?")
  }

  test("nearDupClusters matches brute-force components on a random graph") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val got = DocDedup.nearDupClusters(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
      .toMap
    assert(got == expected)
  }

  test("minHashPairs recovers the planted near-dups (banded LSH + verify)") {
    val pairs = DocDedup.minHashPairs(docs, "doc_id", "text", 7, 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // identical docs always collide in every band
    assert(pairs.contains((1L, 2L)))
    // the candidate set is a subset of exact-Jaccard pairs (verification
    // is the same integer predicate)
    assert(pairs.toSet.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
  }

  test("simHashPairs: identical docs at Hamming 0; disjoint docs absent") {
    val pairs = DocDedup.simHashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming"))).toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minHash signatures: identical docs share all minima") {
    val sh = DocDedup.shingles(docs.where(col("doc_id") <= 2), "doc_id", "text")
    val sig = DocDedup.minHashSignatures(sh, 16).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L))
  }

  test("persisted MinHash index: probe equals the join form, the scan is " +
    "partition-pruned, parameters come from the sidecar") {
    val dir = tempDir("mh-index")
    val path = s"$dir/index"
    val corpus = docs
    DocDedup.buildMinHashIndex(corpus, "doc_id", "text", path,
      bands = 16, rows = 8, sigBuckets = 4)
    // capture the probe's internal executions (the public API returns a
    // localCheckpoint, so the file scan is not in the RESULT's plan)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = captured.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // probing the corpus against its own index (all ordered pairs,
      // self-pairs dropped) must agree with the join form's unordered
      // pairs, with identical (common, na, nb) — same banding, same
      // verify predicate, different access path
      val viaIndex = DocDedup.probeMinHashIndex(corpus, corpus,
        "doc_id", "text", path, 7, 10)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)),
          r.getAs[Long]("common"), r.getAs[Long]("na"), r.getAs[Long]("nb")))
        .toSet
      val viaJoin = DocDedup.minHashPairs(corpus, "doc_id", "text", 7, 10,
        bands = 16, rows = 8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("common"),
          r.getAs[Long]("na"), r.getAs[Long]("nb")))
        .toSet
      assert(viaIndex.nonEmpty && {
        // via-index na/nb may swap vs the canonical a<b orientation
        val norm = viaIndex.map { case (a, b, c, na, nb) =>
          (a, b, c, math.min(na, nb), math.max(na, nb)) }
        val normJ = viaJoin.map { case (a, b, c, na, nb) =>
          (a, b, c, math.min(na, nb), math.max(na, nb)) }
        norm == normJ
      }, s"index form $viaIndex != join form $viaJoin")
      // the index read is partition-pruned to the PROBES' buckets: a
      // single-doc probe (16 band coordinates) must scan strictly fewer
      // partitions than the index holds. (The full self-probe above
      // legitimately touches every occupied bucket.) The probe doc must
      // HAVE a match: an empty candidate set lets AQE's empty-relation
      // propagation erase the index scan from the executed plan.
      captured.clear()
      DocDedup.probeMinHashIndex(
        corpus.where(col("doc_id") === 1), corpus, "doc_id", "text",
        path, 7, 10).collect()
      val total = IndexFiles.partitions(spark, path)
      def scans(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        // the probe caches its candidate relation; the index scan sits
        // under the cached plan, not in `children`
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          scans(m.relation.cachedPlan)
        case other => other.children.flatMap(scans)
      }
      val deadline = System.currentTimeMillis() + 15000
      var pruned = Seq.empty[Int]
      while (pruned.isEmpty && System.currentTimeMillis() < deadline) {
        import scala.jdk.CollectionConverters._
        pruned = captured.asScala.toSeq
          .flatMap(qe => scans(qe.executedPlan))
          .filter(_.relation.location.rootPaths.exists(_.toString.contains("mh-index")))
          .map(_.selectedPartitions.partitionCount)
        if (pruned.isEmpty) Thread.sleep(100)
      }
      assert(pruned.nonEmpty, "no index file scan captured by the listener")
      assert(pruned.min < total,
        s"probe scanned ${pruned.min} of $total buckets — pruning lost")
    } finally spark.listenerManager.unregister(listener)
  }

  test("persisted MinHash index: shingle-less probes and twin recall") {
    val s = spark; import s.implicits._
    val dir = tempDir("mh-index2")
    val path = s"$dir/index"
    DocDedup.buildMinHashIndex(docs, "doc_id", "text", path,
      bands = 8, rows = 4, sigBuckets = 4)
    // identical twin probes: found with probability 1 (every band collides)
    val twins = docs.where(col("doc_id") === 1 || col("doc_id") === 4)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val found = DocDedup.probeMinHashIndex(twins, docs, "doc_id", "text",
      path, 7, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((101L, 1L)) && found.contains((101L, 2L)) &&
      found.contains((104L, 4L)), s"twin recall failed: $found")
    // shingle-less probes (<2 tokens) have no buckets: empty, no crash
    val degenerate = Seq((200L, "one"), (201L, "")).toDF("doc_id", "text")
    assert(DocDedup.probeMinHashIndex(degenerate, docs, "doc_id", "text",
      path, 7, 10).count() == 0)
  }

  test("appendToMinHashIndex: incremental batch lands in the same " +
    "layout, probes span both writes, existing files untouched") {
    val s = spark; import s.implicits._
    val dir = tempDir("mh-append")
    val path = s"$dir/index"
    val half1 = docs.where(col("doc_id") <= 2)
    val half2 = docs.where(col("doc_id") > 2)
    DocDedup.buildMinHashIndex(half1, "doc_id", "text", path,
      bands = 8, rows = 4, sigBuckets = 4)
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString).toSet
    DocDedup.appendToMinHashIndex(half2, "doc_id", "text", path)
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString).toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files without rewriting the existing ones")
    // a twin from each half probes the COMBINED index
    val twins = docs.where(col("doc_id") === 1 || col("doc_id") === 4)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val found = DocDedup.probeMinHashIndex(twins, docs, "doc_id", "text",
        path, 7, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((101L, 1L)) && found.contains((104L, 4L)),
      s"probe must see both the built and the appended half: $found")
    // sidecar params are reused, not re-derived: row width is 8 bands/doc
    val perDoc = IndexFiles.rows(s, path).groupBy("id").count()
      .collect().map(r => r.getLong(1)).toSet
    assert(perDoc == Set(8L), s"every doc must carry 8 band rows: $perDoc")
  }

  test("appendToMinHashIndex cost is proportional to the BATCH, not the " +
    "index: per-append file writes bounded by max(bands*sigBuckets, " +
    "shuffle partitions) and identical for same-size batches as the " +
    "index grows") {
    val s = spark; import s.implicits._
    val dir = tempDir("mh-append-cost")
    val path = s"$dir/index"
    def batch(offset: Long, n: Int) = (0 until n).map { i =>
      (offset + i, s"w${offset + i} alpha beta gamma delta e$i z$i " +
        s"eta$i theta iota kappa lambda")
    }.toDF("doc_id", "text")
    DocDedup.buildMinHashIndex(batch(0, 400), "doc_id", "text", path,
      bands = 8, rows = 4, sigBuckets = 4)
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString).toSet
    val bound = math.max(8 * 4,
      s.conf.get("spark.sql.shuffle.partitions").toInt)
    val f0 = files()
    DocDedup.appendToMinHashIndex(batch(10000, 100), "doc_id", "text", path)
    val f1 = files()
    // index is now 1.25x bigger; an equal-size batch must cost the same
    DocDedup.appendToMinHashIndex(batch(20000, 100), "doc_id", "text", path)
    val f2 = files()
    assert(f0.subsetOf(f1) && f1.subsetOf(f2), "appends never rewrite")
    val add1 = (f1 -- f0).size
    val add2 = (f2 -- f1).size
    assert(add1 > 0 && add1 <= bound, s"append 1 wrote $add1 files > $bound")
    assert(add2 > 0 && add2 <= bound, s"append 2 wrote $add2 files > $bound")
    assert(add1 == add2,
      s"same-size batches must cost the same writes regardless of index " +
        s"size: $add1 vs $add2")
  }

  test("minHashEstimate: 1.0 on identical signatures, tracks exact Jaccard") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.VecExpressions.register(spark)
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h"),       // identical to 0 → est exactly 1.0
      (2L, "q r s t u v w x y z")    // bigram-disjoint from 0
    ).toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"),
      call_function("graft_minhash_sig",
        graft.ext.TextAnalysis.wordBigrams(col("text")), lit(128)).as("s"))
    def est(a: Long, b: Long): Double =
      sig.where(col("doc_id") === a).select(col("s").as("sa"))
        .crossJoin(sig.where(col("doc_id") === b).select(col("s").as("sb")))
        .select(DocDedup.minHashEstimate(col("sa"), col("sb")))
        .head().getDouble(0)
    assert(est(0L, 1L) == 1.0)
    // exact J = 0; k=128 → a correct estimator stays far below 0.25
    assert(est(0L, 2L) <= 0.25)
  }

  test("hammingPairs: distance-<=3 pairs always recalled (pigeonhole), " +
    "over-distance candidates filtered, disjoint hashes never joined") {
    val s = spark; import s.implicits._
    val base = 0x0123456789ABCDEFL
    val sig = Seq(
      (1L, base),
      (2L, base ^ 1L),                     // hamming 1
      (3L, base ^ 0x7L),                   // hamming 3 (one quarter)
      (4L, base ^ 0x0001000100010001L),    // hamming 4 vs id 1 with one
                                           //  flip PER quarter: no
                                           //  untouched quarter → not
                                           //  even a candidate (the
                                           //  >3 blind spot, by design)
      (5L, ~base)                          // hamming 64
    ).toDF("doc_id", "h")
    val got = DocDedup.hammingPairs(sig, "doc_id", "h", 3)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // (2,4) shares the low quarter (both flip bit 0) and lands at
    // hamming 3; (1,4) is the blind-spot pair; 5 joins nothing
    assert(got == Seq((1L, 2L, 1), (1L, 3L, 3), (2L, 3L, 2), (2L, 4L, 3)))
    intercept[IllegalArgumentException] {
      DocDedup.hammingPairs(sig, "doc_id", "h", 4)
    }
  }

  test("persisted Hamming index: probe equals the join form, the scan " +
    "is pruned to the probe's quarters, qBuckets from the sidecar") {
    val s = spark; import s.implicits._
    val dir = tempDir("ham-index")
    val base = 0x0123456789ABCDEFL
    val corpus = Seq((1L, base), (2L, base ^ 0x30L), (3L, ~base),
      (4L, 0x1111222233334444L)).toDF("doc_id", "h")
    DocDedup.buildHammingIndex(corpus, "doc_id", "h", s"$dir/idx",
      qBuckets = 8)
    // self-probe (both orientations, self-pairs dropped) must agree
    // with the join form's unordered pairs
    val viaIdx = DocDedup.probeHammingIndex(corpus, "doc_id", "h",
        s"$dir/idx", 3).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).toSet
    val viaJoin = DocDedup.hammingPairs(corpus, "doc_id", "h", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIdx.nonEmpty && viaIdx == viaJoin,
      s"index form $viaIdx != join form $viaJoin")
    // pruning: ONE probe signature touches at most its own 4 (q, qb)
    // coordinates — strictly fewer than the occupied partition dirs
    val df = DocDedup.probeHammingIndex(
      corpus.where(col("doc_id") === 1), "doc_id", "h", s"$dir/idx", 3)
    df.collect()
    val total = IndexFiles.partitions(spark, s"$dir/idx")
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        scans(m.relation.cachedPlan)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString
        .contains("ham-index")))
      .map(_.selectedPartitions.partitionCount)
    assert(scanned.nonEmpty, "no index file scan in the probe plan")
    assert(scanned.min <= 4 && scanned.min < total,
      s"probe scanned ${scanned.min} of $total buckets — pruning lost")
  }

  test("appendToHammingIndex: appended batch lands in the same layout, " +
    "probe equals a fresh full build, twins split across the " +
    "build/append boundary are recalled") {
    val s = spark; import s.implicits._
    val dir = tempDir("ham-append")
    // twins (2k, 2k+1) at hamming 1; bases well-separated
    def hash(i: Long): Long = (i / 2) * 0x9E3779B97F4A7C15L ^ (i % 2)
    val all = (0L until 40L).map(i => (i, hash(i))).toDF("doc_id", "h")
    val evens = all.where(col("doc_id") % 2 === 0)
    val odds = all.where(col("doc_id") % 2 === 1)
    // incremental: build from evens, append odds — every twin pair
    // crosses the boundary, so recall REQUIRES the append to land in
    // the same partition scheme
    DocDedup.buildHammingIndex(evens, "doc_id", "h", s"$dir/inc",
      qBuckets = 8)
    DocDedup.appendToHammingIndex(odds, "doc_id", "h", s"$dir/inc")
    DocDedup.buildHammingIndex(all, "doc_id", "h", s"$dir/full",
      qBuckets = 8)
    def probe(path: String) =
      DocDedup.probeHammingIndex(all, "doc_id", "h", path, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaInc = probe(s"$dir/inc")
    assert(viaInc == probe(s"$dir/full"))
    // all 20 twin pairs, both orientations
    assert(viaInc == (0L until 40L by 2)
      .flatMap(k => Seq((k, k + 1, 1), (k + 1, k, 1))).toSet)
    // the append created no partition dirs outside the (q, qb) scheme
    val dirs = new SignatureIndex.Version(spark, s"$dir/inc").manifest.keys
    assert(dirs.nonEmpty && dirs.size <= 4 * 8 &&
      dirs.forall(_.matches("q=\\d+/qb=\\d+")), s"partitions $dirs")
  }

  test("hammingClusters: labels every id, equals CC over the full pair " +
    "graph despite collapsing identical hashes first") {
    val s = spark; import s.implicits._
    // 60 ids over only 6 distinct hashes (10 exact copies each); hashes
    // 2k and 2k+1 are near (hamming 1) → 3 components of 20 ids
    def hash(i: Long): Long =
      ((i % 6) / 2) * 0x9E3779B97F4A7C15L ^ ((i % 6) % 2)
    val sig = (0L until 60L).map(i => (i, hash(i))).toDF("doc_id", "h")
    val got = DocDedup.hammingClusters(sig, "doc_id", "h", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 60, "every id must be labeled")
    // reference: CC over the FULL pair graph (no collapse)
    val pairs = DocDedup.hammingPairs(sig, "doc_id", "h", 3)
      .select("id_a", "id_b")
    val ref = DocDedup.nearDupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 60L).foreach { i =>
      assert(got(i) == ref.getOrElse(i, i), s"id $i")
    }
    // 3 components, labeled by their min ids {0, 2, 4}
    assert(got.values.toSet == Set(0L, 2L, 4L))
  }

  test("prefixBlockVerify: blocking recalls same-prefix pairs only, " +
    "Levenshtein verdict matches a reference DP on every candidate") {
    val s = spark; import s.implicits._
    val pre = "a shared thirty-two char prefix!"  // exactly 32 chars
    val d = Seq(
      (1L, pre + " tail one two three"),
      (2L, pre + " tail one twX three"),          // dist 1 vs id 1
      (3L, pre + " completely different ending"), // same block, far
      (4L, "unrelated prefix entirely here " + pre), // different block
      (5L, pre)                                   // bare prefix
    ).toDF("doc_id", "text")
    val got = DocDedup.prefixBlockVerify(d, "doc_id", "text", 32, 2)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getBoolean(3)))
    // candidates = all pairs among {1,2,3,5}; id 4 is blocked out
    assert(got.map(p => (p._1, p._2)).toSeq ==
      Seq((1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L), (3L, 5L)))
    def ref(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (ia, ib, dist, dup) =>
      assert(dist == ref(texts(ia), texts(ib)), s"($ia,$ib)")
      assert(dup == (dist <= 2), s"($ia,$ib)")
    }
    assert(got.count(_._4) == 1) // only (1,2) is within distance 2
  }

  test("prefixBlockVerify block cap: oversized blocks are excluded, " +
    "the salted tier is exact, oversizedPrefixBlocks reports the cut") {
    val s = spark; import s.implicits._
    val boiler = "cookie banner boilerplate pfx 32"  // 32 chars
    val medium = "a medium shared-prefix block 32c"  // 32 chars
    val small  = "a small cold-tier prefix here 32"  // 32 chars
    assert(boiler.length == 32 && medium.length == 32 &&
      small.length == 32)
    val d = (
      (0L until 30L).map(i => (1000L + i, boiler + " v" + (i % 5))) ++
      (0L until 10L).map(i => (2000L + i, medium + " s" + (i % 3))) ++
      (0L until 3L).map(i => (3000L + i, small + " t" + i))
    ).toDF("doc_id", "text")
    // maxBlock=20 cuts the 30-doc boilerplate block; saltThreshold=4
    // routes the 10-doc block through the salted tier; the 3-doc block
    // stays on the plain join
    val got = DocDedup.prefixBlockVerify(d, "doc_id", "text", 32, 2,
        maxBlock = 20, saltThreshold = 4, saltFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.distinct.size == got.size, "a pair emitted twice — " +
      "the salted tier is not exact")
    assert(!got.exists(_._1 < 2000L), "oversized boilerplate block " +
      "must be excluded from pairing")
    val medPairs = got.filter(_._1 < 3000L)
    assert(medPairs.toSet == (for {
      a <- 2000L until 2010L; b <- (a + 1) until 2010L
    } yield (a, b)).toSet, "salted tier must emit exactly the plain " +
      "join's pairs")
    assert(got.count(_._1 >= 3000L) == 3) // C(3,2) from the cold tier
    val cut = DocDedup.oversizedPrefixBlocks(d, "text", 32, 20)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(cut.toSeq == Seq((boiler, 30L)))
  }

  test("prefixBlockVerifyAdaptive: oversized blocks re-pair on the " +
    "doubled prefix, levels partition docs (no duplicate pairs), " +
    "still-hot last-level blocks stay dropped") {
    val s = spark; import s.implicits._
    val p32 = "a shared thirty-two char prefix!" // 32 chars
    assert(p32.length == 32)
    // 12 docs share p32 (over maxBlock=8) but split into 4 subblocks
    // of 3 on the 64-char prefix; 10 docs share BOTH prefixes (still
    // hot at level 1); 3 docs form a normal level-0 block
    val d = (
      (0L until 12L).map(i => (1000L + i,
        p32 + f"sub${i % 4}%d" + "x" * 28 + "t" * (i % 2).toInt)) ++
      (0L until 10L).map(i => (2000L + i,
        p32 + "SAME" + "x" * 28 + s"-tail-$i")) ++
      (0L until 3L).map(i => (3000L + i, "cold prefix here, also 32c.." +
        "1234" + " t" + i))
    ).toDF("doc_id", "text")
    val got = DocDedup.prefixBlockVerifyAdaptive(d, "doc_id", "text",
        32, 1, maxBlock = 8, saltThreshold = 2, saltFactor = 2,
        levels = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.distinct.size == got.size, "levels must partition docs")
    // level-1 recovery: exactly the 4 subblocks' C(3,2) pairs
    val lvl1 = got.filter(p => p._1 >= 1000L && p._1 < 2000L)
    assert(lvl1.toSet == (for {
      sub <- 0 until 4; a <- 0 until 3; b <- (a + 1) until 3
    } yield (1000L + sub + 4 * a, 1000L + sub + 4 * b)).toSet,
      s"level-1 subblock pairs wrong: $lvl1")
    // the 10-doc block shares the 64-char prefix too -> dropped
    assert(!got.exists(p => p._1 >= 2000L && p._1 < 3000L),
      "still-oversized level-1 block must stay dropped")
    assert(got.count(_._1 >= 3000L) == 3) // cold tier C(3,2)
    // levels = 1 degrades to the plain capped operator
    val one = DocDedup.prefixBlockVerifyAdaptive(d, "doc_id", "text",
        32, 1, maxBlock = 8, saltThreshold = 2, saltFactor = 2,
        levels = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = DocDedup.prefixBlockVerify(d, "doc_id", "text", 32, 1,
        maxBlock = 8, saltThreshold = 2, saltFactor = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == plain)
  }

  test("probeMinHashIndex above broadcastLimit: shuffle fallback " +
    "equals the broadcast path, no broadcast hint in the executed join") {
    val s = spark; import s.implicits._
    val dir = tempDir("mh-bcast-guard")
    val path = s"$dir/index"
    DocDedup.buildMinHashIndex(docs, "doc_id", "text", path,
      bands = 8, rows = 4, sigBuckets = 4)
    val twins = docs.where(col("doc_id") === 1 || col("doc_id") === 4)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = captured.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    // the hinted candidate join hides inside the persisted `cand`
    // cache; disable auto-broadcast so the HINT is the only source of
    // a BroadcastHashJoin in any captured (cached) physical plan
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("common")))
        .toSet
      import scala.jdk.CollectionConverters._
      // the listener fires asynchronously; wait until the queue is
      // stable across two polls (bounded, ~10 s worst case)
      def drain(): Unit = {
        var last = -1
        var tries = 0
        while (tries < 100 && captured.size != last) {
          last = captured.size; Thread.sleep(100); tries += 1
        }
      }
      def sawBroadcastJoin(): Boolean = captured.asScala.exists { qe =>
        val cached = qe.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            r.cachedPlan.toString
        }
        (qe.optimizedPlan.toString +: cached)
          .exists(p => p.contains("strategy=broadcast") ||
            p.contains("BroadcastHashJoin"))
      }
      captured.clear()
      val small = rows(DocDedup.probeMinHashIndex(twins, docs, "doc_id",
        "text", path, 7, 10)) // default limit: broadcast path
      drain()
      assert(sawBroadcastJoin(), "small probe must broadcast")
      captured.clear()
      // twins explode to 2 probes x 8 bands = 16 rows > limit of 1
      val big = rows(DocDedup.probeMinHashIndex(twins, docs, "doc_id",
        "text", path, 7, 10, broadcastLimit = 1))
      drain()
      assert(!sawBroadcastJoin(),
        "over-limit probe must not broadcast the probe side")
      assert(big == small && big.nonEmpty,
        s"fallback path diverged: $big != $small")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.listenerManager.unregister(listener)
    }
  }

  test("probeHammingIndex above broadcastLimit: shuffle fallback, " +
    "result equals the broadcast path, no broadcast hint survives") {
    val s = spark; import s.implicits._
    val dir = tempDir("ham-bcast-guard")
    def hash(i: Long): Long = (i / 2) * 0x9E3779B97F4A7C15L ^ (i % 2)
    val corpus = (0L until 40L).map(i => (i, hash(i))).toDF("doc_id", "h")
    DocDedup.buildHammingIndex(corpus, "doc_id", "h", s"$dir/idx",
      qBuckets = 8)
    val small = DocDedup.probeHammingIndex(corpus, "doc_id", "h",
      s"$dir/idx", 3) // default limit: broadcast path
    val big = DocDedup.probeHammingIndex(corpus, "doc_id", "h",
      s"$dir/idx", 3, broadcastLimit = 1) // 160 exploded rows > 1
    assert(small.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"), "small probe must broadcast")
    assert(!big.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"),
      "over-limit probe must not carry a broadcast hint")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaBig = rows(big)
    assert(viaBig == rows(small) && viaBig.nonEmpty)
  }
}
