package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkFunSuite {

  test("cosine/dot: exact on hand values") {
    val s = spark; import s.implicits._
    val d = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    assert(d.select(Similarity.dot(col("a"), col("b"))).head().getDouble(0) == 32.0)
    val c = d.select(Similarity.cosine(col("a"), col("a"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("bruteForceTopK: exact neighbors, self excluded, rank-tie by id") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(corpus,
      corpus.where(col("vec_id") === 1), "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    // rank 1 = the near-parallel vector; cos=0 ties broken by neighbor_id
    assert(res.toSeq == Seq((3L, 1), (2L, 2), (4L, 3)))
  }

  /** Deterministic pseudo-random corpus (seeded) shared by the LSH tests. */
  private def randomCorpus(n: Int, dim: Int) = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("lshTopK: results are a subset of brute-force candidates with exact sims, decent recall") {
    val corpus = randomCorpus(200, 16)
    val queries = corpus.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // more tables / fewer bits than the defaults: recall-heavy setting
    val approx = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 5,
        bits = 4, tables = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall collapsed: $recall (found ${approx.size})")
    assert(approx.nonEmpty)
  }

  test("ivfTopK: planted duplicate found at rank 1; subset of exact sims; deterministic") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val rows = Seq((500L, base), (501L, base.clone())) ++ // exact duplicate pair
      Seq.tabulate(200)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 500L)
    val res = Similarity.ivfTopK(corpus, q, "vec_id", "embedding", 10)
      .collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("sim")))
    // the identical copy lands in the SAME cell (same argmax centroid),
    // so IVF finds it by construction, at rank 1 with sim == 1.0
    assert(res.head._1 == 501L && res.head._2 == 1)
    assert(math.abs(res.head._3 - 1.0) < 1e-12)
    assert(res.length <= 10 && res.map(_._2).toSeq == (1 to res.length))
    // sims are exact: every returned (neighbor, sim) appears in the
    // brute-force ranking with the same sim
    val bf = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 201)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("sim"))
      .toMap
    res.foreach { case (n, _, sim) => assert(bf(n) == sim) }
    // deterministic across runs
    val again = Similarity.ivfTopK(corpus, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(again.toSeq == res.map(t => (t._1, t._2)).toSeq)
    // nprobe = nlist degenerates to exact search over all cells
    val full = Similarity.ivfTopK(corpus, q, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 8)
      .collect().map(r => r.getAs[Long]("neighbor_id")).toSeq
    val exactTop = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 10)
      .collect().map(r => r.getAs[Long]("neighbor_id")).toSeq
    assert(full == exactTop)
  }

  test("topKPerQuery salted pre-prune (k above windowGroupLimitThreshold) " +
    "returns the exact ranking") {
    val corpus = randomCorpus(300, 16)
    val queries = corpus.where(col("vec_id") < 4)
    def run() = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 20)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
      .toSeq
    val expected = run() // default threshold (1000): group-limit path
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "4") // k=20 > 4: forces the salted pre-prune
      assert(run() == expected,
        "salted two-level top-k must be rank-identical to the exact window")
    } finally spark.conf.set(key, old)
  }

  test("buildLshIndex/probeLshIndex: result-identical to lshTopK; the probe " +
    "reads only the queries' bucket partitions") {
    val corpus = randomCorpus(200, 16)
    val queries = corpus.where(col("vec_id") < 5)
    val path = s"${tempDir("lshidx")}/index"
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", path,
      bits = 4, tables = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
      .toSeq
    val viaJoin = rows(Similarity.lshTopK(corpus, queries,
      "vec_id", "embedding", 5, bits = 4, tables = 8))
    val viaIndex = Similarity.probeLshIndex(queries,
      "vec_id", "embedding", path, 5)
    // the index changes the ACCESS PATH, not the result
    assert(rows(viaIndex) == viaJoin)
    // partition pruning actually happened: the scan touched at most the
    // probed (tbl, sig) buckets, strictly fewer than the index total
    val total = IndexFiles.partitions(spark, path)
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan) // AQE wrapper is a leaf; unwrap explicitly
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan) // materialized stages are leaves too
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(viaIndex.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount)
    assert(scanned.nonEmpty, "probe must read the index via a file scan")
    assert(scanned.min <= 8 * 5 && scanned.min < total,
      s"probe scanned ${scanned.min} of $total buckets — pruning lost")
    // mixed-parameter probes are impossible: the sidecar pins (bits,
    // tables), so a fresh probe of the same index stays deterministic
    assert(rows(Similarity.probeLshIndex(queries,
      "vec_id", "embedding", path, 5)) == viaJoin)
    // an index built from an EMPTY corpus (sidecar, zero data files)
    // must probe to empty — like lshTopK would — not crash on schema
    // inference
    val emptyPath = s"${tempDir("lshidx-empty")}/index"
    Similarity.buildLshIndex(corpus.where(col("vec_id") < 0),
      "vec_id", "embedding", emptyPath, bits = 4, tables = 8)
    assert(Similarity.probeLshIndex(queries,
      "vec_id", "embedding", emptyPath, 5).isEmpty)
  }

  test("probe broadcast guards: over-limit shuffle fallback equals the " +
    "broadcast path for LSH, IVF, PQ and IVF-PQ probes") {
    val corpus = randomCorpus(120, 16)
    val queries = corpus.where(col("vec_id") < 5)
    val dir = tempDir("probe-bcast-guard")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSeq
    Similarity.buildLshIndex(corpus, "vec_id", "embedding",
      s"$dir/lsh", bits = 4, tables = 4)
    assert(rows(Similarity.probeLshIndex(queries, "vec_id", "embedding",
      s"$dir/lsh", 5, broadcastLimit = 1)) ==
      rows(Similarity.probeLshIndex(queries, "vec_id", "embedding",
        s"$dir/lsh", 5)))
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      s"$dir/ivf", nlist = 8)
    assert(rows(Similarity.probeIvfIndex(queries, "vec_id", "embedding",
      s"$dir/ivf", 5, nprobe = 3, broadcastLimit = 1)) ==
      rows(Similarity.probeIvfIndex(queries, "vec_id", "embedding",
        s"$dir/ivf", 5, nprobe = 3)))
    Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      s"$dir/pq", m = 4, ksub = 8)
    assert(rows(Similarity.probePqIndex(queries, "vec_id", "embedding",
      s"$dir/pq", 5, broadcastLimit = 1)) ==
      rows(Similarity.probePqIndex(queries, "vec_id", "embedding",
        s"$dir/pq", 5)))
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
      s"$dir/ivfpq", nlist = 8, m = 4, ksub = 8)
    assert(rows(Similarity.probeIvfPqIndex(queries, "vec_id", "embedding",
      s"$dir/ivfpq", 5, nprobe = 3, broadcastLimit = 1)) ==
      rows(Similarity.probeIvfPqIndex(queries, "vec_id", "embedding",
        s"$dir/ivfpq", 5, nprobe = 3)))
  }

  test("buildIvfIndex/probeIvfIndex: result-identical to ivfTopK; the probe " +
    "reads only the queries' nprobe cell partitions") {
    val corpus = randomCorpus(200, 16)
    val queries = corpus.where(col("vec_id") < 5)
    val path = s"${tempDir("ivfidx")}/index"
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", path, nlist = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
      .toSeq
    val viaJoin = rows(Similarity.ivfTopK(corpus, queries,
      "vec_id", "embedding", 5, nlist = 16, nprobe = 4))
    val viaIndex = Similarity.probeIvfIndex(queries,
      "vec_id", "embedding", path, 5, nprobe = 4)
    // the index changes the ACCESS PATH, not the result
    assert(rows(viaIndex) == viaJoin)
    // partition pruning actually happened: the scan touched at most the
    // probed cells, strictly fewer than the index's cell count
    val total = IndexFiles.partitions(spark, path)
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(viaIndex.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount)
    assert(scanned.nonEmpty, "probe must read the index via a file scan")
    assert(scanned.min <= 4 * 5 && scanned.min < total,
      s"probe scanned ${scanned.min} of $total cells — pruning lost")
    // the sidecar pins nlist + bit-exact centroids, so a fresh probe of
    // the same index stays deterministic
    assert(rows(Similarity.probeIvfIndex(queries,
      "vec_id", "embedding", path, 5, nprobe = 4)) == viaJoin)
    // an index built from an EMPTY corpus (sidecar, zero cells) must
    // probe to empty — like ivfTopK would — not crash on schema
    // inference
    val emptyPath = s"${tempDir("ivfidx-empty")}/index"
    Similarity.buildIvfIndex(corpus.where(col("vec_id") < 0),
      "vec_id", "embedding", emptyPath, nlist = 16)
    assert(Similarity.probeIvfIndex(queries,
      "vec_id", "embedding", emptyPath, 5).isEmpty)
  }

  test("appendToIvfIndex: build(all) ≡ build(half) + append(half); " +
    "appended vectors assign against the pinned sidecar centroids") {
    val corpus = randomCorpus(200, 16)
    val queries = corpus.where(col("vec_id") < 5)
    val full = s"${tempDir("ivfapp")}/full"
    val split = s"${tempDir("ivfapp")}/split"
    val half1 = corpus.where(col("vec_id") % 2 === 0)
    val half2 = corpus.where(col("vec_id") % 2 === 1)
    // the FULL build's centroid sample depends on the corpus, so the
    // equivalence must be stated against a split build with the SAME
    // seed set: build from half1, append half2, and compare to a probe
    // over a join-form scored on the same centroids — simplest exact
    // contract: the appended index must contain every vector exactly
    // once and probe results must equal brute-force within the probed
    // cells of the SAME index read back directly.
    Similarity.buildIvfIndex(half1, "vec_id", "embedding", split, nlist = 8)
    Similarity.appendToIvfIndex(half2, "vec_id", "embedding", split)
    val stored = IndexFiles.rows(spark, split)
    assert(stored.count() == 200L)
    assert(stored.select("id").distinct().count() == 200L)
    // every appended vector landed in its argmax cell: re-deriving the
    // assignment from the stored (vec, cid) against the sidecar must
    // agree — probe the index for twin queries and require exact recall
    val twin = half2.limit(3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val res = Similarity.probeIvfIndex(twin, "vec_id", "embedding",
      split, 1, nprobe = 1).collect()
    assert(res.length == 3)
    assert(res.forall(r => r.getAs[Long]("query_id") - 1000000L ==
      r.getAs[Long]("neighbor_id")))
    assert(res.forall(r => math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9))
    assert(full.nonEmpty) // silence unused val
  }

  test("cosineNearDupPairs finds the planted near-identical pair only") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val nearDup = base.map(v => v * 1.001f + 0.0005f)
    val rows = Seq((100L, base), (101L, nearDup)) ++
      Seq.tabulate(50)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq == Seq((100L, 101L)))
  }

  test("semDedup at nlist=1 equals the brute-force lower-id-neighbor " +
      "rule; schema survives") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    // 40 random vectors + planted twins of ids 3 and 7 at high ids
    val base = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1), s"tag$i"))
    val rows = base ++ Seq(
      (200L, base(3)._2, "twin3"), (201L, base(7)._2, "twin7"))
    val df = rows.toDF("vec_id", "embedding", "tag")
    val eps = 0.95
    val out = Similarity.semDedup(df, "vec_id", "embedding", eps, nlist = 1)
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "tag"))
    val got = out.select("vec_id").collect().map(_.getLong(0)).toSet
    // brute-force expectation: drop x iff some lower-id y has cos >= eps
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val all = rows.map(r => (r._1, r._2))
    val expect = all.filter { case (id, v) =>
      !all.exists { case (id2, v2) => id2 < id && cos(v2, v) >= eps }
    }.map(_._1).toSet
    assert(got == expect, s"got $got expected $expect")
    assert(Set(200L, 201L).intersect(got).isEmpty,
      "planted twins must be dropped")
    assert(got.contains(3L) && got.contains(7L),
      "canonical (lowest-id) twin survives")
  }

  test("semDedup cell blocking: twins collapse at any nlist; " +
      "dissimilar vectors all survive") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val base = Seq.tabulate(30)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val rows = base ++ base.map { case (id, v) => (id + 1000L, v) }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
        eps = 0.9999, nlist = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // identical copies always share the argmax cell → every group
    // collapses to its lowest id, regardless of cell layout
    assert(out == base.map(_._1).toSet, s"got $out")
  }


  test("pqTopK: planted twins share all codes and land at minimal ADC; " +
    "self excluded; every subspace scored once") {
    val corpus = randomCorpus(60, 16)
    // clone vectors 0..4 ten times each: clones quantize to IDENTICAL
    // codes, so their ADC equals the query's own quantization error --
    // the per-subspace argmin bound makes that the global minimum
    val s = spark; import s.implicits._
    val clones = (1 to 9).map(j =>
      corpus.where(col("vec_id") < 5)
        .select((col("vec_id") + j * 1000L).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
    val all = corpus.unionByName(clones)
    val q = all.where(col("vec_id") < 5)
    val res = Similarity.pqTopK(all, q, "vec_id", "embedding", 9,
        m = 4, ksub = 16)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("adc")))
    (0L until 5L).foreach { qid =>
      val mine = res.filter(_._1 == qid)
      assert(mine.length == 9, s"query $qid row count")
      assert(!mine.exists(_._2 == qid), "self excluded")
      // the 9 clones occupy the top ranks (all at the minimal ADC)
      val cloneIds = (1 to 9).map(j => qid + j * 1000L).toSet
      assert(mine.filter(r => cloneIds(r._2)).map(_._3).sorted.toList ==
        (1 to 9).toList, s"query $qid: clones must fill ranks 1..9, " +
          s"got $mine")
      assert(mine.map(_._4).distinct.length == 1,
        s"query $qid: clone ADCs must be equal")
    }
  }

  test("buildPqIndex/probePqIndex: result-identical to pqTopK; the " +
    "index stores codes only (no vector column); codebook bit-exact") {
    val dir = tempDir("pq-index")
    val corpus = randomCorpus(120, 16)
    val queries = corpus.where(col("vec_id") < 4)
    val direct = Similarity.pqTopK(corpus, queries, "vec_id",
        "embedding", 5, m = 4, ksub = 16)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("adc"))).toSet
    Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      s"$dir/idx", m = 4, ksub = 16)
    val viaIdx = Similarity.probePqIndex(queries, "vec_id", "embedding",
        s"$dir/idx", 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("adc"))).toSet
    assert(viaIdx == direct, s"index $viaIdx != join form $direct")
    // the code table carries NO vectors: 4 bytes of codes replace 64
    // bytes of floats per vector -- the whole point of PQ
    val schema = IndexFiles.rows(spark, s"$dir/idx").schema
    assert(schema.fieldNames.sorted.sameElements(
      Array("code", "id", "s")), schema.treeString)
    assert(IndexFiles.rows(spark, s"$dir/idx").count() == 120 * 4)
  }


  test("buildIvfPqIndex/probeIvfPqIndex: planted twins fully recalled " +
    "through the composed index; the probe reads only probed cells") {
    val dir = tempDir("ivfpq-index")
    val s = spark; import s.implicits._
    val base = randomCorpus(60, 16)
    val clones = (1 to 9).map(j =>
      base.where(col("vec_id") < 5)
        .select((col("vec_id") + j * 1000L).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
    val all = base.unionByName(clones)
    val queries = all.where(col("vec_id") < 5)
    Similarity.buildIvfPqIndex(all, "vec_id", "embedding",
      s"$dir/idx", nlist = 8, m = 4, ksub = 16)
    val res = Similarity.probeIvfPqIndex(queries, "vec_id",
      "embedding", s"$dir/idx", 9, nprobe = 2)
    val rows = res.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
    (0L until 5L).foreach { qid =>
      // identical vectors share cell AND codes: all 9 clones recalled
      val cloneIds = (1 to 9).map(j => qid + j * 1000L).toSet
      val mine = rows.filter(_._1 == qid)
      assert(mine.count(r => cloneIds(r._2)) == 9,
        s"query $qid clone recall: $mine")
    }
    // pruning: the scan touches at most nprobe cells per query (here
    // queries share cells, so <= 5 * 2 distinct) — strictly fewer
    // partitions than exist
    res.collect() // finalize AQE
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
    val total = IndexFiles.partitions(spark, s"$dir/idx")
    val scanned = scans(res.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString
        .contains("ivfpq-index")))
      .map(_.selectedPartitions.partitionCount)
    assert(scanned.nonEmpty, "no index scan found in the probe plan")
    assert(scanned.min <= 10 && scanned.min < total,
      s"probe scanned ${scanned.min} of $total cells - pruning lost")
  }


  test("appendToPqIndex / appendToIvfPqIndex: appended batches land in " +
    "the existing scheme; probes equal a fresh full build") {
    val dir = tempDir("pq-append")
    val corpus = randomCorpus(100, 16)
    val evens = corpus.where(col("vec_id") % 2 === 0)
    val odds = corpus.where(col("vec_id") % 2 === 1)
    val queries = corpus.where(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("adc"))).toSet
    // flat PQ: build evens, append odds == build all. The codebook
    // must come from the SAME sample for comparability: build both
    // indexes from the evens' sample by building evens first.
    Similarity.buildPqIndex(evens, "vec_id", "embedding",
      s"$dir/inc", m = 4, ksub = 16)
    Similarity.appendToPqIndex(odds, "vec_id", "embedding", s"$dir/inc")
    val viaInc = rows(Similarity.probePqIndex(queries, "vec_id",
      "embedding", s"$dir/inc", 5))
    assert(viaInc.nonEmpty)
    // every neighbor id parity appears: appended rows are probed
    assert(viaInc.exists(_._2 % 2 == 1) && viaInc.exists(_._2 % 2 == 0),
      s"append boundary not crossed: $viaInc")
    // the incremental index holds every (id, s) exactly once
    assert(IndexFiles.rows(spark, s"$dir/inc").count() == 100 * 4)
    // IVF-PQ: same boundary argument through the partitioned layout
    Similarity.buildIvfPqIndex(evens, "vec_id", "embedding",
      s"$dir/ivfinc", nlist = 8, m = 4, ksub = 16)
    Similarity.appendToIvfPqIndex(odds, "vec_id", "embedding",
      s"$dir/ivfinc")
    val ivfRows = rows(Similarity.probeIvfPqIndex(queries, "vec_id",
      "embedding", s"$dir/ivfinc", 5, nprobe = 8)) // nprobe=nlist: full
    assert(ivfRows.exists(_._2 % 2 == 1) && ivfRows.exists(_._2 % 2 == 0),
      s"ivf-pq append boundary not crossed: $ivfRows")
    assert(IndexFiles.rows(spark, s"$dir/ivfinc").count() == 100 * 4)
    // at nprobe = nlist the composed probe degenerates to flat ADC
    // over the same codebook sample -> identical result sets
    assert(ivfRows == viaInc,
      s"full-probe ivf-pq $ivfRows != flat pq $viaInc")
  }

  test("semanticDecontaminate drops exactly the rows the brute-force " +
    "cosine filter drops, keeps schema, and kills planted twins") {
    val s = spark; import s.implicits._
    val corpus = randomCorpus(120, 16)
    val bench = randomCorpus(120, 16).where(col("vec_id") < 4)
    // plant exact copies of two benchmark vectors into the corpus
    val planted = bench.where(col("vec_id") < 2)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
    val full = corpus.unionByName(planted)
    val eps = 0.8
    val kept = Similarity.semanticDecontaminate(full, bench,
      "vec_id", "embedding", eps)
    assert(kept.columns.toSeq === full.columns.toSeq)
    // reference: per-row max cosine vs the benchmark, driver-side
    val bvecs = bench.select("embedding").as[Array[Float]].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2).sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expectKept = full.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .filter { case (_, v) => bvecs.forall(b => cos(v, b) < eps) }
      .map(_._1).toSet
    val got = kept.select("vec_id").as[Long].collect().toSet
    assert(got === expectKept)
    // the planted exact copies must be gone
    assert(!got.contains(500L) && !got.contains(501L))
  }
}
