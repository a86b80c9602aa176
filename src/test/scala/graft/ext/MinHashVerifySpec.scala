package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}

/** The MinHash index verify, table-driven: every row runs
  * [[DocDedup.probeMinHashIndex]] and [[DocDedup.foldMinHashBatch]] and
  * compares all five output columns (id_a, id_b, common, na, nb) with a
  * reference built from [[DocDedup.shingles]]: the exploded
  * (id, shingle) relations joined on the shingle, plus per-id counts.
  * Since `shingles` is distinct per (id, shingle), an id with several
  * rows counts the union of its rows' bigram sets.
  *
  * The index bands with 64 bands of one row, so a pair at Jaccard 0.4
  * becomes a candidate unless all 64 minima differ (p = 0.6^64): every
  * pair the reference keeps is a candidate, and candidates below the
  * threshold are generated too, so the verify itself rejects them.
  */
class MinHashVerifySpec extends SparkFunSuite {
  import MinHashVerifySpec._

  // 13 bigrams each, 11 shared: Jaccard 11/15 ≥ 7/10
  private val near =
    "the quick brown fox jumps over the lazy dog and then runs far away"
  private val nearer =
    "the quick brown fox jumps over the lazy cat and then runs far away"

  private val rows = Seq(
    Row("repeated bigrams count once",
      Seq(1L -> "a b a b a b c d e"),
      Seq(101L -> "a b a b c d e", 102L -> "a b c d e"),
      must = Set((1L, 101L), (1L, 102L))),
    Row("one-word and empty docs on both sides",
      Seq(1L -> "word", 2L -> "", 3L -> near),
      Seq(101L -> "word", 102L -> "", 103L -> nearer),
      must = Set((3L, 103L))),
    Row("a pair exactly at the threshold is kept",
      // {a b, b c} vs {a b, b c, c d, d e}: 2·2 == 1·(2 + 4 − 2)
      Seq(1L -> "a b c"),
      Seq(101L -> "a b c d e", 102L -> "a b c d e f"),
      must = Set((1L, 101L)), num = 1, den = 2),
    Row("a corpus id held twice with the same text",
      Seq(1L -> nearer),
      Seq(101L -> near, 101L -> near, 102L -> nearer),
      must = Set((1L, 101L), (1L, 102L))),
    Row("a corpus id held twice with different texts",
      Seq(1L -> nearer),
      Seq(101L -> near, 101L -> "the quick brown fox naps",
        102L -> nearer),
      must = Set((1L, 101L), (1L, 102L)), num = 1, den = 2),
    Row("a duplicated probe id",
      Seq(1L -> near, 1L -> "the quick brown fox naps", 2L -> nearer),
      Seq(101L -> near, 102L -> nearer),
      must = Set((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L)),
      num = 1, den = 2),
    Row("a replayed batch already in the corpus and the index",
      Seq(1L -> near, 2L -> nearer),
      Seq(1L -> near, 2L -> nearer, 101L -> near),
      must = Set((1L, 2L), (2L, 1L), (1L, 101L), (2L, 101L))))

  private def docs(d: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    d.toDF("id", "text")
  }

  private def pairsOf(d: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    d.distinct.toDF("id_a", "id_b")
  }

  /** The pairs of `a` × `b` among `pairs` at Jaccard ≥ num/den. */
  private def reference(a: DataFrame, b: DataFrame, pairs: DataFrame,
                        num: Int, den: Int): Set[Out] = {
    val sa = DocDedup.shingles(a, "id", "text").toDF("id_a", "shingle")
    val sb = DocDedup.shingles(b, "id", "text").toDF("id_b", "shingle")
    val n = (sh: DataFrame, id: String, as: String) =>
      sh.groupBy(id).agg(count(lit(1)).as(as))
    collect(sa.join(sb, "shingle")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(pairs, Seq("id_a", "id_b"))
      .join(n(sa, "id_a", "na"), "id_a").join(n(sb, "id_b", "nb"), "id_b")
      .where(lit(den) * col("common") >=
        lit(num) * (col("na") + col("nb") - col("common"))))
  }

  private def collect(df: DataFrame): Set[Out] =
    df.select("id_a", "id_b", "common", "na", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def build(corpus: DataFrame, path: String): Unit =
    DocDedup.buildMinHashIndex(corpus, "id", "text", path,
      bands = 64, rows = 1, sigBuckets = 4)

  rows.foreach { r =>
    val aIds = r.a.map(_._1).distinct
    val corpusIds = r.corpus.map(_._1).distinct

    test(s"exact verify, probeMinHashIndex: ${r.name}") {
      val idx = s"${tempDir("mhverify")}/index"
      build(docs(r.corpus), idx)
      val want = reference(docs(r.a), docs(r.corpus), pairsOf(for {
        a <- aIds; b <- corpusIds if a != b } yield (a, b)), r.num, r.den)
      assert(r.must.subsetOf(want.map(o => (o._1, o._2))))
      val got = collect(DocDedup.probeMinHashIndex(docs(r.a), docs(r.corpus),
        "id", "text", idx, r.num, r.den))
      assert(got == want)
    }

    test(s"exact verify, foldMinHashBatch: ${r.name}") {
      val dir = tempDir("mhverify")
      build(docs(r.corpus), s"$dir/index")
      // cross pairs against the indexed corpus, within-batch pairs
      // id_a < id_b; a batch id_b resolves against batch ∪ corpus
      val want = reference(docs(r.a), docs(r.a ++ r.corpus), pairsOf(
        (for (a <- aIds; b <- corpusIds if a != b) yield (a, b)) ++
          (for (a <- aIds; b <- aIds if a < b) yield (a, b))), r.num, r.den)
      DocDedup.foldMinHashBatch(docs(r.a), docs(r.corpus), "id", "text",
        s"$dir/index", s"$dir/matches", r.num, r.den)
      assert(collect(spark.read.parquet(s"$dir/matches")) == want)
    }
  }
}

object MinHashVerifySpec {
  type Out = (Long, Long, Long, Long, Long)

  /** One scenario: the probe (or fold batch) docs `a`, the corpus, the
    * threshold, and probe pairs the reference must keep, so the row
    * cannot pass vacuously.
    */
  final case class Row(name: String, a: Seq[(Long, String)],
                       corpus: Seq[(Long, String)],
                       must: Set[(Long, Long)], num: Int = 7, den: Int = 10)
}
