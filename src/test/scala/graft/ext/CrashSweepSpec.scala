package graft.ext

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, sha1}
import org.scalatest.BeforeAndAfterAll

import graft.{Fixtures, SparkFunSuite}
import graft.api.{DedupOptions, Deduplicator}
import graft.operators.{Catalog, VersionStore}

/** One crash-point sweep over the commit every index and catalog write
  * goes through ([[VersionStore.publish]]). Each row is one call on a
  * small seeded state. A clean run records the call's filesystem
  * mutations (create, rename, delete, mkdirs) under the store's root;
  * then, for every mutation graft itself issues and for a stride
  * through those of Spark's output committer, a fresh copy of the seed
  * runs the call on [[RecordingLocalFs]] crashed at that mutation: it
  * and every later mutation under the root throw, as if the process
  * died there. After each crash:
  *
  *  - a reopened reader sees exactly the state before the call or
  *    after it, never a mix;
  *  - the call's retry — for a fold, the stream's replay of the batch —
  *    succeeds, and when the crash came before the commit rename it
  *    lands the call once: the state equals a clean run's, and a fold's
  *    twin is matched;
  *  - the next compaction leaves no `.tmp_*` staging and no version
  *    that no manifest references (a catalog keeps fresh `.tmp_*`
  *    directories for its hour-long grace window: concurrent catalog
  *    committers are allowed, and one may be in flight);
  *  - every committed catalog run recovers byte-exact.
  */
class CrashSweepSpec extends SparkFunSuite with BeforeAndAfterAll {

  private var shufflePartitions = ""

  override def beforeAll(): Unit = {
    shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    RecordingLocalFs.register(spark.sparkContext.hadoopConfiguration)
  }

  override def afterAll(): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)

  private def uri(local: String) = RecordingLocalFs.uri(local)

  private def text(i: Int): String =
    s"base document $i about topic ${i % 3} with plenty of shared " +
      "phrasing between documents"

  private def docs(ids: Seq[Int], offset: Long = 0L): DataFrame = {
    import spark.implicits._
    ids.map(i => (i + offset, text(i))).toDF("id", "text")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def indexView(dir: String): Seq[String] =
    sorted(IndexFiles.rows(spark, uri(s"$dir/index")))

  /** Batch 0 and batch 1 of a fold: doc 101 of batch 1 twins doc 1. */
  private val batch0 = () => docs(0 until 6)
  private val batch1 = () => docs(Seq(1, 7, 8), 100L)

  private def fold(dir: String, batch: DataFrame, step: Int,
                   window: Option[IndexMaintenance.Window]): Unit =
    DocDedup.foldMinHashBatch(batch, batch0(), "id", "text",
      uri(s"$dir/index"), uri(s"$dir/m$step"), 7, 10, bands = 4, rows = 2,
      sigBuckets = 2, window = window)

  private def twinMatched(dir: String, step: Int): Boolean =
    spark.read.parquet(s"$dir/m$step").select("id_a", "id_b").collect()
      .exists(r => Set(r.getLong(0), r.getLong(1)) == Set(101L, 1L))

  private def vecs(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos((i % 5) + d * 0.7).toFloat))
    }.toDF("id", "vec")
  }

  /** A seeded chunk store: three deduplicated runs, the inputs kept
    * under `dir/in` to check recovery against.
    */
  private def seedStore(dir: String): Unit = {
    Files.createDirectories(Paths.get(s"$dir/in"))
    val d = new Deduplicator(spark, s"$dir/work", bucketChars = 1)
    (0 until 3).foreach { i =>
      val bytes = Fixtures.naturalText(seed = i, approxBytes = 2048)
      d.deduplicateFile(Fixtures.writeTemp(s"$dir/in", s"f$i", bytes),
        DedupOptions(64, outputName = Some(s"f$i")))
    }
  }

  private def catalogOf(dir: String) =
    new Catalog(spark, uri(s"$dir/work/catalog"), bucketChars = 1)

  private def catalogView(dir: String): Seq[String] = {
    val cat = catalogOf(dir)
    sorted(cat.links()) ++ sorted(cat.files())
  }

  /** Every seeded run recovers to its input's bytes. */
  private def recovers(dir: String): Unit = {
    val d = new Deduplicator(spark, uri(s"$dir/work"), bucketChars = 1)
    d.catalog.files().collect().map(_.getAs[String]("filename"))
      .filter(_.startsWith("f")).foreach { name =>
        val out = s"$dir/${name}.out"
        d.recoverFile(name, out)
        assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)),
          Files.readAllBytes(Paths.get(s"$dir/in/$name"))),
          s"$name does not recover byte-exact")
      }
  }

  /** A swept call. `root` is the store under a row directory, `seed`
    * builds the starting state, `call` runs the call, `view` is what a
    * reopened reader sees, `compact` is the next compaction. `landed`
    * checks a retry that landed the call once; when a crash came after
    * the commit rename, `replayed` checks the state the retry left
    * (given the clean run's before and after views).
    */
  private case class Row(name: String, root: String, seed: String => Unit,
                         call: String => Unit, view: String => Seq[String],
                         compact: String => Unit, catalog: Boolean = false,
                         landed: String => Unit = _ => (),
                         replayed: (String, Seq[String], Seq[String]) => Unit =
                           (_, _, _) => ())

  private val firing = Some(IndexMaintenance.Window(
    IndexMaintenance.CompactPolicy(every = Some(1)), 1L))

  private val rows = Seq(
    Row("appendToMinHashIndex", "index",
      dir => DocDedup.buildMinHashIndex(docs(0 until 6), "id", "text",
        s"$dir/index", bands = 4, rows = 2, sigBuckets = 2),
      dir => DocDedup.appendToMinHashIndex(docs(6 until 9), "id", "text",
        uri(s"$dir/index")),
      indexView, dir => DocDedup.compactMinHashIndex(spark, uri(s"$dir/index"))),
    Row("a foldMinHashBatch whose window fires", "index",
      dir => fold(dir, batch0(), 0, None),
      dir => fold(dir, batch1(), 1, firing),
      indexView, dir => DocDedup.compactMinHashIndex(spark, uri(s"$dir/index")),
      landed = dir => assert(twinMatched(dir, 1), "twin 101 ~ 1 missed"),
      replayed = { (dir, before, after) =>
        // A crash after the commit rename, before the stream's commit
        // log: the replay publishes the batch a second time, so the
        // index holds batch 1's rows twice.
        val twice = (after ++ after.diff(before)).sorted
        val seen = indexView(dir)
        info(s"replay after a committed publish: ${seen.size} index rows, " +
          s"${after.size} after one publish")
        assert(seen == twice)
      }),
    Row("the first foldMinHashBatch on a fresh path", "index",
      dir => Files.createDirectories(Paths.get(dir)),
      dir => fold(dir, batch0(), 0, None),
      indexView, dir => DocDedup.compactMinHashIndex(spark, uri(s"$dir/index"))),
    Row("compactPqIndex (flat layout)", "index",
      { dir =>
        Similarity.buildPqIndex(vecs(0, 30), "id", "vec", s"$dir/index",
          m = 4, ksub = 8)
        Similarity.appendToPqIndex(vecs(30, 40), "id", "vec", s"$dir/index")
      },
      dir => Similarity.compactPqIndex(spark, uri(s"$dir/index")),
      indexView, dir => Similarity.compactPqIndex(spark, uri(s"$dir/index"))),
    Row("Catalog.commitRuns", "work/catalog", seedStore,
      { dir =>
        val cat = catalogOf(dir)
        val fid = cat.nextFileId
        val links = spark.range(0, 6).select(
          sha1(col("id").cast("string")).as("hash"), col("id").as("line"),
          lit(1L).as("refs_num"))
        val seen = cat.links().select(col("hash"), lit(1L).as("delta"))
          .orderBy("hash").limit(4)
        cat.commitRuns(Seq(Catalog.RunSpec(fid, s"run$fid", 64, "sha",
          links, seen)))
      },
      catalogView, dir => catalogOf(dir).compact(), catalog = true),
    Row("Catalog.compact", "work/catalog", seedStore,
      dir => catalogOf(dir).compact(),
      catalogView, dir => catalogOf(dir).compact(), catalog = true))

  /** Graft's own mutations all; the committer's at most three, spread. */
  private def points(mutations: Seq[(String, String)]): Seq[(Boolean, Int)] = {
    val own = mutations.count(m => !RecordingLocalFs.byCommitter(m._1, m._2))
    val committer = mutations.size - own
    val stride = (1 to committer).filter(i => i % math.max(1, committer / 3) == 0)
      .take(3)
    (1 to own).map(false -> _) ++ stride.map(true -> _)
  }

  private def version(dir: String, row: Row): Long =
    new VersionStore(new Path(uri(s"$dir/${row.root}")).getFileSystem(
      spark.sparkContext.hadoopConfiguration), uri(s"$dir/${row.root}"),
      "store").current()

  /** Committed versions no manifest references, and (for an index)
    * `.tmp_*` staging left under the store.
    */
  private def residue(dir: String, row: Row): Seq[String] =
    if (!row.catalog) IndexFiles.residue(spark, uri(s"$dir/index"))
    else {
      val root = uri(s"$dir/${row.root}")
      val store = new VersionStore(new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration), root, "catalog")
      val v = store.current()
      val live = store.manifest(v).fold(Set.empty[Long])(_.values.flatten.toSet) + v
      store.entries().map(_.getPath.getName).collect {
        case n @ VersionStore.VersionRe(k) if !live(k.toLong) => n
      }
    }

  rows.foreach { row =>
    test(s"crash sweep: ${row.name} — readers see before or after, the " +
      "retry lands once, the next compaction leaves no residue") {
      val base = tempDir("sweep")
      val seed = s"$base/seed"
      row.seed(seed)
      def copy(name: String): String = {
        FileUtils.copyDirectory(new java.io.File(seed),
          new java.io.File(s"$base/$name"))
        s"$base/$name"
      }
      val clean = copy("clean")
      val before = row.view(clean)
      val v0 = version(clean, row)
      RecordingLocalFs.crashAt(s"$clean/${row.root}", committer = false,
        Int.MaxValue)
      row.call(clean)
      val mutations = RecordingLocalFs.mutationsUnder(s"$clean/${row.root}")
      assert(!RecordingLocalFs.crashed())
      val after = row.view(clean)
      val swept = points(mutations)
      info(s"${mutations.size} mutations, ${swept.size} crash points: " +
        mutations.filterNot(m => RecordingLocalFs.byCommitter(m._1, m._2))
          .map { case (op, p) => s"$op ${p.stripPrefix(clean + "/")}" }
          .mkString(", "))
      swept.zipWithIndex.foreach { case ((byCommitter, n), i) =>
        val at = s"${if (byCommitter) "committer" else "graft"} mutation $n"
        val dir = copy(s"p$i")
        RecordingLocalFs.crashAt(s"$dir/${row.root}", byCommitter, n)
        val failed = Try(row.call(dir)).isFailure
        val crashed = RecordingLocalFs.crashed()
        assert(failed || !crashed, s"$at: the crash was swallowed")
        val seen = row.view(dir)
        assert(seen == before || seen == after, s"$at: a reader sees a mix")
        // a run whose committer made fewer mutations than the clean one
        // never reached its crash point: it completed, nothing to retry
        if (crashed) {
          val committed = version(dir, row) > v0
          row.call(dir)
          if (!committed) {
            assert(row.view(dir) == after, s"$at: the retry did not land once")
            row.landed(dir)
          } else row.replayed(dir, before, after)
        }
        row.compact(dir)
        assert(residue(dir, row).isEmpty,
          s"$at: residue ${residue(dir, row)} after the next compaction")
        if (row.catalog) recovers(dir)
      }
    }
  }
}
