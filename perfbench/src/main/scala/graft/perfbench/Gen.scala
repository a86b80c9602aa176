package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.ByteBuffer
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. graft only ever sees the files they write;
  * each generator also returns the outputs a correct run must produce.
  */
object Gen {

  /** A file of fixed-size blocks plus the counts graft must report for
    * it: one chunk per block (and one for a short tail), one pointer per
    * block whose content the store or the batch already held.
    */
  final case class BlockFile(path: String, bytes: Long, sha256: String,
                             chunks: Long, pointers: Long)

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def sha256Of(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(path), 1 << 20)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(md.digest())
  }

  /** Content of block `id`: the id itself, then seeded random bytes, so
    * distinct ids never share content and equal ids always do.
    */
  def block(seed: Long, id: Long, size: Int, into: Array[Byte]): Unit = {
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id).nextBytes(into)
    ByteBuffer.wrap(into).putLong(0, id)
  }

  /** Writes the blocks `ids` (each `blockBytes` long) and then the
    * `tail` bytes to `path`; `pointers` is how many of the blocks repeat
    * content the store already holds.
    */
  def writeBlocks(path: String, seed: Long, blockBytes: Int, ids: Array[Long],
                  pointers: Long, tail: Array[Byte]): BlockFile = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val buf = new Array[Byte](blockBytes)
    try {
      ids.foreach { id =>
        block(seed, id, blockBytes, buf)
        out.write(buf); md.update(buf)
      }
      out.write(tail); md.update(tail)
    } finally out.close()
    BlockFile(path, ids.length.toLong * blockBytes + tail.length, hex(md.digest()),
      ids.length + (if (tail.isEmpty) 0 else 1), pointers)
  }

  /** Block-id streams for a growing store: `novel` of the blocks are new
    * content, `inFile` repeat a block earlier in the same file, and the
    * rest repeat blocks the store already holds (from earlier files).
    * Every repeat is a pointer graft must find; tails are fresh content.
    */
  final class BlockStore(val seed: Long, val blockBytes: Int) {
    private val rng = new SplittableRandom(seed)
    private val stored = ArrayBuffer.empty[Long]
    private var nextId = 1L

    /** Ids of one file of `n` blocks, and its pointer count. Blocks of
      * the files of one batch enter the store in input order, as graft's
      * batch-global first occurrence does.
      */
    def file(n: Int, novel: Double, inFile: Double): (Array[Long], Long) = {
      val ids = new Array[Long](n)
      val startOfFile = stored.size
      var pointers = 0L
      var i = 0
      while (i < n) {
        val u = rng.nextDouble()
        val fileNovel = stored.size - startOfFile
        if (u < novel || stored.isEmpty) {
          ids(i) = nextId; stored += nextId; nextId += 1
        } else {
          pointers += 1
          ids(i) =
            if (u < novel + inFile && fileNovel > 0)
              stored(startOfFile + rng.nextInt(fileNovel))
            else stored(rng.nextInt(stored.size))
        }
        i += 1
      }
      (ids, pointers)
    }

    def tail(n: Int): Array[Byte] = {
      val t = new Array[Byte](n)
      rng.nextBytes(t)
      t
    }

    /** Writes one file of `n` blocks (see `file`) and a `tailBytes` last
      * chunk of fresh content to `path`.
      */
    def write(path: String, n: Int, novel: Double, inFile: Double,
              tailBytes: Int): BlockFile = {
      val (ids, pointers) = file(n, novel, inFile)
      writeBlocks(path, seed, blockBytes, ids, pointers, tail(tailBytes))
    }
  }

  // --------------------------------------------------------- documents

  final case class Doc(id: Long, text: String)

  /** Synthetic documents over a random vocabulary, with planted near-dup
    * pairs: a planted copy differs from its source in one word, so their
    * word-bigram Jaccard similarity is at least 0.95 while two unrelated
    * documents share almost no bigrams. A document is planted against at
    * most once and copies are never sources, so the planted pairs are
    * exactly the near-dup pairs of the corpus.
    */
  final class DocStore(seed: Long) {
    private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    private val vocab: Array[String] = Array.tabulate(20000) { _ =>
      val len = 3 + rng.nextInt(7)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(('a' + rng.nextInt(26)).toChar))
      sb.toString
    }
    private val sources = ArrayBuffer.empty[Doc] // may still be planted against
    private var nextId = 1L

    private def words(): Array[String] =
      Array.fill(80 + rng.nextInt(80))(vocab(rng.nextInt(vocab.length)))

    private def fresh(id: Long): Doc = Doc(id, words().mkString(" "))

    private def copyOf(src: Doc, id: Long): Doc = {
      val w = src.text.split(' ')
      val at = rng.nextInt(w.length)
      var repl = vocab(rng.nextInt(vocab.length))
      while (repl == w(at)) repl = vocab(rng.nextInt(vocab.length))
      w(at) = repl
      Doc(id, w.mkString(" "))
    }

    /** `n` documents entering the corpus; a `planted` share are copies of
      * earlier corpus documents. Returns the docs and the planted
      * (copy id, source id) pairs.
      */
    def corpusDocs(n: Int, planted: Double): (Seq[Doc], Seq[(Long, Long)]) = {
      var avail = sources.size // sources from before this call
      val out = ArrayBuffer.empty[Doc]
      val pairs = ArrayBuffer.empty[(Long, Long)]
      (0 until n).foreach { _ =>
        val id = nextId
        nextId += 1
        if (avail > 0 && rng.nextDouble() < planted) {
          val src = takeSource(avail)
          avail -= 1
          out += copyOf(src, id)
          pairs += ((id, src.id))
        } else {
          val d = fresh(id)
          out += d
          sources += d
        }
      }
      (out.toSeq, pairs.toSeq)
    }

    /** Probe documents (never added to the corpus), a `planted` share of
      * them copies of distinct corpus documents. Returns the probes and
      * the planted (probe id, corpus id) pairs.
      */
    def probeDocs(n: Int, planted: Double, idBase: Long): (Seq[Doc], Seq[(Long, Long)]) = {
      val out = ArrayBuffer.empty[Doc]
      val pairs = ArrayBuffer.empty[(Long, Long)]
      (0 until n).foreach { i =>
        val id = idBase + i
        if (sources.nonEmpty && rng.nextDouble() < planted) {
          val src = takeSource(sources.size)
          out += copyOf(src, id)
          pairs += ((id, src.id))
        } else out += fresh(id)
      }
      (out.toSeq, pairs.toSeq)
    }

    // removes a random source among the first `limit`; moving the last of
    // that prefix into its place keeps the prefix contiguous
    private def takeSource(limit: Int): Doc = {
      val i = rng.nextInt(limit)
      val d = sources(i)
      sources(i) = sources(limit - 1)
      sources.remove(limit - 1)
      d
    }
  }
}
