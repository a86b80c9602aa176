package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}

/** Text-analysis operators for LLM training-data pipelines (north-star
  * surface beyond the reference — SURVEY §2.2 "absent in the reference"
  * and §7.1 `ext/`). Everything here is a *Column* builder over built-in
  * Spark SQL functions — no UDFs — so every operator stays inside
  * whole-stage codegen and distributes trivially: each is a narrow
  * per-row projection (no shuffle at all) until an aggregation is asked
  * for. At 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Whitespace tokenization: split on single spaces, keeping empty
    * tokens (deterministic, matches ANSI `string_split` semantics so the
    * DuckDB oracle can reproduce it exactly).
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword pre-tokenization: the GPT-2-style split (leading-
    * space word/number/punctuation runs + English contractions),
    * restricted to the regex subset BOTH java.util.regex and RE2
    * support — no lookahead, and whitespace spelled as an explicit
    * class because the `\s` SHORTHAND diverges between the dialects
    * (Java includes \x0B, RE2 does not). One codegen'd
    * `regexp_extract_all` — no UDF.
    */
  val BpePattern: String = {
    val ws = " \\t\\n\\x0B\\f\\r"
    s"'(?:s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^$ws\\p{L}\\p{N}]+|[$ws]+"
  }

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Number of tokens that appear in `stopwords` — the integer core of a
    * stopword-ratio quality signal (ratios are left to the caller so the
    * correctness oracle can stay in exact integer arithmetic).
    */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val set = stopwords.map(lit): Seq[Column]
    size(filter(tokens(text), t => t.isin(set: _*)))
  }

  /** Lowercase, collapse whitespace runs, trim — the canonical form used
    * for fingerprinting near-identical docs that differ only in spacing
    * or case.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Unicode NFC normalization — canonical composition so
    * encoding-level twins ("é" vs "e" + combining acute) hash alike;
    * the native expression
    * [[graft.functions.TextExpressions.NfcNormalize]] (ASCII fast
    * path, codegen'd). Run BEFORE [[fingerprint]]/dedup on corpora
    * with mixed encoders.
    */
  def nfc(text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecExpressions.register)
    call_function("graft_nfc", text)
  }

  /** URL canonicalization — the dedup identity for web corpora (case,
    * default ports, trailing slash, fragments, tracking params,
    * query-param order all collapse); the native codegen'd expression
    * [[graft.functions.TextExpressions.NormalizeUrl]]. Non-URL
    * strings pass through unchanged. At 100 TB this runs as a narrow
    * projection inside whole-stage codegen; the dedup itself is then
    * an ordinary hash groupBy on the normalized key.
    */
  def normalizeUrl(url: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecExpressions.register)
    call_function("graft_normalize_url", url)
  }

  /** Byte-distribution stats `(n_bytes, n_distinct, top_count,
    * entropy)` in one native scan — the scan-speed junk detector
    * (compressed/encrypted blobs sit near 8 bits/byte, natural text
    * near 4–5, padding near 0); see
    * [[graft.functions.TextExpressions.ByteStats]].
    */
  def byteStats(textOrBinary: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecExpressions.register)
    call_function("graft_byte_stats", textOrBinary)
  }

  /** Document fingerprint: md5 of the normalized text. Two docs with the
    * same fingerprint are duplicates up to case/whitespace.
    */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /** Fixed-size character chunks of a string — the dataset-level analog
    * of the engine's binary chunker (ChunkSource.split, SURVEY §2.1 S1).
    * Last chunk may be short; empty text yields no chunks.
    *
    * Native codegen'd expression ([[graft.functions.TextExpressions
    * .CharChunks]], register [[graft.functions.VecExpressions]] first).
    * The built-in `transform(sequence(...), s => substr(s, n))` form it
    * replaced was QUADRATIC in document length: `substr` by char index
    * re-walks the UTF-8 bytes from the start on every call, so a 1 MB
    * doc paid ~16G byte-steps at n=64 — fatal for the long documents a
    * 100 TB corpus certainly contains.
    */
  def charChunks(text: Column, n: Int): Column =
    call_function("graft_char_chunks", text, lit(n))

  /** Word bigram shingles (adjacent-token pairs), the unit for n-gram
    * Jaccard near-dup detection. Empty for docs with < 2 tokens.
    *
    * Native codegen'd expression ([[graft.functions.TextExpressions
    * .WordBigrams]], register [[graft.functions.VecExpressions]] first),
    * bit-identical to the `zip_with(slice, slice, concat)` Column
    * formulation it replaced. The HOF form never codegens, and its
    * interpreted-eval call sites are JVM-shared — megamorphic dispatch
    * after enough distinct lambdas run in the session (the round-8 JIT
    * finding; see TextExpressions' scaladoc). This is the hottest
    * projection of the whole text pipeline (every shingle consumer —
    * exact Jaccard, MinHash banding, their recall gates — scans it), so
    * it gets the native treatment.
    */
  def wordBigrams(text: Column): Column =
    call_function("graft_word_bigrams", text)

  /** Character n-gram shingles over the normalized text. Native
    * codegen'd kernel ([[graft.functions.TextExpressions.CharNgrams]]) —
    * the substr-per-gram Column form was quadratic in document length,
    * like [[charChunks]]' (see there).
    */
  def charNgrams(text: Column, n: Int): Column =
    call_function("graft_char_ngrams", normalize(text), lit(n))

  /** Count of regexp matches (punctuation, digits, …) — quality-score
    * building block.
    */
  def patternCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** PII-style redaction patterns, restricted (like [[BpePattern]]) to
    * the regex subset java.util.regex and RE2 share, so the DuckDB
    * oracle applies the identical patterns: URLs first (they may embed
    * digit runs and @s), then emails (the local part may embed digit
    * runs), then standalone long digit runs (phone-number/id-shaped).
    */
  val UrlPattern: String = "https?://[^ ]+"
  val EmailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern: String = "[0-9]{7,}"

  /** Mask URL / email / long-number spans with typed placeholder
    * tokens — the standard pre-training redaction pass. A chain of
    * three codegen'd `regexp_replace`es: narrow, scan-speed, order
    * fixed by the pattern-containment argument on [[UrlPattern]].
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      LongNumberPattern, "<NUM>")

  /** Marker-token sets for the n-gram/stopword language-ID heuristic.
    * Deliberately tiny and deterministic: language ID at pipeline scale
    * is a cheap prefilter, not a classifier.
    */
  val languageMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** Heuristic language ID: argmax of marker-token hits, first-listed
    * language wins ties, "und" (undetermined) when nothing matches.
    * Pure `CASE`/`greatest` chain — codegen-friendly, oracle-expressible.
    */
  def langId(text: Column): Column = {
    val hits = languageMarkers.map { case (lang, ms) =>
      lang -> stopwordCount(text, ms)
    }
    val best = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h > 0 && h === best, lit(lang)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1] — double-valued, for filtering
    * (non-oracle use; the integer features it is built from are exposed
    * individually for exact checks). Components: length sweet-spot,
    * punctuation presence, stopword ratio, mean token length sanity.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    val stopRatio =
      stopwordCount(text, languageMarkers.flatMap(_._2)).cast("double") /
        greatest(nTok, lit(1.0))
    val meanTokLen = nChars / greatest(nTok, lit(1.0))
    val lenScore = least(nChars / lit(200.0), lit(1.0))
    val tokLenScore = when(meanTokLen.between(3.0, 12.0), 1.0).otherwise(0.3)
    val punctScore =
      when(patternCount(text, "[.,!?]") > 0, 1.0).otherwise(0.5)
    (lenScore * 0.4 + tokLenScore * 0.3 + punctScore * 0.15 +
      least(stopRatio * lit(5.0), lit(1.0)) * 0.15).as("quality")
  }

  /** Corpus vocabulary: the `k` most frequent tokens with occurrence
    * and document counts — the aggregate a tokenizer-training or
    * Zipf-audit pass runs first. Shape: explode (narrow) → two-level
    * hash aggregate keyed by token (a token occurring a billion times
    * partial-combines map-side) → global top-k as orderBy+limit, which
    * Spark executes as TakeOrderedAndProject (per-partition heaps, no
    * full sort, no single-partition shuffle of the vocabulary). Ties
    * break by token so the result is total-ordered and oracle-exact.
    */
  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    * heuristics applied to every Common Crawl page before anything
    * content-aware runs): keep only lines that (a) end in terminal
    * punctuation (`.`/`!`/`?`/`"`), (b) have at least `minWords`
    * space-separated words, and (c) do not mention "javascript"
    * (case-insensitive) — then drop any document with fewer than
    * `minLines` surviving lines. Emits
    * `(idCol, clean_text, n_lines, n_kept)` for surviving docs.
    *
    * Scale shape: one narrow projection (split + filter + rejoin per
    * row — the HOF lambdas touch only their own variable, never an
    * enclosing expression, so the interpreted-eval quadratic trap
    * documented in NOTES_r08 does not apply) followed by a pushed-down
    * scalar filter; no shuffle at any width. Zero UDFs, so the line
    * predicates stay expression-level.
    */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 4, minLines: Int = 2): DataFrame = {
    require(minWords >= 1 && minLines >= 1,
      s"thresholds must be positive, got words=$minWords lines=$minLines")
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, line =>
      line.rlike("[.!?\"]$") &&
        size(split(line, " ")) >= minWords &&
        !contains(lower(line), lit("javascript")))
    df.select(col(idCol),
        array_join(kept, "\n").as("clean_text"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"))
      .where(col("n_kept") >= minLines)
  }

  /** Gopher-style document quality filter (Rae et al. 2021, appendix
    * A1.1 — the named heuristics every later corpus pipeline inherits):
    * per document the raw signals — word count, mean word length,
    * symbol-to-word ratio (`#`/`...`), fraction of words containing an
    * alphabetic character, stopword hits — plus one boolean per
    * published rule and the conjunction `keep`. Word/char arithmetic
    * uses the join identity `length(text) = Σ len(tok) + (n−1)` so the
    * mean needs no second pass; every ratio is an IEEE divide of exact
    * integers, so the DuckDB restatement is bit-identical.
    *
    * One narrow projection over ONE native byte scan
    * ([[graft.functions.TextExpressions.GopherSignals]] — the Column
    * HOF formulation paid ~400M interpreted lambda calls at 5M docs),
    * no shuffle at any width; thresholds are parameters with the
    * paper's defaults.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecExpressions.register)
    // all four integer signals from ONE native byte scan — the Column
    // formulation's two interpreted filter() lambdas cost ~400M lambda
    // invocations on a 5M-doc probe (14.4 s; see
    // TextExpressions.GopherSignals, which pins bit-parity in spec)
    val sig = call_function("graft_gopher_signals", col(textCol))
    val n = sig.getField("n_words")
    val meanLen = (length(col(textCol)) - n + lit(1)).cast("double") /
      n.cast("double")
    val nSym = sig.getField("n_sym")
    val nAlpha = sig.getField("n_alpha")
    val nStop = sig.getField("n_stop")
    val symRatio = nSym.cast("double") / n.cast("double")
    val alphaFrac = nAlpha.cast("double") / n.cast("double")
    val wordsOk = n.between(minWords.toLong, maxWords.toLong)
    val meanOk = meanLen.between(minMeanLen, maxMeanLen)
    val symOk = symRatio < maxSymbolRatio
    val alphaOk = alphaFrac > minAlphaFrac
    val stopOk = nStop >= minStopwords.toLong
    df.select(col(idCol),
      n.as("n_words"), meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
      nStop.as("n_stop"),
      wordsOk.as("words_ok"), meanOk.as("mean_ok"), symOk.as("sym_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (wordsOk && meanOk && symOk && alphaOk && stopOk).as("keep"))
  }

  /** Learn a BPE merge table from a (word, count) relation — the
    * tokenizer-TRAINING half of the BPE surface ([[bpeTokens]] is the
    * pre-tokenizer; this is Sennrich et al. 2016 over the word
    * histogram it produces). `numMerges` iterations of: count adjacent
    * symbol pairs (weighted by word count), take the most frequent —
    * ties broken by lexicographically smallest (left, right), so the
    * result is total-ordered and oracle-exact — and fuse its
    * non-overlapping left-to-right occurrences.
    *
    * Distributed shape: the CORPUS-sized work each round is one
    * explode + one partial-aggregated groupBy over the pair stream;
    * the argmax collects a single row (the merge table is
    * driver-sized by definition, like the IVF centroid sidecar), and
    * the fuse is a narrow typed map. Rounds are inherently sequential
    * — merge k+1's counts depend on merge k — so cost is
    * `numMerges` passes over the histogram; at 100 TB the histogram
    * input is itself the (already tiny relative to the corpus)
    * output of a word-count aggregate, and production trainers
    * subsample it further. State localCheckpoints per round with
    * registry-delta cleanup (the [[graft.ext.DocDedup]] loop
    * discipline).
    */
  /** GPT-2's byte↔unicode table (Radford et al. 2019, the public
    * encoder.py): every byte 0–255 gets a PRINTABLE unicode char so a
    * byte-level BPE can treat arbitrary UTF-8 (or any binary) as a
    * string of visible symbols. Printable latin bytes ('!'..'~',
    * '¡'..'¬', '®'..'ÿ') map to themselves; the 68 remaining bytes
    * (controls, space, 127–160, 173) map to 256+n in first-gap order.
    * The map is a bijection, so [[unicodeToByte]] inverts exactly.
    */
  private[ext] val byteToUnicode: Array[Char] = {
    val self = (('!' to '~') ++ ('¡' to '¬') ++
      ('®' to 'ÿ')).map(_.toInt).toSet
    val out = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (self(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
    }
    out
  }

  private[ext] val unicodeToByte: Map[Char, Byte] =
    byteToUnicode.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** A word as byte-level BPE symbols: UTF-8 bytes, each mapped
    * through [[byteToUnicode]]. The symbol ALPHABET is the only thing
    * that differs from character-level BPE — on any non-ASCII corpus
    * the learned merges differ (a multibyte char is 2–4 symbols whose
    * intra-character pairs dominate early merges).
    */
  private[ext] def byteSymbols(word: String): Seq[String] =
    word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(b => String.valueOf(byteToUnicode(b & 0xFF)))

  /** Invert [[byteSymbols]]: mapped-symbol string → original bytes →
    * UTF-8 string (how a byte-level tokenizer renders tokens for
    * display).
    */
  private[ext] def symbolsToString(sym: String): String =
    new String(sym.toCharArray.map(unicodeToByte),
      java.nio.charset.StandardCharsets.UTF_8)

  def learnBpe(words: DataFrame, wordCol: String, countCol: String,
               numMerges: Int,
               byteLevel: Boolean = false): Seq[(String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val ss = words.sparkSession
    val sc = ss.sparkContext
    import ss.implicits._
    def checkpointPinned(ds: org.apache.spark.sql.Dataset[(Seq[String], Long)]) =
      graft.Jobs.pinnedBy(sc)(ds.localCheckpoint())
    val init =
      if (byteLevel)
        words.select(col(wordCol).cast("string").as("w"),
            col(countCol).cast("long").as("cnt")).as[(String, Long)]
          .map { case (w, c) => (byteSymbols(w), c) }
      else
        words.select(split(col(wordCol), "").as("seq"),
          col(countCol).cast("long").as("cnt")).as[(Seq[String], Long)]
    var (cur, pinned) = checkpointPinned(init)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    try {
      var exhausted = false
      while (!exhausted && merges.length < numMerges) {
        val top = cur.toDF("seq", "cnt")
          .select(explode(zip_with(
            slice(col("seq"), lit(1), size(col("seq")) - 1),
            slice(col("seq"), lit(2), size(col("seq")) - 1),
            (x, y) => struct(x.as("l"), y.as("r")))).as("p"), col("cnt"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("cnt").as("c"))
          .orderBy(desc("c"), col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, c) = (top(0).getAs[String]("l"),
            top(0).getAs[String]("r"), top(0).getAs[Long]("c"))
          merges += ((a, b, c))
          val (next, nextPinned) = checkpointPinned(cur.map {
            case (seq, cnt) =>
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < seq.length) {
                if (i + 1 < seq.length && seq(i) == a && seq(i + 1) == b) {
                  out += a + b; i += 2
                } else { out += seq(i); i += 1 }
              }
              (out.toSeq, cnt)
          })
          pinned.foreach(_.unpersist(false))
          cur = next; pinned = nextPinned
        }
      }
      merges.toSeq
    } finally pinned.foreach(_.unpersist(false))
  }

  /** Segment words with a learned merge table: each merge applied in
    * LEARNED ORDER, non-overlapping left-to-right — exactly the
    * training-time fuse, so training words round-trip to their final
    * training segmentation. Narrow typed map; the merge table rides
    * the closure (driver-sized).
    */
  def bpeSegment(words: DataFrame, wordCol: String,
                 merges: Seq[(String, String)],
                 byteLevel: Boolean = false): DataFrame = {
    val ms = merges.toArray
    val idx = words.schema.fieldIndex(wordCol)
    val schema = StructType(words.schema.fields :+
      StructField("segments", ArrayType(StringType, containsNull = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    words.mapPartitions { rows =>
      rows.map { r =>
        var seq: Array[String] =
          if (byteLevel) byteSymbols(r.getString(idx)).toArray
          else r.getString(idx).split("")
        var k = 0
        while (k < ms.length) {
          val (a, b) = ms(k)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < seq.length) {
            if (i + 1 < seq.length && seq(i) == a && seq(i + 1) == b) {
              out += a + b; i += 2
            } else { out += seq(i); i += 1 }
          }
          seq = out.toArray
          k += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ seq.toSeq)
      }
    }(enc)
  }

  /** GPT-2-style vocabulary for a BYTE-level merge table: ids 0–255
    * are the byte alphabet (each byte's [[byteToUnicode]] image), ids
    * 256+k are the merge outputs in learned order — the id assignment
    * every byte-level BPE tokenizer ships. Total ids = 256 + merges.
    */
  def bpeVocab(merges: Seq[(String, String)]): Seq[(Int, String)] =
    (0 until 256).map(b => b -> String.valueOf(byteToUnicode(b))) ++
      merges.zipWithIndex.map { case ((a, b), i) => (256 + i) -> (a + b) }

  /** Encode words to token-id sequences under a byte-level merge
    * table: [[bpeSegment]]'s training-order fuse, then each segment
    * mapped through [[bpeVocab]]. Every segment is in-vocabulary by
    * construction (single mapped bytes are ids 0–255; every fused
    * token is some merge's output), so encoding is total — the
    * property that makes byte-level BPE the pretraining default.
    * Narrow typed map; adds `ids` (comma-joined, driver-hashable) and
    * `n_tokens`.
    */
  def bpeEncodeIds(words: DataFrame, wordCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val idOf = bpeVocab(merges).map(_.swap).toMap
    val segged = bpeSegment(words, wordCol, merges, byteLevel = true)
    val enc = org.apache.spark.sql.Encoders.row(StructType(
      segged.schema.fields.filterNot(_.name == "segments") ++
        Seq(StructField("ids", StringType, nullable = false),
          StructField("n_tokens", IntegerType, nullable = false))))
    val segIdx = segged.schema.fieldIndex("segments")
    val keepIdx = segged.schema.fields.zipWithIndex
      .filterNot(_._1.name == "segments").map(_._2)
    segged.mapPartitions { rows =>
      rows.map { r =>
        val segs = r.getSeq[String](segIdx)
        val ids = segs.map(s => idOf.getOrElse(s,
          throw new IllegalStateException(
            s"segment '$s' not in vocabulary — merge table mismatch")))
        org.apache.spark.sql.Row.fromSeq(keepIdx.toSeq.map(r.get) ++
          Seq[Any](ids.mkString(","), ids.length))
      }
    }(enc)
  }

  /** HTML → text extraction — step zero of a web-corpus pipeline,
    * before any quality/dedup pass sees a byte: drop script/style
    * blocks wholesale (their CONTENT is code, not prose — removing
    * only the tags would leak it into the corpus), strip remaining
    * tags, decode the five predefined XML/HTML entities, collapse
    * whitespace runs, trim. Regexes stay in the RE2∩java.util.regex
    * subset ([[redact]]'s discipline — `(?is)` flags, lazy
    * quantifiers, explicit whitespace classes — so the DuckDB oracle
    * can apply the SAME patterns), entities are plain `replace`
    * chains; everything is codegen'd built-ins, one narrow projection
    * at scan speed. `&amp;` decodes LAST so `&amp;lt;` yields the
    * literal `&lt;` (double-encoding stays text, as it should).
    */
  def stripHtml(html: Column): Column = {
    // ONE alternation pass for all four structural classes, not four
    // chained rewrites — each regexp_replace rewrites the whole string,
    // and fusing them measured 2–3× on the 5M-page probe. Order
    // matters: block/comment alternatives come before the generic tag
    // so `<script …>` swallows its CONTENT, not just its tag; both
    // RE2 (DuckDB) and java.util.regex pick the leftmost-FIRST
    // alternative, so the fusion is engine-exact. Script/style are
    // separate alternatives (not `</\1>`) because RE2 has no
    // backreferences, and the oracle applies the SAME pattern.
    val noTags = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script[ \\t\\n\\r]*>" +
        "|<style[^>]*>.*?</style[ \\t\\n\\r]*>" +
        "|<!--.*?-->" +
        "|<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to))
      }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** Compression-ratio quality signal: `deflated_bytes / raw_bytes`
    * per document through the JDK's real zlib Deflater — the
    * scan-speed junk detector that catches what byte entropy alone
    * misses (long-range repetition: a page of repeated boilerplate has
    * HIGH byte entropy but compresses to nothing; encrypted/binary
    * junk stays near 1.0; natural prose sits in between — the
    * RefinedWeb/CCNet-style filter band). Per-partition map with ONE
    * Deflater instance reused across the partition's rows (native
    * zlib allocation is the expensive part); emits
    * `(raw_bytes, deflated_bytes, ratio)`. Empty docs report ratio
    * 1.0 (nothing to compress, nothing junk).
    */
  def compressionRatio(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("raw_bytes", LongType, nullable = false),
      StructField("deflated_bytes", LongType, nullable = false),
      StructField("ratio", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      // native zlib state must be released deterministically — a
      // Deflater left to finalization holds off-heap memory for as
      // long as GC ignores it, which on a 100 TB scan is a real leak
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](64 * 1024)
      rows.map { r =>
        val s = r.getString(idx)
        val raw = if (s == null) Array.emptyByteArray else s.getBytes("UTF-8")
        var out = 0L
        if (raw.nonEmpty) {
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          while (!deflater.finished())
            out += deflater.deflate(buf)
        }
        val ratio =
          if (raw.isEmpty) 1.0 else out.toDouble / raw.length.toDouble
        // Seq[Any]: Seq(Long, Long, Double) would numerically widen
        // the longs to Double and break the Row encoder's BIGINT
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq ++ Seq[Any](raw.length.toLong, out, ratio))
      }
    }(enc)
  }

  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("__id")).as("n_docs"))
      .orderBy(desc("n_occ"), col("tok"))
      .limit(k)
  }

  /** Per-(document, token) TF-IDF scores — tf(d,t) · ln(N / df(t)) with
    * raw counts, the classic corpus-wide keyword/quality weighting a
    * curation pipeline feeds into salient-term extraction. Shape: two
    * hash aggregates (both map-side partial) + one vocabulary-keyed
    * equi-join; the corpus size N enters as a one-row broadcast cross
    * join so the whole thing is ONE plan with no driver action. The
    * df side is vocabulary-sized, not corpus-sized, and nothing here
    * orders by the float score: each emitted value is a single ln
    * product (no float summation whose accumulation order could
    * differ across engines), so the score table is exactly
    * cross-engine comparable; top-k consumers order downstream.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfCounts = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfCounts, Seq("tok"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("tfidf"))
  }

  /** Bigram-LM document scoring — the perplexity-style quality filter
    * (KenLM-filter shape, add-one smoothed, trained on the corpus
    * itself): every bigram occurrence in a document scores
    * `-ln((c12 + 1) / (c1 + V))` against corpus-wide counts, and the
    * document's signal is the mean. Scale shape: two hash aggregates
    * over the corpus (bigram + unigram counts), two shuffle joins on
    * word keys from the non-deduplicated occurrence stream, the
    * vocabulary size V broadcast from a one-row aggregate — no
    * per-document state, no driver-side model. Scores round to 6
    * decimals (the q96 entropy cross-engine precedent).
    */
  def bigramLmScore(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val bg = df.select(col(idCol).as("doc_id"),
        explode(wordBigrams(col(textCol))).as("bg"))
      .select(col("doc_id"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = df.select(explode(tokens(col(textCol))).as("w1"))
    val c1 = uni.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = uni.agg(countDistinct("w1").as("v"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("c12") + 1).cast("double") /
          (col("c1") + col("v")).cast("double"))), 6).as("avg_nll_r"))
  }

  /** Rolling-hash fingerprint over tokens: fold
    * acc = rotl(acc, 5) XOR xxhash64(token), in token order. A cheap
    * order-sensitive document signature (unlike the set-based shingle
    * ops) — built-in `aggregate`, stays in codegen. Rotate-XOR instead
    * of the classic acc*31+h so the fold never arithmetically overflows
    * (Spark 4 runs ANSI mode by default, where long overflow throws;
    * bitwise ops are total).
    */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(xxhash64(t)))
}
