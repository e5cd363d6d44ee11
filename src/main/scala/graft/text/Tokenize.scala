package graft.text

import java.text.{BreakIterator, Normalizer}
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization + tokenization.
  *
  * Reference: comet normalizes NFKC + lowercase (`/root/reference/
  * bm25_index.go:154-156`) and tokenizes with UAX#29 word segmentation
  * (`bm25_index.go:159-166`).
  *
  * Two tokenizers are provided:
  *  - [[Tokenize.simple]]: pure-Catalyst `[a-z0-9]+` extraction after
  *    lowercasing — codegen'd, shuffle-free, and exactly reproducible in
  *    any SQL engine (this is what the DuckDB oracle uses). On the ASCII
  *    corpora it is identical to UAX#29.
  *  - [[Tokenize.uax29]]: JDK `BreakIterator` (implements UAX#29) + NFKC
  *    `Normalizer` UDF — full Unicode parity with the reference; used when
  *    bit-parity on non-ASCII text matters. A UDF costs boxing, so at scale
  *    prefer `simple` unless the corpus demands UAX#29.
  */
object Tokenize {

  /** A tokenizer usable on both sides of a retrieval pipeline: as a column
    * expression over document text AND as a driver-side function over query
    * strings. BM25 stores the build-time tokenizer so queries are always
    * tokenized the same way as the indexed documents (a corpus built with
    * [[Simple]] must not be searched with UAX#29 tokens — terms like
    * "don't" or "3.14" would never match their split postings). */
  sealed trait Tokenizer extends Serializable {
    def column(text: Column): Column
    def tokens(s: String): Seq[String]
  }

  /** Column + string forms of [[simple]]. */
  case object Simple extends Tokenizer {
    def column(text: Column): Column = simple(text)
    private val word = "[a-z0-9]+".r
    def tokens(s: String): Seq[String] =
      if (s == null) Seq.empty
      else word.findAllIn(s.toLowerCase(Locale.ROOT)).toSeq
  }

  /** Column + string forms of [[uax29]]. */
  case object Uax29 extends Tokenizer {
    def column(text: Column): Column = uax29(text)
    def tokens(s: String): Seq[String] = uax29Tokens(s)
  }

  /** Lowercase + extract `[a-z0-9]+` runs. Equivalent to UAX#29 on
    * space-separated ASCII. Native codegen'd kernel
    * ([[graft.expr.TextTokens]]) — the built-in
    * `filter(split(regexp_replace(...)))` form is an interpreted HOF and
    * dominated BM25 index builds; see [[simpleHof]] for the reference
    * pipeline it must stay bit-identical to (ExprKernelSpec). */
  def simple(text: Column): Column = graft.expr.TextTokens(text)

  /** The pre-kernel built-in-functions form of [[simple]]; kept as the
    * parity oracle for tests. */
  def simpleHof(text: Column): Column = {
    val cleaned = regexp_replace(lower(text), "[^a-z0-9]+", " ")
    filter(split(trim(cleaned), " "), t => length(t) > 0)
  }

  /** NFKC normalization + lowercase (bm25_index.go:154-156). */
  def normalizeString(s: String): String =
    Normalizer.normalize(s, Normalizer.Form.NFKC).toLowerCase(Locale.ROOT)

  /** UAX#29 word segmentation, keeping only segments containing a letter or
    * digit (matches uax29 "words" semantics used by the reference). */
  def uax29Tokens(s: String): Seq[String] = {
    if (s == null) return Seq.empty
    val norm = normalizeString(s)
    val bi = BreakIterator.getWordInstance(Locale.ROOT)
    bi.setText(norm)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = bi.first()
    var end = bi.next()
    while (end != BreakIterator.DONE) {
      val tok = norm.substring(start, end)
      if (tok.exists(c => Character.isLetterOrDigit(c))) {
        // JDK's BreakIterator keeps some hyphenated compounds together;
        // UAX#29 (and the reference's uax29 lib) splits them — '-' is not
        // MidLetter. Post-split on anything outside letters/digits and the
        // UAX#29 mid-word set (' and .).
        tok.split("[^\\p{L}\\p{N}'.]+").foreach { p =>
          if (p.exists(Character.isLetterOrDigit)) emitScriptAware(p, out)
        }
      }
      start = end
      end = bi.next()
    }
    out.toSeq
  }

  /** Strict-UAX#29 CJK segmentation on top of the JDK iterator: Han and
    * Hiragana characters have no word-join rule in UAX#29 (WB999 — every
    * ideograph is its own segment; only Katakana joins, WB13, and Hangul
    * syllables are ALetter), but the JDK's BreakIterator clusters Han and
    * Hiragana runs. The reference's tokenizer is the uax29 library
    * (bm25_index.go:158-166), which follows the spec — so split those two
    * scripts to single-character tokens and keep everything else as the
    * iterator segmented it. */
  private def emitScriptAware(
      p: String, out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val sb = new java.lang.StringBuilder
    def flush(): Unit = {
      if (sb.length > 0) {
        val run = sb.toString
        if (run.exists(Character.isLetterOrDigit)) out += run
        sb.setLength(0)
      }
    }
    var i = 0
    while (i < p.length) {
      val cp = p.codePointAt(i)
      val sc = Character.UnicodeScript.of(cp)
      if (sc == Character.UnicodeScript.HAN ||
          sc == Character.UnicodeScript.HIRAGANA) {
        flush()
        out += new String(Character.toChars(cp))
      } else sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    flush()
  }

  val uax29Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => uax29Tokens(s))

  def uax29(text: Column): Column = uax29Udf(text)
}
