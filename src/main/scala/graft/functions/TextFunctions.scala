package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, ShingleUtil, TextKernelUtil}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}

/** Column-level text kernels: Spark-first re-expressions of the
  * reference's `clean_text` (reference src/utils.py:5-10, applied at
  * src/preprocess.py:48 and src/predict.py:81) plus the text-analysis
  * extensions a training-data pipeline needs (token stats, quality
  * scoring, language guessing, fingerprinting).
  *
  * Everything is composed from built-in column functions and byte-scan
  * kernels bound as static calls (ColumnBridge.call) — no UDFs — so
  * the whole chain stays inside WholeStageCodegen and is equally usable
  * in batch and Structured Streaming plans.
  */
object TextFunctions {

  /** Python's string.punctuation — the exact 32-char set the reference
    * deletes via str.translate (reference src/utils.py:9). */
  val asciiPunctuation: String = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"

  /** F1: strip URLs (reference src/utils.py:6). Reference spelling for
    * the spec — query paths use stripNoise. */
  def stripUrls(c: Column): Column = regexp_replace(c, "http\\S+|www\\S+", "")

  /** F2: strip @mentions (reference src/utils.py:7). Reference
    * spelling for the spec. */
  def stripMentions(c: Column): Column = regexp_replace(c, "@\\w+", "")

  /** F3: strip #hashtags (reference src/utils.py:8). Reference
    * spelling for the spec. */
  def stripHashtags(c: Column): Column = regexp_replace(c, "#\\w+", "")

  /** Drop tables for the noise scan, built once so every plan binds
    * the same references (see ColumnBridge.table). */
  private val keepAll = TextKernelUtil.punctTable("")
  private val dropPunct = TextKernelUtil.punctTable(asciiPunctuation)

  /** F1–F3 in ONE codegen'd byte scan (TextKernelUtil.stripNoise):
    * equality with the three sequential regexp_replace passes is
    * property-proven in TextFunctionsSpec — those were three full
    * java.util.regex passes per row, the dominant cost of q20/q25. */
  def stripNoise(c: Column): Column =
    ColumnBridge.call(TextKernelUtil, "stripNoise", StringType)(
      c, ColumnBridge.table(keepAll))

  /** F1–F4 fused: the noise scan with the punctuation translate-delete
    * applied to each surviving byte — per-character deletions commute
    * with the emit order, so this equals
    * dropPunctuation(stripNoise(c)) exactly (property-proven). */
  def stripNoiseAndPunct(c: Column): Column =
    ColumnBridge.call(TextKernelUtil, "stripNoise", StringType)(
      c, ColumnBridge.table(dropPunct))

  /** F4: delete ASCII punctuation (reference src/utils.py:9). */
  def dropPunctuation(c: Column): Column = translate(c, asciiPunctuation, "")

  /** The 6-char java-\s set: [ \t\n\x0B\f\r]. */
  private val wsChars = " \t\n\u000B\f\r"

  /** Python str.strip() parity: strips ALL leading/trailing whitespace
    * including tab/newline — Spark's one-arg trim() strips spaces only
    * (golden case at reference src/unit_tests/test_utils.py:18-21).
    * Spelled as charset-trim rather than
    * regexp_replace(c, "^\\s+|\\s+$", "") — identical for every input
    * (both remove exactly the leading and trailing [ \t\n\x0B\f\r]
    * runs; TextFunctionsSpec proves it) without the per-row regex. */
  def pyStrip(c: Column): Column = trim(c, wsChars)

  /** F1–F5 chained in reference order (src/utils.py:5-10); F1–F4 run
    * as the fused byte-scan kernel. */
  def cleanText(c: Column): Column =
    pyStrip(lower(stripNoiseAndPunct(c)))

  /** F6: label decode — 1→Positive, 0→Negative, else Unknown
    * (reference src/predict.py:84-92). */
  def decodeSentiment(pred: Column): Column =
    when(pred === 1, "Positive sentiment")
      .when(pred === 0, "Negative sentiment")
      .otherwise("Unknown sentiment")

  /** Whitespace tokenizer over a python-stripped string. Codegen'd
    * byte-scan kernel (TextKernelUtil.wsTokens), output identical to
    * split(pyStrip(c), "\\s+") including the [""] result for strings
    * that strip to empty (TextFunctionsSpec proves equality). */
  def tokens(c: Column): Column =
    ColumnBridge.call(TextKernelUtil, "wsTokens",
      ArrayType(StringType, containsNull = false))(c)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Tiny embedded stopword list for quality scoring. */
  val qualityStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** qualityStopwords packed once for tokenStats3; an invalid list
    * fails at class initialization, not per task. */
  private val stopPacked = TextKernelUtil.compile(Seq(qualityStopwords))._1

  /** Reference spelling, kept for the kernel equivalence spec: the
    * filter lambda is interpreted CodegenFallback — query paths use
    * tokenStats3 instead. */
  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(qualityStopwords: _*)))

  /** Sum of token lengths (for avg-word-length style metrics).
    * Reference spelling for the spec — interpreted CodegenFallback,
    * see tokenStats3. */
  def tokenCharSum(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)

  /** [n_tokens, n_stop, char_sum] in ONE codegen'd byte scan over the
    * raw text — no token array materialized, no interpreted HOF lambda
    * (TextKernelUtil.tokenStats; equality with the size/filter/aggregate
    * spelling proven in TextFunctionsSpec). */
  def tokenStats3(c: Column): Column =
    ColumnBridge.call(TextKernelUtil, "tokenStats",
      ArrayType(LongType, containsNull = false))(c, ColumnBridge.table(stopPacked))

  /** Content-defined document fingerprint: md5 over the cleaned text.
    * Stable across engines (unlike murmur/xxhash whose seeds differ),
    * so it doubles as the exact-dedup key. */
  def fingerprint(c: Column): Column = md5(cleanText(c))

  /** Word n-gram shingles from a token array. Codegen'd tight loop
    * (ShingleUtil.shingles) — the HOF spelling
    * (transform + sequence + element_at + concat_ws) is interpreted
    * CodegenFallback and dominated the dedup queries; output is
    * identical, short/NULL docs yield an empty array. */
  def wordShingles(toks: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    ColumnBridge.call(ShingleUtil, "shingles", ArrayType(StringType, containsNull = false),
      propagateNull = false)(toks, lit(n))
  }

  /** Per-set whole-word hit counts of the marker word sets, all sets in
    * one byte scan (TextKernelUtil.markerCounts; equal to markerHits per
    * set, proven in TextFunctionsSpec). The sets must be ASCII \w+ words
    * of 1..7 bytes, disjoint across sets — checked here, at plan
    * construction. */
  def markerCounts(c: Column, sets: Seq[Seq[String]]): Column = {
    val (words, setIdx, nSets) = TextKernelUtil.compile(sets)
    ColumnBridge.call(TextKernelUtil, "markerCounts",
      ArrayType(IntegerType, containsNull = false))(
      c, ColumnBridge.table(words), ColumnBridge.table(setIdx), lit(nSets))
  }

  /** Language-marker hit count: number of whole-word matches of any of
    * the marker words. Reference spelling for the markerCounts spec. */
  def markerHits(c: Column, markers: Seq[String]): Column =
    size(regexp_extract_all(c, lit("\\b(" + markers.mkString("|") + ")\\b"), lit(0)))
}
