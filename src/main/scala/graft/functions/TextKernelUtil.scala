package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte-scan text kernels replacing per-row java.util.regex passes.
  *
  * The tokenizer and marker counter below are exact re-implementations
  * of regex spellings whose character classes are pure ASCII (java
  * `\s` = [ \t\n\x0B\f\r], java `\w` = [a-zA-Z0-9_] — multi-byte
  * UTF-8 units are ≥ 0x80, so byte-level scanning sees exactly the
  * same boundaries the regex engine sees). Measured at sf0.1 the
  * regex tokenization cost ~0.13 s per evaluation over 5k docs and
  * feeds eight queries; the marker counter collapses q24's four
  * full-text regex scans into one. Equivalence with the regex
  * spellings is property-proven in TextFunctionsSpec over the corpus
  * plus adversarial inputs.
  */
object TextKernelUtil {
  /** java \s */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** java \w */
  @inline private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  private val EmptyString = UTF8String.fromString("")

  /** split(regexp_replace(s, "^\s+|\s+$", ""), "\s+") — strip both
    * ends, then maximal non-whitespace runs; a string that strips to
    * empty yields [""] exactly like java "".split(re, -1). */
  def wsTokens(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var lo = 0
    while (lo < n && isWs(Platform.getByte(base, off + lo))) lo += 1
    var hi = n
    while (hi > lo && isWs(Platform.getByte(base, off + hi - 1))) hi -= 1
    if (lo >= hi) return new GenericArrayData(Array[Any](EmptyString))
    val out = new java.util.ArrayList[Any](16)
    var i = lo
    while (i < hi) {
      // stripped interior: i starts on a non-ws byte
      var j = i + 1
      while (j < hi && !isWs(Platform.getByte(base, off + j))) j += 1
      val len = j - i
      val b = new Array[Byte](len)
      Platform.copyMemory(base, off + i, b, Platform.BYTE_ARRAY_OFFSET, len)
      out.add(UTF8String.fromBytes(b))
      i = j + 1
      while (i < hi && isWs(Platform.getByte(base, off + i))) i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Pack an ASCII word of 1..7 bytes into a long (length-tagged). */
  private def pack(bytes: Array[Byte]): Long = {
    require(bytes.length >= 1 && bytes.length <= 7, "marker words must be 1..7 bytes")
    var v = bytes.length.toLong
    var i = 0
    while (i < bytes.length) {
      v |= (bytes(i) & 0xFFL) << (8 * (i + 1))
      i += 1
    }
    v
  }

  /** Compile marker sets into (packed word, set index) arrays. Words
    * must be ASCII \w+ and pairwise distinct across sets. */
  def compile(sets: Seq[Seq[String]]): (Array[Long], Array[Int], Int) = {
    val words = new scala.collection.mutable.ArrayBuffer[Long]
    val idx = new scala.collection.mutable.ArrayBuffer[Int]
    sets.zipWithIndex.foreach { case (set, si) =>
      set.foreach { w =>
        val b = w.getBytes("US-ASCII")
        words += pack(b)
        idx += si
      }
    }
    require(words.distinct.size == words.size, "marker words must be disjoint across sets")
    (words.toArray, idx.toArray, sets.size)
  }

  /** One-pass token statistics over the SAME token boundaries as
    * wsTokens: [token count, stopword hits, char sum], where "char"
    * counts code points exactly like Spark's length() (UTF-8 lead
    * bytes) and a stopword hit is exact string equality against the
    * packed word list (same 1..7-byte packing as the marker kernel).
    * The strip-to-empty edge mirrors wsTokens' [""] result: one token,
    * zero stopwords, zero chars. Equivalent to
    * (size(toks), size(filter(toks, isin(stop))), aggregate(transform(
    * toks, length), 0, +)) over toks = wsTokens(s) — the HOF spelling
    * is interpreted CodegenFallback and re-walks the token array three
    * times — except that char_sum accumulates in a long where the HOF's
    * int accumulator would overflow-throw under ANSI (needs a single
    * document of ≥ 2³¹ chars; unreachable, and wider-exact is the safe
    * direction). Property-proven equal in TextFunctionsSpec. */
  def tokenStats(s: UTF8String, stopPacked: Array[Long]): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var lo = 0
    while (lo < n && isWs(Platform.getByte(base, off + lo))) lo += 1
    var hi = n
    while (hi > lo && isWs(Platform.getByte(base, off + hi - 1))) hi -= 1
    if (lo >= hi) return new GenericArrayData(Array[Any](1L, 0L, 0L))
    var nTok = 0L
    var nStop = 0L
    var chars = 0L
    var i = lo
    while (i < hi) {
      // stripped interior: i starts on a non-ws byte
      var j = i
      var v = 0L
      var len = 0
      while (j < hi && !isWs(Platform.getByte(base, off + j))) {
        val b = Platform.getByte(base, off + j)
        if ((b & 0xC0) != 0x80) chars += 1 // UTF-8 lead byte = one code point
        if (len < 7) v |= (b & 0xFFL) << (8 * (len + 1))
        len += 1
        j += 1
      }
      nTok += 1
      if (len <= 7) {
        v |= len.toLong
        var w = 0
        while (w < stopPacked.length) {
          if (stopPacked(w) == v) { nStop += 1; w = stopPacked.length }
          else w += 1
        }
      }
      i = j + 1
      while (i < hi && isWs(Platform.getByte(base, off + i))) i += 1
    }
    new GenericArrayData(Array[Any](nTok, nStop, chars))
  }

  /** Bitmap of ASCII bytes to drop at emit time (the translate-delete
    * pass of clean_text). Deleting punctuation AFTER the noise strip
    * commutes with emitting survivors during it: both are per-
    * character deletions over the noise-stripped stream. Bytes ≥ 0x80
    * (multi-byte UTF-8) index the upper half, which is always false —
    * translate passes non-mapped characters through. */
  def punctTable(chars: String): Array[Boolean] = {
    val t = new Array[Boolean](256)
    chars.foreach { c => require(c < 128, s"non-ASCII punct '$c'"); t(c) = true }
    t
  }

  /** One byte scan reproducing the three sequential regexp_replace
    * deletions of clean_text — regexp_replace(regexp_replace(
    * regexp_replace(s, "http\S+|www\S+", ""), "@\w+", ""), "#\w+", "")
    * — exactly (TextFunctionsSpec proves equality per pass-composition
    * over corpus + adversarial inputs), dropping every surviving byte
    * whose `drop` entry is set (see punctTable). Every character class
    * and literal involved is pure ASCII, so byte-level scanning sees
    * the regex engine's boundaries (multi-byte UTF-8 units are ≥ 0x80:
    * non-\s, non-\w).
    *
    * Why one scan is enough (the pass interactions are bounded):
    *  - a URL match's greedy \S+ always extends to the END of its
    *    non-whitespace run, so pass 1 just truncates each run at the
    *    leftmost URL start — later passes see truncated runs and no
    *    new intra-run adjacency is ever created by pass 1;
    *  - a mention match's greedy \w+ means the character following any
    *    pass-2 deletion is non-\w, so pass 2 can never create a new
    *    mention, and '@' decisions are local to the pass-1 stream;
    *  - for the same reason a '#' followed by a deleted mention stays
    *    a lone '#' after pass 2 ("#@x@y7abc" → pass 2 → "#"), so pass 3
    *    deletes exactly the '#' that is directly followed by a \w byte;
    *  - pass 3 runs AFTER pass 2, so text joined by a hashtag deletion
    *    is never re-examined for mentions ("@#x" → "@"), which the
    *    left-to-right single scan reproduces for free. */
  def stripNoise(s: UTF8String, drop: Array[Boolean]): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (isWs(b)) {
        if (!drop(b & 0xFF)) { out(o) = b; o += 1 }
        i += 1
      } else {
        var re = i + 1
        while (re < n && !isWs(Platform.getByte(base, off + re))) re += 1
        // pass 1: truncate the run at the leftmost URL start
        var eff = re
        var j = i
        while (j < eff) {
          val c = Platform.getByte(base, off + j)
          if (c == 'h' && j + 4 < re &&
              Platform.getByte(base, off + j + 1) == 't' &&
              Platform.getByte(base, off + j + 2) == 't' &&
              Platform.getByte(base, off + j + 3) == 'p') eff = j
          else if (c == 'w' && j + 3 < re &&
              Platform.getByte(base, off + j + 1) == 'w' &&
              Platform.getByte(base, off + j + 2) == 'w') eff = j
          else j += 1
        }
        // passes 2+3 within the truncated run
        var p = i
        while (p < eff) {
          val c = Platform.getByte(base, off + p)
          if ((c == '@' || c == '#') && p + 1 < eff &&
              isWord(Platform.getByte(base, off + p + 1))) {
            p += 1 // a mention or hashtag: drop the marker and its \w run
            while (p < eff && isWord(Platform.getByte(base, off + p))) p += 1
          } else {
            if (!drop(c & 0xFF)) { out(o) = c; o += 1 }
            p += 1
          }
        }
        i = re // [eff, re) is the deleted URL tail
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** java.util.regex \b neighbor test: the default (non-UNICODE_
    * CHARACTER_CLASS) Bound node treats '_' and any Unicode
    * letter-or-digit as a word character — deliberately WIDER than \w.
    * ASCII neighbors of a maximal \w-run are never letters/digits (or
    * the run would extend), so only multi-byte neighbors can reject. */
  @inline private def isBoundWord(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** Decode the UTF-8 code point starting at byte i. */
  private def codePointAt(base: AnyRef, off: Long, i: Int): Int = {
    val b0 = Platform.getByte(base, off + i) & 0xFF
    if (b0 < 0x80) b0
    else if (b0 < 0xE0)
      ((b0 & 0x1F) << 6) | (Platform.getByte(base, off + i + 1) & 0x3F)
    else if (b0 < 0xF0)
      ((b0 & 0x0F) << 12) | ((Platform.getByte(base, off + i + 1) & 0x3F) << 6) |
        (Platform.getByte(base, off + i + 2) & 0x3F)
    else
      ((b0 & 0x07) << 18) | ((Platform.getByte(base, off + i + 1) & 0x3F) << 12) |
        ((Platform.getByte(base, off + i + 2) & 0x3F) << 6) |
        (Platform.getByte(base, off + i + 3) & 0x3F)
  }

  /** Decode the UTF-8 code point ending just before byte i (i > 0). */
  private def codePointBefore(base: AnyRef, off: Long, i: Int): Int = {
    var j = i - 1
    while (j > 0 && (Platform.getByte(base, off + j) & 0xC0) == 0x80) j -= 1
    codePointAt(base, off, j)
  }

  /** Per-set counts of whole-word marker matches — exactly
    * size(regexp_extract_all(s, "\b(w1|w2|…)\b", 0)) per set, in one
    * scan: a \b(w)\b match is precisely a maximal \w-run equal to w
    * whose neighboring code points are not java-\b word characters
    * (the trailing \b rejects prefix matches, runs are disjoint so
    * counts are independent across disjoint sets). */
  def markerCounts(s: UTF8String, words: Array[Long], setIdx: Array[Int],
      nSets: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val counts = new Array[Int](nSets)
    var i = 0
    while (i < n) {
      if (isWord(Platform.getByte(base, off + i))) {
        var j = i + 1
        while (j < n && isWord(Platform.getByte(base, off + j))) j += 1
        val len = j - i
        val boundaryOk =
          (i == 0 || !isBoundWord(codePointBefore(base, off, i))) &&
          (j == n || !isBoundWord(codePointAt(base, off, j)))
        if (len <= 7 && boundaryOk) {
          var v = len.toLong
          var k = 0
          while (k < len) {
            v |= (Platform.getByte(base, off + i + k) & 0xFFL) << (8 * (k + 1))
            k += 1
          }
          var w = 0
          while (w < words.length) {
            if (words(w) == v) { counts(setIdx(w)) += 1; w = words.length }
            else w += 1
          }
        }
        i = j
      } else i += 1
    }
    val out = new Array[Any](nSets)
    var c = 0
    while (c < nSets) { out(c) = counts(c); c += 1 }
    new GenericArrayData(out)
  }
}
