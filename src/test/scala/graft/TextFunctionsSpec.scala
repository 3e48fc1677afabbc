package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** clean_text parity with the reference's unit-tested goldens
  * (reference src/unit_tests/test_utils.py:8-21) plus kernel
  * properties the reference relies on implicitly.
  */
class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def clean(raw: String): String =
    Seq(raw).toDF("t").select(TextFunctions.cleanText(col("t"))).as[String].head()

  test("clean_text removes urls, mentions, hashtags (golden)") {
    assert(clean("Check this out http://example.com @user #awesome") ===
      "check this out")
  }

  test("clean_text removes punctuation and lowercases (golden)") {
    assert(clean("Hello, WORLD!!! How's it going?") ===
      "hello world hows it going")
  }

  test("clean_text strips all leading/trailing whitespace incl tab+newline (golden)") {
    assert(clean("    Text with spaces\t\n") === "text with spaces")
  }

  test("clean_text handles www URLs and keeps interior spacing intact") {
    assert(clean("go www.example.org now") === "go  now")
  }

  test("clean_text is idempotent over the corpus sample") {
    val docs = core.Tables.documents(spark, TestSpark.sfDir).limit(200)
    val once = TextFunctions.cleanText(col("text"))
    val twice = TextFunctions.cleanText(once)
    assert(docs.filter(not(once <=> twice)).count() === 0L)
  }

  test("punctuation constant is exactly Python string.punctuation (32 chars)") {
    assert(TextFunctions.asciiPunctuation.length === 32)
    assert(TextFunctions.asciiPunctuation ===
      (33 to 126).map(_.toChar).filterNot(_.isLetterOrDigit).mkString)
  }

  test("sentiment decode maps 1/0/else (reference src/predict.py:84-92)") {
    val out = Seq(1, 0, 7).toDF("p")
      .select(TextFunctions.decodeSentiment(col("p"))).as[String].collect()
    assert(out === Array("Positive sentiment", "Negative sentiment", "Unknown sentiment"))
  }

  test("codegen'd word shingles equal the HOF spelling over the corpus") {
    // the shingle kernel must reproduce the original
    // transform/sequence/element_at/concat_ws chain element-for-element
    def hofShingles(toks: org.apache.spark.sql.Column, n: Int) =
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
        .otherwise(array().cast("array<string>"))
    val docs = core.Tables.documents(spark, TestSpark.sfDir)
    for (n <- Seq(2, 3, 5)) {
      val toks = TextFunctions.tokens(col("text"))
      val diff = docs.filter(
        not(TextFunctions.wordShingles(toks, n) <=> hofShingles(toks, n)))
      assert(diff.count() === 0L, s"n=$n")
    }
    // edge cases: empty string, exactly n tokens, null input
    val edge = Seq(Some(""), Some("a b c"), Some("x"), None).toDF("t")
    val got = edge.select(TextFunctions.wordShingles(
      when(col("t").isNotNull, TextFunctions.tokens(col("t"))), 3))
      .as[Seq[String]].collect()
    assert(got(0) === Seq.empty || got(0) === Seq("")) // "" tokenizes to [""]
    assert(got(1) === Seq("a b c"))
    assert(got(2) === Seq.empty)
    assert(got(3) === Seq.empty) // NULL tokens -> empty, like the when() wrapper
  }

  test("word shingles: short docs yield empty array, not an error") {
    val out = Seq("one two", "a b c d").toDF("t")
      .select(TextFunctions.wordShingles(TextFunctions.tokens(col("t")), 3))
      .as[Seq[String]].collect()
    assert(out(0) === Seq.empty)
    assert(out(1) === Seq("a b c", "b c d"))
  }

  /** The regex spellings the byte-scan kernels replaced; kept here as
    * the equivalence reference. */
  private def pyStripRegex(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^\\s+|\\s+$", "")
  private def tokensRegex(c: org.apache.spark.sql.Column) =
    split(pyStripRegex(c), "\\s+")

  private val advStrings: Seq[String] = Seq(
    "", " ", "\t\n\u000B\f\r", "a", " a ", "\ta b\u000Bc\rd\f e\n",
    "no_whitespace", "  double  spaces  inside  ", "tab\tonly",
    "unicode \u00e9t\u00e9 caf\u00e9  ", "the and of to is",
    "der die das und ist", "el los las de y le la les et des",
    "theand of-to is. (is) [the] _the_ the1 1the the_ the",
    "\u00e9the the\u00e9 \u00e9the\u00e9 the")

  test("charset-trim pyStrip equals the regex spelling (corpus + adversarial)") {
    val adv = advStrings.toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val bad = df.filter(not(
        TextFunctions.pyStrip(col("text")) <=> pyStripRegex(col("text"))))
      assert(bad.count() === 0L)
    }
  }

  test("byte-scan tokens equal split(pyStrip, \\s+) (corpus + adversarial)") {
    val adv = advStrings.toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val bad = df.filter(not(
        TextFunctions.tokens(col("text")) <=> tokensRegex(col("text"))))
      assert(bad.count() === 0L)
    }
    // null propagates like the regex spelling
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.tokens(col("text"))).head()
    assert(n.isNullAt(0))
  }

  test("one-pass noise strip equals the three sequential regexp_replace passes") {
    val noiseAdv = Seq(
      "", " ", "plain text only",
      "http://a.b x", "www.a.b x", "xhttp://a y", "ahttpb", "awwwb", "wwhttpx",
      "http", "www", "http ", "www ", "htt p", "wwww", "#http", "@httpx",
      "x@httpyy z", "pre http://u post", "two http://a http://b urls",
      "@user x", "@@abc", "@a@b", "x@y#z", "@x#y", "#@abc", "#@#x", "x#@ay",
      "#tag y", "##x", "#x#y", "#ab@cd ef", "#ab@cd-x", "#ab@cdxy", "@#x y",
      "@#ab", "@#x", "#@x@y7abc", "#@x!abc", "#@x-abc", "#@xy7abc", "#@x abc", "#", "@", "#@",
      "a# b@ c", "é@x #é #aé @aé", "@é", "#é", "mid#tag mid@user",
      "@_x #_y", "@1 #2", "trail@ trail# ",
      "  #Tag @user http://x.com/a?b=1 words READ!!\t")
    val adv = (advStrings ++ noiseAdv).toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    val messy = docs.select(concat(lit("  #Tag @user http://x.com/a?b=1 "),
      col("text"), lit(" READ!!\t")).as("text"))
    val ref = (c: org.apache.spark.sql.Column) =>
      TextFunctions.stripHashtags(TextFunctions.stripMentions(TextFunctions.stripUrls(c)))
    Seq(adv, docs, messy).foreach { df =>
      val bad = df.filter(not(
        TextFunctions.stripNoise(col("text")) <=> ref(col("text")) &&
        TextFunctions.stripNoiseAndPunct(col("text")) <=>
          TextFunctions.dropPunctuation(ref(col("text")))))
      assert(bad.count() === 0L,
        bad.select(col("text"), TextFunctions.stripNoise(col("text")), ref(col("text")))
          .collect().mkString("\n").take(2000))
    }
    // null propagates
    val nl = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.stripNoise(col("text"))).head()
    assert(nl.isNullAt(0))
    // randomized: seeded strings over a hostile alphabet
    val rnd = new scala.util.Random(99)
    val alpha = "h t p w @ # a 7 _ - é ".split(" ").mkString + "htpw@#a"
    val fuzz = (1 to 4000).map { _ =>
      val len = rnd.nextInt(24)
      (1 to len).map(_ => alpha.charAt(rnd.nextInt(alpha.length))).mkString
    }.toDF("text")
    assert(fuzz.filter(not(
      TextFunctions.stripNoise(col("text")) <=> ref(col("text")) &&
      TextFunctions.stripNoiseAndPunct(col("text")) <=>
        TextFunctions.dropPunctuation(ref(col("text"))))).count() === 0L)
  }

  test("one-pass token stats equal the size/filter/aggregate HOF spelling") {
    val adv = (advStrings ++ Seq(
      "the THE The the. ,the the,", // stopword must be exact-equal, not substring
      "it is a an and or of to in the", // every stopword once
      "itit isis aa anan theandof", // near-misses longer than the words
      "a é the 𝄞 of", // multibyte + surrogate-pair tokens
      "seven77 eight888 is")).toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val toks = TextFunctions.tokens(col("text"))
      val checked = df.select(
        TextFunctions.tokenStats3(col("text")).as("st"),
        size(toks).cast("long").as("e_n"),
        TextFunctions.stopwordCount(toks).cast("long").as("e_stop"),
        TextFunctions.tokenCharSum(toks).cast("long").as("e_chars"))
      val bad = checked.filter(not(
        element_at(col("st"), 1) <=> col("e_n") &&
        element_at(col("st"), 2) <=> col("e_stop") &&
        element_at(col("st"), 3) <=> col("e_chars")))
      assert(bad.count() === 0L, checked.collect().mkString("\n").take(2000))
    }
    // null propagates
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.tokenStats3(col("text"))).head()
    assert(n.isNullAt(0))
  }

  test("one-pass marker counts equal the four regexp_extract_all scans") {
    import graft.operators.TextQueries._
    val mc = TextFunctions.markerCounts(col("text"), langMarkerSets) // q24's binding
    val adv = advStrings.toDF("text")
    val docs = core.Tables.documents(spark, TestSpark.sfDir).select("text")
    Seq(adv, docs).foreach { df =>
      val checked = df.select(
        mc.as("mc"),
        TextFunctions.markerHits(col("text"), enMarkers).as("e0"),
        TextFunctions.markerHits(col("text"), frMarkers).as("e1"),
        TextFunctions.markerHits(col("text"), esMarkers).as("e2"),
        TextFunctions.markerHits(col("text"), deMarkers).as("e3"))
      val bad = checked.filter(not(
        element_at(col("mc"), 1) <=> col("e0") &&
        element_at(col("mc"), 2) <=> col("e1") &&
        element_at(col("mc"), 3) <=> col("e2") &&
        element_at(col("mc"), 4) <=> col("e3")))
      assert(bad.count() === 0L)
    }
  }

}
