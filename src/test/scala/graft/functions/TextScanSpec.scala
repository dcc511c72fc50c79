package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the byte-pass text natives ([[TextScan]]): each
  * must equal, on every generated input, the Spark expression or Java
  * algorithm it replaced —
  *  - `normText` vs `trim(regexp_replace(lower(c), '\s+', ' '))`;
  *  - `langId` vs the stopword-hit `filter`/`array_contains` lambdas and
  *    the struct `array_max`;
  *  - the quality gate vs `split` + `array_distinct` + `round(·, 6)`;
  *  - `hv` vs `md5_hash60_array(shingle_strings(c))` and the `String`
  *    shingler (`toLowerCase(ROOT)`/`trim`/`split("\\s+")` + a
  *    `LinkedHashSet`), element order included;
  *  - the word-count filter vs `size(shingle_strings(c)) > 0`.
  *
  * Texts mix all six `\s` bytes, other C0 controls, NBSP, U+0085, U+2028,
  * `İ`, `ß`, capital and final sigma, stopwords in upper case, invalid
  * UTF-8 (fed in as binary cast to string), and empty, whitespace-only
  * and null text.
  */
class TextScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val pieces: Array[String] = Array(
    " ", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\r\n", " \u000B ",
    "\u0001", "\u001C", "\u001F", "\u0000", " ", "\u0085", " ",
    "a", "b", "ab", "Ab", "xyz", "XYZ", "the", "The", "THE", "of", "and",
    "der", "Die", "und", "le", "LA", "les", "est", "dans",
    "İ", "ß", "Σ", "ΣΑΣ", "σ", "ς", "é", "É", "日本", "😀")

  // malformed sequences: bad lead, overlong, surrogate, truncated,
  // > U+10FFFF, lone continuation, lead before ASCII
  private val invalid: Array[Array[Byte]] = Array(
    Array(0xff), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80), Array(0xe2, 0x82),
    Array(0xf4, 0x90, 0x80, 0x80), Array(0x80), Array(0xc3, 0x41),
    Array(0xe0, 0x80, 0x80), Array(0xf0, 0x80, 0x80, 0x80))
    .map(_.map(_.toByte))

  /** (id, bytes): random concatenations, plus fixed edge cases. */
  private lazy val texts: Seq[(Long, Array[Byte])] = {
    val r = new scala.util.Random(20261020L)
    val fixed = Seq("", " ", "\t\n\u000B\f\r", "\u0001", " a ", "a", "a b",
      "a b c", "the the the the the", "\u000Ba b c\u000B", "\u0001 a b c \u001F",
      "İ İ İ", "ΣΑΣ ΣΑΣ ΣΑΣ", "der die das und le la",
      "a b a", "a b a b a b", "a b c a b c a b c").map(_.getBytes(UTF_8))
    val random = Seq.fill(4000) {
      val out = new java.io.ByteArrayOutputStream
      val n = r.nextInt(14)
      var i = 0
      while (i < n) {
        if (r.nextInt(12) == 0) out.write(invalid(r.nextInt(invalid.length)))
        else out.write(pieces(r.nextInt(pieces.length)).getBytes(UTF_8))
        // mostly space-separated words, so shingles repeat and gates pass
        if (r.nextInt(3) > 0) out.write(' ')
        i += 1
      }
      out.toByteArray
    }
    (fixed ++ random).zipWithIndex.map { case (b, i) => (i.toLong, b) }
  }

  /** The texts as a string column `s` (binary cast: invalid bytes kept),
    * one null row included.
    */
  private def df: DataFrame = {
    import spark.implicits._
    texts.map { case (i, b) => (i, Option(b)) }.:+((-1L, Option.empty[Array[Byte]]))
      .toDF("id", "b").select(col("id"), col("b").cast("string").as("s"))
  }

  /** Ids where `a` and `b` differ (null-safe). */
  private def mismatches(d: DataFrame, a: Column, b: Column): Seq[Long] =
    d.filter(!(a <=> b)).select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def show(ids: Seq[Long]): String = ids.take(5).map { i =>
    texts.find(_._1 == i).map(t => t._2.map(b => f"${b & 0xff}%02x").mkString(" "))
      .getOrElse("null")
  }.mkString("\n")

  private val stop = graft.pipeline.TextAnalysis.stopwords

  private def oldNorm(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))
  private def oldToks(c: Column): Column = split(oldNorm(c), " ")

  test("the generated texts include invalid UTF-8") {
    val bad = df.filter(expr("NOT is_valid_utf8(s)")).count()
    assert(bad > 100, s"only $bad invalid texts")
  }

  test("normText equals trim(regexp_replace(lower(c), '\\s+', ' '))") {
    val bad = mismatches(df, TextScan.normText(col("s")).cast("binary"),
      oldNorm(col("s")).cast("binary"))
    assert(bad.isEmpty, s"${bad.size} mismatches, first:\n${show(bad)}")
  }

  test("langId equals the stopword-hit lambdas and struct array_max") {
    val toks = oldToks(col("s"))
    val old = array_max(array(stop.toSeq.sortBy(_._1).map { case (code, list) =>
      struct(size(filter(toks, t => array_contains(lit(list.toArray), t))).as("hits"),
        lit(code).as("code"))
    }: _*)).getField("code")
    val d = df
    val bad = mismatches(d, graft.pipeline.TextAnalysis.langId(col("s")), old)
    assert(bad.isEmpty, s"${bad.size} mismatches, first:\n${show(bad)}")
    // every language wins somewhere, so the argmax is exercised
    val won = d.select(graft.pipeline.TextAnalysis.langId(col("s"))).distinct().count()
    assert(won == 3)
  }

  test("quality gate equals split + array_distinct + round(·, 6), boundaries included") {
    val toks = oldToks(col("s"))
    // (1, 0.6666668) and (1, 0.3333332) sit where rounding flips the
    // compare for ratios 2/3 and 1/3; (1, 1.0) needs all-distinct tokens
    for ((minTok, minRatio) <- Seq((5, 0.3), (1, 0.6666668), (1, 0.3333332),
        (2, 0.5), (1, 1.0), (0, 0.0))) {
      val old = size(toks) >= minTok &&
        round(size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6) >=
          minRatio
      val bad = mismatches(df, TextScan.qualityGate(col("s"), minTok, minRatio), old)
      assert(bad.isEmpty, s"($minTok, $minRatio): ${bad.size} mismatches, first:\n${show(bad)}")
    }
  }

  /** The `String` shingler `ShingleStrings` ran before the byte scanner. */
  private def refShingles(text: String, n: Int): Seq[String] = {
    val t = text.toLowerCase(Locale.ROOT).trim
    if (t.isEmpty) return Nil
    val words = t.split("\\s+")
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i <= words.length - n) { seen.add(words.slice(i, i + n).mkString(" ")); i += 1 }
    scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala.toSeq
  }

  private def refHash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.take(8).foldLeft(0L)((h, b) => (h << 8) | (b & 0xffL)) >>> 4
  }

  test("hv and shingle_strings equal the String shingler and md5_hash60_array, in order") {
    for (n <- Seq(1, 2, 3)) {
      val got = df.filter(col("s").isNotNull).select(col("id"),
        col("s").cast("binary"),
        TextScan.shingleHashes(col("s"), n),
        TextHashes.md5Hash60Array(TextHashes.shingleStrings(col("s"), n)),
        TextHashes.shingleStrings(col("s"), n)).collect()
      assert(got.length == texts.size)
      got.foreach { r =>
        val text = new String(r.getAs[Array[Byte]](1), UTF_8)
        val ref = refShingles(text, n)
        val hv = r.getSeq[Long](2)
        assert(r.getSeq[String](4) == ref, s"n=$n id=${r.getLong(0)}: strings")
        assert(hv == ref.map(refHash60), s"n=$n id=${r.getLong(0)}: hv")
        assert(hv == r.getSeq[Long](3), s"n=$n id=${r.getLong(0)}: md5_hash60_array")
      }
    }
    val nulls = df.filter(col("s").isNull)
      .select(TextScan.shingleHashes(col("s")).isNull).collect()
    assert(nulls.map(_.getBoolean(0)).toSeq == Seq(true))
  }

  test("word-count filter keeps exactly the rows with a shingle") {
    for (n <- Seq(1, 2, 3, 4)) {
      val bad = mismatches(df, TextScan.wordCount(col("s")) >= n,
        size(TextHashes.shingleStrings(col("s"), n)) > 0)
      assert(bad.isEmpty, s"n=$n: ${bad.size} mismatches, first:\n${show(bad)}")
      val kept = df.filter(TextScan.wordCount(col("s")) >= n).count()
      assert(kept == texts.count(t => refShingles(new String(t._2, UTF_8), n).nonEmpty))
    }
  }

  test("validUtf8 accepts exactly what Java's decoder round-trips") {
    val all = texts.map(_._2) ++ invalid ++
      (0 until 256).map(b => Array(b.toByte)) ++
      (0xc0 until 0x100).flatMap(a => Seq(0x80, 0x9f, 0xa0, 0xbf, 0x41).map(b =>
        Array(a.toByte, b.toByte, 0x80.toByte, 0x80.toByte)))
    all.foreach { b =>
      val roundTrips = java.util.Arrays.equals(new String(b, UTF_8).getBytes(UTF_8), b)
      assert(TextScan.validUtf8(b, b.length) == roundTrips,
        b.map(x => f"${x & 0xff}%02x").mkString(" "))
    }
  }
}
