package graft

import graft.functions.{MinHash, SimHash, TextFunctions => T}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite with SparkTest {

  private def one(colExpr: org.apache.spark.sql.Column, input: String): Any = {
    import spark.implicits._
    Seq(input).toDF("s").select(colExpr).collect()(0).get(0)
  }

  test("camelToSnake matches the reference's semantics on camelCase input") {
    // reference: re.sub(r'(?<!^)(?=[A-Z])', '_', s).upper()
    // (data_seoul_3_csv.py:110-111)
    assert(one(T.camelToSnake(col("s")), "airPollutionMeasure") ==
      "AIR_POLLUTION_MEASURE")
    assert(one(T.camelToSnake(col("s")), "stationName2Info") ==
      "STATION_NAME2_INFO")
    assert(one(T.camelToSnake(col("s")), "simple") == "SIMPLE")
  }

  test("paddedName reproduces NLDATA_/COL_ zero-pad naming") {
    assert(one(T.paddedName("NLDATA_", lit(23), 6), "") == "NLDATA_000023")
    assert(one(T.paddedName("COL_", lit(7), 3), "") == "COL_007")
  }

  test("normalizeWs collapses runs and trims") {
    assert(one(T.normalizeWs(col("s")), "  a\t\tb \n c  ") == "a b c")
  }

  test("fingerprintMd5 == md5(normalizeWs(lower(text))) byte for byte") {
    import spark.implicits._
    // the fingerprint's built-in formulation, kept here as its reference
    def reference(c: org.apache.spark.sql.Column) = md5(T.normalizeWs(lower(c)))
    // the tokenizer property's alphabet (PropertySpec)
    val alphabet = " \t\n\u000B\f\r" + ('a' to 'z').mkString + ('A' to 'Z').mkString +
      ('0' to '9').mkString + "Éß한.,!Ω"
    val rnd = new scala.util.Random(5)
    val random = Seq.fill(60)(
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val nfdHan = "\u1112\u1161\u11AB" // 한 as conjoining jamo
    val texts = random ++ Seq(
      "  leading", "trailing \t\r\n", " \t\n mixed \u000B\f\r ws \r\n end ",
      s"$nfdHan  $nfdHan\tX", "UPPER Case ÉTÉ ß", "", " \t\n", null)
    val rows = texts.toDF("s")
      .select(T.fingerprintMd5(col("s")), reference(col("s"))).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getString(0) == r.getString(1), s"input=${Option(t).map(_.map(_.toInt))}")
    }
    assert(rows.last.isNullAt(0))
  }

  test("tokens drops empties; ngrams guard short inputs") {
    import spark.implicits._
    val df = Seq("one two three", "one", "").toDF("s")
      .select(T.tokens(col("s")).as("t"))
    val toks = df.select(size(col("t"))).collect().map(_.getInt(0)).toSeq
    assert(toks == Seq(3, 1, 0))
    val grams = df.select(T.ngrams(col("t"), 2).as("g"))
      .select(size(col("g"))).collect().map(_.getInt(0)).toSeq
    assert(grams == Seq(2, 0, 0)) // NOT [1,0]-walk garbage on short input
  }

  test("bpeTokens splits words and punctuation") {
    assert(one(size(T.bpeTokens(col("s"))), "ab, cd! x") == 5)
  }

  test("rollingHash is deterministic and prefix-sensitive") {
    val h1 = one(T.rollingHash(T.tokens(col("s")), 8), "a bb ccc")
    val h2 = one(T.rollingHash(T.tokens(col("s")), 8), "a bb ccc")
    val h3 = one(T.rollingHash(T.tokens(col("s")), 8), "aa b ccc")
    assert(h1 == h2)
    assert(h1 != h3) // different token lengths → different hash
  }

  test("minhash estimate tracks exact jaccard direction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"), // near-dup
      (3L, "completely different words appear in this document here now")
    ).toDF("id", "text").select(col("id"), T.tokens(col("text")).as("toks"))
    val sigs = docs.select(col("id"), MinHash.signature(col("toks"), 64).as("sig"))
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(
        col("a.id"), col("b.id"),
        MinHash.estJaccard(col("a.sig"), col("b.sig"), 64).as("est"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) > pairs((1L, 3L))) // near-dup scores higher
    assert(pairs((1L, 2L)) > 0.5)
    assert(pairs((1L, 3L)) < 0.3)
  }

  test("simhash: near-dup docs land close in hamming space") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark window join filter group aggregate shuffle partition"),
      (2L, "spark window join filter group aggregate shuffle partitions"),
      (3L, "entirely unrelated vocabulary about cooking pasta and sauce")
    ).toDF("id", "text")
      .select(col("id"), SimHash.simhash(T.tokens(col("text"))).as("h"))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d12 = java.lang.Long.bitCount(h(1L) ^ h(2L))
    val d13 = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(d12 < d13)
    assert(h.values.forall(_ >= 0L)) // 63-bit: bit 63 is never set
  }
}
