package graft

import graft.functions.{MinHash, TextFunctions => T}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator-driven properties — SURVEY.md §5.3: dedup
  * idempotence, MinHash determinism, resume equivalence, camel→snake and
  * n-gram invariants. Generators are sampled with fixed seeds (each case
  * round-trips through Spark, so a bounded deterministic sample beats an
  * open-ended Prop run for both speed and reproducibility).
  */
class PropertySpec extends AnyFunSuite with SparkTest {

  private val word = Gen.oneOf(
    "spark", "data", "row", "join", "filter", "window", "group", "scan")
  private val doc = Gen.nonEmptyListOf(word).map(_.mkString(" "))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: exact dedup is idempotent and keeps distinct keys") {
    import spark.implicits._
    samples(Gen.nonEmptyListOf(doc), 8).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val once = Dedup.exactKeepFirst(df, Seq("text"), "id")
      val twice = Dedup.exactKeepFirst(once, Seq("text"), "id")
      assert(once.orderBy("id").collect().toSeq ==
        twice.orderBy("id").collect().toSeq)
      assert(once.count() == texts.distinct.size)
    }
  }

  test("property: identical docs always share a minhash signature") {
    import spark.implicits._
    samples(doc, 8).foreach { t =>
      val sigs = Seq(t, t).toDF("text")
        .select(MinHash.signature(T.tokens(col("text")), 16).as("sig"))
        .collect().map(_.getSeq[Long](0))
      assert(sigs(0) == sigs(1))
    }
  }

  test("property: camelToSnake is a fixpoint on already-snake input") {
    import spark.implicits._
    val snake = Gen.nonEmptyListOf(
      Gen.oneOf("ALPHA", "BETA2", "GAMMA")).map(_.mkString("_"))
    samples(snake, 8).foreach { s =>
      val out = Seq(s).toDF("s")
        .select(T.camelToSnake(col("s"))).collect()(0).getString(0)
      assert(out == s) // upper snake has no lower→upper boundaries
    }
  }

  test("property: ngram count is max(0, tokens - n + 1)") {
    import spark.implicits._
    val cases = for {
      ws <- Gen.listOf(word)
      n <- Gen.choose(2, 4)
    } yield (ws, n)
    samples(cases, 12).foreach { case (ws, n) =>
      val cnt = Seq(ws.mkString(" ")).toDF("s")
        .select(size(T.ngrams(T.tokens(col("s")), n))).collect()(0).getInt(0)
      assert(cnt == math.max(0, ws.size - n + 1), s"ws=$ws n=$n")
    }
  }

  // characters chosen to stress the byte scan: every ASCII whitespace
  // class, multi-byte UTF-8, case-fold targets, punctuation, empties
  private val adversarialText = Gen.listOf(Gen.oneOf(
    Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
    Gen.alphaNumChar, Gen.oneOf('É', 'ß', '한', '.', ',', '!', 'Ω'))).map(_.mkString)

  test("property: native tokenizer == HOF formulation on adversarial strings") {
    import spark.implicits._
    samples(adversarialText, 40).foreach { t =>
      val r = Seq(t).toDF("s").select(
        T.tokens(col("s")).as("n"), T.tokensHof(col("s")).as("h")).collect()(0)
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"input=${t.map(_.toInt)}")
    }
  }

  test("property: native tokenizer lowercases alike under a Turkish default locale") {
    import spark.implicits._
    // "I" in a non-ASCII string is where a locale-sensitive lowercase turns
    // into dotless "ı"; the built-in lower() follows the default locale
    // too, so the reference is the HOF formulation under the root locale
    val texts = samples(adversarialText, 40) ++ Seq("TITLE É", "TITLE", "İI ı")
    val df = texts.toDF("s")
    def run(c: org.apache.spark.sql.Column) = df.select(c).collect().map(_.getSeq[String](0)).toSeq
    val root = SparkTest.withDefaultLocale("und")(run(T.tokensHof(col("s"))))
    val tr = SparkTest.withDefaultLocale("tr")(run(T.tokens(col("s"))))
    texts.indices.foreach(i =>
      assert(tr(i) == root(i), s"input=${texts(i).map(_.toInt)}"))
    assert(tr.takeRight(3).take(2) == Seq(Seq("title", "é"), Seq("title")))
  }

  test("property: native ngrams == HOF formulation for n in 2..5") {
    import spark.implicits._
    val cases = for {
      ws <- Gen.listOf(word)
      n <- Gen.choose(2, 5)
    } yield (ws, n)
    samples(cases, 25).foreach { case (ws, n) =>
      val r = Seq(ws.mkString(" ")).toDF("s")
        .select(T.tokens(col("s")).as("t"))
        .select(T.ngrams(col("t"), n).as("a"), T.ngramsHof(col("t"), n).as("b"))
        .collect()(0)
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"ws=$ws n=$n")
    }
  }

  test("property: native jaccard == HOF formulation on random token multisets") {
    import spark.implicits._
    val toks = Gen.listOf(word)
    val cases = Gen.zip(toks, toks)
    samples(cases, 30).foreach { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b").select(
        MinHash.exactJaccard(col("a"), col("b")).as("n"),
        MinHash.exactJaccardHof(col("a"), col("b")).as("h")).collect()(0)
      if (r.isNullAt(1)) assert(r.getDouble(0).isNaN, s"a=$a b=$b")
      else assert(r.getDouble(0) == r.getDouble(1), s"a=$a b=$b")
    }
  }

  test("property: resume equivalence — prefix ++ remainder == full scan") {
    import spark.implicits._
    samples(Gen.choose(0, 20), 6).foreach { cut =>
      val full = (1L to 20L).map(i => (i, s"row$i")).toDF("id", "v")
      val prefix = full.filter(col("id") <= cut)
      val resumed = full.filter(col("id") > cut)
      assert(prefix.unionByName(resumed).orderBy("id").collect().toSeq ==
        full.orderBy("id").collect().toSeq)
    }
  }

  // --- Sketch-bracket sweeps over RANDOM day windows (round-9): the
  // EntrySpec brackets pin the 7-day rollup queries; these prove the
  // underlying merge algebra holds for arbitrary window placement and
  // length at sf0.1, so the tolerance bands aren't fixture-shaped.

  private val sweepSf = "/root/testdata/sf0.1"

  test("property: HLL day-sketch union tracks exact distinct over random day windows") {
    val ev = Tables.events(spark, sweepSf)
      .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getDate(0))
    assert(days.length >= 3, s"fixture has only ${days.length} days")
    // day-sketch table built ONCE; each sampled window re-merges it —
    // exactly the precompute-once/merge-anywhere contract under test
    val daily = ev.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
      .localCheckpoint(true)
    val windows = Gen.zip(
      Gen.choose(2, math.min(12, days.length)), Gen.choose(0, days.length - 2))
    samples(windows, 8).foreach { case (len0, start0) =>
      val start = math.min(start0, days.length - len0)
      val (lo, hi) = (days(start), days(start + len0 - 1))
      val est = daily.filter(col("day").between(lo, hi))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long"))
        .collect()(0).getLong(0)
      val exact = ev.filter(col("day").between(lo, hi))
        .select("user_id").distinct().count()
      assert(exact > 0, s"empty window $lo..$hi")
      assert(math.abs(est - exact).toDouble / exact <= 0.1,
        s"window $lo..$hi (len $len0): sketch $est vs exact $exact")
    }
  }

  test("property: merged KLL day-sketches respect the rank bound over random windows and percentiles") {
    val eps = 0.03 // KLL k = 200 rank error (1.65%) + discrete-rank slack (EntrySpec)
    val ev = Tables.events(spark, sweepSf)
      .select(to_date(date_trunc("DAY", col("ts"))).as("day"), col("value"))
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getDate(0))
    val daily = ev.groupBy("day")
      .agg(kll_sketch_agg_double(col("value")).as("sk"))
      .localCheckpoint(true)
    val cases = Gen.zip(
      Gen.choose(2, math.min(12, days.length)),
      Gen.choose(0, days.length - 2),
      Gen.choose(0.10, 0.95))
    samples(cases, 8).foreach { case (len0, start0, p) =>
      val start = math.min(start0, days.length - len0)
      val (lo, hi) = (days(start), days(start + len0 - 1))
      val est = daily.filter(col("day").between(lo, hi))
        .agg(kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk")), lit(p)))
        .collect()(0).getDouble(0)
      // exact VALUE bracket at ranks p ± eps over the same window
      val bounds = ev.filter(col("day").between(lo, hi))
        .agg(expr(s"percentile(value, array(${math.max(0, p - eps)}, " +
          s"${math.min(1, p + eps)}))").as("b"))
        .collect()(0).getSeq[Double](0)
      assert(est >= bounds(0) && est <= bounds(1),
        s"window $lo..$hi p=$p: sketch $est outside [${bounds(0)}, ${bounds(1)}]")
    }
  }
}
