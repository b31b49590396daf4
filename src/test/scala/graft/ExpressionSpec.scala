package graft

import graft.functions.{VectorFunctions => V}
import graft.operators.{Joins, Skew}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionSpec extends AnyFunSuite with SparkTest {

  private def vecs = {
    import spark.implicits._
    (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(j => math.sin(i * 17 + j).toDouble))
    }.toDF("id", "v")
  }

  test("native cosine expression matches the HOF formulation bit-for-bit") {
    val df = vecs.as("a").crossJoin(vecs.as("b"))
      .select(
        V.cosine(col("a.v"), col("b.v")).as("hof"),
        V.cosineNative(col("a.v"), col("b.v")).as("native"))
    val mismatches = df.filter(col("hof") =!= col("native")).count()
    assert(mismatches == 0)
  }

  test("expression survives both codegen and interpreted eval paths") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      Seq("true", "false").foreach { cg =>
        spark.conf.set("spark.sql.codegen.wholeStage", cg)
        val n = vecs.select(V.cosineNative(col("v"), col("v")).as("c"))
          .filter(abs(col("c") - 1.0) < 1e-12).count()
        assert(n == 50, s"codegen=$cg")
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("graft_cosine is callable from SQL after registration") {
    registerGraftExtensions()
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c," +
        " graft_cosine(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS s")
      .collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("native minhash signature is bit-identical to the HOF formulation") {
    import spark.implicits._
    import graft.functions.{MinHash, Portable}
    // ASCII, Hangul, a NULL element (skipped by both), an empty array and a
    // NULL array (both Long.MaxValue components)
    val docs = Seq(
      Some(Seq("the", "quick", "brown", "fox")),
      Some(Seq("서울", "데이터", "공통", "측정소명")),
      Some(Seq("spark", null, "shuffles")),
      Some(Seq.empty[String]),
      None
    ).toDF("toks")
    val both = docs.select(
      Portable.minhashFromHashes(transform(col("toks"), Portable.h48(_)), 16).as("hof"),
      MinHash.signature(col("toks"), 16).as("native"))
    val rows = both.collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    assert(rows(2).getSeq[Long](1).forall(_ != Long.MaxValue))
    assert(rows(3).getSeq[Long](1) == Seq.fill(16)(Long.MaxValue))
    assert(rows(4).getSeq[Long](1) == Seq.fill(16)(Long.MaxValue))
  }

  test("graft_minhash is callable from SQL with a literal k") {
    registerGraftExtensions()
    val sig = spark.sql(
      "SELECT graft_minhash(array('a','b','c'), 8) AS s").collect()(0).getSeq[Long](0)
    assert(sig.length == 8)
    assert(sig.forall(_ != Long.MaxValue)) // non-empty input -> real mins
  }

  test("native simhash is bit-identical to the HOF formulation") {
    import spark.implicits._
    import graft.functions.{SimHash, TextFunctions => T}
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "spark shuffles partitions across the cluster",
      "one", "", "repeated repeated repeated tokens tokens"
    ).toDF("text").select(T.tokens(col("text")).as("toks"))
    val both = docs.select(
      SimHash.simhash64Hof(col("toks")).as("hof"),
      SimHash.simhash64(col("toks")).as("native"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"hof=${r.getLong(0)} native=${r.getLong(1)}")
    }
  }

  test("graft_simhash is callable from SQL") {
    registerGraftExtensions()
    val r = spark.sql(
      "SELECT graft_simhash(array('a','b','c')) AS h," +
        " graft_simhash(CAST(array() AS array<string>)) AS e").collect()(0)
    assert(r.getLong(0) != 0L)
    assert(r.getLong(1) == 0L) // empty input: no positive votes
  }

  test("native tokenizer matches the HOF formulation on awkward inputs") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val texts = Seq(
      "The Quick  Brown\tFox", "  leading and trailing  ", "",
      "\t\n\r\f ", "one", "MIXED case WITH Ünïcode Tökens",
      "tabs\tand\nnewlines\randvt", "a  b   c    d",
      "한국어 텍스트 토큰화 테스트", "punct, marks! kept? as-is.")
    val df = texts.toDF("text").select(
      T.tokens(col("text")).as("native"), T.tokensHof(col("text")).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.getSeq[String](0))
    }
  }

  test("native ngrams match the HOF formulation including short inputs") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val texts = Seq("a b c d e", "a b", "single", "", "x y z")
    (2 to 4).foreach { n =>
      val df = texts.toDF("text")
        .select(T.tokens(col("text")).as("toks"))
        .select(
          T.ngrams(col("toks"), n).as("native"),
          T.ngramsHof(col("toks"), n).as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
  }

  test("native jaccard matches the HOF formulation including dup tokens and empties") {
    import spark.implicits._
    import graft.functions.{MinHash, TextFunctions => T}
    val pairs = Seq(
      ("a b c d", "a b c d"), ("a b c d", "c d e f"), ("a a a b", "a b b b"),
      ("x y", "p q"), ("", "a b"), ("", ""), ("one", "one one one"))
    val df = pairs.toDF("s1", "s2").select(
      T.tokens(col("s1")).as("t1"), T.tokens(col("s2")).as("t2"))
    val both = df.select(
      MinHash.exactJaccard(col("t1"), col("t2")).as("native"),
      MinHash.exactJaccardHof(col("t1"), col("t2")).as("hof"))
    both.collect().foreach { r =>
      val n = r.getDouble(0)
      // empty-vs-empty: native NaN, try_divide-HOF NULL — both sub-threshold
      if (r.isNullAt(1)) assert(n.isNaN, s"native=$n for empty/empty")
      else assert(n == r.getDouble(1), s"native=$n hof=${r.getDouble(1)}")
    }
  }

  test("native jaccard treats null elements as one distinct value (built-in parity)") {
    registerGraftExtensions()
    val r = spark.sql(
      "SELECT graft_jaccard(array('x', NULL), array('x', '')) AS a," +
        // built-in reference for the same inputs
        " CAST(size(array_intersect(array_distinct(array('x', NULL)), array_distinct(array('x', '')))) AS DOUBLE)" +
        "  / size(array_union(array('x', NULL), array('x', ''))) AS b," +
        " graft_jaccard(array('x', NULL), array(NULL, 'y')) AS c").collect()(0)
    assert(r.getDouble(0) == r.getDouble(1)) // 1/3: null != ''
    assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12) // shared null counts
  }

  test("graft_tokens and graft_ngrams are callable from SQL") {
    registerGraftExtensions()
    val r = spark.sql(
      "SELECT graft_tokens('The  Quick Fox') AS t," +
        " graft_ngrams(graft_tokens('a b c'), 2) AS g").collect()(0)
    assert(r.getSeq[String](0) == Seq("the", "quick", "fox"))
    assert(r.getSeq[String](1) == Seq("a b", "b c"))
  }

  test("graft_rk_windows is callable from SQL and matches the Column API") {
    import spark.implicits._
    import graft.functions.{Portable, TextFunctions => T}
    registerGraftExtensions()
    val viaSql = spark.sql(
      "SELECT graft_rk_windows(graft_tokens('a b c d e'), 3) AS w")
      .collect()(0).getSeq[Long](0)
    val viaApi = Seq("a b c d e").toDF("text")
      .select(Portable.windowHashesNative(T.tokens(col("text")), 3))
      .collect()(0).getSeq[Long](0)
    assert(viaSql == viaApi && viaSql.length == 3)
  }

  test("portable minhash components are decorrelated and estimate Jaccard (not 0/1-only)") {
    import spark.implicits._
    import graft.functions.Portable
    // Regression: a first portable family used maps that never wrapped the
    // modulus — every component was a monotone function of the same base
    // hash and est_jaccard could only ever be 0 or 1. With Carter–Wegman
    // maps over P=2^31-1, components must disagree PARTIALLY on
    // partially-overlapping sets.
    val a = (1 to 40).map(i => s"sh_$i")
    val b = (21 to 60).map(i => s"sh_$i") // true Jaccard = 20/60 = 1/3
    val df = Seq((a, b)).toDF("sa", "sb")
      .select(
        Portable.minhashFromHashes(transform(col("sa"), Portable.h48(_)), 64).as("ga"),
        Portable.minhashFromHashes(transform(col("sb"), Portable.h48(_)), 64).as("gb"))
    val r = df.collect()(0)
    val (sa, sb) = (r.getSeq[Long](0), r.getSeq[Long](1))
    val matches = sa.zip(sb).count { case (x, y) => x == y }
    assert(matches > 0 && matches < 64, s"matches=$matches — degenerate family")
    // est within a loose band of the true 1/3 (k=64: sd ~ 0.06)
    val est = matches / 64.0
    assert(math.abs(est - 1.0 / 3.0) < 0.2, s"est=$est")
    // and distinct components genuinely differ from each other
    assert(sa.distinct.length > 32, s"components collapsed: ${sa.take(8)}")
  }

  test("NearestCells matches brute-force argmin on both eval paths; ties break by id") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val cents = Array(
      Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
    val ids = Array(10L, 20L, 30L, 40L)
    def nearest(v: org.apache.spark.sql.Column, n: Int) =
      column(graft.expressions.NearestCells(expression(v), cents, ids, n))
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(0.1, 0.1)),   // nearest 10, then 20/30 tie -> 20
      (2L, Seq(0.9, 0.2)),   // nearest 20
      (3L, Seq(0.5, 0.5))    // EQUIDISTANT to all four -> id order
    ).toDF("id", "v")
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try Seq("true", "false").foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      val got = pts.select(col("id"), nearest(col("v"), 3).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got(1L) == Seq(10L, 20L, 30L), s"codegen=$cg ${got(1L)}")
      assert(got(2L) == Seq(20L, 40L, 10L), s"codegen=$cg ${got(2L)}")
      assert(got(3L) == Seq(10L, 20L, 30L), s"codegen=$cg ${got(3L)}") // pure id tie-break
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("native rabin-karp windows match the HOF formulation including short inputs") {
    import spark.implicits._
    import graft.functions.{Portable, TextFunctions => T}
    val texts = Seq(
      "a b c d e f g h i j",          // 3 windows at w=8
      "a b c d e f g h",              // exactly one window
      "a b c d e f g",                // too short: empty
      "", "single",
      "x x x x x x x x x x",          // repeated token: identical windows
      "한국어 텍스트 α β γ δ ε ζ η θ") // non-ASCII bytes through md5
    (2 to 8 by 3).foreach { w =>
      val df = texts.toDF("text")
        .select(T.tokens(col("text")).as("toks"))
        .select(
          Portable.windowHashesNative(col("toks"), w).as("native"),
          Portable.windowHashes(
            transform(col("toks"), t => Portable.h48(t) % lit(Portable.P)), w)
            .as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"w=$w")
      }
    }
  }

  test("rabin-karp windows survive both codegen and interpreted eval paths") {
    import spark.implicits._
    import graft.functions.{Portable, TextFunctions => T}
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try Seq(true, false).foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg.toString)
      val got = Seq("p q r s t u v w x", "too short")
        .toDF("text")
        .select(Portable.windowHashesNative(T.tokens(col("text")), 8).as("whs"))
        .collect().map(_.getSeq[Long](0))
      assert(got(0).length == 2 && got(1).isEmpty, s"codegen=$cg")
      assert(got(0).forall(_ >= 0L), s"codegen=$cg keys must stay in BIGINT range")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("salted join equals the plain join result") {
    import spark.implicits._
    // heavy skew: 90% of left rows share key 1
    val left = ((1 to 180).map(i => (1L, i.toLong)) ++
      (1 to 20).map(i => (i.toLong % 5 + 2, i.toLong))).toDF("k", "lv")
    val right = (1L to 10L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).orderBy("k", "lv").collect().toSeq
    val salted = Joins.saltedJoin(left, right, "k", salts = 8, saltSource = col("lv"))
      .select("k", "lv", "rv").orderBy("k", "lv").collect().toSeq
    assert(salted == plain)
  }

  test("NFC normalization composes decomposed forms; idempotent; SQL-callable") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val decomposedE = "é"                      // e + COMBINING ACUTE
    val decomposedHan = "한"         // HIEUH + A + NIEUN jamo
    val df = Seq(
      (1L, decomposedE), (2L, decomposedHan),
      (3L, "é"), (4L, "한"), (5L, "plain ascii"), (6L, "")
    ).toDF("id", "s")
    val got = df.select(col("id"), T.nfc(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "é", "combining acute must compose to é")
    assert(got(2L) == "한", "jamo must compose to the Hangul syllable")
    assert(got(3L) == "é" && got(4L) == "한", "NFC input unchanged")
    assert(got(5L) == "plain ascii" && got(6L) == "")
    // idempotent: nfc(nfc(x)) == nfc(x)
    val twice = df.select(T.nfc(T.nfc(col("s"))).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == df.select(T.nfc(col("s"))).collect().map(_.getString(0)).toSeq)
    // equality after normalization is what dedup needs
    assert(got(1L) == got(3L) && got(2L) == got(4L))
    // SQL surface (the GraftExtensions builder)
    registerGraftExtensions()
    val viaSql = spark.sql(s"SELECT graft_nfc('$decomposedHan')").collect()(0).getString(0)
    assert(viaSql == "한")
  }

  test("JaccardSortedLongs == string-set Jaccard on random token multisets") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // random multisets with shared vocabulary (dups + overlaps + empties);
    // the hashed path must agree exactly (64-bit collisions are ~7e-17
    // per pair — a deterministic fixture never hits one)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"tok$i")
    def toks() = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    val cases = (1 to 60).map(_ => (toks(), toks())) :+
      ((Seq.empty[String], Seq.empty[String])) :+ ((Seq("a"), Seq.empty[String]))
    val hs = (c: org.apache.spark.sql.Column) =>
      sort_array(array_distinct(transform(c, xxhash64(_))))
    val rows = cases.toDF("a", "b").select(
      graft.functions.MinHash.exactJaccard(col("a"), col("b")).as("s"),
      column(graft.expressions.JaccardSortedLongs(
        expression(hs(col("a"))), expression(hs(col("b"))))).as("h")).collect()
    rows.foreach { r =>
      val (s, h) = (r.getDouble(0), r.getDouble(1))
      assert(s == h || (s.isNaN && h.isNaN), s"string $s vs hashed $h")
    }
  }

  test("IntersectSortedLongs == distinct-string intersection size") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // same fixture family as the JaccardSortedLongs case, plus the edges
    // the containment verify leans on: subsets, identical sets, empties
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"tok$i")
    def toks() = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    val base = (1 to 60).map(_ => (toks(), toks()))
    val sub = base.take(10).map { case (a, _) => (a, a.take(a.size / 2)) }
    val cases = base ++ sub ++ Seq(
      (Seq.empty[String], Seq.empty[String]), (Seq("a"), Seq.empty[String]),
      (Seq("a", "b"), Seq("a", "b")))
    val hs = (c: org.apache.spark.sql.Column) =>
      sort_array(array_distinct(transform(c, xxhash64(_))))
    val rows = cases.toDF("a", "b").select(
      size(array_intersect(array_distinct(col("a")), array_distinct(col("b"))))
        .cast("long").as("s"),
      column(graft.expressions.IntersectSortedLongs(
        expression(hs(col("a"))), expression(hs(col("b"))))).as("h")).collect()
    rows.foreach(r =>
      assert(r.getLong(0) == r.getLong(1), s"string ${r.getLong(0)} vs hashed ${r.getLong(1)}"))
  }

  test("NearestInBundle: (dist, id) tie-break and dim clamp match NearestCells") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // ids 5 and 3 both at distance 0 -> smaller id wins; the 1-element
    // vector against 2-element centroids exercises the min(n) clamp the
    // flat NearestCells loop also applies
    val rows = Seq(
      (Seq(1.0, 0.0), Seq((5L, Seq(1.0, 0.0)), (3L, Seq(1.0, 0.0)), (7L, Seq(0.0, 1.0))), 3L),
      (Seq(0.1, 0.9), Seq((5L, Seq(1.0, 0.0)), (3L, Seq(1.0, 0.0)), (7L, Seq(0.0, 1.0))), 7L),
      (Seq(2.0), Seq((1L, Seq(2.0, 9.0)), (2L, Seq(3.0, 9.0))), 1L))
    val got = rows.toDF("v", "bundle", "want").select(
      column(graft.expressions.NearestInBundle(
        expression(col("v")),
        expression(transform(col("bundle"),
          e => struct(e.getField("_1").as("c_id"), e.getField("_2").as("centroid")))))).as("got"),
      col("want")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  // ---- SrpBucket: the fused SRP hot loop (r16 sweep-in, specced r17) ----

  /** The replaced HOF formulation, reconstructed verbatim (pre-r16
    * Similarity.srpBucket): per bit j, when(dot(v, plane_j) > 0, 1L<<j)
    * .otherwise(0L), OR-reduced. The parity tests below pin the native
    * expression to this, including the degenerate inputs the HOF shape
    * implied (NULL vector -> 0L, length mismatch -> 0L via zip_with
    * null-padding). */
  private def hofSrpBucket(vec: Column, dim: Int, nBits: Int): Column = {
    val bits: Seq[Column] = (0 until nBits).map { j =>
      val plane = array((0 until dim).map(i =>
        lit(graft.functions.Portable.srpSign(j, i))): _*)
      when(V.dot(vec, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  test("graft_srp_bucket matches the HOF formulation bit-for-bit on the md5 planes") {
    import graft.operators.Similarity
    val df = vecs.select(
      Similarity.srpBucket(col("v"), 16, 20).as("native"),
      hofSrpBucket(col("v"), 16, 20).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_srp_bucket codegen and interpreted paths agree") {
    import graft.operators.Similarity
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      val got = Seq("true", "false").map { cg =>
        spark.conf.set("spark.sql.codegen.wholeStage", cg)
        vecs.select(Similarity.srpBucket(col("v"), 16, 12).as("b"))
          .collect().map(_.getLong(0)).toSeq
      }
      assert(got(0) == got(1))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("graft_srp_bucket degenerate inputs: NULL and length-mismatch map to 0L, non-nullable out") {
    import spark.implicits._
    import graft.operators.Similarity
    val df = Seq(
      (1L, Some(Seq.fill(16)(0.5))), // well-formed
      (2L, None),                    // NULL vector
      (3L, Some(Seq(1.0, 2.0))),     // shorter than dim
      (4L, Some(Seq.fill(32)(1.0))), // longer than dim
      (5L, Some(Seq.empty[Double]))  // empty
    ).toDF("id", "v")
      .select(col("id"), Similarity.srpBucket(col("v"), 16, 12).as("b"))
    // the old fold's when/otherwise(0L) made the column non-nullable;
    // Catalyst inferring isnotnull on a nullable bucket is exactly what
    // split the SRP family's shared exchange in r16 (VERDICT #1)
    assert(!df.schema("b").nullable,
      "bucket column must be non-nullable or join-key isnotnull inference " +
        "splits the lshBucketJoin/knnGraph shared subtree")
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2) == 0L && m(3) == 0L && m(4) == 0L && m(5) == 0L, m.toString)
    assert(m(1) != 0L) // all-positive vector: every dot > 0 somewhere
  }

  // ---- r17 native hot-loop expressions: Int8Codes / HighDimMix / NormSq ----

  test("NormSq: sqrt(native) is bit-identical to the HOF l2Norm") {
    val df = vecs.select(
      V.l2Norm(col("v")).as("hof"), V.l2NormNative(col("v")).as("native"))
    assert(df.filter(col("hof") =!= col("native")).count() == 0)
    // empty + null vectors
    import spark.implicits._
    val edge = Seq((1L, Some(Seq.empty[Double])), (2L, None))
      .toDF("id", "v")
      .select(V.l2Norm(col("v")).as("hof"), V.l2NormNative(col("v")).as("native"))
      .collect()
    assert(edge(0).getDouble(0) == 0.0 && edge(0).getDouble(1) == 0.0)
    assert(edge(1).isNullAt(0) && edge(1).isNullAt(1))
  }

  /** The replaced HOF codec (pre-r17 Similarity.quantCodes), reconstructed
    * verbatim: named-scale two-step projection, HALF_UP round, byte cast. */
  private def hofCodec(v: Column): (Column, Column, Column) = {
    val qs = array_max(transform(v, x => abs(x))) / lit(127.0)
    (qs, V.l2Norm(v), transform(v, x => round(x / qs).cast("byte")))
  }

  test("Int8Codes matches the HOF codec bit-for-bit incl. .5 rounding boundaries") {
    import spark.implicits._
    // max|x| = 127 so qs = 1.0 exactly and the quotients hit the literal
    // values below: 2.5/-2.5/3.5 are the HALF_UP half-integer boundaries,
    // 0.49999999999999994 is the largest double below 0.5 (the classic
    // floor(x+0.5) bug input), 126.5 rounds away from zero to 127
    val boundary = Seq(2.5, -2.5, 3.5, -3.5, 0.49999999999999994,
      -0.49999999999999994, 126.5, -126.5, 0.5, -0.5, 127.0)
    val rnd = new scala.util.Random(13)
    val cases = (boundary ++ Seq.fill(37)(rnd.nextDouble() * 254 - 127))
      .grouped(6).map(_.toSeq :+ 127.0).toSeq ++
      (0 until 20).map(i => (0 until 16).map(j => math.sin(i * 31 + j) * (i + 1)))
    val df = cases.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val (qs, qn, qc) = hofCodec(col("v"))
    val both = df.select(
      qs.as("hqs"), qn.as("hqn"), qc.as("hqc"),
      V.int8Codes(col("v")).as("n"))
    both.collect().foreach { r =>
      val n = r.getStruct(3)
      assert(r.getDouble(0) == n.getDouble(0), s"qs: ${r.getDouble(0)} vs ${n.getDouble(0)}")
      assert(r.getDouble(1) == n.getDouble(1), s"qn: ${r.getDouble(1)} vs ${n.getDouble(1)}")
      assert(r.getSeq[Byte](2) == n.getSeq[Byte](2),
        s"qc: ${r.getSeq[Byte](2)} vs ${n.getSeq[Byte](2)}")
    }
  }

  test("Int8Codes degenerate inputs null out exactly the rows the qs>0 gate dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0, -2.0, 3.0))), // well-formed
      (2L, Some(Seq(0.0, 0.0))),       // zero vector: HOF qs=0, native null
      (3L, Some(Seq.empty[Double])),   // empty: HOF qs null, native null
      (4L, None),                      // null vector
      // NaN scale is KEPT on both paths: Spark's SQL comparison ranks NaN
      // greater than everything, so the HOF `qs > 0` gate passed it (and
      // its codes were round(x/NaN) -> byte 0, which the native loop
      // reproduces)
      (5L, Some(Seq(Double.NaN, 1.0)))
    ).toDF("id", "v")
    val (qs, _, _) = hofCodec(col("v"))
    val hofKept = df.select(col("id"), qs.as("qs")).filter(col("qs") > 0)
      .collect().map(_.getLong(0)).toSet
    val natKept = df.select(col("id"),
        V.int8Codes(col("v")).getField("qs").as("qs"))
      .filter(col("qs") > 0).collect().map(_.getLong(0)).toSet
    assert(hofKept == natKept && natKept == Set(1L, 5L))
    // the HOF CODES on the NaN row would have thrown under ANSI
    // (CAST_OVERFLOW on round(x/NaN) -> byte); the native loop instead
    // yields the d2i/i2b value 0 — strictly more graceful, pinned here
    val nanCodes = df.filter(col("id") === 5).select(
      V.int8Codes(col("v")).getField("qc").as("n")).collect()(0)
    assert(nanCodes.getSeq[Byte](0) == Seq[Byte](0, 0))
  }

  test("Int8Codes survives both codegen and interpreted eval paths") {
    // r18 (r17 ADVICE): wholeStage=false alone still runs codegen'd
    // non-whole-stage projections, so the INTERPRETED path needs
    // factoryMode=NO_CODEGEN to be genuinely exercised
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      val got = Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN")).map {
        case (cg, fm) =>
          spark.conf.set("spark.sql.codegen.wholeStage", cg)
          spark.conf.set("spark.sql.codegen.factoryMode", fm)
          vecs.select(V.int8Codes(col("v")).as("q"))
            .select(col("q.qs"), col("q.qn"), col("q.qc"))
            .collect().map(r => (r.getDouble(0), r.getDouble(1),
              r.getSeq[Byte](2))).toSeq
      }
      assert(got(0) == got(1))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }

  test("HighDimMix matches the HOF transform(sequence) fixture bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val df = Seq(0L, 1L, 7L, 63L, 12345L, 999999L, 20000000L)
      .map(id => (id, Seq(0.25, -0.25)))
      .toDF("vec_id", "v")
    val native = concat(col("v"),
      column(graft.expressions.HighDimMix(expression(col("vec_id")), 64, 768)))
    val hof = graft.queries.SimilarityQueries.extendDimHof(768)
    val rows = df.select(hof.as("h"), native.as("n")).collect()
    rows.foreach { r =>
      val (h, n) = (r.getSeq[Double](0), r.getSeq[Double](1))
      assert(h.length == 706 && h == n)
    }
    // both eval paths agree — factoryMode=NO_CODEGEN pins the genuinely
    // interpreted nullSafeEval path (r17 ADVICE; wholeStage=false alone
    // still codegens the projection)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      val got = Seq(("true", "FALLBACK"), ("false", "NO_CODEGEN")).map {
        case (cg, fm) =>
          spark.conf.set("spark.sql.codegen.wholeStage", cg)
          spark.conf.set("spark.sql.codegen.factoryMode", fm)
          df.select(native.as("n")).collect().map(_.getSeq[Double](0)).toSeq
      }
      assert(got(0) == got(1))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }

  test("salted aggregation equals the plain aggregation") {
    import spark.implicits._
    val df = ((1 to 500).map(_ => ("hot", 1.0)) ++
      (1 to 50).map(i => (s"k${i % 7}", 2.0))).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("v_agg"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val salted = Skew.saltedAgg(df, "k", 8, sum(_), "v", sum(_))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(salted == plain)
  }
}
