package graft

import graft.operators.{Dedup, Enrich, Joins, Sample}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite with SparkTest {

  test("gap fill densifies the day grid and forward-fills across multi-day gaps") {
    import spark.implicits._
    // user 1: events on Jan 1 and Jan 5 only — the grid must contain Jan
    // 2-4 with n_events 0 and the Jan-1 value carried; user 2 is a single
    // day (no gaps, grid of one).
    val events = Seq(
      (1L, 1L, "click", "2024-01-01 08:00:00", 10.0),
      (2L, 1L, "click", "2024-01-01 09:00:00", 20.0),
      (3L, 1L, "view", "2024-01-05 09:00:00", 7.0),
      (4L, 2L, "view", "2024-01-03 12:00:00", 5.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("props", lit("{}"))
    val dir = SparkTest.tempDir("graft-gapfill")
    // write ts as long nanos to match the fixture's TIMESTAMP(NANOS) shape
    events.withColumn("ts", col("ts").cast("long") * 1000000000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_win_gapfill")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01", 2L, 30.0),
      (1L, "2024-01-02", 0L, 30.0),
      (1L, "2024-01-03", 0L, 30.0),
      (1L, "2024-01-04", 0L, 30.0),
      (1L, "2024-01-05", 1L, 7.0),
      (2L, "2024-01-03", 1L, 5.0)), got.mkString(","))
  }

  test("sessionize splits at >4h gaps and aggregates per session") {
    import spark.implicits._
    // user 1: three events 9:00/9:30/14:00 — the 4.5h gap splits them into
    // sessions of 2 and 1; user 2: one event = one singleton session.
    val events = Seq(
      (1L, 1L, "click", "2024-01-01 09:00:00", 1.0),
      (2L, 1L, "click", "2024-01-01 09:30:00", 2.0),
      (3L, 1L, "view", "2024-01-01 14:00:00", 4.0),
      (4L, 2L, "view", "2024-01-02 12:00:00", 8.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("props", lit("{}"))
    val dir = SparkTest.tempDir("graft-sess")
    events.withColumn("ts", col("ts").cast("long") * 1000000000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_win_sessionize")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (1L, 1L, 2L, 1800L, 3.0),   // user 1, session 1: 2 events over 30 min
      (1L, 2L, 1L, 0L, 4.0),      // user 1, session 2: the post-gap event
      (2L, 1L, 1L, 0L, 8.0)), got.mkString(","))
  }

  test("temporal join maps each fact to exactly one version; boundary goes to the NEW version") {
    import spark.implicits._
    // user 1 state history: A from 10:00, B from 12:00. Facts at 10:00
    // (exact start -> A), 11:59 (-> A), 12:00 (boundary -> B), 13:00 (-> B).
    val events = Seq(
      (1L, 1L, "A", "2024-01-01 10:00:00", 0.0),
      (2L, 1L, "A", "2024-01-01 11:59:00", 0.0),
      (3L, 1L, "B", "2024-01-01 12:00:00", 0.0),
      (4L, 1L, "B", "2024-01-01 13:00:00", 0.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("props", lit("{}"))
    val dir = SparkTest.tempDir("graft-pit")
    events.withColumn("ts", col("ts").cast("long") * 1000000000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_join_temporal")(spark, dir)
      .select("state", "n_events").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // 4 facts over 2 versions, every fact matched exactly once
    assert(got == Seq(("A", 2L), ("B", 2L)), got.mkString(","))
  }

  test("laplaceNoise is seed-deterministic, seed-sensitive, and finite") {
    import spark.implicits._
    import graft.operators.Privacy
    val df = (1 to 200).map(i => s"key_$i").toDF("k")
    val a = df.select(Privacy.laplaceNoise(col("k"), 1.0).as("n"))
      .collect().map(_.getDouble(0))
    val b = df.select(Privacy.laplaceNoise(col("k"), 1.0).as("n"))
      .collect().map(_.getDouble(0))
    assert(a.toSeq == b.toSeq) // same seeds -> identical release
    assert(a.forall(v => !v.isNaN && !v.isInfinite))
    assert(a.distinct.length > 190) // different seeds -> different noise
    // Laplace(1): |noise| has mean 1; the 200-sample mean must land well
    // inside [0.5, 2] unless the transform is broken
    val meanAbs = a.map(math.abs).sum / a.length
    assert(meanAbs > 0.5 && meanAbs < 2.0, meanAbs.toString)
  }

  test("dpCounts secret-key mode: distinct keys give distinct noise, metadata flags the mode") {
    import spark.implicits._
    import graft.operators.{Privacy, ReleaseSeed}
    val df = (1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(s"g${i % 7}")).toDF("g")
    def release(seed: ReleaseSeed): Map[String, Double] =
      Privacy.dpCounts(df, "g", epsilon = 0.5, seed)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val k1 = ReleaseSeed.SecretKey("0123456789abcdef0123456789abcdef")
    val k2 = ReleaseSeed.SecretKey("fedcba9876543210fedcba9876543210")
    val r1 = release(k1)
    // same secret key -> the SAME noised values (re-running a release must
    // not publish a second, differently-noised copy)
    assert(release(k1) == r1)
    // a different release key -> different noise on every group
    val r2 = release(k2)
    assert(r1.keySet == r2.keySet)
    assert(r1.keys.forall(k => r1(k) != r2(k)))
    // the seed mode is flagged in the released column's metadata
    def meta(seed: ReleaseSeed): org.apache.spark.sql.types.Metadata =
      Privacy.dpCounts(df, "g", 0.5, seed).schema("noisy_n").metadata
    assert(meta(k1).getString("dp_seed_mode") == "secret-key")
    assert(meta(ReleaseSeed.PublicTag("rel1")).getString("dp_seed_mode") == "public-tag")
    assert(meta(ReleaseSeed.PublicTag("rel1")).getString("dp_guarantee").startsWith("NONE"))
    // low-entropy secrets are rejected outright
    assertThrows[IllegalArgumentException](ReleaseSeed.SecretKey("hunter2"))
    // the string-tag overload is by definition the public path
    assert(Privacy.dpCounts(df, "g", 0.5, "rel1").schema("noisy_n")
      .metadata.getString("dp_seed_mode") == "public-tag")
  }

  test("funnel stages require temporal order: click before view doesn't count") {
    import spark.implicits._
    // user 1 converts fully in order; user 2's click PRECEDES its first
    // view, so it stalls at stage 1; user 3 never views (stage 0).
    val events = Seq(
      (1L, 1L, "view", "2024-01-01 09:00:00", 0.0),
      (2L, 1L, "click", "2024-01-01 09:10:00", 0.0),
      (3L, 1L, "purchase", "2024-01-01 09:20:00", 0.0),
      (4L, 2L, "click", "2024-01-01 08:00:00", 0.0),
      (5L, 2L, "view", "2024-01-01 09:00:00", 0.0),
      (6L, 3L, "error", "2024-01-01 09:00:00", 0.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("props", lit("{}"))
    val dir = SparkTest.tempDir("graft-funnel")
    events.withColumn("ts", col("ts").cast("long") * 1000000000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_agg_funnel")(spark, dir)
      .select("user_id", "stage").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 1L), (3L, 0L)), got.mkString(","))
  }

  test("scd2FromChangelog collapses runs and chains validity intervals") {
    import spark.implicits._
    // key 1: A,A,B,A → versions A[t1,t3) B[t3,t4) A[t4,∞); key 2: one row.
    val log = Seq(
      (1L, 1L, "A", 10L), (2L, 1L, "A", 20L), (3L, 1L, "B", 30L),
      (4L, 1L, "A", 40L), (5L, 2L, "X", 15L))
      .toDF("event_id", "user_id", "event_type", "t")
    val got = graft.operators.Cdc
      .scd2FromChangelog(log, Seq("user_id"), "t", "event_id", Seq("event_type"))
      .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got == Seq(
      (1L, "A", 10L, 30L, false),
      (1L, "B", 30L, 40L, false),
      (1L, "A", 40L, -1L, true),
      (2L, "X", 15L, -1L, true)), got.mkString(","))
  }

  test("asOf picks the latest right row at or before the left time") {
    import spark.implicits._
    val trades = Seq(
      (1L, 10L, "2024-01-01 10:00:00"),
      (2L, 10L, "2024-01-01 12:00:00"),
      (3L, 20L, "2024-01-01 12:00:00")
    ).toDF("trade_id", "acct", "t")
      .withColumn("t", to_timestamp(col("t")))
    val quotes = Seq(
      (100L, 10L, "2024-01-01 09:00:00"),
      (101L, 10L, "2024-01-01 11:30:00"),
      (102L, 10L, "2024-01-01 13:00:00"),
      (103L, 20L, "2024-01-01 12:00:00")
    ).toDF("quote_id", "q_acct", "qt")
      .withColumn("qt", to_timestamp(col("qt")))

    val got = Joins.asOf(trades, quotes,
        leftKey = col("acct"), rightKey = col("q_acct"),
        leftTime = col("t"), rightTime = col("qt"),
        idCols = Seq("trade_id"), tieBreak = Seq(col("quote_id").desc))
      .select("trade_id", "quote_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // trade 1: only quote 100 precedes 10:00; trade 2: quote 101 (11:30)
    // is the latest <= 12:00; trade 3: boundary equality included (102 is
    // for acct 10, so 103 via key match at exactly 12:00).
    assert(got == Seq((1L, 100L), (2L, 101L), (3L, 103L)))
  }

  test("asOf drops left rows with no qualifying right row") {
    import spark.implicits._
    val l = Seq((1L, 1L, "2024-01-01 00:00:00")).toDF("id", "k", "t")
      .withColumn("t", to_timestamp(col("t")))
    val r = Seq((9L, 1L, "2024-06-01 00:00:00")).toDF("rid", "rk", "rt")
      .withColumn("rt", to_timestamp(col("rt")))
    assert(Joins.asOf(l, r, col("k"), col("rk"), col("t"), col("rt"),
      Seq("id")).count() == 0)
  }

  test("Enrich.merge: update wins on match, target survives elsewhere") {
    import spark.implicits._
    val target = Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "z"))
      .toDF("id", "name", "cat")
    val updates = Seq((2, "B2"), (3, "C3")).toDF("id", "cat")
    val got = Enrich.merge(target, updates, "id", Seq("cat"))
      .orderBy("id").select("id", "name", "cat").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1, "a", "x"), (2, "b", "B2"), (3, "c", "C3")))
  }

  test("Enrich.merge is idempotent") {
    import spark.implicits._
    val target = Seq((1, "x"), (2, "y")).toDF("id", "cat")
    val updates = Seq((2, "Y")).toDF("id", "cat")
    val once = Enrich.merge(target, updates, "id", Seq("cat"))
    val twice = Enrich.merge(once, updates, "id", Seq("cat"))
    assert(once.orderBy("id").collect().toSeq ==
      twice.orderBy("id").collect().toSeq)
  }

  test("Dedup.exactKeepFirst keeps the min-id row per key") {
    import spark.implicits._
    val df = Seq((3L, "dup"), (1L, "dup"), (2L, "uniq"))
      .toDF("id", "text")
    val got = Dedup.exactKeepFirst(df, Seq("text"), "id")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("Dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "text")
    val once = Dedup.exactKeepFirst(df, Seq("text"), "id")
    val twice = Dedup.exactKeepFirst(once, Seq("text"), "id")
    assert(once.orderBy("id").collect().toSeq ==
      twice.orderBy("id").collect().toSeq)
  }

  test("Sample: deterministic across runs, rate in tolerance, row fate stable") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "ko"))
      .toDF("id", "lang")
    val s1 = Sample.byRate(df, "id", 25).select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sample.byRate(df, "id", 25).select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(math.abs(s1.size - 500) < 100, s"rate off: ${s1.size}/2000")
    // removing other rows never changes a surviving row's fate
    val sub = Sample.byRate(df.filter(col("id") < 1000), "id", 25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sub == s1.filter(_ < 1000L))
  }

  test("Sample.fixedPerStratum caps each stratum deterministically") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"lang${i % 3}")).toDF("id", "lang")
    val take = Sample.fixedPerStratum(df, "lang", "id", 10)
    val byLang = take.collect().map(r => r.getString(1)).groupBy(identity)
    assert(byLang.values.forall(_.length == 10))
    val again = Sample.fixedPerStratum(df, "lang", "id", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == take.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("bloom-prefiltered join equals the plain join and prunes the fact stream") {
    import spark.implicits._
    val fact = (0L until 5000L).map(i => (i % 500, i)).toDF("k", "v")
    val dim = (0L until 500L by 50L).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).orderBy("k", "v").collect().toSeq
    val bloomed = Joins.bloomPrefilteredJoin(fact, dim, "k", estimatedDimKeys = Some(1000L))
      .select("k", "v", "name").orderBy("k", "v").collect().toSeq
    assert(bloomed == plain)
    // the pushed might_contain must actually shrink the pre-join stream:
    // 10 of 500 keys survive, so even with bloom false positives the
    // pruned fact is a small fraction of the original
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bf = dim.select(column(new BloomFilterAggregate(
        new XxHash64(Seq(expression(col("k"))), 42L), 1000L).toAggregateExpression()).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val pruned = fact.filter(column(BloomFilterMightContain(
      Literal(bf, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(expression(col("k"))), 42L)))).count()
    assert(pruned < fact.count() / 5, s"pruned=$pruned of 5000")
  }
}
