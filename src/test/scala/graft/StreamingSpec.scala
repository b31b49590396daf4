package graft

import graft.streaming.Streams
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming surface driven through MemoryStream — same transforms as the
  * batch-mode StreamShapeQueries, now with real incremental execution,
  * watermarks, and state.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite with SparkTest {

  private def ev(id: Long, minute: Int, user: Long = 1L,
      typ: String = "click", v: Double = 1.0): Ev =
    Ev(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), user, typ, v)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }

  test("tumbling window counts match the batch execution of the same code") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    val events = Seq(ev(1, 5), ev(2, 10), ev(3, 59), ev(4, 5, user = 2L))
    input.addData(events)
    runToMemory(
      Streams.tumblingCounts(input.toDF()).select(
        col("w.start").as("w_start"), col("event_type"), col("n")),
      "tumb", mode = "complete")
    val streamed = spark.table("tumb").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Streams.tumblingCounts(events.toDF()).select(
        col("w.start"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.exists(_._3 == 4L)) // all four in the 10:00 hour
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    input.addData(Seq(ev(1, 1), ev(2, 2)))
    input.addData(Seq(ev(1, 1), ev(3, 3))) // event 1 re-delivered
    runToMemory(Streams.dedupByEventId(input.toDF()), "dedup")
    assert(spark.table("dedup").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState carries running totals across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[Streams.UserEvent](spark)
    input.addData(Seq(Streams.UserEvent(1, 10L, 2.0), Streams.UserEvent(2, 10L, 3.0)))
    val q = Streams.runningTotals(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("run").start()
    q.processAllAvailable()
    input.addData(Seq(Streams.UserEvent(3, 10L, 5.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("run").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // batch 1 emits (10, 2, 5.0); batch 2 resumes state → (10, 3, 10.0)
    assert(rows.contains((10L, 2L, 5.0)))
    assert(rows.contains((10L, 3L, 10.0)))
  }

  test("watermark drops late rows beyond the delay (append mode)") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    val agg = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late").start()
    // batch 1: events at 10:05 and 11:00 -> watermark advances to 10:50,
    // finalizing (and emitting) the 10:00-10:10 window
    input.addData(Seq(ev(1, 5), Ev(2, Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "click", 1.0)))
    q.processAllAvailable()
    // batch 2: a LATE row for the already-finalized 10:00 window
    input.addData(Seq(ev(3, 7)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    // the finalized 10:00 window counted only the on-time row; the late
    // arrival was dropped from state, not re-emitted
    assert(rows("2024-01-01 10:00:00.0") == 1L)
  }

  test("file-source streaming resumes from checkpointed offsets (START_IDX generalized)") {
    import spark.implicits._
    val dir = new java.io.File(SparkTest.tempDir("graft-stream"))
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val data = new java.io.File(dir, "in").getAbsolutePath
    def write(ids: Seq[Long]): Unit =
      ids.map(i => Ev(i, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0))
        .toDF().write.mode("append").parquet(data)
    write(1L to 3L)
    val out = new java.io.File(dir, "out").getAbsolutePath
    val schema = spark.read.parquet(data).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(data)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == 3)
    // new files arrive; the RESTARTED query processes only the delta —
    // exactly-once overall, no reprocessing of rows 1-3
    write(4L to 5L)
    run()
    assert(spark.read.parquet(out).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 5L))
  }

  test("stream-stream join matches purchases to recent clicks, state bounded") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    input.addData(Seq(
      ev(1, 0, typ = "click"),
      ev(2, 10, typ = "purchase"),          // 10 min after click -> match
      ev(3, 45, typ = "purchase"),          // 45 min after click -> no match
      ev(4, 50, typ = "click"),
      ev(5, 55, typ = "purchase")))         // 5 min after click 4 -> match
    runToMemory(
      Streams.purchaseAfterClick(input.toDF())
        .select(col("purchase_id"), col("click_id")),
      "ssj")
    val got = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (5L, 4L)))
  }

  test("foreachBatch merge sink applies streaming updates to target state") {
    import spark.implicits._
    val statePath = SparkTest.tempDir("graft-merge-state")
    val initial = Seq((1L, "old"), (2L, "old"), (3L, "old")).toDF("id", "cat")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.mergeSink(
      input.toDF().toDF("id", "cat"), initial, "id", Seq("cat"), statePath)
    input.addData(Seq((2L, "v2")))
    q.processAllAvailable()
    input.addData(Seq((3L, "v3")))
    q.processAllAvailable()
    q.stop()
    val got = Streams.mergeState(spark, statePath).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // both micro-batches merged cumulatively; unmatched row untouched
    assert(got == Seq((1L, "old"), (2L, "v2"), (3L, "v3")))
  }

  test("merge-sink state survives many micro-batches without driver materialization") {
    import spark.implicits._
    val statePath = SparkTest.tempDir("graft-merge-state-n")
    val initial = (1L to 5L).map(i => (i, "old", 0L)).toDF("id", "cat", "seen")
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = Streams.mergeSink(
      input.toDF().toDF("id", "cat", "seen"), initial, "id",
      Seq("cat", "seen"), statePath)
    // four micro-batches, each updating a different key; later batches must
    // see the cumulative result of the earlier ones (state table carry)
    (1L to 4L).foreach { b =>
      input.addData(Seq((b, s"v$b", b)))
      q.processAllAvailable()
    }
    q.stop()
    val got = Streams.mergeState(spark, statePath).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, "v1", 1L), (2L, "v2", 2L), (3L, "v3", 3L),
      (4L, "v4", 4L), (5L, "old", 0L)))
    // old generations pruned: at most the merge input + output remain
    val gens = new java.io.File(statePath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(gens.length <= 2 && gens.contains("gen=4"))
  }

  test("merge-sink replay of a batch id is idempotent (gen = batchId + 1)") {
    import spark.implicits._
    val statePath = SparkTest.tempDir("graft-merge-replay")
    val initial = Seq((1L, "old"), (2L, "old")).toDF("id", "cat")
    // run batch 0 once
    val in1 = MemoryStream[(Long, String)](spark)
    val q1 = Streams.mergeSink(
      in1.toDF().toDF("id", "cat"), initial, "id", Seq("cat"), statePath)
    in1.addData(Seq((1L, "v1")))
    q1.processAllAvailable(); q1.stop()
    // a NEW query on the same state path re-delivers batch id 0 (what a
    // checkpoint replay after a crash mid-write does): gen=1 is simply
    // overwritten from the same gen=0 input — same final state
    val in2 = MemoryStream[(Long, String)](spark)
    val q2 = Streams.mergeSink(
      in2.toDF().toDF("id", "cat"), initial, "id", Seq("cat"), statePath)
    in2.addData(Seq((1L, "v1")))
    q2.processAllAvailable(); q2.stop()
    val got = Streams.mergeState(spark, statePath).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "v1"), (2L, "old")))
  }

  test("session windows split on the 30-minute gap in streaming mode") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    input.addData(Seq(ev(1, 0), ev(2, 10), ev(3, 55))) // gap 45min after :10
    runToMemory(
      Streams.sessionCounts(input.toDF()).select(col("user_id"), col("n")),
      "sess", mode = "complete")
    val ns = spark.table("sess").collect().map(_.getLong(1)).sorted.toSeq
    assert(ns == Seq(1L, 2L)) // two sessions: {:00,:10} and {:55}
  }

  test("session windows on the RocksDB state store provider == default provider") {
    import spark.implicits._
    // The 100 TB streaming-state posture made executable: session state is
    // the heaviest stateful shape here (q_stream_session), and at scale its
    // state must live on the RocksDB provider (bounded executor heap,
    // state on local disk + changelog) — which must be a CONFIG change,
    // not a code change. Same sink, multi-batch workload that extends
    // sessions, opens new ones, and interleaves two users; both providers
    // must produce identical session tables.
    def runWith(name: String, conf: Map[String, String]): Seq[(Long, String, String, Long)] = {
      def body(): Seq[(Long, String, String, Long)] = {
        val input = MemoryStream[Ev](spark)
        val q = Streams.sessionCounts(input.toDF())
          .select(col("user_id"),
            date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("we"),
            col("n"))
          .writeStream.outputMode("complete").format("memory")
          .queryName(name).start()
        input.addData(Seq(ev(1, 0), ev(2, 5), ev(10, 12, user = 2)))
        q.processAllAvailable() // batch 1: open one session per user
        input.addData(Seq(ev(3, 20), ev(11, 50, user = 2)))
        q.processAllAvailable() // batch 2: extend user 1, new session user 2
        input.addData(Seq(ev(4, 59), ev(12, 55, user = 2)))
        q.processAllAvailable() // batch 3: new session user 1, extend user 2
        q.stop()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          .sortBy(t => (t._1, t._2)).toSeq
      }
      if (conf.isEmpty) body() else withSQLConf(conf.toSeq: _*)(body())
    }
    val dflt = runWith("sess_dflt", Map.empty)
    val rocks = runWith("sess_rocks", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(rocks == dflt, s"provider parity broken:\nrocks=$rocks\ndflt=$dflt")
    // shape pin so parity can't be trivially-empty: 4 sessions, both users
    assert(dflt.map(_._4) == Seq(3L, 1L, 1L, 2L), dflt.toString)
  }

  test("heavy-hitters UDAF runs in a streaming aggregation with incremental state") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    // built-in frequent-items sketch, 8 items tracked: hash map size M = 16
    val agg = input.toDF()
      .groupBy("user_id")
      .agg(call_function("approx_top_k_estimate",
        call_function("approx_top_k_accumulate", col("event_type"), lit(8)),
        lit(8)).as("hh"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("hh_stream").start()
    input.addData((1 to 40).map(i => ev(i, i % 60, typ = "click")))
    q.processAllAvailable()
    // second micro-batch shifts the majority item: state must merge, not reset
    input.addData((41 to 140).map(i => ev(i, i % 60, typ = "view")))
    q.processAllAvailable()
    q.stop()
    val sketch = spark.table("hh_stream")
      .select(inline(col("hh")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // view: 100 of n=140 -> true > 2 * 3.5n/M = 61.25, guaranteed present
    // with est in [100, 100 + 3.5 * 140/16 = 130.6]
    assert(sketch.contains("view"), sketch.toString)
    assert(sketch("view") >= 100 && sketch("view") <= 130, sketch.toString)
    // click (40) may or may not survive; if present its estimate is bounded
    sketch.get("click").foreach(c => assert(c >= 40 && c <= 70))
  }

  test("quantile-sketch UDAF runs in a streaming aggregation; merged state stays rank-accurate") {
    import spark.implicits._
    val input = MemoryStream[Ev](spark)
    // per-user KLL sketches built incrementally, then merged across users —
    // the same build-then-merge shape as the batch day-sketch rollup
    val agg = input.toDF()
      .groupBy("user_id")
      .agg(kll_sketch_agg_double(col("value")).as("sk"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("qs_stream").start()
    input.addData((1 to 400).map(i => ev(i, i % 60, user = i % 8, v = i.toDouble)))
    q.processAllAvailable()
    // second micro-batch doubles the value range: state must merge, not reset
    input.addData((401 to 800).map(i => ev(i, i % 60, user = i % 8, v = i.toDouble)))
    q.processAllAvailable()
    q.stop()
    val qs = spark.table("qs_stream")
      .agg(kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk")),
        array(lit(0.5), lit(0.9))).as("p"))
      .collect()(0).getSeq[Double](0)
    // values are 1..800 once each: p50 ~ 400, p90 ~ 720; KLL k = 200 keeps
    // the rank error under 1.65% (99% confidence), +-13 ranks over n=800,
    // inside +-16 for the cross-user merge
    assert(math.abs(qs(0) - 400.0) <= 16.0, s"p50=${qs(0)}")
    assert(math.abs(qs(1) - 720.0) <= 16.0, s"p90=${qs(1)}")
  }

  test("streaming dedup ingest admits only docs fresh vs the persisted corpus") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val bandPath = SparkTest.tempDir("graft-ingest-bands") + "/bands"
    val admitPath = SparkTest.tempDir("graft-ingest-admit") + "/admitted"
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("id", "text")
      .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val q = Streams.dedupIngestSink(docs, bandPath, admitPath, k = 16, nBands = 4)
    // batch 0: all fresh
    input.addData(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partitions across the cluster respecting locality")))
    q.processAllAvailable()
    // batch 1: near-dup of doc 1 (one token appended) + one fresh doc
    input.addData(Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight again"),
      (101L, "entirely fresh content mentioning gardens and rivers flowing")))
    q.processAllAvailable()
    // batch 2: near-dup of a doc admitted in batch 1 — state accreted
    input.addData(Seq(
      (200L, "entirely fresh content mentioning gardens and rivers flowing too")))
    q.processAllAvailable()
    q.stop()
    val admitted = Streams.admittedDocs(spark, admitPath)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 2L, 101L), s"admitted: $admitted")
    // band state holds exactly the admitted docs' bands (k/nBands rows each)
    val stateIds = spark.read.parquet(bandPath).select("id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(stateIds === Set(1L, 2L, 101L))
  }

  /** Drive a rate-micro-batch sink to >= `minBatches` committed batches,
    * returning (rowsProcessed, elapsedSeconds). Rate-micro-batch emits a
    * deterministic `rowsPerBatch` rows per batch as fast as the sink
    * drains, so sustained rows/s is workload throughput, not source
    * pacing. */
  private def driveBatches(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      minBatches: Long, rowsPerBatch: Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + 300L * 1000 * 1000 * 1000
    var last = -1L
    while (last < minBatches - 1 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    q.stop()
    assert(last >= minBatches - 1, s"only ${last + 1} batches in ${dt}s")
    ((last + 1) * rowsPerBatch, dt)
  }

  test("dedup ingest sustains 20+ rate-source batches; state grows with ADMITTED rows, not batches") {
    val dir = SparkTest.tempDir("graft-thr-doc")
    val nBands = 4
    val rowsPerBatch = 400L
    // shingle group = value % 2000: groups 0..1999 first arrive in batches
    // 0..4; EVERY row of batches 5+ is a cross-batch duplicate, so admitted
    // row count freezes at 2000 while batches keep flowing — exactly the
    // "state linear in admitted rows, not in batches" claim under test
    val docs = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch).option("numPartitions", 4)
      .load()
      .select(col("value").as("id"),
        transform(sequence(lit(0), lit(9)),
          i => concat(lit("s"), ((col("value") % 2000) * 10 + i).cast("string")))
          .as("shingles"))
    val q = Streams.dedupIngestSink(docs, s"$dir/bands", s"$dir/admitted",
      k = 16, nBands = nBands, checkpointLocation = Some(s"$dir/ckpt"))
    val (rows, dt) = driveBatches(q, minBatches = 21, rowsPerBatch)
    info(f"dedupIngestSink sustained ${rows / dt}%.0f rows/s over $rows rows in $dt%.1f s")
    val admitted = Streams.admittedDocs(spark, s"$dir/admitted")
      .select("id").collect().map(_.getLong(0))
    // exactly the first occurrence of each group was admitted
    assert(admitted.length == 2000)
    assert(admitted.toSet == (0L until 2000L).toSet)
    // band state = nBands rows per ADMITTED doc — NOT per input row: 21+
    // batches carried >= 8400 rows but the state stayed at 2000 docs' bands
    val stateRows = spark.read.parquet(s"$dir/bands").count()
    assert(stateRows == nBands * 2000L, s"state rows $stateRows")
    assert(rows >= 21 * rowsPerBatch)
    assert(rows / dt > 20.0, f"throughput collapsed: ${rows / dt}%.1f rows/s")
  }

  test("embed ingest sustains 20+ rate-source batches; bucket state = one row per admitted vector") {
    val dir = SparkTest.tempDir("graft-thr-emb")
    val rowsPerBatch = 100L
    val dim = 16
    // vector group = value % 500: identical vectors recur from batch 5 on,
    // so admission freezes at 500 vectors while batches keep arriving
    val vecs = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch).option("numPartitions", 4)
      .load()
      .select(col("value").as("vec_id"),
        array((0 until dim).map(i =>
          (pmod(xxhash64(col("value") % 500, lit(i)), lit(100000L))
            .cast("double") / lit(100000.0)) - lit(0.5)): _*).as("v"))
    val q = Streams.embedIngestSink(vecs, s"$dir/buckets", s"$dir/admitted",
      dim = dim, nBits = 6, minCosine = 0.99,
      checkpointLocation = Some(s"$dir/ckpt"))
    val (rows, dt) = driveBatches(q, minBatches = 21, rowsPerBatch)
    info(f"embedIngestSink sustained ${rows / dt}%.0f rows/s over $rows rows in $dt%.1f s")
    val admitted = spark.read.parquet(s"$dir/admitted")
      .select("vec_id").collect().map(_.getLong(0))
    assert(admitted.length == 500)
    assert(admitted.toSet == (0L until 500L).toSet)
    // bucket state carries exactly ONE long-keyed row per admitted vector
    val stateRows = spark.read.parquet(s"$dir/buckets").count()
    assert(stateRows == 500L, s"state rows $stateRows")
    assert(rows / dt > 5.0, f"throughput collapsed: ${rows / dt}%.1f rows/s")
  }

  // ——— realistic-batch throughput: the 100-400-row cases above pin
  // SEMANTICS cheaply; these pin PIPELINE cost. At 10k-row batches the
  // per-batch fixed overhead (micro-batch planning, state-dir listing,
  // two small parquet commits) amortizes to noise and rows/s reflects
  // the actual dedup work — the number a capacity plan would use. The
  // state stores are plain parquet tables (not the Spark state store),
  // so there is no RocksDB variant to test: provider choice only affects
  // mapGroupsWithState-style operators, which these sinks don't use.

  test("dedup ingest at 10k-row batches: rows/s reflects pipeline cost, not batch overhead") {
    val dir = SparkTest.tempDir("graft-thr-doc-big")
    val nBands = 4
    val rowsPerBatch = 10000L
    // group = value % 50000: batches 0-4 are all fresh (consecutive values
    // can't collide mod 50000 inside 10k rows), batches 5-9 are 100%
    // cross-batch duplicates probing 200k rows of band state — both halves
    // of a production ingest (cold corpus growth, steady-state rejection)
    val docs = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch).option("numPartitions", 4)
      .load()
      .select(col("value").as("id"),
        transform(sequence(lit(0), lit(9)),
          i => concat(lit("s"), ((col("value") % 50000) * 10 + i).cast("string")))
          .as("shingles"))
    val q = Streams.dedupIngestSink(docs, s"$dir/bands", s"$dir/admitted",
      k = 16, nBands = nBands, checkpointLocation = Some(s"$dir/ckpt"))
    val (rows, dt) = driveBatches(q, minBatches = 10, rowsPerBatch)
    info(f"dedupIngestSink big-batch: ${rows / dt}%.0f rows/s over $rows rows in $dt%.1f s")
    val admitted = spark.read.parquet(s"$dir/admitted").count()
    assert(admitted == 50000L, s"admitted $admitted")
    assert(spark.read.parquet(s"$dir/bands").count() == nBands * 50000L)
    // conservative floor (shared CI host): the published number is the
    // info line / PROGRESS note, the assertion only guards collapse
    assert(rows / dt > 500.0, f"throughput collapsed: ${rows / dt}%.1f rows/s")
  }

  test("embed ingest at 5k-row batches: rows/s reflects pipeline cost, not batch overhead") {
    val dir = SparkTest.tempDir("graft-thr-emb-big")
    val rowsPerBatch = 5000L
    val dim = 16
    // vector group = value % 25000: batches 0-4 fresh, 5-9 pure duplicates
    // probing the 25k-vector bucket state
    val vecs = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch).option("numPartitions", 4)
      .load()
      .select(col("value").as("vec_id"),
        array((0 until dim).map(i =>
          (pmod(xxhash64(col("value") % 25000, lit(i)), lit(100000L))
            .cast("double") / lit(100000.0)) - lit(0.5)): _*).as("v"))
    val q = Streams.embedIngestSink(vecs, s"$dir/buckets", s"$dir/admitted",
      dim = dim, nBits = 6, minCosine = 0.99,
      checkpointLocation = Some(s"$dir/ckpt"))
    val (rows, dt) = driveBatches(q, minBatches = 10, rowsPerBatch)
    info(f"embedIngestSink big-batch: ${rows / dt}%.0f rows/s over $rows rows in $dt%.1f s")
    val admitted = spark.read.parquet(s"$dir/admitted").count()
    assert(admitted == 25000L, s"admitted $admitted")
    assert(spark.read.parquet(s"$dir/buckets").count() == 25000L)
    assert(rows / dt > 250.0, f"throughput collapsed: ${rows / dt}%.1f rows/s")
  }

  test("dedup ingest self-dedups a bursty batch: two in-batch near-dups admit one") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val bandPath = SparkTest.tempDir("graft-ingest-bands2") + "/bands"
    val admitPath = SparkTest.tempDir("graft-ingest-admit2") + "/admitted"
    val checkpoint = SparkTest.tempDir("graft-ingest-ckpt2")
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("id", "text")
      .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val q = Streams.dedupIngestSink(docs, bandPath, admitPath, k = 16,
      nBands = 4, checkpointLocation = Some(checkpoint))
    // ONE batch carrying a near-dup pair (9 vs 10 shared leading tokens)
    // plus an unrelated doc: the burst must not admit its own duplicate
    input.addData(Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight again"),
      (12L, "spark shuffles partitions across the cluster respecting locality")))
    q.processAllAvailable()
    q.stop()
    val admitted = Streams.admittedDocs(spark, admitPath)
      .select("id").collect().map(_.getLong(0)).toSet
    // smaller id of the in-batch collision survives (keepFromPairs rule)
    assert(admitted === Set(10L, 12L), s"admitted: $admitted")
    // state holds only the admitted docs' bands
    val stateIds = spark.read.parquet(bandPath).select("id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(stateIds === Set(10L, 12L))
  }

  test("dedup ingest restarted from the SAME checkpoint continues batch ids " +
    "and keeps rejecting docs admitted before the restart") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val bandPath = SparkTest.tempDir("graft-ingest-bands3") + "/bands"
    val admitPath = SparkTest.tempDir("graft-ingest-admit3") + "/admitted"
    val checkpoint = SparkTest.tempDir("graft-ingest-ckpt3")
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("id", "text")
      .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
    def start() = Streams.dedupIngestSink(docs, bandPath, admitPath,
      k = 16, nBands = 4, checkpointLocation = Some(checkpoint))
    val q1 = start()
    input.addData(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partitions across the cluster respecting locality")))
    q1.processAllAvailable()
    input.addData(Seq(
      (101L, "entirely fresh content mentioning gardens and rivers flowing")))
    q1.processAllAvailable()
    q1.stop()
    // restart the SAME sink from the SAME checkpoint: batch ids must
    // continue (not reset to 0), so the pre-restart corpus stays visible
    // to the `batch < batchId` state filter
    val q2 = start()
    input.addData(Seq(
      (300L, "the quick brown fox jumps over the lazy dog tonight again"),
      (301L, "completely new material discussing telescopes and astronomy")))
    q2.processAllAvailable()
    q2.stop()
    val admitted = Streams.admittedDocs(spark, admitPath)
      .select("id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 300 near-dups doc 1 (admitted BEFORE the restart) -> rejected; a
    // batch-id reset would hide the old state and wrongly admit it
    assert(admitted.keySet === Set(1L, 2L, 101L, 301L), s"admitted: $admitted")
    // batch ids continued across the restart: the post-restart admission
    // landed in batch 2, and no pre-restart doc was re-admitted elsewhere
    assert(admitted(301L) === 2, s"admitted: $admitted")
    assert(admitted(1L) === 0 && admitted(2L) === 0 && admitted(101L) === 1)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("dedup ingest drops its cached frames when a batch fails") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val dir = java.nio.file.Paths.get(SparkTest.tempDir("graft-ingest-leak"))
    // the admitted path is a regular file: the admitted write (after the
    // batch and its band table are cached) cannot create batch=0 under it
    val admitPath = java.nio.file.Files.createFile(dir.resolve("admitted")).toString
    spark.catalog.clearCache()
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("id", "text")
      .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
    val q = Streams.dedupIngestSink(docs, s"$dir/bands", admitPath, k = 16, nBands = 4)
    input.addData(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight")))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable())
    q.stop()
    assert(q.exception.nonEmpty)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cacheManager.isEmpty, "a failed batch left cached frames behind")
  }

  test("dedup ingest on a fresh checkpoint over committed batches fails with " +
    "a checkpoint/state mismatch and keeps batch 0's admissions") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val dir = SparkTest.tempDir("graft-ingest-mismatch")
    val (bandPath, admitPath) = (s"$dir/bands", s"$dir/admitted")
    def start(input: MemoryStream[(Long, String)], checkpoint: String) =
      Streams.dedupIngestSink(
        input.toDF().toDF("id", "text")
          .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles")),
        bandPath, admitPath, k = 16, nBands = 4,
        checkpointLocation = Some(checkpoint))
    def batch0Ids = Streams.admittedDocs(spark, admitPath)
      .filter(col("batch") === 0).select("id").collect().map(_.getLong(0)).toSet
    val inputA = MemoryStream[(Long, String)](spark)
    val qa = start(inputA, s"$dir/ckA")
    inputA.addData(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partitions across the cluster respecting locality")))
    qa.processAllAvailable()
    inputA.addData(Seq(
      (101L, "entirely fresh content mentioning gardens and rivers flowing")))
    qa.processAllAvailable()
    qa.stop()
    assert(batch0Ids === Set(1L, 2L))
    // a fresh checkpoint restarts batch ids at 0 while batch=1 is committed:
    // running on would hide the corpus from the `batch < 0` state read and
    // overwrite batch 0's admissions with this near-dup of doc 1
    val inputB = MemoryStream[(Long, String)](spark)
    val qb = start(inputB, s"$dir/ckB")
    inputB.addData(Seq(
      (300L, "the quick brown fox jumps over the lazy dog tonight again")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      qb.processAllAvailable())
    qb.stop()
    val mismatch = causes(e).collectFirst { case c: IllegalStateException => c }
    assert(mismatch.exists(_.getMessage.contains("checkpoint/state mismatch")), e)
    assert(batch0Ids === Set(1L, 2L))
  }

  test("embedding ingest sink admits only vectors fresh vs the admitted store, " +
    "self-dedups bursts, never rescans corpus buckets") {
    import spark.implicits._
    def vec(seed: Int, dim: Int = 16): Seq[Double] =
      (0 until dim).map { i =>
        val x = (seed * 2654435761L + i * 40503L) & 0xffff
        (x.toDouble / 0xffff) - 0.5
      }
    def nearDup(v: Seq[Double]): Seq[Double] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 7 == 0) 0.01 else 0.0) }
    val bucketPath = SparkTest.tempDir("graft-embed-buckets") + "/buckets"
    val admitPath = SparkTest.tempDir("graft-embed-admit") + "/admitted"
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val q = Streams.embedIngestSink(
      input.toDF().toDF("vec_id", "v"), bucketPath, admitPath,
      dim = 16, nBits = 4, minCosine = 0.95)
    // batch 0: six distinct vectors plus an in-batch near-dup of id 1 —
    // the burst must admit only the smaller id. Seeds are chosen so no
    // ACCIDENTAL pair exceeds cosine ~0.35 (the linear generator makes
    // e.g. vec(4)/vec(6) correlate at 0.986 — a real near-dup the sink
    // would rightly drop).
    val seeds = Seq(1, 2, 5, 11, 17, 31)
    input.addData(seeds.zipWithIndex.map { case (s0, i) =>
      ((i + 1).toLong, vec(s0))
    } :+ (100L, nearDup(vec(1))))
    q.processAllAvailable()
    // batch 1: a near-dup of an ADMITTED vector (rejected via the bucket
    // state + admitted store, no corpus rescan) and one fresh vector
    input.addData(Seq((200L, nearDup(vec(5))), (201L, vec(77))))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(admitPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 2L, 3L, 4L, 5L, 6L, 201L), s"admitted: $admitted")
    // bucket state mirrors exactly the admitted ids, one row each
    val stateIds = spark.read.parquet(bucketPath)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(stateIds.toSet === admitted && stateIds.length === admitted.size)
  }

  // The ingest sinks and the public incremental operators must hash in one
  // family: state a sink wrote is probed by Similarity directly. Each
  // admitted doc / vector probed against the state must match itself.
  test("dedup ingest band state is probeable by Similarity.incrementalNearDup") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    import graft.operators.Similarity
    val bandPath = SparkTest.tempDir("graft-probe-bands") + "/bands"
    val admitPath = SparkTest.tempDir("graft-probe-admit") + "/admitted"
    val input = MemoryStream[(Long, String)](spark)
    def shingled(df: org.apache.spark.sql.DataFrame) = df.toDF("id", "text")
      .select(col("id"), T.ngrams(T.tokens(col("text")), 3).as("shingles"))
    val q = Streams.dedupIngestSink(shingled(input.toDF()), bandPath, admitPath,
      k = 16, nBands = 4)
    val batch0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partitions across the cluster respecting locality"),
      (3L, "서울 열린데이터 광장 대기오염 측정 정보 일별 평균"))
    input.addData(batch0)
    q.processAllAvailable()
    q.stop()
    val admitted = Streams.admittedDocs(spark, admitPath)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 2L, 3L))
    val flagged = Similarity.incrementalNearDup(
        spark.read.parquet(bandPath).select("id", "band_idx", "band_hash"),
        shingled(batch0.toDF()), k = 16, nBands = 4)
      .filter(col("id") === col("matched_id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(flagged === admitted)
  }

  test("embed ingest bucket state is probeable by Similarity.incrementalEmbedDedup") {
    import spark.implicits._
    import graft.operators.Similarity
    def vec(seed: Int): Seq[Double] = (0 until 16).map { i =>
      (((seed * 2654435761L + i * 40503L) & 0xffff).toDouble / 0xffff) - 0.5
    }
    val bucketPath = SparkTest.tempDir("graft-probe-buckets") + "/buckets"
    val admitPath = SparkTest.tempDir("graft-probe-vadmit") + "/admitted"
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val q = Streams.embedIngestSink(input.toDF().toDF("vec_id", "v"),
      bucketPath, admitPath, dim = 16, nBits = 4, minCosine = 0.95)
    // the seeds of the sink test above: no two correlate above ~0.35
    val batch0 = Seq(1, 2, 5, 11, 17, 31).map(s0 => (s0.toLong, vec(s0)))
    input.addData(batch0)
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(admitPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted === batch0.map(_._1).toSet)
    val flagged = Similarity.incrementalEmbedDedup(
        spark.read.parquet(bucketPath).select("vec_id", "bucket"),
        spark.read.parquet(admitPath).select("vec_id", "v"),
        batch0.toDF("vec_id", "v"), dim = 16, nBits = 4, minCosine = 0.95)
      .filter(col("id") === col("matched_id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(flagged === admitted)
  }

  test("embedding ingest restarted from the SAME checkpoint keeps rejecting " +
    "vectors admitted before the restart") {
    import spark.implicits._
    def vec(seed: Int, dim: Int = 16): Seq[Double] =
      (0 until dim).map { i =>
        val x = (seed * 2654435761L + i * 40503L) & 0xffff
        (x.toDouble / 0xffff) - 0.5
      }
    def nearDup(v: Seq[Double]): Seq[Double] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 7 == 0) 0.01 else 0.0) }
    val bucketPath = SparkTest.tempDir("graft-embed-buckets2") + "/buckets"
    val admitPath = SparkTest.tempDir("graft-embed-admit2") + "/admitted"
    val checkpoint = SparkTest.tempDir("graft-embed-ckpt2")
    val input = MemoryStream[(Long, Seq[Double])](spark)
    def start() = Streams.embedIngestSink(
      input.toDF().toDF("vec_id", "v"), bucketPath, admitPath,
      dim = 16, nBits = 4, minCosine = 0.95,
      checkpointLocation = Some(checkpoint))
    val q1 = start()
    input.addData(Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(5))))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    // near-dup of pre-restart id 2 must still be rejected (batch ids
    // continue, so the old state stays visible); vec(77) is fresh
    input.addData(Seq((300L, nearDup(vec(2))), (301L, vec(77))))
    q2.processAllAvailable()
    q2.stop()
    val admitted = spark.read.parquet(admitPath)
      .select("vec_id", "batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(admitted.keySet === Set(1L, 2L, 3L, 301L), s"admitted: $admitted")
    assert(admitted(301L) === 1 && admitted(1L) === 0)
  }

  test("linkage ingest: per-batch map-side resolve, union == one batch resolve, quarantine gets the rest") {
    import spark.implicits._
    import graft.operators.Linkage
    val dir = SparkTest.tempDir("graft-linkage-sink")
    val canonical = Seq(
      (10L, "blkA", "alpha beta gamma canonical body"),
      (11L, "blkA", "alpha beta delta other canonical"),
      (12L, "blkB", "epsilon zeta eta third body"),
      (13L, "blkC", "theta iota kappa fourth body")
    ).toDF("doc_id", "blk", "ctext")
    val fields = Seq(Linkage.Field("ctext", "dtext", 1000))
    val arrivalsAll = Seq(
      (100L, "blkA", "alpha beta gamma canonical bod"),  // near 10
      (101L, "blkB", "epsilon zeta eta third bo"),       // near 12
      (102L, "blkC", "theta iota kappa fourth b"),       // near 13
      (103L, "blkZ", "entirely foreign record text"))    // no block -> quarantine
    val input = MemoryStream[(Long, String, String)](spark)
    val arr = input.toDF().toDF("dirty_id", "blk", "dtext")
    val q = Streams.linkageIngestSink(arr, canonical,
      canonicalId = "doc_id", dirtyId = "dirty_id", blockCol = "blk",
      fields = fields, minScore = 600000L,
      matchedPath = s"$dir/matched", unmatchedPath = Some(s"$dir/unmatched"))
    // arrivals split across two micro-batches
    input.addData(arrivalsAll.take(2))
    q.processAllAvailable()
    input.addData(arrivalsAll.drop(2))
    q.processAllAvailable()
    q.stop()
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("dirty_id", "matched_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = toSet(Streams.linkageMatches(spark, s"$dir/matched"))
    val want = toSet(Linkage.resolve(canonical, arrivalsAll.toDF("dirty_id", "blk", "dtext"),
      "doc_id", "dirty_id", "blk", fields, 600000L))
    assert(got == want && got.map(_._1) == Set(100L, 101L, 102L), s"got $got want $want")
    // quarantine holds exactly the unmatched arrival, with its payload
    val quarantined = spark.read.parquet(s"$dir/unmatched")
      .select("dirty_id", "dtext").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(quarantined == Set((103L, "entirely foreign record text")))
    // the matched store is batch-partitioned (replay overwrites its own dir)
    val batches = Streams.linkageMatches(spark, s"$dir/matched")
      .select("batch").distinct().collect().map(_.getInt(0)).toSet
    assert(batches == Set(0, 1))
  }

  test("linkage ingest: a ZERO-match batch quarantines everything instead of wedging (r15 ADVICE)") {
    import spark.implicits._
    import graft.operators.Linkage
    // every arrival is blockless, so the resolve writes no visible part
    // files under batch=0 — the quarantine read-back must fall back to an
    // empty matched set (AnalysisException guard), not fail the batch and
    // wedge the checkpoint replay
    val dir = SparkTest.tempDir("graft-linkage-empty")
    val canonical = Seq((10L, "blkA", "alpha beta gamma canonical body"))
      .toDF("doc_id", "blk", "ctext")
    val fields = Seq(Linkage.Field("ctext", "dtext", 1000))
    val input = MemoryStream[(Long, String, String)](spark)
    val q = Streams.linkageIngestSink(
      input.toDF().toDF("dirty_id", "blk", "dtext"), canonical,
      canonicalId = "doc_id", dirtyId = "dirty_id", blockCol = "blk",
      fields = fields, minScore = 600000L,
      matchedPath = s"$dir/matched", unmatchedPath = Some(s"$dir/unmatched"))
    input.addData(Seq((200L, "blkZ", "foreign one"), (201L, "blkY", "foreign two")))
    q.processAllAvailable()
    // a later batch WITH a match still works after the empty one
    input.addData(Seq((202L, "blkA", "alpha beta gamma canonical bod")))
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty, s"sink wedged: ${q.exception}")
    val quarantined = spark.read.parquet(s"$dir/unmatched")
      .select("dirty_id").collect().map(_.getLong(0)).toSet
    assert(quarantined == Set(200L, 201L))
    val matched = Streams.linkageMatches(spark, s"$dir/matched")
      .select("dirty_id").collect().map(_.getLong(0)).toSet
    assert(matched == Set(202L))
  }

  test("scd2Sink over micro-batches == batch scd2FromChangelog over the full log") {
    import spark.implicits._
    val statePath = SparkTest.tempDir("graft-scd2-state")
    // changelog: key 1 goes A,A,B,A (batch split mid-run!); key 2 appears
    // in batch 2 only; key 3 never changes across batches
    val b1 = Seq((1L, 1L, "A", 10L), (2L, 1L, "A", 20L), (10L, 3L, "X", 11L))
    val b2 = Seq((3L, 1L, "B", 30L), (5L, 2L, "Q", 25L), (11L, 3L, "X", 21L))
    val b3 = Seq((4L, 1L, "A", 40L), (12L, 3L, "X", 31L))
    val input = MemoryStream[(Long, Long, String, Long)](spark)
    val q = Streams.scd2Sink(
      input.toDF().toDF("event_id", "user_id", "event_type", "t"),
      keys = Seq("user_id"), tsCol = "t", tieCol = "event_id",
      attrCols = Seq("event_type"), statePath = statePath)
    Seq(b1, b2, b3).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    val streamed = norm(Streams.scd2State(spark, statePath))
    val batch = norm(graft.operators.Cdc.scd2FromChangelog(
      (b1 ++ b2 ++ b3).toDF("event_id", "user_id", "event_type", "t"),
      Seq("user_id"), "t", "event_id", Seq("event_type")))
    assert(streamed == batch, s"streamed $streamed\nbatch    $batch")
    // spot-check the semantic content too: key 1 has three versions, the
    // run split across batches created no phantom version
    assert(streamed.count(_._1 == 1L) == 3)
    assert(streamed.count(_._1 == 3L) == 1)
  }

  test("scd2Sink drops a late row tied on ts but ordered before the open head") {
    import spark.implicits._
    val statePath = SparkTest.tempDir("graft-scd2-tie")
    // batch 1 establishes A@(10,tie 1) then B@(20,tie 5) — open head is
    // (20, 5). Batch 2 replays a LATE row (ts=20, tie=3, A): it precedes
    // the head in the total order, so it must be dropped, not allowed to
    // manufacture a phantom zero-length A[20,20) version.
    val input = MemoryStream[(Long, Long, String, Long)](spark)
    val q = Streams.scd2Sink(
      input.toDF().toDF("event_id", "user_id", "event_type", "t"),
      keys = Seq("user_id"), tsCol = "t", tieCol = "event_id",
      attrCols = Seq("event_type"), statePath = statePath)
    input.addData(Seq((1L, 1L, "A", 10L), (5L, 1L, "B", 20L)))
    q.processAllAvailable()
    input.addData(Seq((3L, 1L, "A", 20L)))
    q.processAllAvailable()
    q.stop()
    val got = Streams.scd2State(spark, statePath)
      .select("event_type", "valid_from", "is_current").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._2).toSeq
    assert(got == Seq(("A", 10L, false), ("B", 20L, true)), got.mkString(","))
  }

  test("audio feature extraction runs unchanged on a stream (batch/stream parity, stateless append)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{HeaderCodec, MediaRecord}
    // the multimodal feature extractor is a stateless typed mapPartitions,
    // so the SAME code runs as a streaming transform with no watermark and
    // no state store — the media-ingest shape (decode on arrival)
    val records = Seq(
      MediaRecord(1L, "audio", HeaderCodec.encodeWavPattern(1L, 8000, 300)),
      MediaRecord(2L, "audio", HeaderCodec.encodeWavPattern(2L, 8000, 700)),
      MediaRecord(3L, "text", "not audio".getBytes("UTF-8")))
    val input = MemoryStream[MediaRecord](spark)
    input.addData(records.take(2))
    input.addData(records.drop(2)) // second micro-batch: the dropped payload
    runToMemory(
      Multimodal.audioFrameFeatures(input.toDS(), frame = 256).toDF(), "afeat")
    val streamed = spark.table("afeat").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getLong(6))).toSet
    val batch = Multimodal.audioFrameFeatures(records.toDS(), frame = 256)
      .collect()
      .map(f => (f.media_id, f.frame_idx, f.n, f.energy, f.sum_abs,
        f.peak, f.zero_cross)).toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) == Set(1L, 2L)) // 2 audio payloads, 5 frames
    assert(streamed.size == 2 + 3)
  }
}
