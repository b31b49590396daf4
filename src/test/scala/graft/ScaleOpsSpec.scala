package graft

import graft.operators.{Cdc, Joins, Privacy, StringJoin}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Round-4 scale operators: equivalence-to-naive properties on generated
  * data plus the physical-plan facts the oracle can't see (partition
  * pruning, salt spreading, one-directory overwrite).
  */
class ScaleOpsSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  test("saltedJoin == plain join on generated skewed data") {
    import spark.implicits._
    val rnd = new Random(7)
    val fact = (1 to 5000).map { i =>
      (i.toLong, if (rnd.nextDouble() < 0.8) 3L else rnd.nextInt(20).toLong)
    }.toDF("row_id", "k")
    val dim = (0L to 19L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("name").count()
    val salted = Joins.saltedJoin(fact, dim, "k", salts = 6, saltSource = col("row_id"))
      .groupBy("name").count()
    assert(salted.orderBy("name").collect() === plain.orderBy("name").collect())
  }

  test("saltedJoin spreads the hot key over multiple shuffle partitions") {
    import spark.implicits._
    val fact = (1 to 4000).map(i => (i.toLong, 0L)).toDF("row_id", "k") // all-hot
    val dim = Seq((0L, "hot")).toDF("k", "name")
    val salted = Joins.saltedJoin(fact, dim, "k", salts = 4, saltSource = col("row_id"))
    // count distinct (k, salt) reducer keys the hot key occupies: the fact
    // side of the join shuffles on pmod(xxhash64(row_id), 4) ∈ 4 values
    val spread = fact
      .withColumn("salt", pmod(xxhash64(col("row_id")), lit(4L)))
      .select("salt").distinct().count()
    assert(spread === 4L)
    assert(salted.count() === 4000L)
  }

  test("intervalJoin == brute-force theta join on generated intervals") {
    import spark.implicits._
    val rnd = new Random(11)
    // timestamps across ~3 hours; intervals 0-40 min long (bin = 15 min:
    // intervals span 1-4 bins, exercising multi-bin explode + seam cases)
    val lefts = (1 to 300).map { i =>
      val st = 1700000000000000L + rnd.nextInt(10800) * 1000000L
      (i.toLong, st, st + rnd.nextInt(2400) * 1000000L)
    }.toDF("lid", "st_us", "en_us")
      .select(col("lid"), timestamp_micros(col("st_us")).as("st"),
        timestamp_micros(col("en_us")).as("en"))
    val rights = (1 to 500).map { j =>
      (j.toLong, 1700000000000000L + rnd.nextInt(12000) * 1000000L)
    }.toDF("rid", "t_us")
      .select(col("rid"), timestamp_micros(col("t_us")).as("t"))
    val got = Joins.intervalJoin(lefts, rights,
        col("st"), col("en"), col("t"), binSeconds = 900L)
      .select("lid", "rid")
    val want = lefts.join(rights, col("t") >= col("st") && col("t") <= col("en"))
      .select("lid", "rid")
    assert(got.count() === want.count())
    assert(got.except(want).count() === 0L)
    assert(want.except(got).count() === 0L)
    // exactly-once: no pair duplicated by the bin explode
    assert(got.distinct().count() === got.count())
  }

  test("saltedJoin plan shuffles on the COMPOSITE (key, salt) — the hot key cannot land on one reducer") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val fact = (1 to 100).map(i => (i.toLong, 0L)).toDF("row_id", "k")
    val dim = Seq((0L, "hot")).toDF("k", "name")
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // exchanges are materialized by preparation rules; AQE off keeps the
      // executedPlan a plain tree the collect can walk pre-execution
      "spark.sql.adaptive.enabled" -> "false") {
      val salted = Joins.saltedJoin(fact, dim, "k", salts = 4, saltSource = col("row_id"))
      val parts = salted.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect { case h: HashPartitioning => h.expressions.map(_.sql).mkString(",") }
      // every join-feeding exchange hashes on BOTH the key and the salt
      assert(parts.nonEmpty)
      assert(parts.forall(p => p.contains("k") && p.contains("__salt")), parts.toString)
    }
  }

  test("intervalJoin plan is a bucket equi-join: no CartesianProduct, no nested-loop") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import spark.implicits._
    val lefts = (1 to 50).map { i =>
      (i.toLong, 1700000000000000L + i * 60000000L, 1700000000000000L + i * 60000000L + 600000000L)
    }.toDF("lid", "st_us", "en_us")
      .select(col("lid"), timestamp_micros(col("st_us")).as("st"),
        timestamp_micros(col("en_us")).as("en"))
    val rights = (1 to 80).map(j => (j.toLong, 1700000000000000L + j * 45000000L))
      .toDF("rid", "t_us")
      .select(col("rid"), timestamp_micros(col("t_us")).as("t"))
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Joins.intervalJoin(lefts, rights,
        col("st"), col("en"), col("t"), binSeconds = 900L).queryExecution.sparkPlan
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty, plan.toString)
      assert(plan.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty, plan.toString)
    }
  }

  test("intervalOverlapJoin == brute-force theta join, exactly once, no nested-loop") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import spark.implicits._
    val rnd = new Random(7)
    def intervals(n: Int, tag: String) = (1 to n).map { i =>
      val st = 1700000000000000L + rnd.nextInt(86400) * 1000000L
      (i.toLong, st, st + (60 + rnd.nextInt(7200)) * 1000000L)
    }.toDF(s"${tag}id", "st_us", "en_us")
      .select(col(s"${tag}id"), timestamp_micros(col("st_us")).as(s"${tag}s"),
        timestamp_micros(col("en_us")).as(s"${tag}e"))
    val a = intervals(120, "a")
    val b = intervals(90, "b")
    val got = Joins.intervalOverlapJoin(a, b,
        col("as"), col("ae"), col("bs"), col("be"), binSeconds = 1800L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: multi-bin overlaps must not duplicate
    assert(got.length == got.distinct.length)
    val brute = a.crossJoin(b)
      .filter(col("as") <= col("be") && col("bs") <= col("ae"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == brute.sorted.toSeq,
      s"got ${got.length} pairs, brute ${brute.length}")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Joins.intervalOverlapJoin(a, b,
        col("as"), col("ae"), col("bs"), col("be"), binSeconds = 1800L)
        .queryExecution.sparkPlan
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty, plan.toString)
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, plan.toString)
    }
  }

  test("star join plan is four broadcasts, zero fact-side SortMergeJoins") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("q_join_star")(spark, sf)
    val plan = df.queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(bhj.length === 4, s"expected 4 broadcast joins:\n$plan")
    assert(smj.isEmpty, s"fact side must not shuffle-join:\n$plan")
    // the dimension predicate must reach the part parquet scan as a
    // pushed filter, not evaluate post-scan
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains(
      "PushedFilters: [IsNotNull(p_size), LessThanOrEqual(p_size,25), IsNotNull(p_partkey)]"),
      planStr)
  }

  test("snapshotDiff plan is ONE full-outer sort-merge join, no second pass") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import spark.implicits._
    val old = (1 to 100).map(i => (i.toLong, s"v$i", i * 1.0)).toDF("k", "v1", "v2")
    val nw = (51 to 150).map(i => (i.toLong, s"v$i", i * 2.0)).toDF("k", "v1", "v2")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Cdc.snapshotDiff(old, nw, Seq("k")).queryExecution.sparkPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.length === 1, plan.toString)
      assert(smj.head.joinType.sql === "FULL OUTER", smj.head.joinType.toString)
      // and that is the ONLY join in the plan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.length === 1)
    }
  }

  test("editDistancePairs == brute force over random strings (PassJoin lossless)") {
    import spark.implicits._
    val rnd = new Random(13)
    val alphabet = "abc" // small alphabet -> dense near-pairs
    def randStr() = (1 to (3 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(3))).mkString
    val vocab = (1 to 400).map(_ => randStr()).distinct.toDF("s")
    for (d <- Seq(1, 2)) {
      val got = StringJoin.editDistancePairs(vocab, "s", maxDist = d)
        .select("left", "right")
      val v2 = vocab.select(col("s").as("t"))
      val want = vocab.crossJoin(v2)
        .filter(col("s") < col("t") && length(col("s")) >= d + 1 && length(col("t")) >= d + 1)
        .filter(levenshtein(col("s"), col("t")) <= d)
        .select(
          when(length(col("t")) < length(col("s")), col("t")).otherwise(col("s")).as("left"),
          when(length(col("t")) < length(col("s")), col("s")).otherwise(col("t")).as("right"))
      assert(got.except(want).count() === 0L, s"false pairs at d=$d")
      assert(want.except(got).count() === 0L, s"missed pairs at d=$d")
    }
  }

  test("snapshotDiff classifies insert/delete/update/unchanged; self-diff is all unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, null.asInstanceOf[String], 40.0))
      .toDF("k", "v1", "v2")
    val nw = Seq((2L, "b", 20.0), (3L, "c2", 30.0), (4L, "now-set", 40.0), (5L, "e", 50.0))
      .toDF("k", "v1", "v2")
    val diff = Cdc.snapshotDiff(old, nw, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(1L -> "delete", 2L -> "unchanged", 3L -> "update",
      4L -> "update", 5L -> "insert")) // null -> value counts as update
    val self = Cdc.snapshotDiff(old, old, Seq("k"))
    assert(self.filter(col("change_type") =!= "unchanged").count() === 0L)
  }

  test("kAnonymize: every released QI group has >= k rows; suppressed rows are starred") {
    import spark.implicits._
    val rnd = new Random(17)
    val rows = (1 to 2000).map { i =>
      (i.toLong, s"g${rnd.nextInt(40)}", s"h${rnd.nextInt(5)}")
    }.toDF("id", "qa", "qb")
    val k = 12
    val out = Privacy.kAnonymize(rows, Seq("qa", "qb"), k)
    val released = out.filter(!col("anon_suppressed"))
      .groupBy("qa", "qb").count()
    assert(released.filter(col("count") < k).count() === 0L)
    val starred = out.filter(col("anon_suppressed"))
    assert(starred.filter(col("qa") =!= "*" || col("qb") =!= "*").count() === 0L)
    // row conservation: enough rows were suppressed to form a legal star
    // bucket, so nothing is dropped
    assert(out.filter(col("anon_suppressed")).count() >= k)
    assert(out.count() === 2000L)
  }

  test("kAnonymize drops the star bucket when fewer than k rows are suppressed") {
    import spark.implicits._
    // two big groups (20 rows each) + ONE singleton: the 1-row star bucket
    // would itself violate k-anonymity, so the release must exclude it
    val rows = ((1 to 20).map(i => (i.toLong, "a", "x")) ++
      (21 to 40).map(i => (i.toLong, "b", "y")) ++
      Seq((41L, "c", "z"))).toDF("id", "qa", "qb")
    val out = Privacy.kAnonymize(rows, Seq("qa", "qb"), k = 12)
    assert(out.count() === 40L)
    assert(out.filter(col("anon_suppressed")).count() === 0L)
    // every released group still clears the floor
    assert(out.groupBy("qa", "qb").count()
      .filter(col("count") < 12).count() === 0L)
  }

  test("q_part_prune plan prunes partitions: scan lists only the filtered directory") {
    val path = Tables.partitionedEvents(spark, sf)
    val pruned = spark.read.parquet(path).filter(col("event_type") === "purchase")
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val parts = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    val dirs = parts.flatMap(_.files.map(_.getPath.getParent.getName)).distinct
    assert(dirs === Seq("event_type=purchase"),
      s"expected one pruned partition dir, scanned: $dirs")
    assert(scan.partitionFilters.nonEmpty, "partition filters missing from scan")
  }

  test("dynamic partition overwrite touches only the targeted day's directory") {
    val path = Tables.partitionedEventsByDay(spark, sf)
    def listDay(day: String): Map[String, Long] = {
      val dir = new java.io.File(s"$path/event_date=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val otherBefore = listDay("2024-01-10")
    Tables.events(spark, sf)
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("event_date") === "2024-01-05")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(path)
    assert(listDay("2024-01-10") === otherBefore,
      "untargeted partition was rewritten by dynamic overwrite")
    // the table still holds every day (overwrite replaced, didn't truncate)
    val days = spark.read.parquet(path).select("event_date").distinct().count()
    assert(days === 30L)
  }

  test("AQE OptimizeSkewedJoin fires on the plain skewed join (salting's alternative)") {
    import spark.implicits._
    // 85%-hot key distribution, the q_join_skew shape, but against a
    // NON-broadcastable dim (broadcast disabled): the setting where the
    // salting-vs-AQE choice actually exists. Thresholds are scaled to
    // test data; at cluster scale the defaults (256 MB / 64 MB) play the
    // same role.
    val fact = (1 to 120000).map { i =>
      (i.toLong, if (i % 100 < 85) 0L else (i % 20).toLong, s"payload_$i")
    }.toDF("row_id", "k", "pay")
    val dim = (0L to 19L).map(k => (k, s"dim_$k")).toDF("k", "name")
    // (the adaptive broadcast threshold inherits this value when unset)
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = fact.join(dim, Seq("k"))
      // execute THIS frame's plan (count() would run its own QueryExecution
      // and leave the adaptive plan here unfinalized)
      assert(joined.collect().length === 120000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"))
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n$finalPlan")
    }
  }

  test("jaccard candidate join strategy dial: SHUFFLE_HASH past the corpus gate, planner default below it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val docs = (1L to 30L).map(i =>
        (i, "en", 40L + i, Seq("alpha", "beta", s"tok_$i", s"tok_${i + 1}")))
      .toDF("doc_id", "lang", "n_chars", "toks")
    // pin the contrast: with auto-broadcast off, the un-hinted join falls
    // to sort-merge, so the gate's effect is visible at plan time (the
    // gate reads the caller's corpusRows contract, not a recount)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val hinted = Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5,
        corpusRows = Some(20000L)).queryExecution.executedPlan.toString
      assert(hinted.contains("ShuffledHashJoin"),
        s"corpus gate >= 20k docs must hint SHUFFLE_HASH:\n$hinted")
      val plain = Similarity.jaccardNearDupPairs(docs, minJaccard = 0.5,
        corpusRows = Some(100L)).queryExecution.executedPlan.toString
      assert(!plain.contains("ShuffledHashJoin"),
        s"below the gate the planner default must stand:\n$plain")
    }
  }

  test("nnDescentRound survivor fetch dial: SHUFFLE_HASH build sides keyed on src and dst past the corpus gate") {
    import spark.implicits._
    import graft.operators.Similarity
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val emb = (0L until 30L)
      .map(i => (i, Seq.tabulate(8)(d => math.sin(i * 7.0 + d) + 0.1)))
      .toDF("vec_id", "v")
    val graph = (0L until 30L)
      .flatMap(i => Seq(1L, 2L).map(o => (i, (i + o) % 30L, 0.5)))
      .toDF("src", "dst", "cos")
    // AQE off: the adaptive root hides its initial plan from collect()
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      def shjs(rows: Long) = Similarity.nnDescentRound(graph, emb, k = 3,
          prescoreFactor = 3, corpusRows = Some(rows))
        .queryExecution.executedPlan.collect { case j: ShuffledHashJoinExec => j }
      // each build side is the code or vector table, explicitly
      // repartitioned on the join key it is fetched by (the dst side reuses
      // the src side's exchange under its own attribute names)
      def byNum(e: SparkPlan) = e match {
        case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
        case _ => false
      }
      val buildKeys = shjs(20000L).flatMap { j =>
        val build = if (j.buildSide == BuildRight) j.right else j.left
        build.collectFirst {
          case e: ShuffleExchangeExec if byNum(e) => e.outputPartitioning
          case r: ReusedExchangeExec if byNum(r.child) => r.outputPartitioning
        }.collect { case HashPartitioning(Seq(a: Attribute), _) => a.name }
      }
      assert(buildKeys.sorted == Seq("dst", "dst", "src", "src"),
        s"codes and vectors must each be fetched on src and on dst: $buildKeys")
      assert(shjs(100L).isEmpty, "below the gate the planner default must stand")
    }
  }

  test("q_dedup_url keeper rule: longest doc wins, length ties to smallest id, one agg (no window)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // replicate the query's keeper agg on a frame with a LENGTH TIE (the
    // synthetic fixture rarely produces one) and a singleton group
    val canon = Seq(
      (1L, 50L, "u1"), (2L, 80L, "u1"), (3L, 80L, "u1"), // tie at 80 -> id 2
      (9L, 10L, "u2")
    ).toDF("doc_id", "n_chars", "curl")
    val got = canon.groupBy("curl")
      .agg(
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("curl"), (-col("best.nid")).as("keeper_id"),
        col("best.nc").as("n_chars"), col("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("u1", 2L, 80L, 3L), ("u2", 9L, 10L, 1L)))
    // plan shape: the registered query aggregates, never window-sorts —
    // a window would shuffle and sort every row per URL partition at 100 TB
    val plan = SparkEntry.queries("q_dedup_url")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"keeper must be an agg, not a window:\n$plan")
  }
}
