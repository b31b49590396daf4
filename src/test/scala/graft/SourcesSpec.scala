package graft

import graft.sources.{Ingest, UrlTemplating, Warehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite with SparkTest {

  test("lenient typing nulls malformed values; strict ANSI typing throws") {
    import spark.implicits._
    val staged = Seq(("12", "ok"), ("oops", "bad"))
      .toDF("n", "tag").withColumn("id", monotonically_increasing_id())
    val schema = StructType(Seq(
      StructField("n", LongType), StructField("tag", StringType)))
    val lenient = Ingest.applyTypesLenient(staged, schema)
      .orderBy("id").select("n").collect()
    assert(lenient(0).getLong(0) == 12L)
    assert(lenient(1).isNullAt(0))
    intercept[Exception] {
      Ingest.applyTypes(staged, schema).collect()
    }
  }

  test("url templating reproduces the reference's sample-URL surgery") {
    import spark.implicits._
    val df = Seq("http://h/sample/xml/ListService/1/5").toDF("u")
    def one(c: org.apache.spark.sql.Column): String =
      df.select(c).collect()(0).getString(0)
    assert(one(UrlTemplating.withAuthKey(col("u"), lit("MYKEY"))) ==
      "http://h/MYKEY/xml/ListService/1/5")
    assert(one(UrlTemplating.ensureTrailingSlash(col("u"))) ==
      "http://h/sample/xml/ListService/1/5/")
    assert(one(UrlTemplating.dropLastSegments(col("u"), 2)) ==
      "http://h/sample/xml/ListService")
    assert(one(UrlTemplating.afterMarker(col("u"), "/sample/xml/")) ==
      "ListService/1/5")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = (1L to 1000L).map(i => (i % 50, i)).toDF("k", "v")
      val dim = (0L until 50L).map(k => (k, s"d$k")).toDF("k", "name")
      Warehouse.writeBucketed(fact, "t_fact", "k", 8)
      Warehouse.writeBucketed(dim, "t_dim", "k", 8)
      val joined = Warehouse.colocatedJoin(spark, "t_fact", "t_dim", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected bucket SMJ in:\n$plan")
      assert(joined.count() == 1000L)
      // the downstream per-bucket-key aggregate also needs no exchange:
      // bucketing satisfies the group-by's required distribution too
      val agg = joined.groupBy("k").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"unexpected shuffle in:\n$aggPlan")
      assert(agg.count() == 50L)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS t_fact")
      spark.sql("DROP TABLE IF EXISTS t_dim")
    }
  }

  /** True when the named table's scan is re-shuffled BEFORE any join
    * consumes it — an Exchange whose subtree contains the scan but no
    * join yet. Shuffles ABOVE a join are exempt: they move the (small)
    * probe/candidate output, not the corpus-sized persisted state. */
  private def corpusShuffled(
      plan: org.apache.spark.sql.execution.SparkPlan, table: String): Boolean = {
    def hasScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectLeaves().exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == table)
        case _ => false
      }
    def hasJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.nonEmpty
    plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.exists(s => hasScan(s) && !hasJoin(s))
  }

  private def scanOf(
      plan: org.apache.spark.sql.execution.SparkPlan, table: String): Boolean =
    plan.collectLeaves().exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.tableIdentifier.exists(_.table == table)
      case _ => false
    }

  test("incremental dedup probes its bucketed persisted state with zero corpus-side exchange") {
    import spark.implicits._
    import graft.operators.{AqeGate, Similarity}
    // corpus = persisted band/bucket state at 100 TB; arrivals = a small
    // batch. The whole point of bucketBy on the probe keys is that ONLY
    // the batch shuffles — assert no Exchange sits above the state scans.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try AqeGate.withAqeOff(spark) {
      // ---- band table (q_dedup_incremental shape) ----
      val existing = (1L to 200L).filter(_ % 5 != 0)
        .map(i => (i, Seq.tabulate(6)(j => s"tok${(i * 7 + j) % 23} x$j y$j")))
        .toDF("id", "shingles")
      val bands = Similarity.bandTable(existing, k = 16, nBands = 4)
      Warehouse.writeBucketedMulti(bands, "t_bands_bkt",
        Seq("band_idx", "band_hash"), 4)
      val incoming = (1L to 200L).filter(_ % 5 == 0)
        .map(i => (i, Seq.tabulate(6)(j => s"tok${(i * 7 + j) % 23} x$j y$j")))
        .toDF("id", "shingles")
      val out = Similarity.incrementalNearDup(
        spark.table("t_bands_bkt"), incoming, k = 16, nBands = 4)
      val plan = out.queryExecution.executedPlan
      assert(scanOf(plan, "t_bands_bkt"), plan.toString)
      assert(!corpusShuffled(plan, "t_bands_bkt"),
        s"band state re-shuffled:\n$plan")
      assert(out.count() > 0) // the probe join actually matches

      // ---- SRP bucket + vector tables (q_dedup_embed_incremental shape) ----
      def vec(seed: Long) = Seq.tabulate(64)(j =>
        (((seed * 2654435761L + j * 40503L) & 0xffff).toDouble / 0xffff) - 0.5)
      val emb = (1L to 100L).map(i => (i, vec(i))).toDF("vec_id", "v")
      val exVec = emb.filter($"vec_id" % 5 =!= 0)
      Warehouse.writeBucketed(
        Similarity.bucketTable(exVec, dim = 64, nBits = 4),
        "t_srp_bkt", "bucket", 4)
      Warehouse.writeBucketed(exVec, "t_vec_bkt", "vec_id", 4)
      val incomingV = emb.filter($"vec_id" % 5 === 0)
      val outE = Similarity.incrementalEmbedDedup(
        spark.table("t_srp_bkt"), spark.table("t_vec_bkt"), incomingV,
        dim = 64, nBits = 4, minCosine = -1.0)
      val planE = outE.queryExecution.executedPlan
      assert(scanOf(planE, "t_srp_bkt") && scanOf(planE, "t_vec_bkt"), planE.toString)
      assert(!corpusShuffled(planE, "t_srp_bkt"),
        s"SRP bucket state re-shuffled:\n$planE")
      assert(!corpusShuffled(planE, "t_vec_bkt"),
        s"vector state re-shuffled:\n$planE")
      assert(outE.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("t_bands_bkt", "t_srp_bkt", "t_vec_bkt")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
