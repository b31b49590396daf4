package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Encoding-independence contract for the events table: the generator has
  * shipped `ts` as TIMESTAMP(NANOS) (arriving as a nanos long under
  * `nanosAsLong`), as native TIMESTAMP_NTZ, and as plain TIMESTAMP across
  * driver regenerations (round 7 flipped the encoding mid-round). Every
  * encoding must produce identical query output through Tables.events /
  * Streams.readEventsStream, so the NEXT regeneration is absorbed by CI
  * instead of a mid-round scramble. */
class TablesSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  /** Write the sf0.001 events table re-encoded three ways into temp dirs
    * shaped like a testdata sf dir (events.parquet inside). */
  private lazy val encodedDirs: Map[String, String] = {
    val base = Tables.events(spark, sf) // normalized µs TIMESTAMP
    def mk(name: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (String, String) = {
      val dir = SparkTest.tempDir(s"graft-enc-$name")
      f(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
      name -> dir
    }
    Map(
      mk("micros")(identity),
      // NTZ cast under the pinned UTC session zone is instant-preserving
      mk("ntz")(_.withColumn("ts", col("ts").cast(TimestampNTZType))),
      // what a TIMESTAMP(NANOS) file looks like after the nanosAsLong read
      mk("nanoslong")(_.withColumn("ts", unix_micros(col("ts")) * lit(1000L))))
  }

  test("Tables.events normalizes all three ts encodings to identical rows") {
    def fingerprint(dir: String): (Any, Seq[Row3]) = {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, s"dir=$dir")
      // instant-level check: per-day counts + sum of epoch micros, plus a
      // row-level probe of the 5 smallest event ids
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), sum(unix_micros(col("ts"))).as("s"))
        .orderBy("d").collect().map(_.toSeq).toSeq
      val head = ev.orderBy("event_id").limit(5)
        .select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => Row3(r.getLong(0), r.getLong(1))).toSeq
      (daily, head)
    }
    val fps = encodedDirs.map { case (name, dir) => name -> fingerprint(dir) }
    val ref = fps("micros")
    for ((name, fp) <- fps) assert(fp == ref, s"encoding $name diverged")
  }

  test("readEventsStream applies the same ts normalization as the batch reader") {
    for ((name, dir) <- encodedDirs) {
      val st = graft.streaming.Streams.readEventsStream(spark, dir)
      assert(st.isStreaming, name)
      assert(st.schema("ts").dataType == TimestampType,
        s"streaming ts not normalized for encoding $name")
    }
  }

  test("bucketCountByBytes: measured-width derivation, floor at spec scales (r16 ADVICE)") {
    import org.apache.spark.sql.functions.col
    // measured widths are sane: an (id, 64-dim double array) row is wide
    // (~520 B + UnsafeRow headers), an (id, price) row is narrow (< 64 B) —
    // the whole point of replacing guessed per-table row divisors
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ord = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_totalprice"))
    val wideB = Tables.avgRowBytes(emb)
    val narrowB = Tables.avgRowBytes(ord)
    assert(wideB > 500 && wideB < 700, s"embedding row width $wideB")
    assert(narrowB >= 16 && narrowB < 64, s"orders row width $narrowB")
    // spec-scale layouts are pinned at the floor (unchanged vs r16): every
    // fixture table at sf<=0.1 is under 8 x targetBucketBytes
    assert(Tables.bucketCountByBytes(emb, emb.count()) == 8)
    assert(Tables.bucketCountByBytes(ord, ord.count()) == 8)
    // and the derivation scales with BYTES, not a per-table row constant:
    // the same 1M-row count needs ~64x more buckets for the wide layout
    val wide1M = Tables.bucketCountByBytes(emb, 1000000L)
    val narrow1M = Tables.bucketCountByBytes(ord, 1000000L)
    assert(wide1M > 8 * narrow1M,
      s"wide=$wide1M narrow=$narrow1M — width must drive the count")
    assert(wide1M.toLong * Tables.targetBucketBytes / wideB >= 900000L,
      "bucket count must track rows*width/target")
  }

  test("events rejects an unknown ts encoding instead of mis-reading it") {
    val dir = SparkTest.tempDir("graft-enc-bad")
    Tables.events(spark, sf).withColumn("ts", col("ts").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported events.ts type"))
  }
}

private case class Row3(id: Long, micros: Long)
