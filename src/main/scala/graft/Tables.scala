package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the engine's native Parquet tables.
  *
  * The reference keeps its catalog in an RDBMS and its data in per-dataset
  * tables (`/root/reference/data_seoul_2_csv_noopenapi.py:42-49,68-69`); the
  * Spark-native engine's storage is columnar Parquet, one directory per
  * scale factor, one file/dir per table. All filters and projections applied
  * on top of these reads are pushed into the Parquet scan by Catalyst.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Analyzed-plan cache: a DataFrame is an immutable plan, so reusing it
  // across queries in one session skips repeated footer reads and analysis
  // (74 registered queries × 10 tables is pure fixed overhead otherwise).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, dir, name), { key =>
      spark.read.parquet(s"${key._2}/${key._3}.parquet")
    })

  /** Session configs every graft session needs — applied by [[session]],
    * which every graft main builds its session with, and by the test
    * harness. `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which
    * the vectorized reader rejects; read as long and convert in [[events]].
    * `session.timeZone=UTC`: the NTZ→TIMESTAMP cast in [[normalizeEventsTs]]
    * is instant-preserving only under a UTC session zone; pinning it here
    * makes every consumer independent of the host default. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")

  /** The one session recipe of the graft mains: `local[SPARK_GRAFT_CPUS]`
    * (default 4), `SPARK_GRAFT_SHUFFLE` shuffle partitions (default: the
    * core count; scale probes raise it, since at 10x+ data a fixed
    * partition count turns per-partition sort/spill superlinear), UI off,
    * [[configure]] applied, then `logLevel`.
    * `cores` pins the core count and shuffle width regardless of the
    * environment (plan digests must not depend on the host); `master`
    * replaces the local master; `conf` adds settings applied last. */
  def session(cores: Option[Int] = None, master: Option[String] = None,
      logLevel: String = "WARN",
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = cores.fold(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))(_.toString)
    val shuffle =
      if (cores.isDefined) cpus else sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val base = configure(SparkSession.builder())
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drop what a finished query pinned: cached plans and persisted RDDs
    * (localCheckpoint lineage truncation keeps its blocks until GC). The
    * unpersist blocks, so the release cannot overlap the next query. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  // Row-count memo for operators that size themselves from the corpus
  // (LSH bits): one count job per (session, dir, table), not per query.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), java.lang.Long]()

  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent((spark, dir, name),
      key => table(key._1, key._2, key._3).count())

  /** Collision-free filesystem/table tag for a data dir: the sanitized
    * full path for readability PLUS an md5 head of the RAW path for
    * injectivity (sanitization alone maps /a/sf0.1 and /a/sf0_1 to the
    * same string; a 32-bit hashCode can collide outright), plus the JVM pid so concurrent PROCESSES over the
    * same dir (Verify alongside Bench) each own their layout instead of
    * racing one overwrite. */
  // Shutdown cleanup for per-process scratch dirs (the dirTag pid suffix
  // isolates concurrent processes but would otherwise leave one orphaned
  // copy per run accumulating in /tmp). One hook per path.
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def cleanupOnExit(path: String): Unit =
    if (cleanupRegistered.add(path)) {
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(path))
      }
      ()
    }

  private[graft] def dirTag(d: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    d.replaceAll("[^A-Za-z0-9]", "_") + "_" + md5 +
      "_p" + java.lang.ProcessHandle.current().pid()
  }

  // Bucketed-pair memo (orders/customer on custkey): the one-time warehouse
  // prep a recurring co-located join amortizes at 100 TB. Built at most once
  // per (session, dir) — catalog tables are session-scoped objects. Bench
  // invokes this during warmup so its timed body measures the JOIN, not the
  // table build; the query body calls it too, so Verify and ad-hoc use stay
  // self-contained.
  // Bucket-count dial for the persisted bucketed layouts, derived from
  // BYTES per bucket: every layout measures its actual average UnsafeRow
  // width from a bounded sample and targets `targetBucketBytes` per
  // bucket, floor 8 — one rule instead of a guessed row width per table.
  // A bucketed join's parallelism IS the bucket count — nothing
  // re-shuffles at read time, so there is no exchange to re-partition
  // (SCALE_r16.json embed_incremental_attribution: pinned at 8, the 100x
  // probe join ran as an 8-task serial section and the decade ratio read
  // 11.5x). The floor keeps the sf0.001/sf0.01/sf0.1 spec-scale layouts,
  // and so their plan digests, at 8 buckets.
  //
  // 2 MiB is the LOCAL-FIXTURE dial: at 100x it gives 53 embed, 38 band
  // and 229 orders buckets, so probe parallelism stays at or above the
  // local core count. A 100 TB deployment raises it to the usual
  // 128 MiB-1 GiB bucket-file band — the DERIVATION (bytes / target,
  // width measured not guessed) is the invariant, the constant is the
  // deployment knob.
  private[graft] val targetBucketBytes: Long = 2L << 20

  /** Measured average in-memory (UnsafeRow) bytes per row of `df`, from a
    * bounded prefix sample — the "column-size stats" feeding
    * [[bucketCountByBytes]]. One tiny job; callers are one-time memoized
    * table prep. */
  private[graft] def avgRowBytes(df: org.apache.spark.sql.DataFrame,
      sample: Int = 2048): Long = {
    val sizes = df.limit(sample).queryExecution.toRdd.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        u.getSizeInBytes.toLong
      case r => r.numFields * 8L // non-Unsafe fallback: fixed-width guess
    }.collect() // bounded: <= sample longs
    if (sizes.isEmpty) 8L else math.max(1L, sizes.sum / sizes.length)
  }

  private[graft] def bucketCountByBytes(
      df: org.apache.spark.sql.DataFrame, rows: Long): Int =
    math.max(8L, rows * avgRowBytes(df) / targetBucketBytes).toInt

  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  def bucketedOrdersCustomer(s: SparkSession, d: String): (String, String) =
    bucketedCache.computeIfAbsent((s, d), { _ =>
      import org.apache.spark.sql.functions.col
      val tag = dirTag(d)
      val (ordsT, custT) = (s"graft_orders_bkt_$tag", s"graft_cust_bkt_$tag")
      val ordersProj =
        orders(s, d).select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val nB = bucketCountByBytes(ordersProj, rowCount(s, d, "orders"))
      if (!s.catalog.tableExists(ordsT))
        graft.sources.Warehouse.writeBucketed(ordersProj, ordsT, "custkey", nB)
      if (!s.catalog.tableExists(custT))
        graft.sources.Warehouse.writeBucketed(
          customer(s, d).select(col("c_custkey").as("custkey")),
          custT, "custkey", nB)
      (ordsT, custT)
    })

  // Incremental-dedup PERSISTED STATE, bucketed by its probe-join keys —
  // the 100 TB shape: the corpus-side band/bucket tables are written once
  // (bucketBy = the arrival join's keys), so every arrival batch joins
  // with ZERO corpus-side exchange; only the (small) batch shuffles to the
  // bucket layout. Without this, each batch re-shuffles the entire
  // persisted state — corpus-sized work per arrival. Bucket count scales
  // with the corpus via bucketCount (thousands at 100 TB). Same warmup
  // policy as bucketedOrdersCustomer: Bench pre-builds so the timed body
  // measures the probe join, not the state write.
  private val bandTableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Band table of the EXISTING corpus split (doc_id % 5 != 0, k=16,
    * nBands=4, portable hash family — the q_dedup_incremental contract),
    * bucketed on (band_idx, band_hash). */
  def bucketedBandTable(s: SparkSession, d: String): String =
    bandTableCache.computeIfAbsent((s, d), { _ =>
      import org.apache.spark.sql.functions._
      val t = s"graft_bands_bkt_${dirTag(d)}"
      if (!s.catalog.tableExists(t)) {
        val T = graft.functions.TextFunctions
        val existing = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id").as("id"),
            T.ngrams(T.tokens(col("text")), 3).as("shingles"))
          .filter(size(col("shingles")) > 0)
          .filter(col("id") % 5 =!= 0)
        val bands = graft.operators.Similarity
          .bandTable(existing, k = 16, nBands = 4, portable = true)
        // bands ~= 4 per existing doc -> rows estimate = 4 x doc count
        graft.sources.Warehouse.writeBucketedMulti(
          bands, t, Seq("band_idx", "band_hash"),
          bucketCountByBytes(bands, rowCount(s, d, "documents") * 4L))
      }
      t
    })

  private val embedTableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  /** SRP bucket table + vector table of the EXISTING embedding split
    * (vec_id % 5 != 0, corpus-sized nBits, portable — the
    * q_dedup_embed_incremental contract): buckets bucketed on `bucket`
    * (the multi-probe join key), vectors on `vec_id` (the candidate-fetch
    * key), so BOTH corpus-side joins of an arrival batch are
    * exchange-free. */
  def bucketedEmbedTables(s: SparkSession, d: String): (String, String) =
    embedTableCache.computeIfAbsent((s, d), { _ =>
      import org.apache.spark.sql.functions._
      val tag = dirTag(d)
      val (bktT, vecT) = (s"graft_srp_bkt_$tag", s"graft_vec_bkt_$tag")
      if (!s.catalog.tableExists(bktT) || !s.catalog.tableExists(vecT)) {
        val nBits = graft.operators.Similarity
          .lshNBits(rowCount(s, d, "embeddings"))
        val existing = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .filter(col("vec_id") % 5 =!= 0)
        // sized from the WIDE side (the ~520 B/row vector table — both
        // tables share nB): 1x/10x stay at the floor, 100x gets ~53-way
        // probe parallelism
        val nB = bucketCountByBytes(existing, rowCount(s, d, "embeddings"))
        graft.sources.Warehouse.writeBucketed(
          graft.operators.Similarity.bucketTable(
            existing, dim = 64, nBits, portable = true),
          bktT, "bucket", nB)
        graft.sources.Warehouse.writeBucketed(existing, vecT, "vec_id", nB)
      }
      (bktT, vecT)
    })

  // Partitioned-events memo: events written to a parquet layout partitioned
  // by event_type. Keyed by DIR ONLY (the layout is a pure function of the
  // source data — two sessions over the same dir share it safely), and the
  // path embeds the collision-free dirTag, so distinct dirs can never
  // overwrite each other's layout. Backs the partition-pruning queries;
  // Bench pre-builds it in warmup (same policy as the bucketed pair).
  private val partitionedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def partitionedEvents(s: SparkSession, d: String): String =
    partitionedCache.computeIfAbsent(d, { _ =>
      val path = s"/tmp/graft_events_bytype_${dirTag(d)}"
      graft.sources.Warehouse.writePartitioned(events(s, d), path, Seq("event_type"))
      path
    })

  private val partitionedDayCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Events partitioned by calendar day — the incremental-ingest layout
    * (one directory per day, replaced wholesale on re-ingest). */
  def partitionedEventsByDay(s: SparkSession, d: String): String =
    partitionedDayCache.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.functions.{col, date_format}
      val path = s"/tmp/graft_events_byday_${dirTag(d)}"
      graft.sources.Warehouse.writePartitioned(
        events(s, d).withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd")),
        path, Seq("event_date"))
      path
    })

  private val compactDayCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Target file size (rows) the compaction executor converges to — shared
    * between the q_layout_compact_exec query body and the fixture builder
    * below so the fixture's fragmentation always exceeds the executor's
    * per-day target. */
  val CompactTargetRows: Long = 2000L

  /** A PRIVATE day-partitioned copy of events for the compaction executor
    * (q_layout_compact_exec) — deliberately fragmented so the compaction
    * pass has real work at every SF. The fragment count SCALES WITH THE
    * DATA: max(8, 2·ceil(maxRowsPerDay / target)) round-robin tasks, so
    * even the largest day starts at ~2× its converged file count and the
    * executor always has a real rewrite to do (a fixed 8 stops being
    * over-target once any day exceeds 8·target rows — at which point the
    * "rewrite" benchmark would silently time a no-op audit). Separate from
    * [[partitionedEventsByDay]] because compaction MUTATES the file
    * layout; the overwrite/prune queries keep their own stable copy. */
  def compactableEventsByDay(s: SparkSession, d: String): String =
    compactDayCache.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.functions.{col, count, date_format, lit, max}
      val path = s"/tmp/graft_events_compact_${dirTag(d)}"
      val ev = events(s, d)
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      val maxPerDay = ev.groupBy("event_date").agg(count(lit(1)).as("n"))
        .agg(max("n")).collect()(0).getLong(0)
      val frag = math.max(
        8L, 2L * ((maxPerDay + CompactTargetRows - 1) / CompactTargetRows)).toInt
      graft.sources.Warehouse.writePartitioned(
        ev.repartition(frag), path, Seq("event_date"))
      cleanupOnExit(path)
      path
    })

  private val evolveCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Two-generation events layout with EVOLVED schemas for the
    * mergeSchema read (q_schema_evolve): gen=1 was written before the
    * event_type column existed; gen=2 carries it. Split by event_id
    * parity so the expected contents are pure arithmetic over events. */
  def evolvedEvents(s: SparkSession, d: String): String =
    evolveCache.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.functions.col
      val path = s"/tmp/graft_events_evolve_${dirTag(d)}"
      val ev = events(s, d)
      ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$path/gen=1")
      ev.filter(col("event_id") % 2 =!= 0)
        .select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").parquet(s"$path/gen=2")
      cleanupOnExit(path)
      path
    })

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Normalize `ts` to a plain microsecond TIMESTAMP regardless of how the
    * generator encoded it: TIMESTAMP(NANOS) parquet arrives as a
    * nanos-since-epoch long (via the `nanosAsLong` session config) and is
    * converted with integer division — ns magnitudes exceed 2^53, so a
    * double-typed division would lose precision; TIMESTAMP_NTZ (native
    * µs parquet) is cast to the instant type under the session's UTC zone,
    * which preserves wall values; an already-TIMESTAMP column passes
    * through. Every consumer (batch via [[events]], streaming via
    * Streams.readEventsStream) applies this dispatch, so downstream query
    * semantics are encoding-independent. */
  private[graft] def normalizeEventsTs(t: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    t.schema("ts").dataType match {
      case LongType         => t.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => t.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => t
      case other => throw new IllegalStateException(
        s"unsupported events.ts type: $other")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
