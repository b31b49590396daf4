package graft.streaming

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface — SURVEY.md §2.9.
  *
  * The reference's incremental contract (offset resume + high-water-mark
  * audit, data_seoul_2_csv_noopenapi.py:112-140) generalizes to Structured
  * Streaming: checkpointed source offsets replace START_IDX, watermarks
  * bound state, windowed aggregations replace the driver-side counters.
  *
  * Every transform here is written against Dataset/DataFrame so the SAME
  * code runs batch (DuckDB-oracle-checked via StreamShapeQueries) and
  * streaming (MemoryStream-driven in StreamingSpec). `withWatermark` is a
  * no-op on batch inputs, so the sharing is exact.
  */
object Streams {

  /** Tumbling 1-hour window counts per event type. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Sliding 1-hour windows advancing every 15 minutes. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Session windows with a 30-minute inactivity gap, per user. */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Streaming dedup by event id; watermark bounds the dedup state. */
  def dedupByEventId(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Per-user running state (count + value sum) — the streaming
    * generalization of the reference's `list_total_count` counter.
    * Output one row per user per micro-batch with the updated totals. */
  case class UserEvent(event_id: Long, user_id: Long, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  def runningTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          // deterministic in-group order (iterator order is not guaranteed)
          val batch = rows.toSeq.sortBy(_.event_id)
          val next = batch.foldLeft(prev)((acc, e) =>
            UserRunning(user, acc.n_events + 1, acc.sum_value + e.value))
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Stream-stream inner join: purchases matched to clicks of the same user
    * within the preceding 20 minutes. Both sides watermarked so join state
    * is bounded; the time-bound condition is what makes unbounded
    * stream-stream joins feasible at all. */
  def purchaseAfterClick(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(
      clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 20 MINUTES"))
  }

  /** Streaming MERGE sink backed by a generation-versioned Parquet state
    * table — the streaming generalization of the reference's enrichment
    * write-back (UPDATE ... WHERE ID=?).
    *
    * Each micro-batch lazily reads the newest state generation under
    * `statePath`, merges the batch via Enrich.merge (a distributed left
    * join), and writes the result as the NEXT generation directory
    * `gen=<batchId+1>`. Nothing is ever materialized on the driver, so the
    * state table can be arbitrarily large. Generation = batchId + 1 makes a
    * checkpoint replay of the same micro-batch overwrite the same directory
    * — idempotent, hence exactly-once end to end. Generations older than
    * the previous one are pruned through the Hadoop FileSystem API (works
    * on HDFS/S3A the same as on local disk).
    *
    * Contract: one checkpoint lineage per statePath. Generation numbers
    * are derived from the query's checkpointed batch ids, so RESUME the
    * same checkpoint to continue a state table (Spark replays/advances
    * batch ids correctly); pointing a brand-new checkpoint at an old
    * statePath restarts generation numbering and is only valid while
    * gen=0 still exists (i.e. before the first prune).
    */
  def mergeSink(
      updates: DataFrame,
      initial: DataFrame,
      key: String,
      updateCols: Seq[String],
      statePath: String)
      : StreamingQuery = {
    // seed only on first start; a restarted query resumes from the
    // generations its earlier batches wrote
    if (listGens(initial.sparkSession, statePath, "gen=").isEmpty)
      initial.write.mode("overwrite").parquet(genDir(statePath, 0L))
    // not `perBatch`: the merge reads its batch once, so caching it
    // would only cost memory
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nextGen(batch.sparkSession, statePath, batchId)(
          graft.operators.Enrich.merge(_, batch, key, updateCols))
      }
      .start()
  }

  /** Lazily read the newest state generation written by [[mergeSink]]. */
  def mergeState(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(genDir(statePath, latestGen(spark, statePath, Long.MaxValue)))

  private def genDir(statePath: String, gen: Long): String =
    s"$statePath/gen=$gen"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The numbers N of the `<prefix>N` directories under `path` (`gen=` for
    * the generation sinks, `batch=` for the per-batch ones). Only
    * COMMITTED directories count: a directory is valid once Spark's file
    * committer placed its _SUCCESS marker. A crash mid-write (the initial
    * seed, or an overwrite that deleted the old files first) leaves no
    * marker, so the partial directory is invisible — seeding re-runs,
    * replays merge from the last good generation, and a concurrent
    * [[mergeState]] reader never selects an in-flight one. */
  private def listGens(spark: SparkSession, path: String, prefix: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .filter(s => f.exists(
        new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith(prefix) => s.stripPrefix(prefix).toLong }
  }

  /** The error for state committed by batch ids the running query has not
    * reached: the sink was restarted with a FRESH checkpoint (batch ids
    * reset to 0) against existing state. Carrying on would silently
    * re-apply or hide already-committed batches. */
  private def mismatch(path: String, prefix: String, batchId: Long,
      committed: Seq[Long]): String =
    s"checkpoint/state mismatch under $path: batch id $batchId but " +
      s"committed ${prefix}N are [${committed.sorted.mkString(", ")}] — the sink " +
      "was restarted with a new checkpoint against existing state. " +
      "Resume the ORIGINAL checkpointLocation to continue this state, " +
      "or point the new checkpoint at fresh state paths."

  private def latestGen(spark: SparkSession, statePath: String, atOrBelow: Long): Long = {
    val all = listGens(spark, statePath, "gen=")
    val gens = all.filter(_ <= atOrBelow)
    // every committed generation NEWER than this batch id means gen=0 was
    // already pruned before a fresh-checkpoint restart
    require(all.isEmpty || gens.nonEmpty, mismatch(statePath, "gen=", atOrBelow, all))
    require(gens.nonEmpty, s"no state generation <= $atOrBelow under $statePath")
    gens.max
  }

  /** One generation step of batch `batchId`: `step` maps the newest
    * generation at or below the batch id to `gen=<batchId+1>`, then
    * generations older than the step's input are pruned. On a replay after
    * a crash the just-written gen=batchId+1 may exist but is ignored, so
    * the step re-runs from the same input state it saw the first time, and
    * its input survives until the next batch commits. */
  private def nextGen(spark: SparkSession, statePath: String, batchId: Long)(
      step: DataFrame => DataFrame): Unit = {
    val prev = latestGen(spark, statePath, atOrBelow = batchId)
    step(spark.read.parquet(genDir(statePath, prev)))
      .write.mode("overwrite").parquet(genDir(statePath, batchId + 1))
    listGens(spark, statePath, "gen=").filter(_ < batchId).foreach { g =>
      fs(spark, statePath).delete(new org.apache.hadoop.fs.Path(genDir(statePath, g)), true)
    }
  }

  /** `f` over `df` cached; the cache is dropped however `f` ends. A batch
    * that fails is replayed on restart, so a leaked cache would pin one
    * more copy per failed attempt. */
  private def cached[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.persist()
    try f(c) finally c.unpersist()
  }

  /** The micro-batch protocol of every caching sink: an append-mode
    * `foreachBatch` query on `input` (checkpointed at `checkpointLocation`
    * when given) that hands `body` each batch, cached, with its batch id.
    *
    * Before `body` runs, each of `outputs` (a sink's `batch=<id>` tables)
    * is checked against the batch id: a committed `batch=N` with N greater
    * than the running batch id means the query was restarted on a fresh or
    * absent checkpoint, and the batch fails with an IllegalStateException
    * instead of hiding the later batches' state and overwriting earlier
    * output. Known limit: while only `batch=0` is committed, a
    * fresh-checkpoint restart is indistinguishable from a replay of batch 0
    * and goes ahead. */
  private def perBatch(input: DataFrame, checkpointLocation: Option[String],
      outputs: Seq[String] = Nil)(body: (DataFrame, Long) => Unit): StreamingQuery =
    checkpointLocation
      .foldLeft(input.writeStream.outputMode("append"))(
        (w, p) => w.option("checkpointLocation", p))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        outputs.foreach { path =>
          val committed = listGens(batch.sparkSession, path, "batch=")
          if (committed.exists(_ > batchId))
            throw new IllegalStateException(mismatch(path, "batch=", batchId, committed))
        }
        cached(batch)(body(_, batchId))
      }
      .start()

  /** The `batch=<id>` rows under `path` that `keep` selects, or None while
    * nothing is readable there. A missing path is found through the
    * FileSystem (no read attempted); an existing directory with no visible
    * files yet (a crashed first batch leaves only batch=N/_temporary,
    * which schema inference cannot read; a zero-row write can leave no
    * part files) raises AnalysisException at read time. Any OTHER failure
    * (corrupt footer, permission, transient FS fault — these surface as
    * Spark/IO exceptions, not AnalysisException) must FAIL the batch so
    * the streaming replay retries it — swallowing it would silently treat
    * the state as empty and re-admit dups. */
  private def readBatches(spark: SparkSession, path: String, keep: Column): Option[DataFrame] =
    if (!fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))) None
    else (try Some(spark.read.parquet(path)) catch { case _: AnalysisException => None })
      .map(_.filter(keep))

  /** Write `df` as batch `batchId`'s directory under `path`; overwrite
    * makes a replayed batch converge on its own earlier half-write. */
  private def writeBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Streaming SCD2 maintenance: consume an append-only changelog stream
    * and keep a slowly-changing-dimension type-2 table up to date — the
    * incremental twin of [[graft.operators.Cdc.scd2FromChangelog]]
    * (StreamingSpec proves batch/stream parity on the same log).
    *
    * Per micro-batch, only TOUCHED keys are rebuilt: closed versions are
    * immutable and pass through, open versions of untouched keys pass
    * through, and each touched key's open version re-enters a mini
    * changelog together with the batch's rows (so a batch row repeating
    * the open version's attributes correctly creates no new version).
    * Late rows older than a key's open version violate the append-only
    * contract and are dropped.
    *
    * State storage reuses the [[mergeSink]] generation scheme (committed
    * `gen=` directories keyed by batch id ⇒ crash replay re-merges from
    * the same input it saw). The state is DIMENSION-sized; the stream is
    * the fact-rate changelog. At cluster scale, partition the state table
    * by a key bucket and swap only touched buckets via dynamic partition
    * overwrite (`q_part_overwrite` is that primitive); the per-batch
    * compute here already touches only the batch's keys.
    */
  def scd2Sink(
      changes: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      attrCols: Seq[String],
      statePath: String,
      checkpointLocation: Option[String] = None)
      : StreamingQuery = {
    val logCols = (keys :+ tsCol :+ tieCol) ++ attrCols
    perBatch(changes, checkpointLocation) { (changed, batchId) =>
      val spark = changed.sparkSession
      val batch = changed.select(logCols.map(col): _*)
      // seed an empty gen=0 exactly once (schema = the operator's own)
      if (listGens(spark, statePath, "gen=").isEmpty)
        graft.operators.Cdc
          .scd2FromChangelog(batch.limit(0), keys, tsCol, tieCol, attrCols)
          .write.mode("overwrite").parquet(genDir(statePath, 0L))
      nextGen(spark, statePath, batchId) { state =>
        val touched = batch.select(keys.map(col): _*).distinct()
        val closed = state.filter(col("valid_to").isNotNull)
        val open = state.filter(col("valid_to").isNull)
        val openUntouched = open.join(touched, keys, "left_anti")
        val openTouched = open.join(touched, keys, "left_semi")
        // drop late rows — late in the (tsCol, tieCol) TOTAL order, not
        // just the timestamp: a row tied on ts but ordered before the open
        // head would sort ahead of it in the mini changelog and manufacture
        // a phantom version no full-log batch run would produce. Equality
        // (a replay of the head row itself) stays: it collapses as an
        // unchanged run.
        val heads = openTouched.select(
          keys.map(col) :+ col("valid_from").as("__head")
            :+ col(tieCol).as("__headTie"): _*)
        val fresh = batch.join(heads, keys, "left")
          .filter(col("__head").isNull ||
            col(tsCol) > col("__head") ||
            (col(tsCol) === col("__head") && col(tieCol) >= col("__headTie")))
          .drop("__head", "__headTie")
        val rebuilt = graft.operators.Cdc.scd2FromChangelog(
          fresh.unionByName(openTouched.select(logCols.map(col): _*)),
          keys, tsCol, tieCol, attrCols)
        closed.unionByName(openUntouched).unionByName(rebuilt)
      }
    }
  }

  /** Lazily read the newest SCD2 state written by [[scd2Sink]]. */
  def scd2State(spark: SparkSession, statePath: String): DataFrame =
    mergeState(spark, statePath)

  /** File-source streaming read of an events directory with an explicit
    * schema — checkpointed offsets give the reference's resume semantics
    * for free. `ts` goes through the same encoding dispatch as the batch
    * reader (Tables.normalizeEventsTs), so streaming consumers see the
    * same microsecond TIMESTAMP regardless of how the generator encoded
    * the column. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(s"$dir/events.parquet"))
  }

  /** Streaming corpus ingest with near-dup admission control: every
    * micro-batch is checked against the persisted band table
    * (Similarity.incrementalNearDup) and only fresh documents are admitted
    * — their bands appended to the state, their ids logged. The state is
    * nBands rows per admitted doc (Similarity.bandTable: 132.5 parquet
    * bytes per doc at k = 16, nBands = 4); corpus text is never retained
    * or rescanned — the 100 TB streaming-dedup shape.
    *
    * Replay-idempotent without generation copies: each batch writes its
    * bands and admit log under a `batch=<id>` partition directory with
    * overwrite (a crashed batch replays over its own directory), and the
    * "existing corpus" read excludes partitions >= the current batch id, so
    * a replayed batch cannot collide with its own earlier half-write.
    *
    * `docs` must be a streaming (id, shingles: array<string>) frame.
    *
    * In-batch self-dedup: a bursty micro-batch whose near-dups arrive
    * TOGETHER would otherwise all pass the cross-batch probe and be
    * admitted as a group. The batch's band table is self-joined and every
    * id that is the LARGER partner of an in-batch band collision is
    * dropped (keepFromPairs semantics — the batch's smallest id per
    * collision cluster survives).
    *
    * `checkpointLocation`: replay-idempotency depends on STABLE batch ids;
    * without a checkpoint, Spark uses a temp dir and a restart resets
    * batchId to 0. The shared runner then fails the batch with a
    * checkpoint/state mismatch once a later `batch=N` is committed (see
    * `perBatch`, including its batch-0 limit). Pass a durable location in
    * production (tests may omit it for single-run pipelines).
    */
  def dedupIngestSink(
      docs: DataFrame,
      bandStatePath: String,
      admittedPath: String,
      k: Int,
      nBands: Int,
      checkpointLocation: Option[String] = None)
      : StreamingQuery =
    perBatch(docs, checkpointLocation, Seq(bandStatePath, admittedPath)) { (b, batchId) =>
      // batch band table computed ONCE, reused by the cross-batch probe,
      // the self-join and the admitted-state write
      cached(graft.operators.Similarity.bandTable(b, k, nBands)) { inBands =>
        val crossDup = readBatches(b.sparkSession, bandStatePath, col("batch") < batchId)
          .map(_.select(col("id").as("matched_id"), col("band_idx"), col("band_hash"))
            .join(inBands, Seq("band_idx", "band_hash"))
            .select("id"))
        val selfDup = inBands.select(col("id").as("id_a"), col("band_idx"), col("band_hash"))
          .join(inBands, Seq("band_idx", "band_hash"))
          .filter(col("id_a") < col("id"))
          .select("id")
        val dupIds = crossDup.fold(selfDup)(_.unionAll(selfDup)).distinct()
        val admitted = b.join(dupIds, Seq("id"), "left_anti")
        writeBatch(inBands.join(admitted.select("id"), Seq("id"), "left_semi"),
          bandStatePath, batchId)
        writeBatch(admitted.select("id"), admittedPath, batchId)
      }
    }

  /** All doc ids admitted by [[dedupIngestSink]] so far, with the batch
    * that admitted each. */
  def admittedDocs(spark: SparkSession, admittedPath: String): DataFrame =
    spark.read.parquet(admittedPath)

  /** Streaming record linkage — the ER twin of [[dedupIngestSink]]: each
    * arrivals micro-batch is resolved against the (static, big) canonical
    * table via [[graft.operators.Linkage.resolveIncremental]] — the
    * arrivals side carries the broadcast hint, so the canonical table is
    * probed MAP-SIDE and never shuffled, per micro-batch — and the
    * accepted matches (dirtyId, matched_id, score) are admitted to a
    * persisted store. Arrivals that matched nothing at `minScore` go to
    * the optional quarantine (the reference's malformed-line quarantine
    * shape, applied to entity resolution: unmatched records await human
    * review or a canonical-table refresh).
    *
    * Crash contract: linkage against a static canonical table is
    * stateless across batches, so exactly-once reduces to per-batch
    * `batch=<id>` overwrite — a replayed batch rewrites its own directory
    * and converges. The caller must keep `canonical` DETERMINISTIC across
    * retries (a parquet table is; a non-deterministic derivation is not —
    * same contract as the resolve itself). A durable
    * `checkpointLocation` gives stable batch ids across restarts (same
    * discipline as the dedup/embed sinks).
    *
    * `arrivals` must already carry `dirtyId`, `blockCol` and every
    * field's dirty column (compute the blocking key upstream with the
    * same normalization as the canonical side). */
  def linkageIngestSink(
      arrivals: DataFrame,
      canonical: DataFrame,
      canonicalId: String,
      dirtyId: String,
      blockCol: String,
      fields: Seq[graft.operators.Linkage.Field],
      minScore: Long,
      matchedPath: String,
      unmatchedPath: Option[String] = None,
      checkpointLocation: Option[String] = None)
      : StreamingQuery =
    perBatch(arrivals, checkpointLocation, matchedPath +: unmatchedPath.toSeq) { (b, batchId) =>
      writeBatch(graft.operators.Linkage
        .resolveIncremental(canonical, b, canonicalId, dirtyId, blockCol, fields, minScore),
        matchedPath, batchId)
      unmatchedPath.foreach { up =>
        // anti-join against the JUST-WRITTEN matches (read back, not
        // recomputed — the resolve's window ran once). A zero-match batch
        // (every arrival below minScore or blockless) writes no readable
        // matches, which reads as None: everything quarantines instead of
        // failing the batch and wedging the checkpoint replay.
        val matched = readBatches(b.sparkSession, matchedPath, col("batch") === batchId)
          .map(_.select(dirtyId))
        writeBatch(matched.fold(b)(b.join(_, Seq(dirtyId), "left_anti")), up, batchId)
      }
    }

  /** All matches admitted by [[linkageIngestSink]] so far, with the batch
    * that admitted each. */
  def linkageMatches(spark: SparkSession, matchedPath: String): DataFrame =
    spark.read.parquet(matchedPath)

  /** Streaming EMBEDDING ingest with ANN admission control — the vector
    * twin of [[dedupIngestSink]]: every micro-batch of (vec_id,
    * v: array<double>) is near-dup-checked against the vectors admitted
    * so far, and only fresh vectors are admitted.
    *
    * State is the SRP bucket table ([[graft.operators.Similarity
    * .bucketTable]]: one long per admitted vector) plus the admitted
    * vector store itself — which an embedding pipeline persists anyway.
    * Cross-batch probing joins the batch's multi-probe keys (own bucket +
    * Hamming-1 neighbors, the lshBucketJoin recall contract) against the
    * bucket state; only CANDIDATES' vectors are fetched by id from the
    * admitted store for the exact-cosine gate — admitted corpus buckets
    * are never recomputed and its vectors never rescanned wholesale.
    *
    * Batch-id discipline, state reads and the checkpoint/state mismatch
    * check are the dedup sink's: both run through the same `perBatch`
    * runner and `readBatches` reader.
    *
    * In-batch self-dedup: a burst of mutual near-dups admits only the
    * smallest id per collision cluster via an in-batch multi-probe
    * self-join. */
  def embedIngestSink(
      vecs: DataFrame,
      bucketStatePath: String,
      admittedPath: String,
      dim: Int,
      nBits: Int,
      minCosine: Double,
      checkpointLocation: Option[String] = None)
      : StreamingQuery =
    perBatch(vecs, checkpointLocation, Seq(bucketStatePath, admittedPath)) { (b, batchId) =>
      val sim = graft.operators.Similarity
      cached(sim.bucketTable(b, dim, nBits)) { inBuckets =>
        def before(path: String) = readBatches(b.sparkSession, path, col("batch") < batchId)
        val crossDup = for (buckets <- before(bucketStatePath); store <- before(admittedPath))
          yield sim.incrementalEmbedDedup(
              buckets.select("vec_id", "bucket"), store.select("vec_id", "v"),
              b, dim, nBits, minCosine)
            .select("id")
        val selfDup = sim.lshBucketJoin(b, dim, nBits, minCosine, multiProbe = true)
          .select(col("id_b").as("id")) // larger partner drops
        val dupIds = crossDup.fold(selfDup)(_.unionAll(selfDup)).distinct()
        val admitted = b.join(
          dupIds.select(col("id").as("vec_id")), Seq("vec_id"), "left_anti")
        writeBatch(inBuckets.join(admitted.select("vec_id"), Seq("vec_id"), "left_semi"),
          bucketStatePath, batchId)
        writeBatch(admitted.select("vec_id", "v"), admittedPath, batchId)
      }
    }
}
