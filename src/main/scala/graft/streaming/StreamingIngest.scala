package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming extension of the ingestion engine.
  *
  * The reference plumbs `checkpoint_base` through every layer but never uses
  * it (SURVEY.md §2.9: sources.yaml:5 → config.py:10 → writer.py:18, then
  * dropped) — this module is the streaming engine that plumbing points at.
  * A plain keyed upsert stream needs no helper: `writeStream.format(
  * "graft-hub")` ([[graft.sources.HubStreamSink]]) commits each micro-batch
  * as one batchId-idempotent [[graft.writers.VersionedHub]] version.
  *
  *   - [[streamingMaterializedView]]: hub upsert + CDF-driven view refresh;
  *   - [[windowedEventCounts]]: watermarked sliding-window aggregation over
  *     an event stream (the streaming twin of the batch `q_events_hourly`
  *     query — same groupBy shape, late data bounded by the watermark).
  *
  * Scale: state size is bounded by (watermark horizon × key cardinality);
  * a hub commit per micro-batch costs what the same batch commit costs.
  */
object StreamingIngest {

  /** Streaming MATERIALIZED VIEW: each micro-batch (1) upserts into the
    * versioned hub with an idempotent batchId commit, then (2) refreshes a
    * count/sum aggregate view from the CDF between the previous and new
    * hub version ([[graft.writers.VersionedHub.changesCDF]] →
    * [[graft.operators.Materialize.applyCountSumDelta]]) — after the v1
    * bootstrap the view NEVER rescans the hub, so per-trigger refresh cost
    * is O(batch + groups), the only shape that keeps a continuously-updated
    * aggregate affordable over a 100 TB table. The view for hub version v
    * is committed at `mvPath/v<v>`; an existing dir short-circuits, which
    * together with the hub's batchId idempotence makes crash-replays
    * exactly-once end to end (view v−1 is always complete before the batch
    * producing v runs — Structured Streaming replays an unfinished batch
    * before starting the next).
    */
  def streamingMaterializedView(
      stream: DataFrame,
      hubPath: String,
      mvPath: String,
      keys: Seq[String],
      groupCols: Seq[String],
      measureCol: String,
      checkpointPath: String,
      cntCol: String = "cnt",
      sumCol: String = "sum",
      nBuckets: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mvRefreshStep(batch, id, hubPath, mvPath, keys, groupCols,
          measureCol, cntCol, sumCol, nBuckets)
        ()
      }
      .start()

  /** One micro-batch of the streaming materialized view (extracted so
    * crash/replay behavior is directly spec-testable): commit the batch to
    * the hub (batchId-idempotent), then refresh `mvPath/v<version>` from
    * the previous view + the CDF — skipping if the view is already
    * complete (`_SUCCESS` gate). Safe to re-run with the same batch/id
    * after a crash at ANY point: hub replay short-circuits to the existing
    * version, a torn view write is redone via mode(overwrite). Returns the
    * hub version the view now reflects.
    */
  private[graft] def mvRefreshStep(
      batch: DataFrame,
      id: Long,
      hubPath: String,
      mvPath: String,
      keys: Seq[String],
      groupCols: Seq[String],
      measureCol: String,
      cntCol: String,
      sumCol: String,
      nBuckets: Option[Int]): Int = {
    import org.apache.spark.sql.functions._
    val s = batch.sparkSession
    // bucketed layout keeps each commit O(touched buckets) — the shape a
    // high-frequency trigger needs on a large hub; flat (None) is the
    // small-table default
    val v = nBuckets match {
      case Some(n) => graft.writers.VersionedHub.writeBucketed(
        s, batch, hubPath, keys, n, batchId = Some(id))
      case None => graft.writers.VersionedHub.write(
        s, batch, hubPath, keys, batchId = Some(id))
    }
    val mvDir = (n: Int) => s"$mvPath/v$n"
    val fs = new org.apache.hadoop.fs.Path(mvPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val done = fs.exists(new org.apache.hadoop.fs.Path(mvDir(v), "_SUCCESS"))
    if (!done) {
      val mv =
        if (v == 1)
          graft.writers.VersionedHub.read(s, hubPath, Some(1))
            .groupBy(groupCols.map(col): _*)
            .agg(count(lit(1)).as(cntCol),
              sum(col(measureCol)).as(sumCol))
        else
          graft.operators.Materialize.applyCountSumDelta(
            s.read.parquet(mvDir(v - 1)),
            graft.writers.VersionedHub.changesCDF(
              s, hubPath, keys, v - 1, v),
            groupCols, measureCol, cntCol, sumCol)
      mv.write.mode("overwrite").parquet(mvDir(v))
    }
    v
  }

  /** Watermarked sliding-window count/sum per event type.
    * `ts` must be a TimestampType column.
    */
  def windowedEventCounts(
      events: DataFrame,
      windowDur: String = "1 hour",
      slideDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked stream-stream INNER join on a key within a ± time band
    * (the streaming enrich/correlate verb: impressions ⋈ clicks, request ⋈
    * response). Both sides are watermarked and the join condition carries an
    * explicit event-time band, which is what lets Spark BOUND the state
    * store: each side buffers only rows inside (watermark + band) instead of
    * the whole history — the difference between a join that runs forever at
    * 100 TB/day and one that OOMs on day two.
    *
    * `leftTs`/`rightTs` must be TimestampType; `bandSeconds` is the maximum
    * |leftTs − rightTs| for a match.
    */
  def bandedStreamJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      bandSeconds: Long,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r0 = right.withColumnRenamed(key, s"_r_$key")
    val r = r0.withWatermark(rightTs, watermark)
    l.join(r,
      col(key) === col(s"_r_$key") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $bandSeconds SECONDS") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $bandSeconds SECONDS"))
      .drop(s"_r_$key")
  }

  /** Streaming exact dedup (the streaming twin of `Dedup.exact`): keep ONE
    * row per content fingerprint — the first-arriving micro-batch wins;
    * within a batch the surviving row is arbitrary (unlike the batch
    * operator's lowest-id rule). Dedup state is bounded by the watermark
    * horizon — Spark drops a key's state once the watermark passes it, so at
    * 100 TB/day the state store holds only the horizon's keys instead of
    * growing forever.
    *
    * `tsCol` must be a TimestampType event-time column; rows later than
    * `watermark` behind the max seen event time may re-admit a duplicate
    * (the documented watermark trade-off).
    */
  def dedupStream(
      stream: DataFrame,
      textCol: String,
      tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    stream
      .withColumn("_fp", graft.operators.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** File-source stream over a directory of parquet (schema required by
    * Structured Streaming file sources).
    */
  def parquetStream(spark: SparkSession, dir: String,
      schemaOf: DataFrame): DataFrame =
    spark.readStream.schema(schemaOf.schema).parquet(dir)

  /** The GROWING-index streaming variant of incremental dedup: each
    * micro-batch probes the versioned-hub index AS OF its latest committed
    * version, records its matches in a second versioned hub (keyed per
    * pair), and commits its survivors' entries back to the index hub — both
    * commits carry the micro-batch id, so a replayed batch after a crash
    * short-circuits idempotently (exactly-once end to end, the property the
    * versioned sink exists for). Order-dependent BY DESIGN, unlike
    * [[incrementalDedupStream]]: a document duplicating an earlier batch's
    * survivor is caught, which is the semantics a continuously-growing
    * corpus needs. Equivalence to the sequential fold is spec-proven.
    */
  def growingIndexDedupStream(batches: DataFrame, indexHub: String,
      matchesHub: String, nBuckets: Int, textCol: String, idCol: String,
      threshold: Double, checkpoint: String,
      housekeepEvery: Int = 0,
      housekeepRetainMs: Long = graft.writers.VersionedHub.DefaultVacuumRetainMs
  ): StreamingQuery =
    batches.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import graft.operators.Dedup
        import graft.writers.VersionedHub
        val spark = batch.sparkSession
        val index = VersionedHub.read(spark, indexHub)
        VersionedHub.writeBucketed(spark,
          Dedup.incrementalNearDups(index, batch, textCol, idCol, threshold),
          matchesHub, Seq("new_id", "old_id"), nBuckets, batchId = Some(id))
        VersionedHub.writeBucketed(spark,
          Dedup.lshIndexEntries(
            Dedup.incrementalSurvivors(index, batch, textCol, idCol,
              threshold), textCol, idCol),
          indexHub, Seq(idCol, "band"), nBuckets, batchId = Some(id))
        housekeep(spark, Seq(indexHub, matchesHub), id, housekeepEvery,
          housekeepRetainMs)
        () // foreachBatch wants Unit, not the committed version number
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** A growing-index stream commits 1-2 versions per hub per micro-batch
    * FOREVER — without housekeeping the version log, the per-trigger
    * small-file count, and the orphaned snapshot storage all grow without
    * bound. Every `housekeepEvery` batches: compact the touched buckets'
    * small files into one file each ([[graft.writers.VersionedHub
    * .compactBuckets]], a committed version — readers mid-stream are never
    * affected), then [[graft.writers.VersionedHub.vacuum]] down to the
    * newest [[HousekeepKeepVersions]] manifests and sweep unreferenced
    * data dirs older than `retainMs`.
    *
    * Replay safety: a crash-replayed micro-batch can only be the LATEST
    * batch (the checkpoint advances before the next one starts), and its
    * idempotence manifests are at most 2 versions deep (its own commit +
    * one compaction) — keeping ≥ 4 versions means vacuum can never delete
    * the batchId record a replay would need to short-circuit on, so
    * exactly-once survives housekeeping.
    */
  val HousekeepKeepVersions = 4

  private def housekeep(spark: SparkSession, hubs: Seq[String], batchId: Long,
      every: Int, retainMs: Long): Unit =
    if (every > 0 && batchId > 0 && batchId % every == 0)
      hubs.foreach { hub =>
        graft.writers.VersionedHub.compactBuckets(spark, hub)
        graft.writers.VersionedHub.vacuum(spark, hub,
          keepVersions = Some(HousekeepKeepVersions), retainMs = retainMs)
      }

  /** GROWING-index streaming span trim (the ExactSubstr cut policy as a
    * continuously-ingesting stream): each micro-batch is trimmed against
    * the window-hash index AS OF its latest committed version
    * ([[graft.operators.Dedup.incrementalSpanTrim]] — corpus content wins,
    * batch-internal duplicates keep their batch-first occurrence), the
    * trimmed documents commit to `trimmedHub` keyed by id, and the batch's
    * OWN window entries (over the original text — later batches must be
    * cut against content that was trimmed here too) commit to `indexHub`
    * keyed by the window hash. Both commits carry the micro-batch id, so a
    * crash-replayed batch short-circuits idempotently (exactly-once).
    *
    * Order-dependent BY DESIGN, like [[growingIndexDedupStream]]: WHICH
    * copy survives follows arrival order. When batches arrive in id order,
    * the trimmed-hub content equals the one-shot
    * [[graft.operators.Dedup.trimDuplicatedSpans]] over the whole corpus —
    * the driver-visible oracle. Index upserts are keyed by `h`; a
    * re-ingested hash's metadata is merged CUMULATIVELY against the probed
    * index rows (occ adds, keep takes the min) — the probe the trim already
    * reads covers every hash the batch commits, so the persisted index's
    * `occ` is the corpus-global occurrence count and `keep` the
    * corpus-global first occurrence, not batch-local values a downstream
    * consumer could mistake for global ones.
    */
  def spanTrimStream(batches: DataFrame, indexHub: String,
      trimmedHub: String, nBuckets: Int, textCol: String, idCol: String,
      k: Int, checkpoint: String,
      housekeepEvery: Int = 0,
      housekeepRetainMs: Long = graft.writers.VersionedHub.DefaultVacuumRetainMs
  ): StreamingQuery =
    batches.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import graft.operators.Dedup
        import graft.writers.VersionedHub
        val spark = batch.sparkSession
        // one positional-hashing pass per micro-batch (materialized inside
        // positionalWindowHashes), shared between the probe, the trim and
        // the index commit
        val pos = Dedup.positionalWindowHashes(batch, textCol, idCol, k)
        // ONE per-hash aggregate serves the index probe, the trim's
        // batch-first-occurrence rule, AND the index commit's entries
        val bf = Dedup.persistForReuse(Dedup.batchWindowFirsts(pos, idCol))
        // Crash-replay guard: the two hub commits below run concurrently,
        // so the index commit may land while the trim commit does not. A
        // replayed batch must then probe the index AS OF the last version
        // BEFORE its own commit — probing a tip that already holds this
        // batch's window hashes makes every window match `_inIdx` and
        // permanently over-trims first-occurrence spans. Versions AFTER the
        // own-batch commit (e.g. a housekeeping compaction that ran before
        // the crash) contain those hashes too, so the cut is by version
        // number, not just batchId inequality.
        val hist = VersionedHub.history(spark, indexHub)
        val tip = hist.find(_.batchId.contains(id)) match {
          case Some(own) => hist.filter(_.version < own.version).lastOption
          case None => hist.lastOption
        }
        val index = Dedup.persistForReuse(
          tip match {
            // bucket-pruned probe: only the index buckets that can hold one
            // of the batch's window hashes are read — O(batch), not O(index)
            case Some(v) => VersionedHub.readBucketsFor(spark, indexHub,
              bf.select(col("h")), Seq("h"), version = Some(v))
            case None => spark.range(0).select(col("id").as("h"),
              lit(0L).as("occ"), lit(0L).as("keep"))
          })
        try {
          // cumulative upsert: the probed rows are exactly the existing
          // entries for every hash this batch touches, so merging here keeps
          // occ/keep corpus-global at O(batch) cost
          val old = index.select(col("h"), col("occ").as("_old_occ"),
            col("keep").as("_old_keep"))
          val cumulative = bf
            .select(col("h"), col("_bocc").as("occ"), col("_bkeep").as("keep"))
            .join(old, Seq("h"), "left")
            .select(col("h"),
              (col("occ") + coalesce(col("_old_occ"), lit(0L))).as("occ"),
              least(col("keep"), coalesce(col("_old_keep"), col("keep")))
                .as("keep"))
          // the two commits target DIFFERENT hubs and share only
          // already-materialized inputs, so they run CONCURRENTLY — one
          // batch pays the driver/commit latency once, not twice. Each
          // carries the batch id, so crash-replay stays exactly-once
          // independently. The probe collect materializes pos+bf on probed
          // batches; the probe-less first batch forces them with one cheap
          // action so the forked commits never race a lazy checkpoint.
          if (tip.isEmpty) bf.foreach(_ => ())
          def commitTrim(): Int = VersionedHub.writeBucketed(spark,
            Dedup.incrementalSpanTrimFromParts(index, batch, pos, bf,
              textCol, idCol, k),
            trimmedHub, Seq(idCol), nBuckets, batchId = Some(id))
          def commitIdx(): Int = VersionedHub.writeBucketed(spark,
            cumulative, indexHub, Seq("h"), nBuckets, batchId = Some(id))
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val fTrim = Future(commitTrim())
          val fIdx = Future(commitIdx())
          // await BOTH before the finally-unpersist even when one throws —
          // otherwise the loser's jobs race the cache teardown
          val rTrim = scala.util.Try(Await.result(fTrim, Duration.Inf))
          val rIdx = scala.util.Try(Await.result(fIdx, Duration.Inf))
          rTrim.get; rIdx.get
        } finally { index.unpersist(); bf.unpersist() }
        housekeep(spark, Seq(indexHub, trimmedHub), id, housekeepEvery,
          housekeepRetainMs)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Micro-batch incremental dedup against a STATIC corpus LSH index
    * (entries from [[graft.operators.Dedup.lshIndexEntries]]) — the
    * daily-batches-probe-a-periodically-rebuilt-index deployment. Each
    * micro-batch probes the same index via
    * [[graft.operators.Dedup.incrementalNearDups]] and appends its verified
    * matches to `outPath`. Probes are per-document and the index does not
    * change mid-stream, so the union over micro-batches equals the one-shot
    * batch probe exactly — the equivalence the driver oracle checks. (An
    * index that also grows with batch survivors is the order-dependent
    * sequential fold: run it through the versioned-hub sink instead, where
    * each commit is one batch's appended entries.)
    */
  def incrementalDedupStream(batches: DataFrame, index: DataFrame,
      textCol: String, idCol: String, threshold: Double, outPath: String,
      checkpoint: String): StreamingQuery =
    batches.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Dedup
          .incrementalNearDups(index, batch, textCol, idCol, threshold)
          .write.mode("append").parquet(outPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  // ---- streaming SCD-2 (streaming twin of BehaviorQueries.qScd2Intervals) ----

  final case class Scd2Event(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String)

  /** The user's OPEN interval: current state + when it started. */
  final case class Scd2State(cur: String, since_us: Long)

  final case class Scd2Out(user_id: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long)

  /** Per-user SCD-2 fold: a state CHANGE closes the open interval (emitted)
    * and opens a new one; the open interval rides in the state store across
    * micro-batches, so a dimension table maintained from this stream is
    * always interval-consistent. Within a batch, events sort by
    * (ts_us, event_id) — the same total order as the batch operator, so
    * streaming emits exactly the batch result minus each user's final OPEN
    * interval (the equivalence the oracle checks). State is O(1) per user:
    * current type + start — the shape that holds at 100 TB/day.
    */
  private[graft] def scd2Step(user: Long, it: Iterator[Scd2Event],
      state: org.apache.spark.sql.streaming.GroupState[Scd2State]
  ): Iterator[Scd2Out] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.orNull
    val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
    evs.foreach { e =>
      if (st == null) st = Scd2State(e.event_type, e.ts_us)
      else if (e.event_type != st.cur) {
        closed += Scd2Out(user, st.cur, st.since_us, e.ts_us)
        st = Scd2State(e.event_type, e.ts_us)
      }
    }
    if (st != null) state.update(st)
    closed.iterator
  }

  /** NoTimeout, deliberately — and unlike [[sessionizeStream]], SCD-2
    * state must NOT be idle-evicted: an entity's open interval is its
    * CURRENT dimension value, and forgetting it would restart the entity's
    * history at its next event (a silent interval corruption, not a
    * bounded-staleness trade-off like a session restart). The state store
    * is therefore O(|entities|) — exactly the size of the dimension table
    * this stream maintains, which is the floor for ANY correct SCD-2
    * implementation. Long-lived deployments bound the STORE (not the
    * information) by periodically draining cold entries into the persisted
    * hub and re-seeding state on their next event — a foreachBatch
    * merge against [[graft.writers.VersionedHub]], not a timeout.
    */
  def scd2Stream(events: org.apache.spark.sql.Dataset[Scd2Event])
      : org.apache.spark.sql.Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(scd2Step)
  }

  /** SCD-2 dimension maintenance with HUB-RESIDENT state — the long-lived
    * deployment shape [[scd2Stream]]'s scaladoc points at: NO state store
    * at all. Each micro-batch
    *
    *   1. prunes the hub scan to the BUCKETS the batch's users hash to
    *      (the table is bucketed by user_id — [[graft.writers.VersionedHub
    *      .readBucketsFor]]), then keeps only the touched users' intervals
    *      that OVERLAP the batch: per user, every interval with
    *      `valid_to >= min(batch event ts)` plus the open one. In the
    *      steady state (no late data) that is exactly the open interval;
    *      a LATE event additionally pulls in the closed intervals it lands
    *      among, so the splice below can rewrite them — the bitemporal
    *      case the previous revision documented as unsupported,
    *   2. replays those intervals as synthetic events carrying their
    *      ORIGINAL opening event_id (stored on the row), so re-folding
    *      synthetic + batch events through the batch operator's
    *      (ts, event_id) window order reproduces the reconstruction over
    *      change-point ∪ new events — an interval whose value matches the
    *      next event merges, a late event splits the closed interval it
    *      lands inside, and a same-timestamp change pair keeps both rows
    *      (event_id disambiguates the key),
    *   3. commits the re-folded intervals keyed by (user_id, valid_from_us,
    *      event_id): updated intervals replace their rows, new ones
    *      insert, and keys the re-fold RETIRED (a late event can merge a
    *      formerly-distinct interval away) are deleted in the same atomic
    *      commit (`deletes`) — still O(touched buckets), untouched users
    *      ride along structurally.
    *
    * The commit carries the micro-batch id, so a crash-replayed batch
    * short-circuits idempotently (exactly-once, same contract as
    * [[growingIndexDedupStream]]). State per entity: exactly its hub rows —
    * the floor for any correct SCD-2 — on the ACID table, not in executor
    * memory. Per-batch ROW work is O(batch events + overlapped intervals);
    * the scan is bucket-pruned, not O(hub). Residual (information-
    * theoretic, shared by any interval-state SCD-2): an event that was
    * merged away as a non-change (equal state to its predecessor) is not
    * stored, so a late event landing strictly between it and that
    * predecessor yields the reconstruction over the SURVIVING change
    * points — the merged event cannot re-split the interval. Keep the raw
    * event log (RAW zone) when full replay fidelity is required.
    */
  def scd2HubStream(batches: DataFrame, hubPath: String, nBuckets: Int,
      checkpoint: String,
      housekeepEvery: Int = 0,
      housekeepRetainMs: Long = graft.writers.VersionedHub.DefaultVacuumRetainMs
  ): StreamingQuery =
    batches.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import graft.writers.VersionedHub
        import org.apache.spark.sql.expressions.Window
        val spark = batch.sparkSession
        val keys = Seq("user_id", "valid_from_us", "event_id")
        val evs = batch.select(col("user_id"), col("event_id"),
          col("ts_us"), col("event_type"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        def fold(events: DataFrame): DataFrame = events
          .withColumn("_prev", lag(col("event_type"), 1).over(w))
          .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
          .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts_us").as("valid_from_us"), col("valid_to_us"))
        val tip = VersionedHub.latest(spark, hubPath) // one log parse/batch
        tip match {
          case None =>
            VersionedHub.writeBucketed(spark, fold(evs), hubPath, keys,
              nBuckets, batchId = Some(id), bucketCols = Some(Seq("user_id")))
          case Some(v) =>
            val users = evs.select(col("user_id")).distinct()
            val mine = VersionedHub
              .readBucketsFor(spark, hubPath, users, Seq("user_id"),
                version = Some(v))
              // inner join: drops same-bucket strangers AND tags each row
              // with its user's earliest batch event for the overlap split
              .join(evs.groupBy(col("user_id"))
                .agg(min(col("ts_us")).as("_min_ts")), Seq("user_id"))
            // the splice region: open intervals + closed ones that overlap
            // [min batch ts, ∞). Intervals are contiguous per user, so the
            // earliest re-folded row starts at or before every batch event
            // and carries the prior state into the fold.
            val refold = mine.filter(col("valid_to_us").isNull ||
              col("valid_to_us") >= col("_min_ts"))
            val synth = refold.select(col("user_id"), col("event_id"),
              col("valid_from_us").as("ts_us"), col("event_type"))
            val folded = fold(evs.unionByName(synth))
            // keys the re-fold no longer produces are stale — delete them
            // in the same commit
            val stale = refold.select(keys.map(col): _*)
              .join(folded.select(keys.map(col): _*), keys, "left_anti")
            VersionedHub.writeBucketed(spark, folded, hubPath, keys,
              nBuckets, batchId = Some(id),
              bucketCols = Some(Seq("user_id")), deletes = Some(stale))
        }
        housekeep(spark, Seq(hubPath), id, housekeepEvery, housekeepRetainMs)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  // ---- stateful sessionization (streaming twin of operators.Sessionize) ----

  final case class SessionEvent(user_id: Long, ts_us: Long)

  /** count == 0 ⇔ no open session; sid then holds the LAST EMITTED session
    * id (0 if none yet), kept as a tombstone so a returning user continues
    * the id sequence instead of restarting at 1.
    */
  final case class SessionAgg(sid: Long, start: Long, last: Long, count: Long)

  final case class SessionOut(user_id: Long, session_id: Long,
      n_events: Long, session_start_s: Long)

  /** Gap-based sessionization with explicit per-user state
    * (`flatMapGroupsWithState`): closed sessions are emitted as soon as the
    * gap that closes them arrives; the open session rides in the state store
    * across micro-batches. State size = O(1) per active user.
    *
    * State EVICTION (the part that keeps a 100 TB/day deployment alive):
    * a processing-time timeout of `idleTimeoutSeconds` fires for users with
    * no new events — the open session is emitted as closed and the state
    * shrunk to a TOMBSTONE holding only the last emitted session id, so a
    * returning user continues the id sequence and (user_id, session_id)
    * stays unique downstream. The tombstone itself is removed after a
    * second idle timeout with no activity; only a user returning after BOTH
    * timeouts (≥ 2 × idleTimeoutSeconds idle) restarts at session_id 1 —
    * the residual, documented trade-off vs unbounded state.
    */
  /** The per-group state transition, extracted so the timeout/tombstone
    * paths are unit-testable via `TestGroupState` (processing-time timeouts
    * never fire in batch-mode execution, which the parity spec uses).
    */
  private[graft] def sessionStep(gapUs: Long, idleTimeoutMs: Long)(
      user: Long,
      it: Iterator[SessionEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessionAgg]
  ): Iterator[SessionOut] =
    if (state.hasTimedOut) {
      val st = state.get
      if (st.count == 0L) {
        // tombstone idled through a second timeout: evict for good
        state.remove()
        Iterator.empty
      } else {
        // idle user: flush the open session, keep a tombstone with the
        // emitted sid so a late return continues the sequence
        state.update(SessionAgg(st.sid, 0L, 0L, 0L))
        if (idleTimeoutMs > 0L) state.setTimeoutDuration(idleTimeoutMs)
        Iterator.single(SessionOut(user, st.sid, st.count, st.start / 1000000L))
      }
    } else {
      val ts = it.map(_.ts_us).toArray.sorted
      var st = state.getOption.getOrElse(SessionAgg(0L, 0L, 0L, 0L))
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      ts.foreach { t =>
        if (st.count == 0L) st = SessionAgg(st.sid + 1L, t, t, 1L)
        else if (t - st.last > gapUs) {
          closed += SessionOut(user, st.sid, st.count, st.start / 1000000L)
          st = SessionAgg(st.sid + 1L, t, t, 1L)
        } else st = st.copy(last = t, count = st.count + 1L)
      }
      state.update(st)
      if (idleTimeoutMs > 0L) state.setTimeoutDuration(idleTimeoutMs)
      closed.iterator
    }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * the (bounded) static dimension. The static side is hinted broadcast —
    * per micro-batch Spark ships the dim to the executors once and the
    * stream side never shuffles, which is the only shape that holds up when
    * the stream runs at full ingest rate. Left join keeps unmatched stream
    * rows (enrichment must not drop events).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "join keys must be non-empty")
    require(!dim.isStreaming,
      "enrichStream joins a stream to a STATIC dimension; " +
        "for stream-stream use bandedStreamJoin")
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left_outer")
  }

  /** Streaming corpus-quality gate: stateless per-row filter on the
    * composite quality score (graft.operators.TextAnalysis.qualityScore) —
    * the streaming twin of the batch training-mix quality cut. Stateless ⇒
    * no watermark, no state store; it fuses into the stream's scan stage.
    * The schema passes through untouched (the score is computed inside the
    * predicate, never materialized as a column).
    */
  def qualityFilterStream(stream: DataFrame, textCol: String,
      minQuality: Double): DataFrame =
    stream.filter(
      graft.operators.TextAnalysis.qualityScore(col(textCol)) >= minQuality)

  /** `idleTimeoutSeconds = 0` disables idle eviction (GroupStateTimeout
    * .NoTimeout). Use it for FINITE-source runs: with a processing-time
    * timeout pending, an AvailableNow run parks in a "cleaning up state"
    * batch waiting for timeouts that only fire after the idle horizon —
    * the query never terminates within the run. Long-lived deployments
    * keep the default timeout (state stays bounded); finite replays don't
    * need eviction at all.
    */
  def sessionizeStream(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapSeconds: Long,
      idleTimeoutSeconds: Long = 3600L): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val timeout =
      if (idleTimeoutSeconds > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, timeout)(
        sessionStep(gapSeconds * 1000000L, idleTimeoutSeconds * 1000L))
  }
}
