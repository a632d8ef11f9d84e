package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming ingest — the streaming re-expression of the
  * reference's batch bulk-import loop (kuko6/tweets-elastic
  * `src/main.py:106-162`): instead of keyset pagination + hand-rolled
  * chunking, a file/memory source streams micro-batches through the
  * same transforms and a `foreachBatch`/parquet sink, with event-time
  * watermarks bounding state. SURVEY.md §2.9 marks this as a deliberate
  * extension.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Watermarked tumbling-window aggregation over a streaming frame —
    * identical group semantics to EventOps.tumbling, late data beyond
    * 10 minutes dropped, state bounded by the watermark. */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** File-source ingest of an events directory, windowed, written as
    * parquet via foreachBatch (the S6 bulk-sink analog with exactly-once
    * per micro-batch). */
  def ingest(spark: SparkSession, srcDir: String, outDir: String,
             checkpoint: String): StreamingQuery = {
    val stream = spark.readStream.schema(eventSchema).parquet(srcDir)
    windowedCounts(stream).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Gap-based session windows on a stream — Spark's native
    * `session_window` (dynamic-length windows closed by the watermark);
    * the streaming twin of EventOps.sessionize. */
  def sessionWindows(stream: DataFrame, gap: String = "30 minutes"): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup: drop re-delivered events by id within the
    * watermark horizon — the exactly-once ingest guard a pipeline puts
    * in front of the bulk sink (state bounded by the watermark). */
  def dedupedStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom per-key state: running per-user event counter via
    * mapGroupsWithState (the reference's driver-side `processed_rows`
    * accounting, `src/main.py:128-156`, done as distributed state). */
  case class UserCount(userId: Long, n: Long)
  def runningUserCounts(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream.selectExpr("user_id", "event_id")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserCount(user, n)
      }
      .toDF()
  }

  // ---- driver-runnable streaming entries -------------------------------
  //
  // Each runs a REAL StreamingQuery (file source → stateful operator →
  // memory sink, Trigger.AvailableNow) to completion and returns the
  // sink table as a batch frame, so the streaming operators get the
  // same DuckDB-oracle differential check as every batch operator —
  // the oracle is the batch SQL the stream must converge to on a
  // finite input. Checkpoints and sink names are fresh per invocation
  // (a restart resumes from its own checkpoint in production; here
  // every run is a new pipeline).

  /** The events table as a file-source STREAM, normalizing `ts` to
    * `TimestampType` across all historical parquet encodings via the
    * same projection as the batch reader (`Tables.normalizeTs`) so
    * batch and streaming ingest share one schema contract. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = java.nio.file.Paths.get(dir, "events.parquet")
    val streamDir = streamableDir(path)
    val schema = spark.read.parquet(path.toString).schema
    val raw = spark.readStream.schema(schema).parquet(streamDir)
    raw.withColumn("ts", graft.Tables.normalizeTs(schema("ts").dataType))
  }

  private[streaming] def freshDir(prefix: String): String =
    // Scratch registers a recursive shutdown-hook delete — the old
    // deleteOnExit was a silent no-op on these non-empty directories
    graft.Scratch.dir(prefix)

  /** Expose a single parquet FILE as a file-source stream directory
    * (symlink — no data copy); a real directory streams as-is. */
  private[streaming] def streamableDir(path: java.nio.file.Path): String =
    if (java.nio.file.Files.isDirectory(path)) path.toString
    else {
      val d = java.nio.file.Paths.get(freshDir("stsrc"))
      java.nio.file.Files.createSymbolicLink(d.resolve(path.getFileName), path)
      d.toString
    }

  /** The shuffle (and state) partition cap of a streaming run. */
  private val StreamPartitions = 8

  /** Pin spark.sql.shuffle.partitions for a streaming run's lifetime,
    * at most [[StreamPartitions]].
    * Stateful queries snapshot the setting at their first batch as the
    * STATE partition count, and the HDFS-backed store commits one
    * delta file per state partition per micro-batch — at this
    * harness's data scale that fixed file-IO dominates (measured ~2×
    * on st3 at 32 vs 8 partitions). A real deployment sizes this to
    * its key space, not to this default.
    * CONCURRENCY: the set/restore mutates the SESSION-global conf, so
    * a batch query running concurrently on this SparkSession would
    * silently execute with the reduced partition count, and two
    * overlapping runs race on the restore. The harness is strictly
    * sequential; a parallel caller must pass a cloned session
    * (spark.newSession) per stream, as the opt* queries already do. */
  private[streaming] def withPinnedStreamPartitions[T](
      spark: SparkSession)(body: => T): T = {
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(oldParts.toInt, StreamPartitions).toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", oldParts)
  }

  private[streaming] def runToMemory(df: DataFrame, mode: OutputMode,
                                     prefix: String): String = {
    val name =
      prefix + java.util.UUID.randomUUID().toString.replaceAll("-", "")
    withPinnedStreamPartitions(df.sparkSession) {
      df.writeStream
        .outputMode(mode)
        .format("memory").queryName(name)
        .option("checkpointLocation", freshDir(prefix + "ck"))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    name
  }

  /** ST1: the windowed-count stream run end-to-end; on a finite input
    * the complete-mode result must equal the batch tumbling
    * aggregation (EventOps.tumbling / the e1 oracle). `window(ts,
    * '1 hour').start ≡ date_trunc('hour', ts)`, so the oracle is
    * shared verbatim. */
  def runTumbling(spark: SparkSession, dir: String): DataFrame = {
    val table = runToMemory(windowedCounts(eventsStream(spark, dir)),
      OutputMode.Complete, "st1_")
    spark.table(table)
      .select(col("win_start").as("hour"), col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** ST2: exactly-once ingest under re-delivery. The input directory
    * holds the events table written TWICE (an at-least-once source
    * re-delivering every record); `dropDuplicatesWithinWatermark` on
    * the id must collapse it back to one copy, so the per-type counts
    * and sums equal the single-copy batch oracle. A duplicate that
    * arrives inside the watermark horizon hits live dedup state; one
    * that arrives later is dropped as late data — either way exactly
    * one copy survives, which is what makes the oracle exact.
    *
    * PRECONDITION the argument rests on (round-13 review): both
    * deliveries of an event must land in micro-batches that see it
    * before the watermark passes its timestamp. Here the whole input
    * fits one AvailableNow micro-batch (a handful of files, no
    * maxFilesPerTrigger), so the condition holds trivially; a
    * production ingest whose deliveries straddle batches can have an
    * old event's FIRST copy arrive after the watermark advanced —
    * both copies late-dropped, zero survive. The production answer
    * is a delay bound chosen ≥ the real redelivery lag (the
    * withWatermark parameter), not a property this harness can
    * manufacture. */
  def runDedupIngest(spark: SparkSession, dir: String): DataFrame = {
    val src = freshDir("st2src")
    val base = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    base.write.mode("append").parquet(src) // delivery 1
    base.write.mode("append").parquet(src) // delivery 2 (duplicates)
    val stream = spark.readStream.schema(base.schema).parquet(src)
    val table = runToMemory(dedupedStream(stream), OutputMode.Append, "st2_")
    spark.table(table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** ST7: gap sessions run end-to-end. Complete mode (like ST1): on a
    * finite input every session is final, and complete mode emits them
    * all regardless of the watermark — append mode would hold back any
    * session still inside the watermark horizon when the input ends.
    * Must equal the batch `session_window` aggregation (the e4
    * oracle). */
  def runSessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val table = runToMemory(
      sessionWindows(eventsStream(spark, dir)),
      OutputMode.Complete, "st7_")
    spark.table(table)
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events"),
        round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** ST3: mapGroupsWithState run end-to-end. Update mode emits the
    * running counter per user per micro-batch; the LAST update (= max,
    * counters are monotone) must equal the batch per-user count. This
    * is the driver-checkable contract for arbitrary stateful
    * processing: converged state ≡ batch aggregation. */
  def runUserCounts(spark: SparkSession, dir: String): DataFrame = {
    val table = runToMemory(
      runningUserCounts(spark, eventsStream(spark, dir)),
      OutputMode.Update, "st3_")
    spark.table(table)
      .groupBy(col("userId").as("user_id"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("user_id"))
  }

  /** Stream-stream interval join: each purchase joins the same user's
    * clicks from the preceding `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, so Spark can size the join state and evict rows as
    * the watermark advances — the conditions append-mode stream-stream
    * joins require; without them state grows forever. At scale, state
    * is bounded by (events within the watermark horizon), not by the
    * stream length. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        windowMinutes: Int = 30): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c, col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
      col("c_ts") <= col("p_ts"))
  }

  /** ST5: the stream-stream join run end-to-end — purchases and clicks
    * arrive as two INDEPENDENT file streams of the same events source;
    * on a finite input the joined pairs must equal the batch interval
    * join (the DuckDB non-equi-join oracle). */
  def runStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val table = runToMemory(
      purchaseClickJoin(eventsStream(spark, dir), eventsStream(spark, dir)),
      OutputMode.Append, "st5_")
    spark.table(table)
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Per-user funnel STATE MACHINE (the streaming twin of
    * `EventOps.funnel`): state carries the earliest completion time of
    * each LOCKED stage plus, for each still-unreached stage, a sorted
    * buffer of candidate event times — so a stage-k event whose
    * stage-(k−1) prerequisite arrives in a LATER micro-batch still
    * converts once the prerequisite lands (arrival order across
    * batches must not lose conversions).
    *
    * The buffers are bounded by the WATERMARK HORIZON, not a fixed
    * count (which was the round-8 approximation: a candidate beyond
    * the cap was dropped and a late-locking prerequisite could then
    * miss its conversion). The bound is a provable prune, so the
    * convergence contract is unconditional for any disorder the
    * watermark admits: locks are strictly increasing, and the first
    * unreached stage's future lock can only come from an ADMITTED
    * arrival (ts ≥ current watermark — the machine enforces this
    * late-drop itself, because mapGroupsWithState, unlike stateful
    * aggregations, does not auto-filter late rows) — so every
    * subsequent stage's lock exceeds `max(deepest lock, watermark)`,
    * and any candidate at or below that line can never satisfy the
    * strictly-after condition again. State per user is
    * therefore O(candidate events inside the horizon), the same bound
    * every watermarked stateful operator carries — never the stream
    * history. The one remaining documented approximation: an EARLIER
    * stage-k completion arriving after stage k locked is ignored
    * (monotone locks).
    *
    * `horizon` is the `withWatermark` delay: the max disorder the
    * machine absorbs. A REPLAY of historical data has disorder as
    * large as the history — replays pass a horizon covering the
    * table's time span ([[runFunnel]]); a live deployment passes its
    * real late-arrival bound. */
  case class FunnelState(times: Seq[Long], buf: Seq[Seq[Long]])
  case class FunnelProgress(userId: Long, stageReached: Int)

  def funnelMachine(spark: SparkSession, stream: DataFrame,
                    stages: Seq[String],
                    horizon: String = "1 hour"): DataFrame = {
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    val nStages = stages.length
    stream
      .withWatermark("ts", horizon)
      .filter(col("event_type").isin(stages: _*))
      // the watermarked ts column must SURVIVE the projection —
      // dropping it detaches the event-time watermark from the plan
      // and the stateful operator can no longer read it
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[FunnelState]) =>
          val st = state.getOption
            .getOrElse(FunnelState(Seq.empty, Seq.fill(nStages)(Seq.empty)))
          val times = scala.collection.mutable.ArrayBuffer(st.times: _*)
          val buf = st.buf.map(b =>
            scala.collection.mutable.ArrayBuffer(b: _*)).toArray
          // enforce the late-drop OURSELVES: unlike stateful
          // aggregations, mapGroupsWithState does NOT auto-filter
          // rows older than the watermark — and the horizon prune's
          // soundness rests on "every admitted arrival has ts ≥ the
          // watermark it was processed under" (a late event admitted
          // below the watermark could lock a stage BENEATH already-
          // pruned candidates and silently lose a conversion).
          // Events beyond the horizon are dropped, the same contract
          // a watermarked aggregation applies.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // merge this batch's admitted events into the unreached
          // stages' candidate buffers (sorted insert, no cap)
          rows.foreach { case (_, _, us, tpe) =>
            val idx = stageIdx(tpe)
            if (us >= wmUs && idx >= times.length) {
              val ins = buf(idx).indexWhere(_ > us)
              if (ins >= 0) buf(idx).insert(ins, us)
              else buf(idx) += us
            }
          }
          // advance: lock stage k at its earliest candidate strictly
          // after stage k−1's lock, repeatedly, until no stage can
          var advanced = true
          while (advanced && times.length < nStages) {
            val k = times.length
            val threshold = times.lastOption.getOrElse(Long.MinValue)
            buf(k).find(_ > threshold) match {
              case Some(t) =>
                times += t
                buf(k).clear() // lock is final; candidates are spent
              case None => advanced = false
            }
          }
          // the horizon-bound prune. For the first unreached stage the
          // threshold is KNOWN (the deepest lock) and the advance loop
          // just proved no candidate clears it — its buffer empties.
          // Deeper stages' future thresholds strictly exceed
          // max(deepest lock, watermark): their lock chain starts at
          // the first unreached stage, whose lock must come from a
          // future ADMITTED arrival (ts ≥ wm, enforced above; future
          // batches only raise wm). Candidates at or below the line
          // can never be strictly after such a threshold — dropping
          // them loses nothing.
          val deepest = times.lastOption.getOrElse(Long.MinValue)
          val k0 = times.length
          var k = k0
          while (k < nStages) {
            val bound = if (k == k0) deepest else math.max(deepest, wmUs)
            buf(k).filterInPlace(_ > bound)
            k += 1
          }
          state.update(FunnelState(times.toSeq, buf.map(_.toSeq).toSeq))
          FunnelProgress(user, times.length)
      }
      .toDF()
  }

  /** Windowed approximate-distinct users on a stream: the HLL++
    * sketch (`approx_count_distinct`) as a streaming aggregation. The
    * sketch's partial state merges by register-max, which is order-
    * and batch-boundary-insensitive, so a finite streamed input
    * converges to exactly the estimate the batch aggregation computes
    * — at 100 TB this is the only affordable shape for continuous
    * distinct-user dashboards: per-window state is a fixed-size
    * register array, never the user-id set. */
  def windowedApproxUsers(stream: DataFrame, rsd: Double): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("approx_users"))

  /** ST9: the streaming sketch run end-to-end. The verified contract
    * is CONVERGENCE, not accuracy: the streaming estimate must equal
    * the BATCH `approx_count_distinct` estimate on the same input
    * bit-for-bit — which the register-max merge guarantees regardless
    * of arrival order, batch boundaries, or partitioning, and which
    * an x5-style relative-error bound could not check here (the
    * hour×type groups are tiny, where HLL's small-range correction is
    * legitimately off by ±1 and 3·rsd·exact < 1; the per-sketch
    * ACCURACY contract on production-sized groups is x5's job). The
    * join is FULL OUTER so a group the stream missed (or invented)
    * surfaces as a false contract row, not a silently dropped one;
    * the estimate value itself never reaches the output (it is
    * engine-specific — the x5 argument). */
  def runApproxUsers(spark: SparkSession, dir: String): DataFrame = {
    val rsd = 0.02
    val table = runToMemory(
      windowedApproxUsers(eventsStream(spark, dir), rsd),
      OutputMode.Complete, "st9_")
    val approx = spark.table(table)
    val batch = graft.Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type").as("et"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id"), rsd).as("batch_approx"))
    approx.join(batch,
        approx("win_start") === batch("hour") &&
          approx("event_type") === batch("et"), "full_outer")
      .select(coalesce(batch("hour"), approx("win_start")).as("hour"),
        coalesce(batch("et"), approx("event_type")).as("event_type"),
        col("exact_users"), col("n"),
        coalesce(col("approx_users") === col("batch_approx"), lit(false))
          .as("stream_eq_batch"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Per-user RETENTION state machine — the streaming twin of
    * `EventOps.retention` (the e9 cohort matrix). State per user is
    * the SORTED SET of distinct active week-starts (epoch days):
    * retention is pure set-union + min, so unlike the funnel it is
    * completely order- and batch-boundary-insensitive — no watermark,
    * no late-drop, no candidate buffers; convergence is unconditional
    * for ANY arrival order. State is O(distinct active weeks) per
    * user — calendar-bounded (52/user/year), never the event history;
    * the only shuffle is the groupByKey on `user_id`, the same key the
    * batch twin shuffles on. Each batch emits the user's full snapshot
    * (cohort + relative offsets); snapshots strictly GROW (any state
    * change adds a week — an earlier-week arrival that moves the
    * cohort also adds its own week), so the converged state is the
    * max-`nWeeks` emission per user. */
  case class RetentionState(weeks: Seq[Long])
  case class RetentionSnapshot(userId: Long, nWeeks: Int,
                               cohortDays: Long, offsets: Seq[Long])

  def retentionMachine(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    stream
      // week-start as exact epoch DAYS: date_trunc is midnight UTC, so
      // the micros division is exact and the reverse mapping
      // (timestamp_seconds(days·86400)) reconstructs the batch twin's
      // TimestampType value bit-for-bit
      .select(col("user_id"),
        expr("unix_micros(date_trunc('week', ts)) div 86400000000").as("wkday"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: GroupState[RetentionState]) =>
          val seen = scala.collection.mutable.SortedSet(
            state.getOption.map(_.weeks).getOrElse(Seq.empty): _*)
          rows.foreach { case (_, w) => seen += w }
          state.update(RetentionState(seen.toSeq))
          val cohort = seen.head
          RetentionSnapshot(user, seen.size, cohort,
            seen.toSeq.map(w => (w - cohort) / 7))
      }
      .toDF()
  }

  /** ST14: the retention machine run end-to-end. The verified contract
    * is the st9 convergence discipline: the matrix folded from the
    * converged per-user states must equal batch `EventOps.retention`
    * BIT-FOR-BIT, full-outer-joined on (cohort_week, week_offset) so a
    * cohort row the stream missed (or invented) surfaces as a false
    * contract row — never a silently dropped one. The emitted values
    * are the batch side's; `stream_eq_batch` carries the comparison of
    * all three measures (n_users, cohort_size, retention_bp). */
  def runRetention(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val table = runToMemory(
      retentionMachine(spark, eventsStream(spark, dir)),
      OutputMode.Update, "st14_")
    // converged snapshot per user: max nWeeks (snapshots only grow; a
    // re-emission at equal nWeeks is an identical row, so ties are
    // value-identical and max_by's pick is deterministic in value)
    val matrix = spark.table(table)
      .groupBy(col("userId"))
      .agg(max_by(struct(col("cohortDays"), col("offsets")),
        col("nWeeks")).as("st"))
      .select(col("st.cohortDays").as("cohortDays"),
        explode(col("st.offsets")).as("s_off"))
      .groupBy(col("cohortDays"), col("s_off"))
      .agg(count(lit(1)).as("s_users"))
      .withColumn("s_size",
        max(when(col("s_off") === 0L, col("s_users")))
          .over(Window.partitionBy("cohortDays")))
      .select(timestamp_seconds(col("cohortDays") * 86400L).as("s_cohort"),
        col("s_off"), col("s_users"), col("s_size"),
        expr("s_users * 10000L div s_size").as("s_bp"))
    val batch = graft.operators.EventOps.retention(
      graft.Tables.events(spark, dir))
    batch.join(matrix,
        batch("cohort_week") === matrix("s_cohort") &&
          batch("week_offset") === matrix("s_off"), "full_outer")
      .select(coalesce(batch("cohort_week"), matrix("s_cohort")).as("cohort_week"),
        coalesce(batch("week_offset"), matrix("s_off")).as("week_offset"),
        col("n_users"), col("cohort_size"), col("retention_bp"),
        coalesce(col("n_users") === col("s_users") &&
          col("cohort_size") === col("s_size") &&
          col("retention_bp") === col("s_bp"), lit(false))
          .as("stream_eq_batch"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** ST6: the funnel state machine run end-to-end; stage counts from
    * the converged per-user states must equal the batch staged funnel
    * (the e7 oracle, verbatim). */
  def runFunnel(spark: SparkSession, dir: String,
                stages: Seq[String]): DataFrame = {
    val table = runToMemory(
      // a historical REPLAY's disorder spans the whole table (the file
      // stream re-partitions years of events into micro-batches), so
      // the horizon must cover the span — a live deployment would pass
      // its real late-arrival bound instead
      funnelMachine(spark, eventsStream(spark, dir), stages,
        horizon = "36500 days"),
      OutputMode.Update, "st6_")
    val last = spark.table(table)
      .groupBy(col("userId"))
      .agg(max(col("stageReached")).as("reached"))
    stages.zipWithIndex.map { case (stage, i) =>
      last.filter(col("reached") >= i + 1)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(s"${i + 1}_$stage").as("stage"), col("n_users"),
          lit(i).as("stage_idx"))
    }.reduce(_ unionByName _)
      // numeric, not lexicographic, stage order (≥ 10 stages)
      .orderBy(col("stage_idx"))
      .select(col("stage"), col("n_users"))
  }
}
