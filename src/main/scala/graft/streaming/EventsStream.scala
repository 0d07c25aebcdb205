package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, TimeMode}
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Structured Streaming twin of graft.operators.Events: the same
  * tumbling-window aggregation driven through readStream → watermark →
  * windowed agg → sink. Batch and stream share one query shape, so the
  * oracle that checks the batch result checks the streaming result too.
  *
  * (The reference is a batch one-shot exporter — SURVEY.md §2b marks
  * streaming as extended surface.)
  */
object EventsStream {

  /** Stateful streaming runs on a cloned session with a bounded
    * state-store partition count: streaming is exempt from AQE
    * coalescing, and the shuffle-partition setting is frozen into the
    * state store at first run — at SPARK_GRAFT_CPUS=32 that is 32
    * near-empty state stores per stateful operator, whose per-batch
    * open/commit overhead dominates small streams (the default of one
    * store per operator, [[buildStreamSession]], keeps that cost
    * proportional to the fixture's state volume). Production sizing
    * picks this from state volume, not core count; results are
    * partitioning-independent.
    */
  private[graft] def streamSession(spark: SparkSession): SparkSession =
    sessionMemo.synchronized {
      val cached = sessionMemo.get(spark)
      if (cached != null) cached
      else { val ss = buildStreamSession(spark); sessionMemo.put(spark, ss); ss }
    }

  /** One stream-session clone per parent session, built once and
    * reused by every streaming twin: the clone's conf is identical on
    * every call (shuffle partitions + state-store provider, below —
    * except the probe's explicit [[setStreamShufflePartitions]]
    * regime override between runs), so
    * sharing it is semantics-free, but it saves rebuilding session
    * state (analyzer, catalog, conf copy) per query — ~20 streaming
    * queries in a bench run each paid that floor. Weak keys so a
    * stopped-and-dropped parent session doesn't pin its clone.
    */
  private val sessionMemo =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def buildStreamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    // 1 state partition by default: every partition of a stateful
    // operator is its own state-store instance, paying a RocksDB
    // changelog sync plus version files on every micro-batch commit,
    // and the fixture's state (at most a few thousand keys) fits one
    // store easily, so more partitions multiply commit cost without
    // adding useful parallelism. The value was measured (4 -> 2 -> 1)
    // when the streaming entries still shared runs, so whether 1 is
    // still the best setting for one query per entry is not measured.
    // A deployment sizes this to its key cardinality through the
    // SPARK_GRAFT_STREAM_PARTITIONS env var; the scale probe sets 4 for
    // its 100x fixtures through [[setStreamShufflePartitions]].
    ss.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "1"))
    // State-store backend: the default HDFS-backed provider keeps every
    // state row on the executor HEAP — at 100 TB stream scale (billions
    // of open sessions / join rows) that is an OOM, not a tuning knob.
    // RocksDB keeps state off-heap with incremental checkpointing, so
    // state capacity scales with local disk instead of heap. Flag-gated
    // (default on, SPARK_GRAFT_ROCKSDB_STATE=0 reverts) because results
    // are provider-independent — only capacity and failure modes change
    // — and EventsSpec proves both the equivalence and that the
    // provider actually took effect.
    if (rocksdbState) {
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: upload only per-batch deltas, not full
      // RocksDB snapshots — the production default for large state
      ss.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    }
    ss
  }

  /** Default ON; env-gated escape hatch for hosts without the RocksDB
    * JNI (the stock Spark distribution bundles it).
    */
  private[graft] def rocksdbState: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_STATE", "1") != "0"

  /** Peak state-store footprint per streaming query, recorded at
    * stop time as the max over the query's progress history of
    * (numRowsTotal, memoryUsedBytes) summed across its stateful
    * operators — see [[captureState]] for why peak, not final.
    * Bench drains this after each timed entry into
    * `queries_state_rows` / `queries_state_bytes` artifact columns,
    * so streaming state size is observable across the suite the same
    * way batch queries surface GC and storage — a growing series here
    * would mean watermark-unbounded state, the #1 streaming
    * scale-killer at 100 TB.
    */
  private val stateMetrics =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Peak RocksDB physical-footprint decomposition per query name:
    * (sstFileBytes, pinnedBlockBytes) from the provider's custom
    * metrics. Exists to adjudicate the r18 probe observation that
    * heavy_hitters' `memoryUsedBytes` grew 13x at 100x data while its
    * logical state stayed flat at 26 rows: `memoryUsedBytes` for the
    * RocksDB provider is the store's PHYSICAL footprint — SST files
    * written by put volume plus block-cache pins — which tracks
    * ingest between compactions, not live keys. Splitting SST bytes
    * out makes that visible in the artifact instead of arguable.
    */
  private val stateDetailMetrics =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Snapshot and clear the recorded (rows, bytes) per query name. */
  private[graft] def drainStateMetrics(): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val snap = stateMetrics.asScala.toMap
    stateMetrics.clear()
    snap
  }

  /** Snapshot and clear the RocksDB (sstBytes, pinnedBytes) peaks. */
  private[graft] def drainStateDetailMetrics(): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val snap = stateDetailMetrics.asScala.toMap
    stateDetailMetrics.clear()
    snap
  }

  /** A stopped query's PEAK state-operator totals across its retained
    * progress history (our harnesses run ≤ ~6 micro-batches, far
    * under the 100-entry retention default), or None for stateless
    * queries (metrics must never fail a stop). Peak, not final: the
    * completion harnesses flush state through a sentinel before
    * stopping, so the final footprint is near-zero by construction —
    * the mid-replay peak is what actually bounds a deployment's state
    * store (open sessions in flight, join rows within the watermark),
    * and a growing PEAK series across rounds is the unbounded-state
    * signal the artifact columns exist to catch.
    */
  private def captureState(
      q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[(String, Long, Long)] =
    try {
      val ps = (q.recentProgress.toSeq ++ Option(q.lastProgress))
        .filter(p => p != null && p.stateOperators != null &&
          p.stateOperators.nonEmpty)
      if (ps.isEmpty) None
      else {
        val rows = ps.map(_.stateOperators.map(_.numRowsTotal).sum).max
        val bytes = ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
        val name = ps.flatMap(p => Option(p.name)).headOption
          .getOrElse(q.id.toString)
        // physical-footprint decomposition (RocksDB provider only;
        // absent metrics read as 0 under the HDFS provider)
        def custom(metric: String): Long = ps.map(_.stateOperators.map {
          op =>
            val cm = op.customMetrics
            if (cm == null) 0L
            else Option(cm.get(metric)).map(_.longValue()).getOrElse(0L)
        }.sum).max
        stateDetailMetrics.merge(name,
          (custom("rocksdbSstFileSize"),
            custom("rocksdbPinnedBlocksMemoryUsage")),
          (a, b) => (math.max(a._1, b._1), math.max(a._2, b._2))): Unit
        Some((name, rows, bytes))
      }
    } catch { case NonFatal(_) => None }

  /** Per-name MAX within one drain window — the exactly-once twin
    * stops the same name twice, and the PEAK footprint is the right
    * statistic for the column's purpose (detecting unbounded state:
    * a cleanup that shrinks state between restarts still shows a flat
    * peak series round-over-round, while genuinely growing state
    * grows the peak).
    */
  private def recordState(m: Option[(String, Long, Long)]): Unit =
    m.foreach { case (key, rows, bytes) =>
      stateMetrics.merge(key, (rows, bytes),
        (a, b) => (math.max(a._1, b._1), math.max(a._2, b._2))): Unit
    }

  /** Error-path teardown after `cause` failed a run: each stop() in
    * its own guard, so a failing first stop cannot leak a sibling
    * query on the shared stream session. A stop failure is attached to
    * `cause` as suppressed (the caller rethrows `cause`); an interrupt
    * during a stop re-sets the thread's interrupt flag; fatal errors
    * propagate.
    */
  private[streaming] def stopQuietly(cause: Throwable,
      qs: org.apache.spark.sql.streaming.StreamingQuery*): Unit =
    qs.foreach { q =>
      try q.stop()
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          cause.addSuppressed(e)
        case NonFatal(e) => cause.addSuppressed(e)
      }
    }

  /** Lands a replay chunk as ONE parquet file in the replay dir: a
    * staged write plus a rename, so the file stream never sees a
    * partial file. Used by every sentinel-replay completion harness
    * below.
    */
  private def writeChunk(replayDir: java.io.File, df: DataFrame,
      name: String): java.io.File = {
    val target = new java.io.File(replayDir, s"$name.parquet")
    val stage = new java.io.File(replayDir, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, target.toPath)
    stage.listFiles().foreach(_.delete())
    stage.delete()
    target
  }

  /** Streaming source over `<table>.parquet` under `dir`, with the
    * same ts normalization as [[graft.Tables.load]].
    */
  def source(spark: SparkSession, dir: String,
      table: String = "events"): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/$table.parquet")
    // file-stream sources take a directory; select just this table
    graft.Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir))
  }

  /** Drain `q`, record its state peak into the current drain window
    * and stop it. A failed drain stops the query and rethrows the
    * query's own failure, any stop failure attached as suppressed.
    */
  private[streaming] def drain(q: StreamingQuery): Unit = {
    try q.processAllAvailable()
    catch {
      case e @ (NonFatal(_) | _: InterruptedException) =>
        stopQuietly(e, q)
        throw e
    }
    recordState(captureState(q))
    q.stop()
  }

  /** Start `w` on a fresh [[graft.Scratch]] checkpoint directory,
    * [[drain]] it and return the stopped query; the directory is
    * deleted after, also when the drain fails (Spark's own temporary
    * checkpoint would be kept then).
    */
  private[graft] def drained(w: DataStreamWriter[Row]): StreamingQuery =
    graft.Scratch.withDir("graft-stream-ckpt") { ckpt =>
      val q = w.option("checkpointLocation", ckpt.toString).start()
      drain(q)
      q
    }

  /** Run `df` as one query into the memory sink `qname` and return the
    * sink table. Sink names are fixed per entry, so a re-run replaces
    * the temp view on the stream session instead of adding one.
    */
  private def toMemory(df: DataFrame, mode: String,
      qname: String): DataFrame = {
    drained(df.writeStream.outputMode(mode).format("memory")
      .queryName(qname))
    df.sparkSession.table(qname)
  }

  /** The sentinel-replay harness behind every watermark-flushed twin.
    * A finite fixture never pushes the watermark past its own tail,
    * so watermark-gated output (closed windows and sessions, outer-join
    * null rows, timer flushes) would never emit. The harness lands
    * `chunks` in order — slices of the fixture, then a far-future
    * sentinel row on an out-of-band key — as one parquet file each in a
    * fresh replay dir, with strictly increasing mtimes. It then streams
    * the dir through `query` with `maxFilesPerTrigger = 1`: the file
    * source takes unseen files oldest first, so each chunk is one
    * micro-batch in landing order, and the no-data batch after the
    * sentinel flushes everything its watermark passed. One query,
    * drained, recorded and stopped; the replay dir is deleted after.
    * Returns the sink table; the caller filters the sentinel out.
    */
  private def sentinelReplay(spark: SparkSession, schema: StructType,
      chunks: Seq[(String, DataFrame)], mode: String,
      qname: String)(query: DataFrame => DataFrame): DataFrame =
    graft.Scratch.withDir("graft-replay") { replayDir =>
      chunks.foldLeft(0L) { case (prev, (name, df)) =>
        val f = writeChunk(replayDir, df, name)
        if (prev > 0L) f.setLastModified(prev + 60000L): Unit
        f.lastModified()
      }
      toMemory(query(spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(replayDir.toString)), mode, qname)
    }

  private val HourUs = 3600L * 1000000L
  private val GapMinutes = 30
  private val GapUs = GapMinutes * 60L * 1000000L

  private def instant(us: Long): java.sql.Timestamp =
    new java.sql.Timestamp(us / 1000L)

  /** (min ts µs, max ts µs, min user_id) of an events frame, or None
    * when the fixture has no events: the replay harnesses then return
    * an empty result of their output schema (the batch operators are
    * total on empty input, EdgeCasesSpec; the streaming twins must be
    * too). The min user id anchors the out-of-band sentinel keys.
    */
  private def extent(ev: DataFrame): Option[(Long, Long, Long)] = {
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      min(col("user_id"))).head()
    if (r.isNullAt(0)) None
    else Some((r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  private def emptyFrame(spark: SparkSession,
      fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private def emptySessions(spark: SparkSession, ev: DataFrame): DataFrame =
    emptyFrame(spark, "user_id" -> ev.schema("user_id").dataType,
      "session_start" -> TimestampType, "session_end" -> TimestampType,
      "n_events" -> LongType)

  /** Per-window (n, sum_value) over the watermarked event stream, keyed
    * by the window start plus `keys`: the tumbling, append and sliding
    * twins differ only in the window and the keys.
    */
  private def windowAgg(src: DataFrame, w: Column, keys: Column*)
      : DataFrame =
    src.withWatermark("ts", "1 hour")
      .groupBy(w.as("w") +: keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("double").as("sum_value"))
      .select(Seq(col("w.start").as("window_start")) ++ keys ++
        Seq(col("n"), col("sum_value")): _*)

  /** Run the tumbling aggregation as a streaming query to completion
    * (memory sink, complete mode) and return the final result — used
    * by the correctness gate so streaming goes through the same DuckDB
    * oracle as the batch twin.
    */
  def tumblingToCompletion(spark0: SparkSession, dir: String): DataFrame =
    toMemory(windowAgg(source(streamSession(spark0), dir),
      window(col("ts"), "1 hour"), col("event_type")),
      "complete", "graft_events_stream")

  /** Offline state introspection — Spark's State Data Source
    * (`spark.read.format("statestore")`, SPARK-45511): run the
    * tumbling count to a REAL checkpoint, stop the query, then read
    * the aggregation state back from the checkpoint files with no
    * streaming query running. In complete mode a full drain leaves
    * state == the final aggregate, so the read-back is oracle-checkable
    * against the batch GROUP BY — proving the operational surface a
    * 100 TB deployment leans on for debugging stuck state, auditing
    * skewed keys, and seeding migrations, and proving it against the
    * RocksDB provider's checkpoint layout (the session default here).
    * Key/value struct field names come from the checkpoint schema, not
    * hard-coded (Spark names computed grouping keys internally).
    */
  def stateInspect(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    graft.Scratch.landed("graft-state-ckpt") { ckptDir =>
      drain(source(spark, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_events_state_inspect")
        .option("checkpointLocation", ckptDir.toString).start())
      val st = spark.read.format("statestore")
        .option("path", ckptDir.toString).load()
      val keyFields = st.schema("key").dataType
        .asInstanceOf[StructType].fieldNames
      val valFields = st.schema("value").dataType
        .asInstanceOf[StructType].fieldNames
      st.select(
          col(s"key.${keyFields(0)}.start").as("window_start"),
          col(s"key.${keyFields(1)}").as("event_type"),
          col(s"value.${valFields(0)}").as("n"))
    }
  }

  /** APPEND-mode tumbling aggregation — the production output mode for
    * file/queue sinks: a window row is emitted exactly once, when the
    * watermark passes its end and the window CLOSES (complete mode, by
    * contrast, re-emits the whole table each batch — viable only for
    * sinks that overwrite). The semantic consequence: emission is
    * watermark-driven, so a finite fixture needs the watermark pushed
    * past the last real window's end or the tail windows never flush —
    * the [[sentinelReplay]] harness (far-future sentinel row, filtered
    * from the result by its event_type, whose own window never closes
    * and is never emitted). Result equals the batch tumbling
    * aggregation, same oracle.
    */
  def tumblingAppendToCompletion(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    extent(ev) match {
      case None => emptyFrame(spark, "window_start" -> TimestampType,
        "event_type" -> StringType, "n" -> LongType,
        "sum_value" -> DoubleType)
      case Some((_, hiUs, _)) =>
        val sentinelType = "zzz_watermark_sentinel"
        val sentinel = Seq((-1L, instant(hiUs + 3L * HourUs), -1L,
            sentinelType, 0.0))
          .toDF("user_id", "ts", "event_id", "event_type", "value")
        sentinelReplay(spark, ev.schema,
            Seq("chunk1" -> ev, "sentinel" -> sentinel), "append",
            "graft_events_stream_append")(
            windowAgg(_, window(col("ts"), "1 hour"), col("event_type")))
          .filter(col("event_type") =!= sentinelType)
    }
  }

  /** Sliding-window streaming aggregation — the streaming twin of
    * [[graft.operators.Events.sliding]]: each event lands in
    * width/slide overlapping windows; Spark expands them inside the
    * stateful agg, one state row per open window. Complete-mode
    * memory sink so the final table equals the batch result and goes
    * through the same DuckDB oracle.
    */
  def slidingToCompletion(spark0: SparkSession, dir: String): DataFrame =
    toMemory(windowAgg(source(streamSession(spark0), dir),
      window(col("ts"), "1 hour", "15 minutes")),
      "complete", "graft_events_stream_sliding")

  /** Streaming NATIVE session windows — `session_window` inside a
    * watermarked streaming aggregation: Spark merges overlapping
    * per-key session state across micro-batches in the agg itself (no
    * GroupState code), emits a session once the watermark passes its
    * close. The built-in counterpart of [[sessionizeToCompletion]]'s
    * hand-rolled GroupState sessionizer; same sentinel-replay harness
    * to flush open sessions at end of a finite fixture (the sentinel
    * user's own session never closes and is filtered out).
    * Oracle: the batch `session_window` twin (>= gap boundary).
    */
  def sessionWindowToCompletion(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    extent(ev) match {
      case None => emptySessions(spark, ev)
      case Some((_, hiUs, loUid)) =>
        val sentinel = Seq((loUid - 1L, instant(hiUs + 3L * HourUs), -1L))
          .toDF("user_id", "ts", "event_id")
        sentinelReplay(spark, ev.schema,
            Seq("chunk1" -> ev, "sentinel" -> sentinel), "append",
            "graft_events_stream_session_window")(
            _.withWatermark("ts", "1 hour")
              .groupBy(col("user_id"),
                session_window(col("ts"), s"$GapMinutes minutes").as("w"))
              .agg(count(lit(1)).as("n_events"),
                max(col("ts")).as("session_end"))
              .select(col("user_id"), col("w.start").as("session_start"),
                col("session_end"), col("n_events")))
          .filter(col("user_id") >= loUid)
    }
  }

  /** Stream-static enrichment join — the continuous-ingest shape of
    * dimension lookup: the event stream joins two static dimension
    * frames (customer, nation) that Spark broadcasts per micro-batch.
    * Stateless (no watermark, no state store), append mode; at scale
    * the static side is re-resolvable between batches, so a slowly
    * changing dimension picks up updates on the next batch without
    * restarting the query.
    */
  def enrichToCompletion(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val cust = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nat = graft.Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    toMemory(source(spark, dir)
      .join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"),
        col("c_name").as("cust_name"), col("n_name").as("nation_name")),
      "append", "graft_events_stream_enrich")
  }

  /** Stream-static LEFT OUTER enrichment — the dimension-lookup shape
    * when the dimension is INCOMPLETE (late-arriving dims, partial
    * snapshots): events without a matching dimension row must pass
    * through with nulls, not silently drop as the inner join does.
    * Still stateless (no watermark, no state store): the outer side
    * is the stream, the static side broadcasts per micro-batch.
    */
  def enrichOuterToCompletion(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val custGaps = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 10 =!= 0) // staged dimension gaps
      .select(col("c_custkey"), col("c_name"))
    toMemory(source(spark, dir)
      .join(custGaps, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        col("c_name").as("cust_name")),
      "append", "graft_events_stream_enrich_outer")
  }

  /** Streaming dedup within the watermark horizon (the streaming twin
    * of Dedup.exact). `dropDuplicatesWithinWatermark` keeps bounded
    * state — plain `dropDuplicates("event_id")` would never evict it
    * (the watermark only cleans dedup state when the event-time column
    * is part of the key) — at the usual streaming trade-off: a
    * duplicate arriving after the watermark passes its first
    * occurrence counts again. Output counts unique events per type,
    * deterministic regardless of which duplicate survives.
    */
  def dedupToCompletion(spark0: SparkSession, dir: String): DataFrame =
    toMemory(source(streamSession(spark0), dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique")),
      "complete", "graft_events_dedup")

  /** Stream-stream interval join — click→purchase attribution: each
    * purchase joins every click by the same user in the preceding
    * hour. Both sides are event-time streams; the watermarks plus the
    * two-sided time-range condition bound the join state (Spark keeps
    * each click row only until `watermark - 1 hour` passes its
    * timestamp, then evicts — unbounded streams, bounded state, the
    * reason stream-stream joins require the range constraint at all).
    * Output is append-mode: a pair is emitted once, when both sides
    * have arrived.
    */
  def attributionToCompletion(spark0: SparkSession,
      dir: String): DataFrame =
    attribution(spark0, dir, "inner", "graft_events_stream_attribution")

  /** Stream-stream LEFT OUTER interval join — attribution including
    * the clicks that never converted: a matched (click, purchase) pair
    * is emitted as soon as both sides arrive (same as the inner join),
    * and an UNMATCHED click is emitted with a null purchase side only
    * once the watermark proves no matching purchase can still arrive —
    * i.e. when the global watermark passes `click_ts + 1 hour` (the
    * upper bound of the interval condition) and the click's state is
    * evicted. That is the semantic difference from the inner join:
    * outer results are watermark-DRIVEN, so a finite fixture needs the
    * watermark pushed past the last click's eviction point or the tail
    * clicks' null rows never flush. The completion harness models
    * "time keeps passing" with one far-future sentinel row per stream
    * (distinct out-of-band user ids so the sentinels cannot join each
    * other), exactly like the sessionize replay harness.
    *
    * Oracle: the batch LEFT JOIN with the same interval predicate.
    */
  def attributionOuterToCompletion(spark0: SparkSession,
      dir: String): DataFrame =
    attribution(spark0, dir, "leftOuter",
      "graft_events_stream_attribution_outer")

  /** Stream-stream FULL OUTER interval join — the last cell of the
    * streaming join matrix: matched pairs emit eagerly; an unmatched
    * CLICK emits (click, null) once the watermark passes its interval
    * upper bound (as in the left-outer twin); an unmatched PURCHASE
    * emits (null, purchase) once the click-side watermark proves no
    * click in `[purchase_ts − 1 h, purchase_ts]` can still arrive.
    * Both null-side flushes are watermark-driven, so the one sentinel
    * pair (two out-of-band users, so the sentinels cannot join each
    * other) clears both states. Oracle: the batch FULL JOIN with the
    * same interval predicate.
    */
  def attributionFullOuterToCompletion(spark0: SparkSession,
      dir: String): DataFrame =
    attribution(spark0, dir, "fullOuter",
      "graft_events_stream_attribution_full")

  /** The click→purchase interval join of an event stream, as `joinType`
    * (inner / leftOuter / fullOuter), each side under its own 1-hour
    * watermark.
    */
  private[graft] def attributionJoin(src: DataFrame,
      joinType: String): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      // coalesce is an identity under inner/leftOuter (c_user never
      // null) and picks the surviving side under fullOuter's
      // purchase-only rows
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        col("value"))
  }

  private def attribution(spark0: SparkSession, dir: String,
      joinType: String, qname: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    extent(ev) match {
      case None => emptyFrame(spark,
        "user_id" -> ev.schema("user_id").dataType,
        "click_id" -> ev.schema("event_id").dataType,
        "purchase_id" -> ev.schema("event_id").dataType,
        "lag_us" -> LongType, "value" -> ev.schema("value").dataType)
      case Some((_, hiUs, loUid)) =>
        // two distinct out-of-band sentinel users, so the sentinel click
        // cannot find the sentinel purchase; far enough that the
        // watermark (sentinel ts - 1 h delay) clears every click's
        // eviction point (click_ts + 1 h interval), with margin
        val at = instant(hiUs + 3L * HourUs)
        val sentinel = Seq((loUid - 1L, at, -1L, "click", 0.0),
            (loUid - 2L, at, -2L, "purchase", 0.0))
          .toDF("user_id", "ts", "event_id", "event_type", "value")
        sentinelReplay(spark, ev.schema,
            Seq("chunk1" -> ev, "sentinel" -> sentinel), "append", qname)(
            attributionJoin(_, joinType))
          .filter(col("user_id") >= loUid)
    }
  }

  /** Streaming xmlpipe2 formatting — the reference-parity projection
    * (doc ids, typed rendering, markup, framing fields) applied to a
    * LIVE stream: stateless append, so rows flow through the same
    * codegen'd expressions as the batch exporter and land in the sink
    * as formatted `(id, doc)` pairs. One query, one data micro-batch,
    * through [[StatelessPipe]]. Batch twin's oracle applies (ordering
    * imposed on the completed table; a stream itself cannot sort).
    * The file-sink edge of the same shape is
    * [[graft.operators.XmlPipe.writeStreamingDocsets]].
    */
  def xmlToCompletion(spark0: SparkSession, dir: String): DataFrame =
    StatelessPipe.toCompletion(spark0, dir, "events",
      "graft_events_stream_xml", ev => graft.operators.XmlPipe.formatDocs(
        ev.select("event_id", "props", "ts"), Seq("event_id")))

  /** The stateless quality-filter twin: `TextStats.qualityFilter`
    * over the documents stream, one query through [[StatelessPipe]].
    * Same rows as the batch filter over `Tables.load(…, "documents")`.
    */
  def qualityFilteredToCompletion(spark0: SparkSession,
      dir: String): DataFrame =
    StatelessPipe.toCompletion(spark0, dir, "documents",
      "graft_stateless_quality", graft.operators.TextStats.qualityFilter(_))

  /** Streaming incremental view maintenance — the q_ivm_agg delta
    * applied as a STREAM: the signed insert/delete batch is chunked
    * into three replay files (`maxFilesPerTrigger = 1` forces one
    * micro-batch each), and foreachBatch folds every micro-batch into
    * driver-held (count, sum) state via
    * [[graft.operators.Merge.incrementalAgg]], checkpointing the new
    * state per batch so lineage stays one-batch deep. Because the
    * merge is an abelian-group fold, the final state is independent
    * of HOW the delta was micro-batched and equals the one-shot batch
    * apply — the driver gate runs this against the same full-recompute
    * oracle as q_ivm_agg. This is the production pattern for keeping a
    * 100 TB aggregate current under CDC: per-trigger work ∝ that
    * trigger's delta, the base is never rescanned.
    */
  def ivmToCompletion(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val o = graft.Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"))
    val state0 = graft.operators.Merge.aggState(
      o.select(col("o_custkey"), col("cents")), "o_custkey", "cents")
    val delta = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("cents"),
        lit("D").as("op"))
      .unionByName(o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("cents") + 1).as("cents"), lit("I").as("op")))
    graft.Scratch.landed("graft-ivm-replay") { replayDir =>
      (0 until 3).foreach { i =>
        writeChunk(replayDir, delta.filter(col("o_orderkey") % 3 === i),
          s"chunk$i")
      }
      var state = graft.Scratch.pin("ivm state", state0)
      val schema = graft.Tables.schemaOf(spark,
        new java.io.File(replayDir, "chunk0.parquet").toString)
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
      drained(src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          state = graft.Scratch.pin(s"ivm state after batch $batchId",
            graft.operators.Merge.incrementalAgg(state,
              batch.select(col("o_custkey"), col("cents"), col("op")),
              "o_custkey", "cents"))
        })
      state
    }
  }

  /** foreachBatch sink — the programmable-sink API: each micro-batch
    * lands as an atomic parquet append via the BATCH writer (the
    * production route to any sink Structured Streaming lacks, and to
    * exactly-once via batchId-keyed idempotent writes; this fixture
    * run is a single data batch, so plain append is already exact).
    * Returns the re-read output so the driver oracle hash-checks the
    * full sink→source loop.
    */
  def foreachBatchToParquet(spark0: SparkSession, dir: String,
      outDir: String): DataFrame = {
    val spark = streamSession(spark0)
    drained(source(spark, dir).writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.write.mode("append").parquet(outDir)
      })
    graft.Tables.parquet(spark, outDir)
  }

  /** Streaming content dedup keyed on the engine's own sdbm content
    * fingerprint — the streaming twin of the batch
    * TextStats.fingerprint ∘ Dedup.exact composition: normalize the
    * content (lowercase, collapse whitespace), fingerprint it with the
    * F6 hash, and drop duplicates within the watermark horizon on the
    * FINGERPRINT (bounded state: 8 bytes per distinct content instead
    * of the content itself — the point of hashing the dedup key at
    * 100 TB). Emits the surviving (fingerprint, norm) content set;
    * output is survivor-independent because every duplicate row
    * carries identical values for both columns.
    *
    * ORACLE SCOPE: the DuckDB twin asserts a global DISTINCT, but
    * `dropDuplicatesWithinWatermark` only dedups within the 1-hour
    * watermark horizon — the equivalence holds because the
    * single-file source processes everything in one data micro-batch
    * (a multi-file fixture or `maxFilesPerTrigger` would re-emit
    * late duplicate fingerprints). The harness asserts that the run
    * really did execute as one data batch, so a fixture change fails
    * loud instead of silently hash-mismatching.
    */
  def fingerprintDedupToCompletion(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = streamSession(spark0)
    val norm = trim(regexp_replace(lower(coalesce(col("props"), lit(""))),
      "\\s+", " "))
    val qname = "graft_events_fp_dedup"
    val q = drained(source(spark, dir)
      .withColumn("norm", norm)
      .withColumn("fingerprint",
        graft.functions.sdbm_hash(lit(0L), col("norm")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fingerprint")
      .select(col("fingerprint"), col("norm"))
      .writeStream.outputMode("append").format("memory").queryName(qname))
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches == 1,
      s"fingerprint-dedup oracle assumes ONE data micro-batch " +
        s"(watermark-horizon dedup == global DISTINCT only then); " +
        s"this run had $dataBatches")
    spark.table(qname)
  }

  /** Replay-harness split instant: strictly inside the longest batch
    * session, so the two micro-batches provably bisect an open session
    * and the cross-batch GroupState merge is exercised (a bare time
    * median can fall between sessions on sparse fixtures). Falls back
    * to the median when every session is instantaneous. Harness-only:
    * the streaming operator itself never sees this.
    */
  private[graft] def splitInstant(ev: DataFrame, loUs: Long,
      hiUs: Long): Long = {
    val widest = graft.operators.Events.sessionize(ev, GapMinutes)
      .select(unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"))
      .filter(col("e") > col("s") + 1)
      .orderBy((col("e") - col("s")).desc, col("s"))
      .limit(1).collect()
    if (widest.nonEmpty)
      widest(0).getLong(0) + (widest(0).getLong(1) - widest(0).getLong(0)) / 2
    else loUs + (hiUs - loUs) / 2
  }

  /** The typed, watermarked `(user_id, ts, us, event_id)` stream every
    * sessionizer consumes. The watermarked ts attribute must stay in
    * the stateful operator's input (the event-time-timeout checker
    * requires it); us is the exact-microsecond twin used for the gap
    * arithmetic.
    */
  private def sessionInput(src: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Long)] = {
    import src.sparkSession.implicits._
    src.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
  }

  /** A sessionizer sink's `(user_id, start_us, end_us, n_events)` rows
    * as sessions, the out-of-band sentinel users (below `loUid`)
    * dropped.
    */
  private def sessionRows(sink: DataFrame, loUid: Long): DataFrame =
    sink.filter(col("user_id") >= loUid)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"), col("n_events"))

  /** Sentinel replay for the two sessionizers without initial state:
    * the flatMapGroupsWithState and the transformWithState sessionizer
    * consume the identical typed stream and emit the same
    * `(user_id, start_us, end_us, n_events)` rows — only the stateful
    * operator differs. Two chunks split at [[splitInstant]] (sessions
    * spanning the split must be merged from state), then a far-future
    * sentinel whose watermark passes every open session's timeout
    * (hi + gap + delay + margin).
    */
  private def sessionReplay(spark0: SparkSession, dir: String,
      qname: String)(
      stateful: Dataset[(Long, java.sql.Timestamp, Long, Long)] =>
        Dataset[(Long, Long, Long, Long)]): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    // persisted while the chunks land: extent + split-instant sessionize
    // + two chunk writes would otherwise re-scan the source
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      extent(ev) match {
        case None => emptySessions(spark, ev)
        case Some((loUs, hiUs, loUid)) =>
          val midUs = splitInstant(ev, loUs, hiUs)
          val sentinel = Seq((loUid - 1L,
              instant(hiUs + GapUs + 2L * HourUs), -1L))
            .toDF("user_id", "ts", "event_id")
          sessionRows(sentinelReplay(spark, ev.schema, Seq(
              "chunk1" -> ev.filter(unix_micros(col("ts")) < midUs),
              "chunk2" -> ev.filter(unix_micros(col("ts")) >= midUs),
              "sentinel" -> sentinel), "append", qname)(src =>
              stateful(sessionInput(src))
                .toDF("user_id", "start_us", "end_us", "n_events")),
            loUid)
      }
    } finally ev.unpersist()
  }

  /** Streaming sessionization via flatMapGroupsWithState with the
    * open session carried ACROSS micro-batches in GroupState and
    * closed by event-time timeout — the production shape for an
    * unbounded stream:
    *
    *   - per user, GroupState holds the open session (start, last, n);
    *   - a batch's events extend it or close it on the inactivity gap
    *     (closed sessions are emitted immediately, Append mode);
    *   - a session with no further events is emitted when the
    *     event-time watermark passes its last event + gap
    *     (setTimeoutTimestamp; Spark runs a no-data batch after every
    *     watermark advance so timeouts fire without new input).
    *
    * The fixture replay proves the cross-batch path: events are split
    * at [[splitInstant]] into two files fed as separate micro-batches
    * (sessions spanning the split must be merged from state), then a
    * far-future sentinel row advances the watermark so every open
    * session times out and flushes — modeling "time keeps passing"
    * after a finite fixture. Results are value-identical to batch
    * Events.sessionize and share its oracle.
    */
  def sessionizeToCompletion(spark0: SparkSession, dir: String): DataFrame =
    sessionReplay(spark0, dir, "graft_events_sessions")(fmgwsSessionizer)

  /** The flatMapGroupsWithState sessionizer over the typed stream. */
  private def fmgwsSessionizer(
      src: Dataset[(Long, java.sql.Timestamp, Long, Long)])
      : Dataset[(Long, Long, Long, Long)] = {
    import src.sparkSession.implicits._
    src.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp, Long, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: session over
            val (start, last, n) = state.get
            state.remove()
            Iterator.single((uid, start, last, n))
          } else {
            val evs = it.map(e => (e._3, e._4)).toVector.sorted
            if (evs.isEmpty) Iterator.empty
            else {
              val out = Vector.newBuilder[(Long, Long, Long, Long)]
              var (start, last, n) =
                state.getOption.getOrElse((evs.head._1, evs.head._1, 0L))
              for (e <- evs) {
                if (e._1 - last > GapUs) {
                  out += ((uid, start, last, n))
                  start = e._1
                  n = 0L
                }
                last = e._1
                n += 1
              }
              state.update((start, last, n))
              // fires once the watermark (event time) passes the gap;
              // always > current watermark because `last` comes from a
              // row this batch accepted. Ceiling µs→ms: flooring could
              // fire up to 999µs early and split a session whose
              // boundary event (ts-last == gap exactly) is still in
              // flight on an out-of-order stream.
              state.setTimeoutTimestamp(
                (last + 999L) / 1000L + GapMinutes * 60L * 1000L)
              out.result().iterator
            }
          }
      }
  }

  /** The transformWithState sessionizer over the typed stream. */
  private def twsSessionizer(
      src: Dataset[(Long, java.sql.Timestamp, Long, Long)])
      : Dataset[(Long, Long, Long, Long)] = {
    import src.sparkSession.implicits._
    src.groupByKey(_._1)
      .transformWithState(new SessionProcessor(GapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The transformWithState sessionizer — Spark 4's arbitrary-state
    * API (the successor of flatMapGroupsWithState, SPARK-49564):
    * typed ValueState holds the open session, an explicit event-time
    * TIMER (registerTimer/handleExpiredTimer, replacing the single
    * implicit GroupStateTimeout) closes it once the watermark passes
    * last+gap. Same stream in, same rows out as
    * [[sessionizeToCompletion]] — both share the batch sessionizer's
    * oracle — but state and timers are first-class handles the
    * processor composes (a processor can hold several named states;
    * the old API allowed exactly one state value and one timeout).
    * Runs on the RocksDB provider like every stateful twin here.
    */
  def sessionizeTwsToCompletion(spark0: SparkSession,
      dir: String): DataFrame =
    sessionReplay(spark0, dir, "graft_events_sessions_tws")(twsSessionizer)

  /** Per-user event-type profile through the remaining
    * transformWithState primitives: a MapState (type → count) and a
    * ListState (types in first-seen order) per user, flushed EXACTLY
    * ONCE by a timer at a fixed event-time horizon the harness knows
    * (the sentinel pushes the watermark past it). ValueState + timers
    * are covered by the sessionizers; this proves the keyed
    * collection states — at 100 TB these are the difference between
    * "state = one row per key" and "state = an updatable map per key
    * without rewriting the whole value" (RocksDB point-puts vs
    * read-modify-write of a blob). Output is deterministic: the map
    * yields counts (order-free sums), the list is emitted SORTED, so
    * the batch GROUP BY with count(DISTINCT)/string_agg is the oracle.
    */
  def typeProfileToCompletion(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      extent(ev) match {
        case None => emptyFrame(spark,
          "user_id" -> ev.schema("user_id").dataType,
          "n_types" -> LongType, "n_events" -> LongType,
          "types_csv" -> StringType)
        case Some((loUs, hiUs, loUid)) =>
          // fixed flush horizon: above every real event, below the
          // sentinel-driven watermark (sentinel ts - 1 h delay), so
          // every profile emits exactly once when the sentinel lands
          val flushAtMs = (hiUs + HourUs) / 1000L
          // two chunks: the map/list must MERGE across micro-batches
          val midUs = (loUs + hiUs) / 2
          val sentinel = Seq((loUid - 1L, instant(hiUs + 3L * HourUs),
            "sentinel")).toDF("user_id", "ts", "event_type")
          sentinelReplay(spark, ev.schema, Seq(
              "c1" -> ev.filter(unix_micros(col("ts")) < midUs),
              "c2" -> ev.filter(unix_micros(col("ts")) >= midUs),
              "sentinel" -> sentinel), "append",
              "graft_events_type_profile")(
              _.withWatermark("ts", "1 hour")
                .as[(Long, java.sql.Timestamp, String)]
                .groupByKey(_._1)
                .transformWithState(new TypeProfileProcessor(flushAtMs),
                  TimeMode.EventTime(), OutputMode.Append())
                .toDF("user_id", "n_types", "n_events", "types_csv"))
            .filter(col("user_id") >= loUid)
      }
    } finally ev.unpersist()
  }

  /** Processor for [[typeProfileToCompletion]]: MapState counts per
    * event type (point-increments — no blob rewrite), ListState keeps
    * first-seen types, one timer at the fixed horizon flushes the
    * profile exactly once. The timer is registered when the key first
    * appears (ListState empty ⇒ no timer yet — never re-registered,
    * so no deleteTimer bookkeeping).
    */
  private[streaming] class TypeProfileProcessor(flushAtMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, String), (Long, Long, Long, String)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, TimeMode, TimerValues, TTLConfig}

    @transient private var counts: MapState[String, Long] = _
    @transient private var seen: ListState[String] = _
    @transient private var flushed: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      seen = getHandle.getListState[String]("seen",
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)
      flushed = getHandle.getValueState[Boolean]("flushed",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, String)] = {
      // exactly-once contract: a profile flushed at the horizon stays
      // flushed — a straggler past flushAtMs must not re-register the
      // (already past) timer and emit a second, partial profile row
      if (flushed.exists()) return Iterator.empty
      if (!seen.exists()) getHandle.registerTimer(flushAtMs)
      rows.foreach { r =>
        val t = r._3
        if (counts.containsKey(t)) counts.updateValue(t, counts.getValue(t) + 1L)
        else { counts.updateValue(t, 1L); seen.appendValue(t) }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, String)] = {
      val types = seen.get().toVector
      val total = types.iterator.map(counts.getValue).sum
      counts.clear()
      seen.clear()
      flushed.update(true)
      Iterator.single((uid, types.size.toLong, total, types.sorted.mkString(",")))
    }
  }

  /** Streaming Misra–Gries heavy hitters (Misra & Gries 1982) —
    * the bounded-state frequent-items sketch LIVE IN STREAMING STATE:
    * each shard (user_id mod `shards`) keeps at most `capacity`
    * (type → counter) entries in a MapState; a new type beyond
    * capacity triggers the MG decrement (every counter −1, zeros
    * evicted), and a fixed-horizon timer flushes each shard's
    * surviving counters exactly once. At 100 TB event-type
    * cardinality this is THE reason the operator exists: state is
    * O(shards·capacity) regardless of how many distinct types flow
    * by, with the classic guarantee err ≤ N/(capacity+1) per shard.
    * On the fixture, capacity (8) exceeds the distinct-type count
    * (5), so the decrement never fires, every counter is EXACT, and
    * shard-merging by plain sum equals the batch GROUP BY — which is
    * the driver oracle. The decrement path is exercised by the
    * events_stream_heavy_hitters_bounds driver gate (capacity 2,
    * max per-type deficit checked against the telescoped
    * N/(capacity+1) bound) and asserted against batch truth by the
    * capacity-2 runs in EventsSpec and EventsStreamTwinsSpec; the
    * batch Misra–Gries TypedImperativeAggregate (profile_heavy_sketch)
    * gate-checks the approximate regime independently.
    *
    * Replay: two chunks (the counters must merge across
    * micro-batches), then a sentinel on its own shard key (-1, dropped
    * by the tail) whose watermark passes the flush horizon. Output:
    * (event_type, n_events) summed over shards, ordered.
    */
  def heavyHittersToCompletion(spark0: SparkSession, dir: String,
      capacity: Int = 8, shards: Int = 4): DataFrame = {
    require(capacity > 0 && shards > 0)
    val spark = streamSession(spark0)
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      extent(ev) match {
        case None => emptyFrame(spark,
          "event_type" -> StringType, "n_events" -> LongType)
        case Some((loUs, hiUs, _)) =>
          val flushAtMs = (hiUs + HourUs) / 1000L
          val midUs = (loUs + hiUs) / 2
          val sharded = ev.select(
            pmod(col("user_id"), lit(shards.toLong)).as("shard"),
            col("ts"), col("event_type"))
          val sentinel = Seq((-1L, instant(hiUs + 3L * HourUs),
            "sentinel")).toDF("shard", "ts", "event_type")
          sentinelReplay(spark, sharded.schema, Seq(
              "c1" -> sharded.filter(unix_micros(col("ts")) < midUs),
              "c2" -> sharded.filter(unix_micros(col("ts")) >= midUs),
              "sentinel" -> sentinel), "append",
              s"graft_events_heavy_hitters_c$capacity")(
              _.withWatermark("ts", "1 hour")
                .as[(Long, java.sql.Timestamp, String)]
                .groupByKey(_._1)
                .transformWithState(
                  new HeavyHitterProcessor(flushAtMs, capacity),
                  TimeMode.EventTime(), OutputMode.Append())
                .toDF("shard", "event_type", "cnt"))
            .filter(col("shard") >= 0)
            .groupBy(col("event_type")).agg(sum(col("cnt")).as("n_events"))
            .orderBy(col("event_type"))
      }
    } finally ev.unpersist()
  }

  /** Probe-side state-partition override. The session default of 1
    * suits fixture-sized state; a query ingesting the scale probe's
    * 100x fixture wants the parallelism back (measured: heavy_hitters
    * 100x 44.0 s at 4 partitions vs 71.7 s at 2). Streaming queries
    * read the conf at start, so setting it between probe runs is
    * exact — the per-regime sizing a deployment does with the same
    * knob.
    */
  private[graft] def setStreamShufflePartitions(spark0: SparkSession,
      n: Int): Unit =
    streamSession(spark0).conf.set("spark.sql.shuffle.partitions",
      n.toString)

  /** Processor for [[heavyHittersToCompletion]]: a `capacity`-bounded
    * MapState of (type → counter) per shard with the Misra–Gries
    * admit/decrement rule, an entry-count ValueState (MapState has no
    * O(1) size), and one fixed-horizon timer flushing the surviving
    * counters exactly once.
    */
  private[streaming] class HeavyHitterProcessor(flushAtMs: Long,
      capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, String), (Long, String, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, TimeMode, TimerValues, TTLConfig}

    @transient private var counts: MapState[String, Long] = _
    @transient private var nKeys: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var flushed: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      nKeys = getHandle.getValueState[Long]("nKeys",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      flushed = getHandle.getValueState[Boolean]("flushed",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(shard: Long,
        rows: Iterator[(Long, java.sql.Timestamp, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      if (flushed.exists()) return Iterator.empty
      if (!nKeys.exists()) {
        getHandle.registerTimer(flushAtMs)
        nKeys.update(0L)
      }
      rows.foreach { r =>
        val t = r._3
        if (counts.containsKey(t)) {
          counts.updateValue(t, counts.getValue(t) + 1L)
        } else if (nKeys.get() < capacity) {
          counts.updateValue(t, 1L)
          nKeys.update(nKeys.get() + 1L)
        } else {
          // MG decrement: the unseen type and every counter give up
          // one occurrence; zeroed counters leave the map
          val entries = counts.iterator().toVector
          var n = 0L
          entries.foreach { case (k, v) =>
            if (v <= 1L) counts.removeKey(k)
            else { counts.updateValue(k, v - 1L); n += 1L }
          }
          nKeys.update(n)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(shard: Long,
        timerValues: TimerValues, expired: ExpiredTimerInfo)
        : Iterator[(Long, String, Long)] = {
      val out = counts.iterator().toVector
        .map { case (t, c) => (shard, t, c) }
      counts.clear()
      nKeys.clear()
      flushed.update(true)
      out.iterator
    }
  }

  /** Batch→streaming migration cutover: sessionize everything BEFORE
    * the cutover instant in batch, hand the still-open session per
    * user to the streaming sessionizer as transformWithState INITIAL
    * STATE (`StatefulProcessorWithInitialState`), and stream only the
    * events after the cutover. Closed pre-cutover sessions are final
    * batch rows; sessions spanning the cutover are merged from the
    * bootstrapped state — the union equals the all-batch sessionize,
    * so the batch window-SQL oracle checks the whole migration path.
    * This is how a 100 TB deployment turns on streaming without
    * replaying history or dropping the sessions open at the switch.
    */
  def sessionizeWarmStartToCompletion(spark0: SparkSession,
      dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      extent(ev) match {
        case None => emptySessions(spark, ev)
        case Some((loUs, hiUs, loUid)) =>
          // the cutover bisects an open session (same instant the replay
          // harness uses), so the bootstrap path is provably exercised
          val midUs = splitInstant(ev, loUs, hiUs)
          // ---- batch half: history up to the cutover ----
          val rn = row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("session_end").desc))
          val ranked = graft.operators.Events.sessionize(
              ev.filter(unix_micros(col("ts")) < midUs), GapMinutes)
            .withColumn("rn", rn)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // every session but the user's LAST is final — no later event
            // can extend it (the last one might continue across the
            // cutover); materialized now: the union at the end runs after
            // the caches are released, and the finals must not recompute
            // the batch sessionize
            val finals = graft.Scratch.pin("sessionize_warm finals",
              ranked.filter(col("rn") > 1)
                .select(col("user_id"),
                  unix_micros(col("session_start")).as("start_us"),
                  unix_micros(col("session_end")).as("end_us"),
                  col("n_events")))
            val initState = ranked.filter(col("rn") === 1)
              .select(col("user_id"), unix_micros(col("session_start")),
                unix_micros(col("session_end")), col("n_events"))
              .as[(Long, Long, Long, Long)]
              .groupByKey(_._1).mapValues(t => (t._2, t._3, t._4))
            // ---- streaming half: post-cutover events over the
            // bootstrapped state, then the flushing sentinel ----
            val sentinel = Seq((loUid - 1L,
                instant(hiUs + GapUs + 2L * HourUs), -1L))
              .toDF("user_id", "ts", "event_id")
            val sink = sentinelReplay(spark, ev.schema, Seq(
                "post" -> ev.filter(unix_micros(col("ts")) >= midUs),
                "sentinel" -> sentinel), "append",
                "graft_events_sessions_warm")(src =>
                sessionInput(src).groupByKey(_._1)
                  .transformWithState(
                    new SessionProcessorWarmStart(GapMinutes),
                    TimeMode.EventTime(), OutputMode.Append(), initState)
                  .toDF("user_id", "start_us", "end_us", "n_events"))
            sessionRows(sink.union(finals), loUid)
          } finally ranked.unpersist()
      }
    } finally ev.unpersist()
  }

  /** Shared state machine for the transformWithState sessionizers.
    * State layout: one ValueState `(start_us, last_us, n_events,
    * timer_ms)` per user. Each batch merges its (sorted) events into
    * the open session, emitting every session the gap closes
    * mid-batch; the previous timer is explicitly deleted and one new
    * timer is registered at ceil(last µs→ms) + gap — when it expires
    * (watermark-driven, Spark runs the no-data batch), the open
    * session flushes. The stored timer_ms double-checks expiry
    * against state so a stale timer that raced a concurrent update
    * can never emit a half-merged session.
    */
  private[streaming] trait SessionLogic {
    this: org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Long, Long), (Long, Long, Long, Long)] =>
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

    protected def gapMinutes: Int
    private def gapUs = gapMinutes * 60L * 1000000L
    @transient protected var session: ValueState[(Long, Long, Long, Long)] = _

    // ceiling µs→ms like the GroupState twin: flooring could fire up
    // to 999µs early and split a session whose boundary event is
    // still in flight on an out-of-order stream
    protected def sessionTimerMs(lastUs: Long): Long =
      (lastUs + 999L) / 1000L + gapMinutes * 60L * 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[(Long, Long, Long, Long)]("session",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)],
        TTLConfig.NONE)

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val evs = rows.map(e => (e._3, e._4)).toVector.sorted
      if (evs.isEmpty) return Iterator.empty
      val out = Vector.newBuilder[(Long, Long, Long, Long)]
      var (start, last, n, oldTimer) =
        if (session.exists()) session.get()
        else (evs.head._1, evs.head._1, 0L, -1L)
      for (e <- evs) {
        if (e._1 - last > gapUs) {
          out += ((uid, start, last, n))
          start = e._1
          n = 0L
        }
        last = e._1
        n += 1
      }
      if (oldTimer >= 0L) getHandle.deleteTimer(oldTimer)
      val timer = sessionTimerMs(last)
      getHandle.registerTimer(timer)
      session.update((start, last, n, timer))
      out.result().iterator
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] =
      if (session.exists()) {
        val (start, last, n, timer) = session.get()
        if (timer == expired.getExpiryTimeInMs) {
          session.clear()
          Iterator.single((uid, start, last, n))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** StatefulProcessor for [[sessionizeTwsToCompletion]] — the shared
    * [[SessionLogic]] state machine with no initial state.
    */
  private[streaming] class SessionProcessor(
      protected val gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long, Long), (Long, Long, Long, Long)]
      with SessionLogic

  /** Warm-start variant for [[sessionizeWarmStartToCompletion]]: the
    * same state machine, bootstrapped from a batch-computed open
    * session `(start_us, last_us, n_events)` per user. Each initial
    * row seeds the ValueState AND registers its flush timer, so a
    * user who never appears on the stream still emits the carried
    * session once the watermark passes last+gap.
    */
  private[streaming] class SessionProcessorWarmStart(
      protected val gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, java.sql.Timestamp, Long, Long), (Long, Long, Long, Long),
        (Long, Long, Long)]
      with SessionLogic {
    override def handleInitialState(uid: Long, init: (Long, Long, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit = {
      val timer = sessionTimerMs(init._2)
      getHandle.registerTimer(timer)
      session.update((init._1, init._2, init._3, timer))
    }
  }
}
