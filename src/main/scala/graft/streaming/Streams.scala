package graft.streaming

import graft.data.{Frames, Tables}
import graft.ops.QueryDef
import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger}

/** One event as seen by the stateful FSM (ts kept as µs long — state
  * comparisons stay primitive). */
final case class Ev(user_id: Long, event_type: String, ts_us: Long)

/** Per-user FSM state: order-insensitive so batch arrival order (which
  * Spark does not define within a group iterator) cannot change the result. */
final case class FsmState(n: Long, types: Set[String], lastTs: Long)

final case class FsmOut(user_id: Long, n_events: Long, types_seen: String, ts_us: Long)

final case class TypeCount(user_id: Long, event_type: String, n: Long)

/** Per-user event-type counter on the Spark 4 `transformWithState` API —
  * the successor to mapGroupsWithState: typed state variables (MapState
  * here) managed by the RocksDB state store, with TTL/timers available.
  * Counts are monotone, so the update-mode sink collapses with max(). */
final class TypeCountProcessor extends StatefulProcessor[Long, Ev, TypeCount] {
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    import org.apache.spark.sql.Encoders
    counts = getHandle.getMapState[String, Long](
      "type_counts", Encoders.STRING, Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timerValues: TimerValues): Iterator[TypeCount] = {
    // aggregate the batch locally FIRST: every MapState access is a JNI
    // round-trip into RocksDB plus codec work, so per-row state updates cost
    // O(rows) store calls — per-batch pre-aggregation makes it O(distinct
    // types) per key (measured 10s → ~3s on a 100k-event replay)
    val local = scala.collection.mutable.Map.empty[String, Long]
    rows.foreach { e => local.update(e.event_type, local.getOrElse(e.event_type, 0L) + 1L) }
    local.foreach { case (t, n) =>
      val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
      counts.updateValue(t, cur + n)
    }
    counts.iterator().map { case (t, n) => TypeCount(key, t, n) }
  }
}

/** Real Structured Streaming surface (SURVEY §2.B T1, T5–T7).
  *
  * The reference's "stream" is the executor→driver heartbeat metric stream
  * (maggy/core/rpc.py:716-737) digested by a driver queue consumer
  * (maggy/core/experiment_driver/spark_driver.py:211-236); here each shape
  * runs as a genuine `readStream` micro-batch pipeline over the events
  * table with `Trigger.AvailableNow`, drained into a memory sink so the
  * result is a DataFrame the oracle can check. At scale the same plans run
  * unchanged against a continuous file/Kafka source — state stores are
  * keyed per user/window, so state size tracks keys, not events.
  *
  * T8 (early-stop control signal) lives in the control plane:
  * graft.exec.DriverServer STOP ride-along on heartbeat acks.
  */
object Streams {

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  // schema per staged dir — every declared streaming query re-derives it, and
  // a batch-side parquet footer read per query build is pure constant overhead
  private def sourceSchema(s: SparkSession, dir: java.nio.file.Path): org.apache.spark.sql.types.StructType =
    Frames.getOrCreate(Frames.Key("stream.schema", dir.toString))(
      s.read.parquet(dir.toString).schema)(_ => ())

  /** Streaming view of the events table (T1 ingestion): file-source
    * readStream with the batch schema, ns→µs ts conversion as in Tables. */
  def eventsStream(s: SparkSession, d: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file stream source requires a DIRECTORY (basePath). The driver
    // testdata ships events.parquet as a single FILE → stage it into a temp
    // dir once per SF dir (idempotent; a production deployment streams a
    // landing dir or Kafka topic and skips this). ScaleGen corpora write
    // events.parquet as a Spark output DIRECTORY → stream it directly
    // (a Files.copy of a directory path would copy only the empty dir
    // entry, leaving a sourceless stream — the sf1 full-suite run hit
    // exactly that as UNABLE_TO_INFER_SCHEMA ×9).
    val dir = streamSourceDir(s, d, "events")
    val reader = s.readStream.schema(sourceSchema(s, dir))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.data.Tables.normalizeEventTs(reader.parquet(dir.toString))
  }

  /** Resolve table `name` to a DIRECTORY the file stream source can read
    * (it requires a basePath), and set the state-partition auto hint.
    * Driver testdata ships tables as single FILES → stage into a temp dir
    * once per SF dir (idempotent; a production deployment streams a landing
    * dir or Kafka topic and skips this). ScaleGen corpora write Spark
    * output DIRECTORIES → streamed directly (a Files.copy of a directory
    * path would copy only the empty dir entry, leaving a sourceless
    * stream — the sf1 full-suite run hit exactly that as
    * UNABLE_TO_INFER_SCHEMA ×9). */
  private def streamSourceDir(s: SparkSession, d: String,
      name: String): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(s"$d/$name.parquet")
    val dir = if (java.nio.file.Files.isDirectory(src)) src else {
      val staging = java.nio.file.Paths.get(Frames.storeDir(s"stream_$name", d))
      java.nio.file.Files.createDirectories(staging)
      val staged = staging.resolve(s"$name.parquet")
      if (!java.nio.file.Files.exists(staged) ||
          java.nio.file.Files.size(staged) != java.nio.file.Files.size(src))
        java.nio.file.Files.copy(src, staged,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      staging
    }
    // state-store auto-sizing hint: partitions track the SOURCE's file
    // count (the same proxy the batch scan parallelizes on), clamped to
    // [2, defaultParallelism]. The fixed default of 2 was tuned on 100k-row
    // local replays, where per-partition store overhead dominates; at the
    // 100× corpus (10M events) 2 partitions put ~5M state keys in each of
    // two tasks — st_stream_dedup read 50 s and the session window OOMed
    // the driver's task-result path. An explicit
    // `graft.stream.statePartitions` still overrides (see runToTable).
    // 2× file count: state tasks do strictly more work per input split than
    // the scan (store commit + emission on top of the agg), so giving the
    // state stage twice the scan's parallelism overlaps commit with compute.
    // Measured at the 100× corpus (16 source files): session window 32.7 s
    // at 16 partitions → 24.6 s at 32. Small replays are unaffected — the
    // staged single-file sf0.1 source still lands on the floor of 2.
    val nFiles = Option(dir.toFile.listFiles((_, n) => n.endsWith(".parquet")))
      .map(_.length).getOrElse(1)
    val auto = math.max(2, math.min(2 * nFiles, s.sparkContext.defaultParallelism))
    s.conf.set("graft.stream.statePartitionsAuto", auto.toString)
    dir
  }

  /** Streaming view of the documents table — the INGEST side of the
    * decontamination/dedup pipeline. No event-time normalization: documents
    * carry no timestamp column; the operators over this stream are
    * stateless gram scans plus bounded (true-contamination-sized)
    * aggregations. */
  def documentsStream(s: SparkSession, d: String): DataFrame = {
    val dir = streamSourceDir(s, d, "documents")
    s.readStream.schema(sourceSchema(s, dir)).parquet(dir.toString)
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink; returns the drained table. Fresh checkpoint per run so re-running
    * the same declared query re-processes the source. */
  def runToTable(s: SparkSession, stream: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${runCounter.incrementAndGet()}"
    val ckpt = Frames.storeDir("stream_ckpt", name)
    // a streaming query's shuffle-partition count = its state-store count,
    // fixed at first checkpoint — size it to the keyspace, not to the batch
    // session's scan parallelism. Per-partition store cost is CONSTANT
    // (provider init + delta commit per micro-batch, ×4 sub-stores for a
    // stream-stream join): measured 11.2s → 5.1s on the interval self-join
    // going 8 → 2 partitions on a local replay. A real deployment sizes
    // this to keys × state-bytes / executor-memory before first start.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions(s))
    val restoreNoData = disableNoDataBatch(s)
    try {
      val q = stream.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      restoreNoData()
      // drop the finished replay's checkpoint (state deltas can run to
      // hundreds of MB per stream at the 100× corpus). Only correct because
      // these AvailableNow replays are one-shot: nothing ever restarts from
      // it — a production stream KEEPS its checkpoint, the restart
      // contract. In finally, not after: a failed replay must not leak it.
      Frames.deleteRecursively(new java.io.File(ckpt))
    }
    s.table(name)
  }

  /** Skip the trailing no-data micro-batch on these bounded drains. With a
    * watermark or stateful operator present, AvailableNow appends one extra
    * empty batch after the data to advance the watermark and evict state —
    * a full plan + state-load + commit cycle, and in complete mode a full
    * RE-EMISSION of the final state (at the 10× corpus that is the 9.5M-row
    * session table written twice). No declared drain's CONTENT depends on
    * it: complete mode re-emits unchanged state, the inner interval join and
    * the watermark dedup emit rows in the batch the rows arrive, and the
    * update-mode FSMs use NoTimeout/TimeMode.None so no timer can fire in
    * an input-less batch. Eviction-only work is pointless on a drain whose
    * query stops immediately after. Returns the restore thunk. */
  private def disableNoDataBatch(s: SparkSession): () => Unit = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    () => prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Explicit `graft.stream.statePartitions` knob, else the source-derived
    * auto hint (eventsStream), else the small-replay default of 2. */
  private def statePartitions(s: SparkSession): String =
    s.conf.getOption("graft.stream.statePartitions")
      .orElse(s.conf.getOption("graft.stream.statePartitionsAuto"))
      .getOrElse("2")

  /** Drain a streaming DataFrame whose output is CORPUS-SIZED into a
    * parquet landing dir instead of the driver's memory sink, and return
    * the read-back table. The memory sink ships every emitted row through
    * task results onto the driver heap — fine for the KB-sized aggregate
    * streams, fatal for row-per-event outputs (the 100× replay OOMed the
    * driver on the session-window table and spent 50 s landing 10M deduped
    * rows). foreachBatch keeps the rows on the executors: append mode
    * accumulates each batch's new rows; complete mode overwrites, so the
    * final batch's full state is the result — identical tables, produced
    * distributed. This is also the production shape (streams end in a
    * sink, not in driver memory). */
  def runToParquetTable(s: SparkSession, stream: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${runCounter.incrementAndGet()}"
    val out = Frames.storeDir("stream_sink", name)
    val ckpt = s"${out}_ckpt"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions(s))
    val restoreNoData = disableNoDataBatch(s)
    try {
      val saveMode = if (mode == "complete") "overwrite" else "append"
      val q = stream.writeStream
        .outputMode(mode)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode(saveMode).parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      restoreNoData()
      Frames.deleteRecursively(new java.io.File(ckpt))
    }
    // the sink dir is read back LAZILY by the caller — it cannot be
    // deleted here; it goes with the Frames store root
    s.read.parquet(out)
  }

  /** T6 FSM over a typed stream: per-user state folded across micro-batches
    * with mapGroupsWithState (reference: trial status FSM maggy/trial.py:33-37,
    * reservation registry maggy/core/rpc.py:45-123). */
  def fsm(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val ds = events
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("ts_us"))
      .as[Ev]
    val out = ds.groupByKey(_.user_id)
      .mapGroupsWithState[FsmState, FsmOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[FsmState]) =>
          var st = state.getOption.getOrElse(FsmState(0L, Set.empty, Long.MinValue))
          it.foreach { e =>
            st = FsmState(st.n + 1, st.types + e.event_type, math.max(st.lastTs, e.ts_us))
          }
          state.update(st)
          FsmOut(uid, st.n, st.types.toSeq.sorted.mkString(","), st.lastTs)
      }
    out.toDF()
  }

  /** Collapse an update-mode FSM sink to the final row per user (n_events is
    * strictly increasing across batches, so max_by(n_events) is the last
    * update even when the source ran as multiple micro-batches). */
  def fsmFinal(table: DataFrame): DataFrame =
    table.groupBy("user_id")
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(col("types_seen"), col("n_events")).as("types_seen"),
        max(col("ts_us")).as("ts_us"))
      .select(col("user_id"), col("n_events"), col("types_seen"),
        timestamp_micros(col("ts_us")).as("last_ts"))

  val entries: Seq[QueryDef] = Seq(
    // T1+T2: genuine micro-batch ingestion + tumbling event-time window,
    // drained complete-mode. Oracle identical to the batch analog
    // st_tumbling_window — stream == batch is the invariant.
    QueryDef("st_stream_tumbling",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))
      runToTable(s, agg, "complete")
    },

    // T3 (streaming): sliding 1-hour window, 30-minute slide — each event
    // contributes to two window states in the store; complete-mode drain on
    // the bounded replay equals the batch analog st_sliding_window (same
    // oracle). At scale the same plan runs append-mode with a watermark so
    // closed windows emit once and the store holds only open windows.
    QueryDef("st_stream_sliding",
      """WITH e AS (
        |  SELECT unnest([
        |    make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
        |    make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000)
        |  ]) AS window_start, value FROM events)
        |SELECT window_start, count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE), 2) AS total
        |FROM e GROUP BY 1""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
        .select(col("window.start").as("window_start"), col("n"), col("total"))
      runToTable(s, agg, "complete")
    },

    // T5: watermark + streaming dropDuplicatesWithinWatermark —
    // at-least-once heartbeat dedup (reference: maggy/trial.py:98-102).
    // NOT plain dropDuplicates(keys): that variant only evicts state when
    // the event-time column is itself one of the dedup keys, so keyed-only
    // dedup state grows unboundedly on an unbounded source (verified by
    // the continuous-trigger rate-source test: linear growth, zero
    // removals). WithinWatermark dedups keys whose duplicates arrive
    // inside the watermark delta — exactly the at-least-once replay shape
    // (retries land seconds after the original) — and evicts keys once
    // the watermark passes them, keeping state ∝ rate × delta forever.
    // ORACLE CONTRACT: the batch DISTINCT oracle is equivalent only when
    // duplicate spread ≤ delta — the operator's declared guarantee, and
    // unconditionally true on this bounded replay (AvailableNow with no
    // maxFilesPerTrigger = ONE micro-batch, so no eviction can happen
    // mid-replay). A duplicate arriving > 1 h of event time late would
    // re-emit — by design: the weaker guarantee a bounded-state dedup
    // trades for surviving an unbounded source.
    QueryDef("st_stream_dedup",
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT DISTINCT user_id, event_id FROM events) GROUP BY user_id""".stripMargin) { (s, d) =>
      val deduped = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_id")
        .select("user_id", "event_id")
      // row-per-event output: land it distributed (parquet), aggregate
      // batch-side — the memory sink spent 50 s driver-materializing 10M
      // deduped rows at the 100x replay
      runToParquetTable(s, deduped, "append")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
    },

    // T7: stream-static join — the streaming fact joins a broadcast static
    // dimension batch-side (reference: metric msg ↔ trial store lookup,
    // optimization_driver.py:447-449). The dim is re-read per micro-batch;
    // at scale it stays broadcast, so the stream never shuffles.
    QueryDef("st_stream_static_join",
      """SELECT c_mktsegment, count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE), 2) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, d) =>
      val joined = eventsStream(s, d)
        .join(broadcast(Tables(s, d, "customer")), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
      runToTable(s, joined, "complete")
    },

    // Stream-stream interval join: each user's purchases joined to their
    // clicks from the preceding 30 minutes. BOTH sides carry watermarks, so
    // the join state store evicts rows older than watermark + interval —
    // the property that keeps an unbounded self-join finite. Oracle: plain
    // batch interval self-join.
    QueryDef("st_stream_stream_join",
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts""".stripMargin) { (s, d) =>
      // one streaming source, two filtered branches → a genuine stream
      // self-join (one file-source scan per micro-batch, not two)
      val base = eventsStream(s, d)
      val purchases = base
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = base
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      runToTable(s, joined, "append")
        .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
    },

    // T4 (streaming): session windows built incrementally across
    // micro-batches — the state store merges adjacent session fragments as
    // events arrive. Complete mode drains every session for the bounded
    // replay (== the batch analog / oracle); a production deployment runs
    // the same plan with a watermark in append mode so closed sessions emit
    // once and state stays bounded.
    //
    // State store choice: a MEASURED DISPATCH on state size (the
    // w3/Ranks.groupRank idiom). Heap wins the small-state one-shot replay
    // (r13, scale_r13/stream_store_sf10.json: 19.7-20.0 s first run vs
    // RocksDB's 20.9-22.2, which pays native-lib load + store setup once
    // per JVM), but at sf10's 9.5M sessions the heap provider holds the
    // whole complete-mode state ON the executor heap — at the suite's
    // 8 GiB default that turned this line into 94 s of GC (vs 9.0 s at
    // 16 GiB, same plan). RocksDB moves the state off-heap (native
    // memtables/SSTs), bounds executor memory, and wins steady state by
    // 10-25% at that state size — so above the dispatch threshold the
    // replay runs on RocksDB. Threshold: the measured crossover lies
    // between sf1 (~1.5M events, heap comfortably wins) and sf10 (15M
    // events, heap pays unbounded state); 5M events splits the decades.
    // The count is a metadata-only parquet scan (no data read).
    QueryDef("st_stream_session",
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   > INTERVAL 30 MINUTE OR
        |                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE), 2) AS total
        |FROM sessions GROUP BY user_id, session_id""".stripMargin) { (s, d) =>
      val sess = eventsStream(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total"))
      val bigState = Tables.cachedCount(s, d, "events") > 5000000L
      // Bound RocksDB's native memory to a heap-proportional budget when
      // the big-state dispatch fires: at local[32] the complete-mode
      // session state opens one RocksDB instance per shuffle partition,
      // and UNBOUNDED memtables+block caches (the default) compete with a
      // small JVM for the same RSS — measured 16.4 s at the 8 GiB default
      // but 96.8 s at 4 GiB (r15 half-heap artifact), memory pressure,
      // not plan. boundedMemoryUsage shares one LRU budget across every
      // instance on the executor; a quarter of the heap (floor 512 MB)
      // keeps the native side proportional to whatever the JVM got.
      val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
      val rocksBudgetMb = math.max(512L, heapMb / 4)
      val rocksConfs: Seq[(String, String)] = Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" ->
          rocksBudgetMb.toString)
      val prev: Seq[(String, Option[String])] =
        rocksConfs.map { case (k, _) => k -> s.conf.getOption(k) }
      if (bigState) rocksConfs.foreach { case (k, v) => s.conf.set(k, v) }
      // row-per-session output (954k rows at 10x, ~10M at 100x): complete
      // mode re-emits the full session table every micro-batch, and the
      // memory sink put each emission on the driver heap (OOM at 100x) —
      // the parquet drain overwrites per batch, keeping the final state
      // distributed
      try runToParquetTable(s, sess, "complete")
      finally if (bigState) prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },

    // T1/S5 (streaming sink): foreachBatch writing each micro-batch to a
    // parquet landing dir — the batch-reuse escape hatch every production
    // stream ends in (exactly-once per batch id via idempotent overwrite
    // paths). The declared result re-reads the sink and aggregates; oracle
    // aggregates the source directly, so the sink round-trip must be the
    // identity.
    QueryDef("st_stream_sink",
      """SELECT event_type, count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      val sink = Frames.storeDir("st_stream_sink", s"$d#${runCounter.incrementAndGet()}")
      val ckpt = s"$sink/_checkpoints"
      val q = eventsStream(s, d)
        .select("event_id", "event_type", "value")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$sink/batch_$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$sink/batch_*")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
    },

    // T6 (modern API): per-user event-type counts via transformWithState —
    // Spark 4's typed-state successor to mapGroupsWithState (RocksDB-backed
    // MapState). Counts are monotone across update-mode emissions, so the
    // final row per (user, type) is the max.
    QueryDef("st_stream_tws",
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY user_id, event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      // transformWithState requires the RocksDB state store provider
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ds = eventsStream(s, d)
          .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("ts_us"))
          .as[Ev]
        val out = ds.groupByKey(_.user_id)
          .transformWithState(new TypeCountProcessor,
            TimeMode.None(), OutputMode.Update())
        runToTable(s, out.toDF(), "update")
          .groupBy("user_id", "event_type")
          .agg(max(col("n")).as("n"))
      } finally {
        prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
    },

    // T6: stateful per-key FSM via mapGroupsWithState, update-mode. The
    // oracle is the order-insensitive batch equivalent; StreamingSuite also
    // replays the source as 4 separate micro-batches to prove state
    // survives across triggers.
    QueryDef("st_stream_fsm",
      """SELECT user_id, count(*) AS n_events,
        |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
        |       max(ts) AS last_ts
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      fsmFinal(runToTable(s, fsm(s, eventsStream(s, d)), "update"))
    },

    // Decontamination AT INGEST: the d7b wide-gram scan applied to the
    // documents STREAM. The eval-set gram index is batch-built and
    // broadcast (benchmark-sized and FIXED as the corpus grows — the d7b
    // argument), so each micro-batch's grams join it map-side with zero
    // join state; the only streaming state is the contaminated-pair
    // counts, which track TRUE contamination, not corpus size. This is
    // the 100 TB shape that flags a crawl shard before it lands — the
    // post-hoc alternative (d7b itself) re-reads the whole corpus. Same
    // oracle as d7b: stream == batch is the invariant.
    QueryDef("st_stream_decontaminate",
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 6),
        |           i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS grams
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 8)
        |SELECT c.doc_id, p.doc_id AS probe_id,
        |       len(list_intersect(c.grams, p.grams)) AS n_shared
        |FROM g c JOIN g p ON p.doc_id % 10 = 0 AND c.doc_id <> p.doc_id
        |WHERE len(list_intersect(c.grams, p.grams)) >= 1""".stripMargin) { (s, d) =>
      val probe = graft.llm.Dedup.wideGrams(Tables(s, d, "documents"))
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("probe_id"), col("h"))
      val flags = graft.llm.Dedup.wideGrams(documentsStream(s, d))
        .join(broadcast(probe), "h")
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy("doc_id", "probe_id")
        .agg(count(lit(1)).as("n_shared"))
      runToTable(s, flags, "complete")
    },

    // STREAMING ANN PROBE (r14) — the serving deployment shape: probe
    // vectors arrive as a stream in bounded micro-batches and are
    // answered from the PERSISTED residual-IVFPQ store (the
    // sim_ivfpqr_build index — offline step, amortized; this line
    // measures serving only). Per micro-batch inside foreachBatch the two
    // proven pieces compose: routing joins the probe batch map-side
    // against the broadcast centroid table, ADC scans only routed cells'
    // inverted lists, exact rerank reads full vectors for shortlist
    // members — zero streaming state, so serving memory is bounded by the
    // probe batch, never the corpus. Results land per-batch under an
    // idempotent batch_N path (exactly-once via overwrite, the
    // st_stream_sink contract). The probe rate (1/100) lands each of
    // the 4 micro-batches at ~500 probes at sf10 — the measured
    // qps-vs-batch optimum (throughput peaks at batch ~513,
    // scale_r13/ann_qps_vec2m.json) — with the routed broadcast in the
    // KB-MB band at every bench decade.
    // ANN + engine-specific layout → spec gate: StreamingSuite proves
    // stream == batch (same probes, same k) across ≥2 micro-batches.
    QueryDef.noOracle("st_stream_ann") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      // quantizer size and shortlist both scale with the served corpus
      // (the 20M recall law; IvfIndex.scaledCells scaladoc)
      val nVec = Tables.cachedCount(s, d, "embeddings")
      val cells = graft.llm.IvfIndex.scaledCells(nVec)
      val ivf = graft.llm.IvfIndex.cachedIndexFor(d, emb, nClusters = cells)
      // refine tier scale-dispatched exactly as the batch twin
      // (sim_ivfpqr_*): same corpus ⇒ same refineKsub ⇒ same cached model
      val model = graft.llm.PqIndex.cachedIvfPq(d, ivf, emb, m = 8, ksub = 16,
        nClusters = cells, refineKsub = graft.llm.PqIndex.refineKsubFor(nVec, 4, cells, k = 10))
      val probes = emb.filter(col("vec_id") % 100 === 7)
        .select("vec_id", "embedding")
      // land the probe set as a 4-file dir so the file source genuinely
      // streams it as 4 micro-batches (maxFilesPerTrigger = 1)
      val root = Frames.storeDir("st_stream_ann", s"$d#${runCounter.incrementAndGet()}")
      probes.repartition(4).write.parquet(s"$root/probes")
      val out = s"$root/out"
      val stream = s.readStream.schema(probes.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/probes")
      // corpus size (→ scaled shortlist) is a property of the SERVED
      // index, not of any micro-batch: resolve once, outside the loop
      val servingShortlist =
        graft.llm.PqIndex.scaledShortlist(nVec, 4, cells, floor = 50)
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val t0 = System.nanoTime()
          graft.llm.PqIndex.searchIvfPqResidual(ivf, model, batch, emb,
              k = 10, shortlist = servingShortlist, nProbe = 4,
              refineKeep = graft.llm.PqIndex.refineKeep(10))
            .write.mode("overwrite").parquet(s"$out/batch_$batchId")
          Console.err.println(String.format(java.util.Locale.ROOT,
            "[st_stream_ann] batch %d: %d probes in %.2f s",
            Long.box(batchId), Long.box(batch.count()),
            Double.box((System.nanoTime() - t0) / 1e9)))
        }
        .option("checkpointLocation", s"$root/_ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$out/batch_*")
    }
  )
}
