package graft

import graft.data.Tables
import graft.streaming.{Ev, Streams, TypeCountProcessor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming validation: every streaming query must equal its
  * batch analog on the same data (stream == batch is the invariant the
  * declared T-queries rely on), and stateful operators must survive
  * multi-micro-batch replay — a single AvailableNow batch would not
  * exercise cross-trigger state at all.
  */
class StreamingSuite extends AnyFunSuite with ScratchRoot {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-suite")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: java.sql.Timestamp => d.getTime
      case x => x
    }.toSeq).toSet

  test("st_stream_tumbling equals the batch tumbling window") {
    val stream = SparkEntry.queries("st_stream_tumbling")(spark, sf)
    val batch = SparkEntry.queries("st_tumbling_window")(spark, sf)
    assert(rows(stream) == rows(batch))
    assert(stream.count() > 0)
  }

  test("st_stream_dedup equals batch distinct-count") {
    val stream = SparkEntry.queries("st_stream_dedup")(spark, sf)
    val batch = SparkEntry.queries("st_dedup_late")(spark, sf)
    assert(rows(stream) == rows(batch))
  }

  test("st_stream_ann equals the batch ADC search on the same probes, across real micro-batches") {
    import org.apache.spark.sql.functions._
    val stream = SparkEntry.queries("st_stream_ann")(spark, sf)
    val streamed = rows(stream)
    // the batch twin: same persisted index (same cache key), same probes,
    // same k/shortlist/nProbe — serving from a stream must change nothing
    val emb = graft.data.Tables(spark, sf, "embeddings")
    // derive cells/shortlist through the SAME scale-aware helpers the
    // declared stream uses, so the twin can't silently diverge from it
    val cells = graft.llm.IvfIndex.scaledCells(emb.count())
    val ivf = graft.llm.IvfIndex.cachedIndexFor(sf, emb, nClusters = cells)
    val model = graft.llm.PqIndex.cachedIvfPq(sf, ivf, emb, m = 8, ksub = 16, nClusters = cells)
    val batch = graft.llm.PqIndex.searchIvfPqResidual(ivf, model,
      emb.filter(col("vec_id") % 100 === 7).select("vec_id", "embedding"),
      emb, k = 10,
      shortlist = graft.llm.PqIndex.scaledShortlist(emb.count(), 4, cells, floor = 50),
      nProbe = 4)
    assert(streamed == rows(batch), "streamed ANN results must equal the batch search")
    assert(stream.count() > 0)
    // the probe landing really streamed as multiple micro-batches: each
    // produced its own idempotent batch_N output dir
    val dirs = stream.inputFiles.map(_.replaceAll("/[^/]*$", ""))
      .map(_.replaceAll(".*/", "")).distinct
    assert(dirs.count(_.startsWith("batch_")) >= 2,
      s"expected >=2 micro-batch outputs, got ${dirs.mkString(",")}")
  }

  test("st_stream_decontaminate equals the batch wide-gram contamination scan") {
    // decontamination-at-ingest: the streamed documents against the
    // batch-built broadcast eval index must flag exactly the pairs the
    // post-hoc batch pass (d7b) flags
    val stream = SparkEntry.queries("st_stream_decontaminate")(spark, sf)
    val batch = SparkEntry.queries("d7b_contamination_wide")(spark, sf)
    assert(rows(stream) == rows(batch))
    assert(stream.count() > 0)
  }

  test("st_stream_static_join equals its batch join") {
    val stream = SparkEntry.queries("st_stream_static_join")(spark, sf)
    val batch = Tables(spark, sf, "events")
      .join(broadcast(Tables(spark, sf, "customer")), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), graft.ops.Exact.moneySum(col("value")).as("total"))
    assert(rows(stream) == rows(batch))
    assert(stream.count() > 0)
  }

  test("st_stream_fsm equals order-insensitive batch aggregate") {
    val stream = SparkEntry.queries("st_stream_fsm")(spark, sf)
    val batch = Tables(spark, sf, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(array_sort(collect_set(col("event_type"))), ",").as("types_seen"),
        max(col("ts")).as("last_ts"))
    assert(rows(stream) == rows(batch))
  }

  test("st_stream_stream_join equals the batch interval self-join") {
    val stream = SparkEntry.queries("st_stream_stream_join")(spark, sf)
    val e = Tables(spark, sf, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val batch = p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    assert(rows(stream) == rows(batch))
    assert(stream.count() > 0)
  }

  test("FSM state survives across micro-batches (4-file replay, maxFilesPerTrigger=1)") {
    // split events into 4 parquet files; maxFilesPerTrigger=1 forces 4
    // triggers, so per-user state MUST carry across micro-batches to get
    // the right totals
    val splitDir = scratch("fsm_split")
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(splitDir)
    val raw = spark.readStream
      .schema(spark.read.parquet(splitDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(splitDir)
      .transform(Tables.normalizeEventTs)
    val result = Streams.fsmFinal(
      Streams.runToTable(spark, Streams.fsm(spark, raw), "update"))
    val batch = Tables(spark, sf, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(array_sort(collect_set(col("event_type"))), ",").as("types_seen"),
        max(col("ts")).as("last_ts"))
    assert(rows(result) == rows(batch))
  }

  test("transformWithState counts survive across micro-batches (4-file replay)") {
    val splitDir = scratch("tws_split")
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(splitDir)
    import spark.implicits._
    val raw = spark.readStream
      .schema(spark.read.parquet(splitDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(splitDir)
      .transform(Tables.normalizeEventTs)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("ts_us"))
      .as[Ev]
    val out = raw.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    val streamed = Streams.runToTable(spark, out.toDF(), "update", Map(Streams.RocksDbProvider))
      .groupBy("user_id", "event_type").agg(max(col("n")).as("n"))
    val batch = Tables(spark, sf, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    assert(rows(streamed) == rows(batch))
  }

  test("session windows merge fragments across micro-batches (4-file replay)") {
    // random 4-way split scatters each user's events across triggers, so a
    // session seen partially in batch 1 and partially in batch 3 MUST merge
    // in the state store to reproduce the batch gaps-and-islands answer
    val splitDir = scratch("sess_split")
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(splitDir)
    val raw = spark.readStream
      .schema(spark.read.parquet(splitDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(splitDir)
      .transform(Tables.normalizeEventTs)
    val sess = raw
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val streamed = Streams.runToTable(spark, sess, "complete")
    val batch = Tables(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    assert(rows(streamed) == rows(batch))
  }

  test("watermark evicts dedup state but keeps in-order duplicates dropped") {
    // duplicate every event (at-least-once replay); stream dedup must
    // drop exactly the duplicates when replays arrive within the watermark
    // — the declared query's dropDuplicatesWithinWatermark shape (plain
    // keyed dropDuplicates would never evict: see the continuous test)
    val dupDir = scratch("dup")
    val base = spark.read.parquet(s"$sf/events.parquet")
    base.unionAll(base).write.mode("overwrite").parquet(dupDir)
    val stream = spark.readStream
      .schema(base.schema)
      .parquet(dupDir)
      .transform(Tables.normalizeEventTs)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_id")
      .select("user_id", "event_id")
    val deduped = Streams.runToTable(spark, stream, "append")
    assert(deduped.count() == base.count())
  }

  test("drains leave the session conf as they found it") {
    val before = spark.conf.getAll
    Seq("st_stream_tumbling", "st_stream_tws", "st_stream_session", "st_stream_sink")
      .foreach(q => SparkEntry.queries(q)(spark, sf).count())
    val after = spark.conf.getAll
    assert(after == before)
    assert(!after.keys.exists(_.startsWith("graft.stream.")))
  }

  /** `numShufflePartitions` of every stateful operator in the streams that
    * `run` starts, read from their progress events. The listener bus is
    * asynchronous, so this waits for each started query's termination event,
    * which the bus delivers after the query's progress events. */
  private def stateShuffles(run: => Unit): Set[Long] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.Semaphore(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (started.contains(e.progress.runId))
          e.progress.stateOperators.foreach(op => parts.add(op.numShufflePartitions))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (started.contains(e.runId)) done.release()
    }
    spark.streams.addListener(listener)
    try {
      run
      assert(!started.isEmpty &&
        done.tryAcquire(started.size, 60, java.util.concurrent.TimeUnit.SECONDS),
        "no termination event for the started streams")
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    parts.asScala.toSet
  }

  test("state partitions follow the source's file count") {
    def tumbling(d: String): Set[Long] =
      stateShuffles(SparkEntry.queries("st_stream_tumbling")(spark, d): Unit)
    // the single-file testdata table lands on the floor of 2
    assert(tumbling(sf) == Set(2L))
    // 3 source files: min(2 × 3, defaultParallelism of local[4]) = 4
    val dir = scratch("three_file")
    spark.read.parquet(s"$sf/events.parquet").repartition(3)
      .write.parquet(s"$dir/events.parquet")
    assert(tumbling(dir) == Set(4L))
  }

  test("continuous trigger on an unbounded rate source: state plateaus under watermark eviction") {
    // The unbounded half the AvailableNow replays structurally cannot test
    // (reference heartbeat loop maggy/core/rpc.py:716-737 never ends):
    // three stateful shapes run ~30 s under a processing-time trigger
    // against the rate source, and their state stores must PLATEAU —
    // watermarks evict dedup keys and closed sessions; the FSM's state
    // tracks the (bounded) keyspace, not the (unbounded) event count.
    val tmp = scratch("cont")
    val dupEvents = StreamPlateau.dupEvents(spark)
    val dedup = dupEvents
      .withWatermark("ts", "5 seconds")
      .dropDuplicatesWithinWatermark("event_id")
    val sessions = dupEvents
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "2 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    // FSM over a BOUNDED keyspace: state rows ≤ 200 keys forever
    val fsmIn = spark.readStream.format("rate")
      .option("rowsPerSecond", "2000").load()
      .select(col("timestamp").as("ts"), (col("value") % 200).as("user_id"),
        concat(lit("t"), col("value") % 3).as("event_type"))
    val fsm = Streams.fsm(spark, fsmIn)

    val qs = Seq(StreamPlateau.start(dedup, "append", s"$tmp/dedup"),
      StreamPlateau.start(sessions, "append", s"$tmp/sess"),
      StreamPlateau.start(fsm, "update", s"$tmp/fsm"))
    try {
      StreamPlateau.awaitAndAssert(Seq(
        StreamPlateau.Check(qs(0), "dedup", needRemoved = true),
        StreamPlateau.Check(qs(1), "sess", needRemoved = true),
        StreamPlateau.Check(qs(2), "fsm", needRemoved = false,
          keyspaceBound = Some(200L))))
    } finally {
      qs.foreach(StreamPlateau.stop(_))
      graft.data.Frames.deleteRecursively(new java.io.File(tmp))
    }
  }
}
