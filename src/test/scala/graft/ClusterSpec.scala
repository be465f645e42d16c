package graft

import graft.api.Graft
import graft.core._
import graft.core.HParam._
import graft.exec.{Gang, TrainFn, TrialContext}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM execution evidence: everything here runs under
  * `local-cluster[2,4,2048]` — real executor PROCESSES with their own
  * heaps. Closures genuinely serialize, shuffles and broadcasts cross
  * sockets, the control-plane RPC server is reached over TCP from
  * non-driver JVMs, and killing an executor is a real process death, not a
  * thread interrupt. None of the local[N] suites can cross this boundary
  * (the reference's own fixture pins 2 real executors:
  * maggy/tests/conftest.py:66-68).
  *
  * The suite owns its forked JVM (build.sbt testGrouping): every other
  * suite getOrCreate's a shared local[4] session, which would otherwise
  * hijack this one's master.
  */
class ClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  // stop the cluster BEFORE the JVM's shutdown hooks run: executors torn
  // down by the hook race their own shutdown and log FAILED exits. Only
  // if the boot actually succeeded — forcing it here would re-run the
  // whole (possibly already-failed) cluster boot in teardown.
  @volatile private var booted = false
  override def afterAll(): Unit = if (booted) spark.stop()

  // A Try inside the lazy val memoizes boot FAILURE too: a thrown lazy-val
  // initializer is retried on every access, so without this a failed
  // 60 s registration wait would repeat per test (~7 min of failing) and
  // the half-booted master/worker threads would never be torn down.
  private lazy val sparkBoot: scala.util.Try[SparkSession] = scala.util.Try {
    // the ONE conf block (MasterEnv) pinned to this suite's explicit
    // local-cluster master — a conf added for Verify/Bench artifacts
    // reaches the multi-JVM evidence suite too, no drift
    val s = MasterEnv.standardBuilderFor("local-cluster[2,4,2048]", 8)
      .appName("cluster-spec")
      .getOrCreate()
    // wait for both executors to register before any test schedules work —
    // otherwise the first job's tasks all land on whichever executor came
    // up first and the "spans two JVMs" assertions race the cluster boot
    val deadline = System.currentTimeMillis() + 60000
    while (s.sparkContext.getExecutorMemoryStatus.size < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    if (s.sparkContext.getExecutorMemoryStatus.size < 3) {
      s.stop() // tear the half-booted cluster down before failing the suite
      sys.error("local-cluster executors did not register within 60s")
    }
    booted = true
    s
  }

  def spark: SparkSession = sparkBoot.get

  /** Retry-once guard for the CHAOS/timing tests: each of them races real
    * wall-clock machinery (executor SIGKILL landing mid-replay, heartbeat
    * round-trips under load, micro-batch commit cadence) and is written
    * with generous margins, but a heavily contended driver box (the
    * per-round verify runs the suite alongside other load) can still slide
    * a kill or a heartbeat outside its window — observed once in the r17
    * driver run (214/215; unreproducible locally, 215/215 twice since).
    * One retry with a fresh tmp namespace is sound here because every
    * guarded test is self-contained: unique nanoTime-suffixed dirs, state
    * probed fresh via executorPids(), and the cluster heals (and is
    * re-probed) between attempts. A test that fails twice in a row is a
    * real failure and surfaces as one. Only the shapes a slid kill or
    * heartbeat takes are retried — a Spark error or a timeout; a failed
    * assertion is the test's verdict and fails at once. */
  private def retryOnce[T](label: String)(body: => T): T =
    try body catch {
      case e: Throwable if booted && timingShaped(e) =>
        Console.err.println(
          s"[ClusterSpec] '$label' failed once (${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}) - retrying after cluster re-probe")
        // let in-flight chaos settle (replacement executor registration,
        // streaming query teardown) before the fresh attempt
        val deadline = System.currentTimeMillis() + 30000
        while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
            System.currentTimeMillis() < deadline) Thread.sleep(200)
        body
    }

  private def timingShaped(e: Throwable): Boolean = e match {
    case _: org.apache.spark.SparkThrowable | _: java.util.concurrent.TimeoutException => true
    case _ => false // TestFailedException, AssertionError: the test's verdict
  }

  /** executor JVM pids, one per executor id — probed with one tiny task
    * per slot so both executors answer. */
  private def executorPids(): Map[String, Long] =
    spark.sparkContext.parallelize(0 until 16, 16)
      .map(_ => (org.apache.spark.SparkEnv.get.executorId, ProcessHandle.current().pid()))
      .collect().toMap

  test("executors are separate JVMs, distinct from the driver") {
    val driverPid = ProcessHandle.current().pid()
    val pids = executorPids()
    assert(pids.size == 2, s"expected 2 executors, got $pids")
    assert(pids.values.toSet.size == 2, s"executors share a JVM: $pids")
    assert(!pids.values.toSet.contains(driverPid),
      s"an 'executor' ran inside the driver JVM: $pids vs driver $driverPid")
  }

  test("shuffle join + streaming state agree with their batch analogs across JVMs") {
    // j2's shuffle crosses a real socket here; the streaming replay's state
    // store lives in executor heaps the driver cannot reach by reference
    val j2 = SparkEntry.queries("j2_join_shuffle")(spark, sf)
    assert(j2.count() > 0)
    val streamRows = SparkEntry.queries("st_stream_tumbling")(spark, sf)
      .collect().map(_.toString).sorted
    val batchRows = SparkEntry.queries("st_tumbling_window")(spark, sf)
      .collect().map(_.toString).sorted
    assert(streamRows.nonEmpty && streamRows.sameElements(batchRows),
      "streaming replay diverged from its batch analog under multi-JVM state stores")
  }

  test("x10 composed pipeline runs whole across executor JVMs, stages monotonic and deterministic") {
    // the 10-stage manifest exercises checkpoint blocks, broadcast gram
    // probes, semi-join restrictions, and budget-bounded windows — all
    // crossing real JVM boundaries here (checkpoint blocks live in
    // executor block managers the driver cannot reach by reference)
    def run() = SparkEntry.queries("x10_full_pipeline")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).sortBy(_._1)
    val m = run()
    assert(m.length == 10, s"expected 10 stage rows, got ${m.map(_._1).toSeq}")
    val counts = m.map(_._2._1)
    assert(counts.head > 0, "ingest stage must see the corpus")
    for (w <- counts.take(8).sliding(2); if w.length == 2)
      assert(w(1) <= w(0), s"a stage grew the survivor set: ${m.toSeq}")
    assert(run().sameElements(m),
      "x10 must be run-to-run deterministic across executor JVMs")
  }

  test("gang rendezvous + TCP all-reduce spans both executor JVMs") {
    // worldSize 6 > one executor's 4 cores, so the barrier stage MUST place
    // ranks in both JVMs; each worker's metric is its own pid, proving it
    object PidAllReduce extends Gang.GangTrainFn {
      def apply(ctx: Gang.GangContext): Double = {
        require(ctx.peers.size == ctx.worldSize)
        // two rounds over the exchanged endpoints: executor<->executor TCP
        val n = ctx.allReduceSum(1.0)
        require(n == ctx.worldSize.toDouble, s"all-reduce saw $n of ${ctx.worldSize}")
        val sumRanks = ctx.allReduceSum(ctx.rank.toDouble)
        require(sumRanks == (0 until ctx.worldSize).sum.toDouble)
        ctx.barrier()
        ProcessHandle.current().pid().toDouble
      }
    }
    val res = Graft.gang(spark, DistributedConfig(worldSize = 6))(PidAllReduce)
    assert(res.workers.map(_.rank).sorted == IndexedSeq(0, 1, 2, 3, 4, 5))
    val gangPids = res.workers.map(_.metric).toSet
    assert(gangPids.size >= 2, s"gang ran inside one JVM: $gangPids")
    assert(!gangPids.contains(ProcessHandle.current().pid().toDouble),
      "a gang worker ran in the driver JVM")
  }

  test("lagom HPO: trials run in executor JVMs, RPC reaches the driver over TCP") {
    val marker = s"${sys.props("java.io.tmpdir")}/graft_cluster_trials_${System.nanoTime()}"
    new java.io.File(marker).mkdirs()
    val space = Searchspace(Seq(DoubleParam("x", 0, 5)))
    // the train fn ships SERIALIZED to executor JVMs; its pid marker files
    // land on the shared /tmp, where the driver-side test can count JVMs
    val dir = marker
    object PidFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val pid = ProcessHandle.current().pid()
        new java.io.File(s"$dir/pid_$pid").createNewFile()
        val x = ctx.double("x")
        -(x - 3.0) * (x - 3.0)
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 12, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none"))(PidFn)
    assert(res.numTrials == 12)
    assert(res.errored == 0)
    val pids = Option(new java.io.File(marker).list()).getOrElse(Array.empty)
      .filter(_.startsWith("pid_")).map(_.stripPrefix("pid_").toLong).toSet
    assert(pids.nonEmpty && !pids.contains(ProcessHandle.current().pid()),
      s"trials ran in the driver JVM: $pids")
    assert(pids.size >= 2, s"all trials landed in one executor JVM: $pids")
  }

  test("continuous trigger across executor JVMs: dedup state plateaus under watermark eviction") { retryOnce("continuous plateau") {
    // the unbounded-source half of the streaming story, run where the
    // state stores live in EXECUTOR heaps and checkpoint through the
    // shared filesystem — the combination neither the local[4] continuous
    // test nor the AvailableNow replays cover
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_mc_cont_${System.nanoTime()}"
    // same shape, poll, and thresholds as StreamingSuite's local[4] run —
    // one harness, so a flakiness fix tunes both suites at once
    val dedup = StreamPlateau.dupEvents(spark)
      .withWatermark("ts", "5 seconds")
      .dropDuplicatesWithinWatermark("event_id")
    val q = StreamPlateau.start(dedup, "append", ckpt)
    try {
      StreamPlateau.awaitAndAssert(
        Seq(StreamPlateau.Check(q, "mc-dedup", needRemoved = true)))
    } finally {
      try q.stop() catch { case _: Throwable => }
      graft.data.Frames.deleteRecursively(new java.io.File(ckpt))
    }
  } }

  test("ASHA multi-fidelity HPO e2e across executor JVMs: budgets ship, promotions complete") {
    // the budget/promotion half of the RPC protocol (GET carries budget,
    // FINAL feeds rung promotion) exercised where trials deserialize their
    // closures in executor processes — LagomSpec covers it on local[2]
    val space = Searchspace(Seq(DoubleParam("x", 0, 5)))
    object BudgetedFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val budget = ctx.budget.getOrElse(1.0)
        val x = ctx.double("x")
        -(x - 3.2) * (x - 3.2) / budget
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 9, optimizer = "asha", searchspace = space,
      direction = Direction.Max, esPolicy = "none",
      optimizerArgs = Map("reduction_factor" -> 3.0,
        "resource_min" -> 1.0, "resource_max" -> 3.0)))(BudgetedFn)
    assert(res.numTrials >= 9)
    assert(res.errored == 0)
    val budgets = res.trials.flatMap(_.budget).distinct.sorted
    assert(budgets.head == 1.0, s"rung-0 budget missing: $budgets")
    assert(budgets.length >= 2, s"no promotion past rung 0 happened: $budgets")
  }

  test("median early stop reaches executor-JVM trials over the heartbeat channel (T8)") { retryOnce("median early stop") {
    // the STOP signal rides the heartbeat ACK (reference rpc.py:447-461):
    // here the heartbeat is a real TCP round-trip from an executor process,
    // and the EarlyStopException must fire inside that JVM's train fn
    val space = Searchspace(Seq(DoubleParam("x", 0, 5)))
    object SteppedFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val x = ctx.double("x")
        val strong = x > 2.5
        var last = 0.0
        (0 until 50).foreach { step =>
          last = if (strong) 10.0 + x + step * 0.01 else x - 10.0 + step * 0.01
          ctx.reporter.broadcast(last, step.toLong)
          Thread.sleep(20)
        }
        last
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 12, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "median", esIntervalSteps = 1, esMin = 4,
      hbIntervalMs = 50))(SteppedFn)
    assert(res.numTrials == 12)
    assert(res.earlyStopped >= 1,
      s"no cross-JVM early stop fired (earlyStopped=${res.earlyStopped})")
    assert(res.trials.filter(_.early_stopped).forall(_.metric.isDefined))
  } }

  test("executor loss mid-stream: state recovers from checkpoint, replay equals batch") { retryOnce("executor loss mid-stream") {
    // the streaming half of the chaos matrix: a complete-mode window
    // aggregation builds its state across 16 micro-batches in EXECUTOR
    // state stores; SIGKILL of an executor mid-replay forces the retried
    // tasks to reload that state from the shared checkpoint — the final
    // table must still equal the batch analog exactly (no lost or
    // double-counted events)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = s"${sys.props("java.io.tmpdir")}/graft_mc_chaos_${System.nanoTime()}"
    val stage = s"$base/events"
    val events = graft.data.Tables(spark, sf, "events")
    events.repartition(16).write.parquet(stage)
    def aggOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    val expected = aggOf(spark.read.parquet(stage))
      .collect().map(_.toString).sorted
    val victims = executorPids()
    val victim = victims.values.min
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = aggOf(stream).writeStream
      .format("memory").queryName("mc_chaos_agg").outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      // kill once ≥2 micro-batches have committed (so real state is in the
      // stores) and well before the 16th (so recovery happens mid-replay)
      val deadline = System.currentTimeMillis() + 60000
      while (q.isActive && Option(q.lastProgress).forall(_.batchId < 2) &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      val batchAtKill = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      assert(batchAtKill >= 2, s"replay never reached batch 2 (at $batchAtKill)")
      assert(q.isActive && batchAtKill < 14,
        s"replay finished before the kill could land (batch $batchAtKill) — stage more files")
      Runtime.getRuntime.exec(Array("kill", "-9", victim.toString)).waitFor()
      q.awaitTermination(120000)
      assert(!q.isActive, "replay did not finish within 120s of the executor kill")
      val got = spark.table("mc_chaos_agg").collect().map(_.toString).sorted
      assert(got.sameElements(expected),
        s"stream after executor loss diverged from batch: ${got.length} vs ${expected.length} rows")
      // and the cluster healed: the victim is gone, a replacement serves work
      val healed = executorPids()
      assert(healed.size == 2 && !healed.values.toSet.contains(victim),
        s"no replacement executor after kill: $healed")
    } finally {
      try q.stop() catch { case _: Throwable => }
      graft.data.Frames.deleteRecursively(new java.io.File(base))
    }
  } }

  test("executor loss mid-trial: lost trial errors, slot re-registers, experiment completes") { retryOnce("executor loss mid-trial") {
    val space = Searchspace(Seq(DoubleParam("x", 0, 5)))
    object SlowFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        Thread.sleep(4000)
        val x = ctx.double("x")
        -(x - 3.0) * (x - 3.0)
      }
    }
    val victims = executorPids()
    val victim = victims.values.min
    // kill one executor JVM 1.5 s into the experiment — mid-round-1, while
    // ~8 trials sleep inside their train fns. The Spark tasks on the dead
    // executor fail with ExecutorLostFailure, the standalone master
    // relaunches an executor, the retried tasks RE-REGISTER their
    // partitions, and the driver marks the lost Running trials ERROR
    // (DriverServer REG path; reference rpc.py:415-437) so the experiment
    // drains instead of waiting forever.
    val killer = new Thread(() => {
      Thread.sleep(1500)
      Runtime.getRuntime.exec(Array("kill", "-9", victim.toString)).waitFor()
    })
    killer.setDaemon(true)
    killer.start()
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 10, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none"))(SlowFn)
    killer.join()
    assert(res.errored >= 1, "executor kill produced no ERROR trial — kill too early/late?")
    // errored trials are not finalized (DriverServer marks ERROR, frees the
    // slot): the suggestion budget of 10 = finalized + errored
    assert(res.numTrials + res.errored == 10,
      s"experiment lost trials: ${res.numTrials} finalized + ${res.errored} errored != 10")
    assert(res.bestMetric > -9.0, s"best ${res.bestMetric}")
    // the cluster healed: a replacement executor is up and doing work
    val healed = executorPids()
    assert(healed.size == 2 && !healed.values.toSet.contains(victim),
      s"no replacement executor after kill: $healed")
  } }
}
