package graft

import graft.api.{Graft, TrialRow}
import graft.ablate.AblationStudy
import graft.core._
import graft.core.HParam._
import graft.exec.{Gang, TrainFn, TrialContext}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Static holder for cross-JVM-boundary-free markers: local-mode tasks
  * deserialize their closures, so an instance field would be a copy — a
  * static survives because the executor shares the JVM. */
object LagomSpec {
  @volatile var trainReturnNs: Long = 0L
}

/** End-to-end lagom experiments on local[2] (SURVEY §5.2.4): deterministic
  * train fns with analytically known optima; assertions are set-level
  * (async assignment is timing-dependent — SURVEY §7.4.4). */
class LagomSpec extends AnyFunSuite with ScratchRoot {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("lagom-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val space = Searchspace(Seq(DoubleParam("x", 0, 5), DoubleParam("y", 0, 5)))

  /** Pure objective: argmax at (3.2, 2). */
  private object Objective extends TrainFn {
    def apply(ctx: TrialContext): Double = {
      val x = ctx.double("x"); val y = ctx.double("y")
      val v = -(x - 3.2) * (x - 3.2) - (y - 2) * (y - 2)
      ctx.reporter.broadcast(v, 0)
      v
    }
  }

  test("random search e2e: exact trial count, best near optimum, distinct configs") {
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 20, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none"))(Objective)
    assert(res.numTrials == 20)
    assert(res.trials.map(_.trial_id).distinct.size == 20)
    assert(res.bestMetric > -3.0, s"best ${res.bestMetric}")
    assert(res.bestMetric >= res.worstMetric)
    assert(res.avgMetric <= res.bestMetric && res.avgMetric >= res.worstMetric)
  }

  test("grid search e2e enumerates the product") {
    val gridSpace = Searchspace(Seq(
      DiscreteParam("x", Seq(1, 2, 3)), CategoricalParam("mode", Seq("a", "b"))))
    object GridFn extends TrainFn {
      def apply(ctx: TrialContext): Double =
        ctx.double("x") + (if (ctx.string("mode") == "a") 10 else 0)
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 0, optimizer = "gridsearch", searchspace = gridSpace,
      direction = Direction.Max, esPolicy = "none"))(GridFn)
    assert(res.numTrials == 6)
    assert(res.bestMetric == 13.0) // x=3, mode=a
    assert(res.bestConfig("x").asDouble == 3.0)
  }

  test("ASHA e2e: multi-fidelity promotion completes and finds good configs") {
    object BudgetedFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val budget = ctx.budget.getOrElse(1.0)
        // more budget → less noise around the true objective
        val x = ctx.double("x")
        -(x - 3.2) * (x - 3.2) / budget
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 9, optimizer = "asha", searchspace = space,
      direction = Direction.Max, esPolicy = "none",
      optimizerArgs = Map("reduction_factor" -> 3.0, "resource_min" -> 1.0, "resource_max" -> 3.0)))(BudgetedFn)
    // 9 rung-0 trials plus promotions into rung 1 (budget 3)
    assert(res.numTrials >= 9)
    val budgets = res.trials.flatMap(_.budget).distinct.sorted
    assert(budgets.head == 1.0)
  }

  test("median early stopping stops weak trials") {
    // weak trials (even run_index) report low metrics over many steps; strong
    // report high. After esMin finalize, weak ones get stopped mid-run.
    object SteppedFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val x = ctx.double("x")
        val strong = x > 2.5
        var last = 0.0
        try {
          (0 until 50).foreach { step =>
            last = if (strong) 10.0 + x + step * 0.01 else x - 10.0 + step * 0.01
            ctx.reporter.broadcast(last, step.toLong)
            Thread.sleep(20)
          }
        } catch { case e: graft.exec.EarlyStopException => throw e }
        last
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 12, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "median", esIntervalSteps = 1, esMin = 4,
      hbIntervalMs = 50))(SteppedFn)
    assert(res.numTrials == 12)
    // at least one weak trial should have been early-stopped
    assert(res.earlyStopped >= 1, s"expected early stops, got ${res.earlyStopped}")
    // early-stopped trials still carry their last metric
    assert(res.trials.filter(_.early_stopped).forall(_.metric.isDefined))
  }

  test("ablation (LOCO) e2e: base + one trial per feature") {
    object AblFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val ablated = ctx.string("ablated_feature")
        if (ablated == graft.ablate.Loco.BaseMarker) 1.0 else 0.5
      }
    }
    val res = Graft.lagom(spark, AblationConfig(
      AblationStudy(features = Set("f1", "f2", "f3"))))(AblFn)
    assert(res.numTrials == 4)
    assert(res.bestMetric == 1.0)
    assert(res.trials.count(_.metric.contains(0.5)) == 3)
  }

  test("trials dataset supports data-plane analytics (argmax over trials)") {
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 8, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none"))(Objective)
    val ds = Graft.trialsDataset(spark, res)
    import org.apache.spark.sql.functions._
    val row = ds.agg(
      max_by(col("trial_id"), col("metric")).as("best_id"),
      round(avg(col("metric")), 9).as("avg_metric")).head()
    assert(row.getString(0) == res.bestId)
    assert(math.abs(row.getDouble(1) - res.avgMetric) < 1e-6)
  }

  test("experiment persistence: result.json + per-trial logs land in logDir") {
    val logDir = scratch("logs")
    object LoggingFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        ctx.reporter.log(s"starting trial ${ctx.trialId}")
        val v = -(ctx.double("x") - 3.2) * (ctx.double("x") - 3.2)
        ctx.reporter.broadcast(v, 0)
        ctx.reporter.log("finished")
        v
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 4, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none", logDir = Some(logDir)))(LoggingFn)
    val resultJson = java.nio.file.Paths.get(logDir, "result.json")
    assert(java.nio.file.Files.exists(resultJson))
    val txt = java.nio.file.Files.readString(resultJson)
    assert(txt.contains("\"best_id\": \"" + res.bestId + "\""))
    assert(txt.contains("\"num_trials\": 4"))
    val trialsDir = java.nio.file.Paths.get(logDir, "trials")
    // trials/ holds <id>.log files plus one TB-session directory per trial
    // (TbHparams.writeSession) — count only the logs here
    val logFiles = java.nio.file.Files.list(trialsDir).toArray.map(_.toString)
      .filter(_.endsWith(".log"))
    assert(logFiles.length == 4, s"expected 4 trial logs, got ${logFiles.toSeq}")
    res.trials.foreach { t =>
      val content = java.nio.file.Files.readString(
        java.nio.file.Paths.get(logDir, "trials", s"${t.trial_id}.log"))
      assert(content.contains(s"starting trial ${t.trial_id}"))
      assert(content.contains("finished"))
    }
    // hparams.jsonl: one JSON line per trial, loadable by spark.read.json
    val hparams = java.nio.file.Paths.get(logDir, "hparams.jsonl")
    assert(java.nio.file.Files.exists(hparams))
    val hdf = spark.read.json(hparams.toString)
    assert(hdf.count() == 4)
    assert(hdf.columns.toSet == Set("trial_id", "hparams", "metric", "budget"))
    assert(hdf.select("trial_id").collect().map(_.getString(0)).toSet ==
      res.trials.map(_.trial_id).toSet)
    // tb_hparams.json: the experiment-LEVEL domain config (reference
    // tensorboard.py:47-107) — searchspace domains + metric descriptor
    val tb = java.nio.file.Files.readString(
      java.nio.file.Paths.get(logDir, "tb_hparams.json"))
    assert(tb.contains("\"name\": \"x\", \"type\": \"REAL_INTERVAL\", \"min\": 0.0, \"max\": 5.0"), tb)
    assert(tb.contains("\"name\": \"y\", \"type\": \"REAL_INTERVAL\""), tb)
    assert(tb.contains("\"metrics\": [{\"tag\": \"metric\""), tb)
  }

  test("throwing train fn marks its trial ERROR; experiment still completes") {
    val gridSpace = Searchspace(Seq(
      DiscreteParam("x", Seq(1, 2, 3)), CategoricalParam("mode", Seq("a", "b"))))
    object FlakyFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        if (ctx.double("x") == 2.0 && ctx.string("mode") == "b")
          throw new IllegalStateException("injected train failure")
        ctx.double("x")
      }
    }
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 0, optimizer = "gridsearch", searchspace = gridSpace,
      direction = Direction.Max, esPolicy = "none"))(FlakyFn)
    assert(res.numTrials == 5, s"expected 5 finalized of 6 (1 errored), got ${res.numTrials}")
    assert(res.errored == 1)
    assert(res.bestMetric == 3.0)
  }

  test("executor re-registration marks its lost Running trial ERROR and frees the slot") {
    import graft.exec.{DriverServer, MsgType, Wire}
    import graft.optimize.RandomSearch
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.Socket

    val opt = new RandomSearch()
    opt.initialize(space, numTrials = 3, Direction.Max, seed = 7L)
    val server = new DriverServer(opt, Direction.Max, graft.optimize.NoStoppingRule)
    server.start()
    try {
      val sock = new Socket(server.host, server.port)
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      def req(fields: Map[String, String]): Map[String, String] = {
        Wire.send(out, fields + ("secret" -> server.authSecret))
        Wire.recv(in)
      }
      req(Map("type" -> MsgType.Reg, "partition" -> "0"))
      val t1 = req(Map("type" -> MsgType.Get, "partition" -> "0"))
      assert(t1("type") == MsgType.Trial)
      // executor "dies" without FINAL; Spark's task retry re-registers
      req(Map("type" -> MsgType.Reg, "partition" -> "0"))
      assert(server.erroredCount == 1)
      val lost = server.allTrials.find(_.trialId == t1("trial_id")).get
      assert(lost.status == TrialStatus.Error)
      // the slot is free again: a new, different trial is assigned
      val t2 = req(Map("type" -> MsgType.Get, "partition" -> "0"))
      assert(t2("type") == MsgType.Trial)
      assert(t2("trial_id") != t1("trial_id"))
      // reregisterSlot is the same signal emitted manually — the local thread
      // pool uses it when a slot dies for good (no Spark retry to REG)
      graft.exec.TrialExecutor.reregisterSlot(server.host, server.port, server.authSecret, 0)
      assert(server.erroredCount == 2)
      assert(server.allTrials.find(_.trialId == t2("trial_id"))
        .exists(_.status == TrialStatus.Error))
      sock.close()
    } finally server.stop()
  }

  test("async scheduling beats synchronized batches on variable-duration trials") {
    // workload shape from maggy/tests/test_randomsearch.py:83-87 (variable
    // trial durations, 2 executors), made deterministic: half long (500 ms),
    // half short (100 ms). BSP pairs one long + one short per batch and pays
    // the max; async work-steals.
    val durations = Seq(501.0, 101.0, 502.0, 102.0, 503.0, 103.0, 504.0, 104.0)
    object SleepFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        Thread.sleep(ctx.double("d").toLong)
        -ctx.double("d")
      }
    }
    val sleepSpace = Searchspace(Seq(DiscreteParam("d", durations)))
    // warm up the 2-partition job path so neither timing pays first-job cost
    spark.sparkContext.parallelize(0 until 2, 2).foreach(_ => ())

    val t0 = System.currentTimeMillis()
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 0, optimizer = "gridsearch", searchspace = sleepSpace,
      direction = Direction.Max, esPolicy = "none"))(SleepFn)
    val asyncMs = System.currentTimeMillis() - t0
    assert(res.numTrials == durations.size)

    // synchronized-batch baseline: real Spark jobs, batches of 2 with a
    // barrier between batches (the BSP strawman the reference compares to)
    val t1 = System.currentTimeMillis()
    durations.grouped(2).foreach { batch =>
      spark.sparkContext.parallelize(batch, 2).foreach(d => Thread.sleep(d.toLong))
    }
    val batchMs = System.currentTimeMillis() - t1
    assert(asyncMs < batchMs, s"async $asyncMs ms vs batch $batchMs ms")
  }

  test("gang (barrier) execution: all-up start, address exchange, TCP all-reduce") {
    // Synthetic distributed train fn: two all-reduce rounds over the
    // rendezvous'd master address prove the exchanged endpoints carry real
    // executor<->executor traffic (the reference's NCCL boundary —
    // torch_dist_executor.py:247-285 exchanges MASTER_ADDR then moves data
    // outside the RPC channel).
    object AllReduceFn extends Gang.GangTrainFn {
      def apply(ctx: Gang.GangContext): Double = {
        require(ctx.peers.size == ctx.worldSize, "rendezvous must list every worker")
        require(ctx.env.asMap("RANK") == ctx.rank.toString)
        require(ctx.env.asMap("MASTER_ADDR") + ":" + ctx.env.asMap("MASTER_PORT")
          == ctx.peers.head)
        // TF role contract inside a live gang: a 2-gang is chief + evaluator
        // (the reference demotes the last worker), and TF_CONFIG carries the
        // rendezvous'd addresses
        val role = ctx.tfTask
        require((ctx.rank == 0 && role == Gang.TfTask("chief", 0)) ||
          (ctx.rank == 1 && role == Gang.TfTask("evaluator", 0)), role.toString)
        require(ctx.tfConfigJson.contains("\"chief\":[\"" + ctx.peers.head + "\"]"),
          ctx.tfConfigJson)
        val round1 = ctx.allReduceSum((ctx.rank + 1).toDouble) // 1+2 = 3
        val round2 = ctx.allReduceSum(round1) // 3+3 = 6: every worker agreed
        ctx.barrier()
        round2
      }
    }
    val gangLogs = scratch("gang_test")
    val res = Graft.gang(spark, DistributedConfig(worldSize = 2,
      logDir = Some(gangLogs)))(AllReduceFn)
    assert(res.workers.map(_.rank) == IndexedSeq(0, 1))
    // both all-reduce rounds produced the same agreed total on every worker
    assert(res.workers.forall(_.metric == 6.0), res.workers.toString)
    assert(res.mean == 6.0)
    // all-up start: the rendezvous completed on every worker only after
    // EVERY worker had launched (allGather happens-after all starts)
    val maxStart = res.workers.map(_.startNs).max
    assert(res.workers.forall(_.gatherNs >= maxStart),
      s"gather finished before some worker started: $res")
    // persisted like any experiment (reference writes result.json)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$gangLogs/result.json"))
    assert(json.contains("\"world_size\": 2") && json.contains("\"avg_metric\": 6.0"))
  }

  test("gang + sharded dataset: each worker streams its disjoint slice, global sum agrees") {
    // The reference's flagship path end-to-end: rendezvous, per-rank data
    // shard (Petastorm cur_shard/shard_count analog), worker-side streaming
    // read of the shard (the executor DataLoader analog — no nested Spark
    // jobs inside a barrier task), all-reduce of the result
    // (torch_dist_executor.py:87-179 + dataloader.py:124-130).
    val sqlc = spark
    import sqlc.implicits._
    import graft.sources.{Datasets, TfRecordFormat}
    val dir = scratchDir("gang_ds")
    (1L to 1000L).toDF("id").repartition(5)
      .write.mode("overwrite").format("tfrecord").save(dir)
    val files = Datasets.dataFiles(spark, dir).map(_.stripPrefix("file:"))

    object ShardedTrainFn extends Gang.GangTrainFn {
      def apply(ctx: Gang.GangContext): Double = {
        var local = 0L
        Datasets.shardFiles(files, ctx.rank, ctx.worldSize).foreach { f =>
          val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
            new java.io.FileInputStream(f)))
          try {
            var rec = TfRecordFormat.readRecord(in)
            while (rec.isDefined) {
              TfRecordFormat.parseExample(rec.get, _ == "id").get("id").foreach {
                case TfRecordFormat.Int64Feature(vs) => local += vs.head
                case _ => ()
              }
              rec = TfRecordFormat.readRecord(in)
            }
          } finally in.close()
        }
        ctx.allReduceSum(local.toDouble)
      }
    }
    val res = Graft.gang(spark, DistributedConfig(worldSize = 2))(ShardedTrainFn)
    // disjoint shards covering the dataset => the all-reduced total on every
    // worker is the full-corpus sum
    assert(res.workers.forall(_.metric == 500500.0), res.workers.toString)
  }

  test("train-fn log lines stream live to the driver before the trial finishes") {
    // the reference relays executor print/log lines driver-side per
    // heartbeat (reporter.py:137-170, rpc.py LOG path) — prove the line
    // arrives at the driver WHILE the trial is still running, not with FINAL
    val arrived = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    object ChattyFn extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        ctx.reporter.log(s"epoch 0 of ${ctx.trialId}")
        // many heartbeat intervals of margin: the relay must win even if a
        // GC pause stalls the heartbeat thread on a loaded test JVM
        Thread.sleep(1500)
        LagomSpec.trainReturnNs = System.nanoTime()
        1.0
      }
    }
    LagomSpec.trainReturnNs = 0L
    val res = Graft.lagom(spark, HyperparameterOptConfig(
      numTrials = 1, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none", hbIntervalMs = 100,
      logSink = Some((id, line) => arrived.add((id, line, System.nanoTime())))))(ChattyFn)
    assert(res.numTrials == 1)
    val lines = arrived.toArray(Array.empty[(String, String, Long)])
    assert(lines.exists(_._2.startsWith("epoch 0 of ")), s"no relayed line: ${lines.toSeq}")
    val firstArrival = lines.map(_._3).min
    assert(LagomSpec.trainReturnNs > 0L)
    assert(firstArrival < LagomSpec.trainReturnNs,
      "log line reached the driver only after the train fn returned")
  }

  test("lagomLocal runs the whole experiment without a Spark cluster (python-mode analog)") {
    // reference experiment_python.py / python_driver.py: same protocol,
    // executor loops on local threads. No SparkSession is touched.
    object LocalObjective extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        val x = ctx.double("x"); val y = ctx.double("y")
        -(x - 3.2) * (x - 3.2) - (y - 2) * (y - 2)
      }
    }
    val res = Graft.lagomLocal(HyperparameterOptConfig(
      numTrials = 12, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, esPolicy = "none"), parallelism = 3)(LocalObjective)
    assert(res.numTrials == 12)
    assert(res.trials.map(_.trial_id).distinct.size == 12)
    assert(res.bestMetric >= res.worstMetric)
    // grid search local: exact product enumeration, same as the Spark path
    val gridSpace = Searchspace(Seq(
      DiscreteParam("x", Seq(1, 2, 3)), CategoricalParam("mode", Seq("a", "b"))))
    object GridFn extends TrainFn {
      def apply(ctx: TrialContext): Double =
        ctx.double("x") + (if (ctx.string("mode") == "a") 10 else 0)
    }
    val grid = Graft.lagomLocal(HyperparameterOptConfig(
      numTrials = 0, optimizer = "gridsearch", searchspace = gridSpace,
      direction = Direction.Max, esPolicy = "none"), parallelism = 2)(GridFn)
    assert(grid.numTrials == 6)
    assert(grid.bestMetric == 13.0)
    // a throwing train fn fails its trial, not the experiment — same
    // contract as the Spark path
    object FlakyLocal extends TrainFn {
      def apply(ctx: TrialContext): Double = {
        if (ctx.double("x") == 2.0 && ctx.string("mode") == "b")
          throw new IllegalStateException("injected local train failure")
        ctx.double("x")
      }
    }
    val flaky = Graft.lagomLocal(HyperparameterOptConfig(
      numTrials = 0, optimizer = "gridsearch", searchspace = gridSpace,
      direction = Direction.Max, esPolicy = "none"), parallelism = 2)(FlakyLocal)
    assert(flaky.numTrials == 5 && flaky.errored == 1)
  }

  test("multi-metric train fn: optimizationKey drives the search, extras relay as logs") {
    // reference handle_return_val (util.py:159-199): dict return + key
    // selection; missing key fails the trial, not the experiment
    val relayed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    object MultiFn extends Graft.MultiTrainFn {
      def apply(ctx: TrialContext): Map[String, Double] = {
        val x = ctx.double("x")
        Map("val_acc" -> -(x - 3.2) * (x - 3.2), "train_loss" -> x * 0.1)
      }
    }
    val logDir = scratchDir("multi")
    val res = Graft.lagomMultiLocal(HyperparameterOptConfig(
      numTrials = 6, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, optimizationKey = "val_acc", esPolicy = "none",
      hbIntervalMs = 50, logDir = Some(logDir),
      logSink = Some((_, line) => relayed.add(line))), parallelism = 2)(MultiFn)
    assert(res.numTrials == 6)
    assert(res.bestMetric <= 0.0) // val_acc is ≤ 0 by construction
    assert(relayed.toArray(Array.empty[String]).exists(_.startsWith("metric train_loss=")),
      s"non-driving metric not relayed: ${relayed.toArray.toSeq}")
    // the full metric dict PERSISTS per trial (reference handle_return_val
    // writes the whole return dict): extras land on the in-memory rows and
    // in hparams.jsonl / result.json, with values matching the train fn
    assert(res.trials.forall(t => t.extras.keySet == Set("train_loss")),
      s"extras missing on trial rows: ${res.trials.map(_.extras)}")
    res.trials.foreach { t =>
      val x = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(t.params_json).get("x").asDouble()
      assert(math.abs(t.extras("train_loss") - x * 0.1) < 1e-9)
    }
    val hparamsLines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(logDir, "hparams.jsonl")).trim.split("\n")
    assert(hparamsLines.length == 6 &&
      hparamsLines.forall(_.contains(""""extras": {"train_loss": """)),
      s"extras not persisted in hparams.jsonl: ${hparamsLines.head}")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(logDir, "result.json"))
      .contains(""""extras": {"train_loss": """))
    // a fn that omits the key fails ITS trial (ERROR), experiment completes
    object MissingKeyFn extends Graft.MultiTrainFn {
      def apply(ctx: TrialContext): Map[String, Double] =
        if (ctx.double("x") < 2.5) Map("wrong_key" -> 1.0)
        else Map("val_acc" -> ctx.double("x"))
    }
    val res2 = Graft.lagomMultiLocal(HyperparameterOptConfig(
      numTrials = 8, optimizer = "randomsearch", searchspace = space,
      direction = Direction.Max, optimizationKey = "val_acc",
      esPolicy = "none"), parallelism = 2)(MissingKeyFn)
    assert(res2.errored > 0 && res2.numTrials + res2.errored == 8,
      s"expected errored+finalized == 8: $res2")
  }

  test("TensorBoard hparams event files: framing, plugin headers, domains, sessions") {
    import graft.exec.TbHparams
    val logDir = scratchDir("tb")
    val mixedSpace = Searchspace(Seq(
      DoubleParam("lr", 0.001, 0.1), IntParam("layers", 1, 4),
      CategoricalParam("opt", Seq("sgd", "adam"))))
    val res = Graft.lagomLocal(HyperparameterOptConfig(
      numTrials = 4, optimizer = "randomsearch", searchspace = mixedSpace,
      direction = Direction.Max, esPolicy = "none", logDir = Some(logDir)),
      parallelism = 2) { (ctx: TrialContext) => ctx.double("lr") * 10 }
    assert(res.numTrials == 4)

    // experiment-level file: TFRecord framing + file_version + the
    // hparams-plugin header carrying the Experiment message with the domains
    val expFile = new java.io.File(logDir).listFiles()
      .filter(_.getName.contains("tfevents")).map(_.getPath).toSeq
    assert(expFile.size == 1, s"expected one experiment tfevents file: $expFile")
    val expRecords = TbHparams.readEvents(expFile.head)
    assert(expRecords.head.fileVersion.contains("brain.Event:2"))
    val expRec = expRecords.find(_.tag.contains(TbHparams.ExperimentTag))
    assert(expRec.isDefined, s"no ${TbHparams.ExperimentTag} record: $expRecords")
    assert(expRec.get.pluginName.contains(TbHparams.PluginName))
    val content = new String(expRec.get.pluginContent.get,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    for (name <- Seq("lr", "layers", "opt", "sgd", "adam", "metric"))
      assert(content.contains(name), s"experiment plugin data missing '$name'")

    // per-trial session files: start info (with the hparam names), the
    // final-metric scalar, end info — all under trials/<id>/
    res.trials.foreach { t =>
      val dir = java.nio.file.Paths.get(logDir, "trials", t.trial_id).toFile
      val sessFiles = dir.listFiles().filter(_.getName.contains("tfevents"))
      assert(sessFiles.length == 1, s"expected one session file in $dir")
      val recs = TbHparams.readEvents(sessFiles.head.getPath)
      val start = recs.find(_.tag.contains(TbHparams.SessionStartTag))
      assert(start.isDefined && start.get.pluginName.contains(TbHparams.PluginName))
      val sc = new String(start.get.pluginContent.get,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      for (name <- Seq("lr", "layers", "opt", t.trial_id))
        assert(sc.contains(name), s"session start info missing '$name'")
      assert(recs.exists(_.tag.contains(TbHparams.SessionEndTag)))
      val scalar = recs.find(_.tag.contains("metric"))
      assert(scalar.isDefined && scalar.get.simpleValue.isDefined)
      assert(math.abs(scalar.get.simpleValue.get - t.metric.get) < 1e-4,
        s"metric scalar ${scalar.get.simpleValue} != ${t.metric}")
    }
  }

  test("TF cluster roles mirror the reference's chief/worker/evaluator table") {
    import Gang.{tfRole, tfClusterSpec, TfTask}
    // reference demotion (tf_dist_executor.py:129-144): rank 0 chief, last
    // worker becomes the evaluator, remaining ranks are workers from index 0
    assert(tfRole(0, 1) == TfTask("chief", 0))
    assert(tfRole(0, 2) == TfTask("chief", 0))
    assert(tfRole(1, 2) == TfTask("evaluator", 0))
    assert((0 until 4).map(tfRole(_, 4)) == Seq(
      TfTask("chief", 0), TfTask("worker", 0), TfTask("worker", 1),
      TfTask("evaluator", 0)))
    assertThrows[IllegalArgumentException](tfRole(4, 4))
    // cluster half: single node is chief-only; a 2-gang keeps the explicit
    // empty worker list (the post-demotion shape the reference leaves)
    assert(tfClusterSpec(IndexedSeq("a:1")) == Map("chief" -> IndexedSeq("a:1")))
    assert(tfClusterSpec(IndexedSeq("a:1", "b:2")) == Map(
      "chief" -> IndexedSeq("a:1"), "worker" -> IndexedSeq.empty,
      "evaluator" -> IndexedSeq("b:2")))
    assert(tfClusterSpec(IndexedSeq("a:1", "b:2", "c:3", "d:4")) == Map(
      "chief" -> IndexedSeq("a:1"), "worker" -> IndexedSeq("b:2", "c:3"),
      "evaluator" -> IndexedSeq("d:4")))
  }
}
