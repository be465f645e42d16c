package graft.api

import graft.core._
import graft.exec._
import graft.optimize._
import org.apache.spark.sql.{Dataset, SparkSession}

/** Flat trial row for data-plane analytics over experiment results
  * (SURVEY §1.1: finished trials are a Dataset so result aggregation is
  * Spark SQL — best/worst/avg via max_by/min_by/avg). */
final case class TrialRow(
    trial_id: String,
    params_json: String,
    metric: Option[Double],
    budget: Option[Double],
    sample_type: String,
    early_stopped: Boolean,
    duration_ms: Long,
    metric_history: Seq[(Long, Double)],
    // non-driving metrics of a dict-returning train fn (Reporter.logMetric)
    extras: Map[String, Double] = Map.empty)

/** Experiment summary (reference result dict,
  * maggy/core/experiment_driver/optimization_driver.py:360-376). */
final case class ExperimentResult(
    bestId: String,
    bestConfig: Map[String, HV],
    bestMetric: Double,
    worstId: String,
    worstMetric: Double,
    avgMetric: Double,
    numTrials: Int,
    earlyStopped: Int,
    errored: Int,
    durationMs: Long,
    trials: Seq[TrialRow])

/** The `lagom` facade (reference: maggy/experiment/experiment.py:21-45 —
  * "lagom" dispatches a config + train fn onto Spark executors and runs the
  * experiment asynchronously).
  *
  * Execution model preserved from the reference (spark_driver.py:136-145):
  * one RDD partition per executor slot, long-running tasks that pull trials
  * over the RPC channel until GSTOP — executors never idle between trials
  * (async scheduling, no BSP barrier).
  */
object Graft {

  def lagom(spark: SparkSession, config: LagomConfig)(trainFn: TrainFn): ExperimentResult = {
    val r = resolve(config)
    val numExecutors = parallelism(spark, r.numTrials)
    runExperimentCore(r) { (host, port, secret) =>
      // primitives only in the task closure: Resolved holds the optimizer/
      // rule/sink, none of which are serializable (or needed) executor-side
      val hb = r.hbIntervalMs
      val sc = spark.sparkContext
      sc.setJobGroup(s"graft-lagom", s"experiment numTrials=${r.numTrials}", interruptOnCancel = true)
      // one long-running task per executor slot (reference spark_driver.py:136-145)
      sc.parallelize(0 until numExecutors, numExecutors).foreachPartition { it =>
        val pid = it.next()
        TrialExecutor.run(pid, host, port, secret, hb, pollIntervalMs = 50, trainFn)
      }
      sc.clearJobGroup()
    }
  }

  /** Multi-metric HPO: the reference lets a train fn return a metric DICT,
    * with `config.optimization_key` selecting the value that drives the
    * optimizer (maggy/util.py:159-199 `handle_return_val`; missing key
    * raises). The non-driving metrics are shipped through the per-trial
    * log relay (`metric <k>=<v>` lines), so they land live on the driver
    * console and in the trial's log file. */
  trait MultiTrainFn extends Serializable {
    def apply(ctx: TrialContext): Map[String, Double]
  }

  def lagomMulti(spark: SparkSession, config: HyperparameterOptConfig)(
      fn: MultiTrainFn): ExperimentResult =
    lagom(spark, config)(selectMetric(config.optimizationKey, fn))

  /** [[lagomMulti]] for the cluster-free path. */
  def lagomMultiLocal(config: HyperparameterOptConfig,
      parallelism: Int = Runtime.getRuntime.availableProcessors())(
      fn: MultiTrainFn): ExperimentResult =
    lagomLocal(config, parallelism)(selectMetric(config.optimizationKey, fn))

  private def selectMetric(key: String, fn: MultiTrainFn): TrainFn = new TrainFn {
    def apply(ctx: TrialContext): Double = {
      val metrics = fn(ctx)
      // reference semantics: a missing optimization key is a USER error and
      // fails the trial (ERROR status), not the experiment
      require(metrics.contains(key),
        s"train fn returned metrics ${metrics.keys.mkString(",")} without optimization key '$key'")
      metrics.foreach { case (k, v) =>
        if (k != key) ctx.reporter.logMetric(k, v)
      }
      metrics(key)
    }
  }

  /** `lagom` WITHOUT a Spark cluster — the reference's "python mode"
    * (maggy/experiment/experiment_python.py dispatching to
    * core/experiment_driver/python_driver.py, which runs executor loops on
    * local threads instead of Spark tasks). The wire protocol, async trial
    * scheduling, early stop, persistence, and log relay are IDENTICAL to
    * the Spark path — the only difference is the launcher: one daemon
    * thread per slot running the same TrialExecutor socket loop. For
    * laptop/CI experiments; the Spark path is the deployment path. */
  def lagomLocal(config: LagomConfig,
      parallelism: Int = Runtime.getRuntime.availableProcessors())(
      trainFn: TrainFn): ExperimentResult = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val r = resolve(config)
    val slots =
      if (r.numTrials <= 0) parallelism
      else math.max(1, math.min(parallelism, r.numTrials))
    runExperimentCore(r)(threadLauncher(slots, r.hbIntervalMs, trainFn))
  }

  /** Distributed gang-training experiment — the TorchDistributedConfig
    * analog (reference: experiment.lagom(train_fn, TorchDistributedConfig)
    * → torch_distributed_training_driver.py:35-44; per-worker results
    * averaged :49-70,130-143). Typed separately from [[lagom]] because the
    * gang train fn sees collective context (rank, world, peers, all-reduce),
    * not a per-trial context. See [[graft.exec.Gang]] for the barrier-mode
    * rendezvous design. */
  def gang(spark: SparkSession, config: DistributedConfig)(fn: Gang.GangTrainFn): Gang.GangResult = {
    val r = Gang.run(spark, config.worldSize, config.params, fn)
    config.logDir.foreach { d =>
      // NaN/Infinity are not JSON — a diverged train fn must not corrupt
      // the experiment record
      def num(v: Double): String = if (java.lang.Double.isFinite(v)) v.toString else "null"
      val workers = r.workers
        .map(w => s"""{"rank": ${w.rank}, "metric": ${num(w.metric)}}""")
        .mkString("[", ", ", "]")
      val json = s"""{"name": ${HV.S(config.name).jsonRender}, """ +
        s""""world_size": ${config.worldSize}, "avg_metric": ${num(r.mean)}, """ +
        s""""duration_ms": ${r.durationMs}, "workers": $workers}"""
      val dir = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("result.json"), json)
    }
    r
  }

  /** Experiment parameters resolved from a config — ONE dispatch site, so
    * the Spark and local launch paths cannot diverge on esPolicy mapping,
    * ablation trial enumeration, or defaults. */
  private final case class Resolved(
      optimizer: Optimizer,
      searchspace: Searchspace,
      numTrials: Int,
      direction: Direction.Value,
      esRule: EarlyStopRule,
      esIntervalSteps: Long,
      esMin: Int,
      seed: Long,
      hbIntervalMs: Long,
      logDir: Option[String],
      logSink: Option[(String, String) => Unit])

  private def resolve(config: LagomConfig): Resolved = config match {
    case c: HyperparameterOptConfig =>
      val esRule = c.esPolicy match {
        case "median" => MedianStoppingRule
        case _ => NoStoppingRule
      }
      Resolved(Optimizer.forName(c.optimizer, c.optimizerArgs), c.searchspace,
        c.numTrials, c.direction, esRule, c.esIntervalSteps, c.esMin, c.seed,
        c.hbIntervalMs, c.logDir, c.logSink)
    case c: SingleRunConfig =>
      Resolved(new SingleRun(), Searchspace(Seq.empty), c.numTrials,
        Direction.Max, NoStoppingRule, 1, Int.MaxValue, 42L, c.hbIntervalMs,
        c.logDir, None)
    case c: AblationConfig =>
      // early stop disabled for ablation (reference ablation_driver.py:52)
      val trials = graft.ablate.Loco.trials(c.study)
      Resolved(queueOptimizer(trials), Searchspace(Seq.empty), trials.size,
        Direction.Max, NoStoppingRule, 1, Int.MaxValue, 42L, c.hbIntervalMs,
        c.logDir, None)
  }

  /** Fixed-trial-list optimizer (ablation studies): hand out the queue,
    * then Idle until the running set drains, then Done. */
  private def queueOptimizer(trials: Seq[Trial]): Optimizer = new Optimizer {
    private val queue = scala.collection.mutable.Queue(trials: _*)
    def getSuggestion(completed: Option[Trial]): Suggestion =
      if (queue.nonEmpty) NewTrial(queue.dequeue())
      else if (trialStore.nonEmpty) Idle
      else Done
  }

  /** num_executors = min(slots, num_trials) (reference
    * optimization_driver.py:81-83); numTrials <= 0 means "sized by the
    * optimizer" (grid search) → use all slots. */
  private def parallelism(spark: SparkSession, numTrials: Int): Int = {
    val slots = spark.sparkContext.defaultParallelism
    if (numTrials <= 0) slots else math.max(1, math.min(slots, numTrials))
  }

  /** Cluster-free executor pool: each slot is a daemon thread running the
    * SAME TrialExecutor loop (it is pure sockets — no Spark dependency)
    * against the in-process DriverServer. Failure semantics mirror Spark's:
    * a crashed slot RETRIES once (Spark task retry re-registers and the
    * driver marks the lost trial ERROR — TrialExecutor.run's REG does the
    * same here); a slot that dies for good releases its trial via a manual
    * re-registration so the surviving slots can still drive the experiment
    * to completion instead of idling forever on a stuck Running trial, and
    * the first recorded failure is rethrown after all slots drain (a failed
    * task ultimately fails the job). */
  private def threadLauncher(numExecutors: Int, hbIntervalMs: Long, trainFn: TrainFn)(
      host: String, port: Int, secret: String): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val maxAttempts = 2
    val threads = (0 until numExecutors).map { pid =>
      val t = new Thread(() => {
        var attempt = 0
        var done = false
        while (!done && attempt < maxAttempts) {
          attempt += 1
          try { TrialExecutor.run(pid, host, port, secret, hbIntervalMs, pollIntervalMs = 50, trainFn); done = true }
          catch {
            case e: Throwable =>
              if (attempt >= maxAttempts) {
                failure.compareAndSet(null, e)
                // free any trial lost with this slot — without Spark's task
                // retry, nothing else emits the re-registration signal
                TrialExecutor.reregisterSlot(host, port, secret, pid)
                done = true
              } // else: the retry's own REG performs the lost-trial cleanup
          }
        }
      }, s"graft-local-exec-$pid")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    if (failure.get() != null) throw failure.get()
  }

  /** The experiment core shared by the Spark and local paths: server up,
    * launch the executor slots, summarize, persist. */
  private def runExperimentCore(r: Resolved)(
      launch: (String, Int, String) => Unit): ExperimentResult = {
    val t0 = System.currentTimeMillis()
    r.optimizer.initialize(r.searchspace, r.numTrials, r.direction, r.seed)
    // the hparams CONFIG is written before training starts, like the
    // reference (_write_hparams_config runs at experiment setup), so a
    // dashboard can render the table while trials stream in — both the
    // plain-JSON rendering and the real TensorBoard hparams-plugin event
    // file (reference tensorboard.py:76-103)
    if (r.searchspace.params.nonEmpty) r.logDir.foreach { d =>
      writeTbHparamsConfig(d, r.searchspace)
      TbHparams.writeExperiment(d, r.searchspace)
    }
    val server = new DriverServer(r.optimizer, r.direction, r.esRule,
      r.esIntervalSteps, r.esMin, r.logDir,
      r.logSink.getOrElse(DriverServer.consoleSink))
    server.start()
    try {
      launch(server.host, server.port, server.authSecret)
      val finals = r.optimizer.finalStore.toSeq
      val result = summarize(finals, r.direction,
        server.earlyStoppedCount, server.erroredCount, t0)
      r.logDir.foreach { d =>
        writeResultJson(d, result); writeHparamsLog(d, result)
        // per-trial TB hparams sessions (reference tensorboard.py:105-107)
        if (r.searchspace.params.nonEmpty) finals.foreach { t =>
          TbHparams.writeSession(d, t.trialId, t.paramsSansBudget, t.finalMetric)
        }
      }
      result
    } finally server.stop()
  }

  /** Streaming best/worst/avg result roll-up (reference:
    * maggy/core/experiment_driver/optimization_driver.py:344-406). */
  private[graft] def summarize(
      finals: Seq[Trial],
      direction: Direction.Value,
      earlyStopped: Int,
      errored: Int,
      t0: Long): ExperimentResult = {
    require(finals.nonEmpty, "experiment produced no finalized trials")
    val best = finals.maxBy(t => if (direction == Direction.Max) t.finalMetric.get else -t.finalMetric.get)
    val worst = finals.minBy(t => if (direction == Direction.Max) t.finalMetric.get else -t.finalMetric.get)
    val avg = finals.flatMap(_.finalMetric).sum / finals.size
    ExperimentResult(
      bestId = best.trialId,
      bestConfig = best.paramsSansBudget,
      bestMetric = best.finalMetric.get,
      worstId = worst.trialId,
      worstMetric = worst.finalMetric.get,
      avgMetric = avg,
      numTrials = finals.size,
      earlyStopped = earlyStopped,
      errored = errored,
      durationMs = System.currentTimeMillis() - t0,
      trials = finals.map(toRow))
  }

  /** Persist the per-trial hyperparameter log as `<logDir>/hparams.jsonl` —
    * one JSON line per finished trial (trial id, params, metric, budget),
    * the engine analog of the reference's TensorBoard hparams plugin dump
    * (maggy/tensorboard.py:47-107 writes the hparam config + one record per
    * trial). JSONL so a dashboard — or `spark.read.json` — can tail it. */
  private[graft] def writeHparamsLog(logDir: String, r: ExperimentResult): Unit = {
    def js(s: String): String = HV.S(s).jsonRender
    val lines = r.trials.map { t =>
      s"""{"trial_id": ${js(t.trial_id)}, "hparams": ${t.params_json}, """ +
        s""""metric": ${t.metric.map(_.toString).getOrElse("null")}, """ +
        s""""budget": ${t.budget.map(_.toString).getOrElse("null")}, """ +
        s""""extras": ${extrasJson(t.extras)}}"""
    }
    val dir = java.nio.file.Paths.get(logDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("hparams.jsonl"),
      lines.mkString("", "\n", "\n"))
  }

  /** The full non-driving metric map of a dict-returning train fn
    * (NaN/Infinity are not JSON — render as null like gang's result.json). */
  private def extrasJson(extras: Map[String, Double]): String =
    extras.map { case (k, v) =>
      val num = if (java.lang.Double.isFinite(v)) v.toString else "null"
      s"${HV.S(k).jsonRender}: $num"
    }.mkString("{", ", ", "}")

  /** Persist the experiment-LEVEL hparams config as `<logDir>/tb_hparams.json`
    * — the domain/metric declaration the reference writes through the
    * TensorBoard hparams plugin before training starts
    * (maggy/tensorboard.py:47-107: DOUBLE→RealInterval, INTEGER→IntInterval,
    * DISCRETE/CATEGORICAL→Discrete, plus metric descriptors), rendered as
    * plain JSON (no TF/TB dependency) so a dashboard can build the same
    * hparams table; the per-trial records live in hparams.jsonl. */
  private[graft] def writeTbHparamsConfig(logDir: String, space: Searchspace): Unit = {
    import graft.core.HParam._
    def js(s: String): String = HV.S(s).jsonRender
    // Double bounds aren't validated finite; Infinity/NaN are not JSON
    def num(v: Double): String = if (java.lang.Double.isFinite(v)) v.toString else "null"
    val hparams = space.params.map {
      case DoubleParam(n, lo, hi) =>
        s"""{"name": ${js(n)}, "type": "REAL_INTERVAL", "min": ${num(lo)}, "max": ${num(hi)}}"""
      case IntParam(n, lo, hi) =>
        s"""{"name": ${js(n)}, "type": "INT_INTERVAL", "min": $lo, "max": $hi}"""
      case DiscreteParam(n, vs) =>
        s"""{"name": ${js(n)}, "type": "DISCRETE", "values": [${vs.map(num).mkString(", ")}]}"""
      case CategoricalParam(n, vs) =>
        s"""{"name": ${js(n)}, "type": "DISCRETE", "values": [${vs.map(js).mkString(", ")}]}"""
    }.mkString("[", ", ", "]")
    val metrics = """[{"tag": "metric", "display_name": "objective"}]"""
    val dir = java.nio.file.Paths.get(logDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("tb_hparams.json"),
      s"""{"hparams": $hparams, "metrics": $metrics}""")
  }

  /** Persist the experiment summary as `<logDir>/result.json` (reference:
    * maggy writes result.json at experiment end,
    * optimization_driver.py:248-252 via util.py:193-197). */
  private[graft] def writeResultJson(logDir: String, r: ExperimentResult): Unit = {
    def js(s: String): String = HV.S(s).jsonRender
    val trials = r.trials.map { t =>
      s"""{"trial_id": ${js(t.trial_id)}, "params": ${t.params_json}, """ +
        s""""metric": ${t.metric.map(_.toString).getOrElse("null")}, """ +
        s""""budget": ${t.budget.map(_.toString).getOrElse("null")}, """ +
        s""""sample_type": ${js(t.sample_type)}, """ +
        s""""early_stopped": ${t.early_stopped}, """ +
        s""""duration_ms": ${t.duration_ms}, """ +
        s""""extras": ${extrasJson(t.extras)}}"""
    }.mkString("[", ", ", "]")
    val json =
      s"""{"best_id": ${js(r.bestId)}, "best_config": ${Trial.canonicalJson(r.bestConfig)}, """ +
        s""""best_metric": ${r.bestMetric}, "worst_id": ${js(r.worstId)}, """ +
        s""""worst_metric": ${r.worstMetric}, "avg_metric": ${r.avgMetric}, """ +
        s""""num_trials": ${r.numTrials}, "early_stopped": ${r.earlyStopped}, """ +
        s""""errored": ${r.errored}, "duration_ms": ${r.durationMs}, """ +
        s""""trials": $trials}"""
    val dir = java.nio.file.Paths.get(logDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("result.json"), json)
  }

  private def toRow(t: Trial): TrialRow = TrialRow(
    trial_id = t.trialId,
    params_json = Trial.canonicalJson(t.paramsSansBudget),
    metric = t.finalMetric,
    budget = t.budget,
    sample_type = t.sampleType,
    early_stopped = t.earlyStop,
    duration_ms = t.durationMs,
    metric_history = t.metricHistory.map(p => (p.step, p.value)),
    extras = t.extras)

  /** Finished trials as a Dataset for data-plane analytics (A1/A4/W1 shapes
    * over experiment results). */
  def trialsDataset(spark: SparkSession, result: ExperimentResult): Dataset[TrialRow] = {
    import spark.implicits._
    spark.createDataset(result.trials)
  }
}
