package graft.ml

import graft.api.{ExperimentResult, Graft}
import graft.core._
import graft.exec.{Reporter, TrialContext}
import graft.optimize._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Driver-side train function for MLlib experiments: unlike the executor-side
  * TrainFn, it receives the SparkSession because fitting an MLlib estimator
  * IS a distributed Spark job — the data parallelism lives inside `.fit`,
  * not in the trial placement. */
trait MllibTrainFn {
  def apply(spark: SparkSession, ctx: TrialContext): Double
}

/** Config for MLlib-estimator experiments (north-star mapping of the
  * reference's distributed-training configs: Torch/TF executors rendezvous
  * workers per trial, maggy/core/executors/torch_dist_executor.py:63-179;
  * Spark-native training is an MLlib fit, already data-parallel, so trials
  * run as CONCURRENT DRIVER-SIDE fits sharing the cluster rather than as
  * executor-pinned loops). */
final case class MllibTrainConfig(
    numTrials: Int,
    searchspace: Searchspace,
    optimizer: String = "randomsearch",
    direction: Direction.Value = Direction.Max,
    parallelism: Int = 2,
    seed: Long = 42L,
    optimizerArgs: Map[String, Double] = Map.empty)

/** The lagom analog for MLlib training: same optimizer/trial lifecycle as
  * graft.api.Graft, but the trial loop runs in driver threads (each `.fit`
  * fans out over all executors; concurrent fits share the cluster via the
  * Spark scheduler). At scale, parallelism trades per-fit cluster share for
  * experiment throughput — the right setting is #executors / cores-per-fit.
  */
object MllibLagom {

  def run(spark: SparkSession, c: MllibTrainConfig)(fit: MllibTrainFn): ExperimentResult = {
    val optimizer = Optimizer.forName(c.optimizer, c.optimizerArgs)
    optimizer.initialize(c.searchspace, c.numTrials, c.direction, c.seed)
    runWith(spark, optimizer, c.direction, c.parallelism)(fit)
  }

  /** LOCO ablation over MLlib pipelines: base + one trial per ablated
    * feature/stage (reference: maggy/ablation/ablator/loco.py:26-261; layer
    * ablation :99-136 maps to Pipeline-stage ablation here). */
  def runAblation(
      spark: SparkSession,
      study: graft.ablate.AblationStudy,
      parallelism: Int = 2)(fit: MllibTrainFn): ExperimentResult = {
    val plan = graft.ablate.Loco.trials(study)
    val optimizer = new Optimizer {
      private val queue = mutable.Queue(plan: _*)
      def getSuggestion(completed: Option[Trial]): Suggestion =
        if (queue.nonEmpty) NewTrial(queue.dequeue())
        else if (trialStore.nonEmpty) Idle
        else Done
    }
    optimizer.initialize(Searchspace(Seq.empty), plan.size, Direction.Max, 42L)
    runWith(spark, optimizer, Direction.Max, parallelism)(fit)
  }

  private def runWith(
      spark: SparkSession,
      optimizer: Optimizer,
      direction: Direction.Value,
      parallelism: Int)(fit: MllibTrainFn): ExperimentResult = {
    val t0 = System.currentTimeMillis()
    val lock = new Object
    var errored = 0
    @volatile var done = false

    val workers = (0 until math.max(1, parallelism)).map { slot =>
      new Thread(
        () => {
          var stop = false
          while (!stop) {
            val next = lock.synchronized {
              if (done) { stop = true; None }
              else optimizer.getSuggestion(None) match {
                case NewTrial(t) =>
                  t.status = TrialStatus.Running
                  t.assignedPartition = Some(slot)
                  t.startMs = System.currentTimeMillis()
                  optimizer.noteStarted(t)
                  Some(t)
                case Idle => None
                case Done => done = true; stop = true; None
              }
            }
            next match {
              case Some(t) =>
                // reporter sinks straight into the trial's metric history
                // (no RPC hop — the experiment is driver-local)
                val ctx = TrialContext(
                  t.trialId, t.paramsSansBudget, t.budget, slot,
                  new Reporter(t.trialId, sink = t.appendMetric))
                try {
                  val metric = fit(spark, ctx)
                  lock.synchronized { t.finalize_(metric); optimizer.noteFinalized(t) }
                } catch {
                  case NonFatal(_) => lock.synchronized {
                    t.status = TrialStatus.Error
                    errored += 1
                    optimizer.noteErrored(t)
                  }
                }
              case None => if (!stop) Thread.sleep(20)
            }
          }
        },
        s"graft-mllib-worker-$slot")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())

    Graft.summarize(optimizer.finalStore.toSeq, direction,
      earlyStopped = 0, errored = errored, t0 = t0)
  }
}
