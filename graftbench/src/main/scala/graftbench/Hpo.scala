package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.{ExperimentResult, Graft}
import graft.core._
import graft.core.HParam.{DoubleParam, IntParam}
import graft.exec.{EarlyStopException, TrainFn, TrialContext}
import graft.optimize.{Done, Idle, NewTrial, Optimizer}

/** One train-fn call: slot, trial, wall-clock ns at entry and exit. */
final case class TrialSpan(slot: Int, trialId: String, startNs: Long, endNs: Long, stopped: Boolean) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Train-fn calls of the running JVM (slots are tasks of a local master, so
  * they share this object with the driver). */
object Timeline {
  val spans = new ConcurrentLinkedQueue[TrialSpan]()
}

object Objective {
  val space: Searchspace = Searchspace(Seq(
    DoubleParam("x", 0.0, 1.0), DoubleParam("y", 0.0, 1.0), IntParam("steps", 10, 16)))

  /** The closed-form metric every trial reports (maximized; 1 at (0.3, 0.7)). */
  def apply(x: Double, y: Double): Double =
    1.0 - (x - 0.3) * (x - 0.3) - 2.0 * (y - 0.7) * (y - 0.7)

  def of(params: Map[String, HV]): Double = apply(params("x").asDouble, params("y").asDouble)
}

/** Deterministic CPU work per step, then the step's metric. The step count is
  * a hyperparameter, so trial durations follow the search. Records the
  * trial's span in `finally`: a stopped trial leaves `broadcast` through
  * EarlyStopException and must still appear on the timeline. */
final class StepTrain(workPerStep: Int) extends TrainFn {
  def apply(ctx: TrialContext): Double = {
    val t0 = System.nanoTime()
    var stopped = false
    try {
      val metric = Objective(ctx.double("x"), ctx.double("y"))
      val steps = ctx.long("steps")
      var acc = ctx.trialId.hashCode.toLong
      var s = 1L
      while (s <= steps) {
        var i = 0
        while (i < workPerStep) {
          acc = acc * 6364136223846793005L + 1442695040888963407L
          acc ^= acc >>> 29
          i += 1
        }
        if (acc == 42L) ctx.reporter.log("unlikely") // keeps the loop live
        ctx.reporter.broadcast(metric, s)
        s += 1
      }
      metric
    } catch {
      case e: EarlyStopException => stopped = true; throw e
    } finally {
      Timeline.spans.add(TrialSpan(ctx.partitionId, ctx.trialId, t0, System.nanoTime(), stopped))
    }
  }
}

object Hpo {
  /** Repetitions of each trial-table line. */
  val SqlReps = 5

  /** ~30 ms of work per step on one core of a 4-core x86 box. */
  val WorkPerStep = 15000000

  def config(numTrials: Int, seed: Long): HyperparameterOptConfig = HyperparameterOptConfig(
    numTrials = numTrials, optimizer = "gp", searchspace = Objective.space,
    direction = Direction.Max, esPolicy = "median", seed = seed,
    logSink = Some((_: String, _: String) => ()))

  def experiment(spark: SparkSession, numTrials: Int, seed: Long, workPerStep: Int): ExperimentResult =
    Graft.lagom(spark, config(numTrials, seed))(new StepTrain(workPerStep))

  /** The trial-table lines run after the experiment: persist the trials
    * dataset (a write), then best/worst/avg/top-k SQL over it (reads). Each
    * is small, so each runs `reps` times and reports its median. Returns
    * (write seconds, read seconds, top-k ids). */
  def trialSql(spark: SparkSession, result: ExperimentResult, dir: String, reps: Int): (Double, Double, Seq[String]) = {
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val queries = Seq(
      "SELECT max_by(trial_id, metric) AS id, max(metric) AS m FROM bench_trials",
      "SELECT min_by(trial_id, metric) AS id, min(metric) AS m FROM bench_trials",
      "SELECT avg(metric) AS m, sum(CAST(early_stopped AS INT)) AS stopped, " +
        "avg(duration_ms) AS d FROM bench_trials",
      "SELECT trial_id, metric FROM bench_trials ORDER BY metric DESC, trial_id LIMIT 5")
    val writes = (1 to reps).map { _ =>
      timed(Graft.trialsDataset(spark, result).write.mode("overwrite").parquet(dir))._1
    }
    spark.read.parquet(dir).createOrReplaceTempView("bench_trials")
    val runs = (1 to reps).map(_ => queries.map(q => timed(spark.sql(q).collect())))
    val readS = queries.indices.map(i => Stats.quantile(runs.map(_(i)._1), 0.5)).sum
    val topk = runs.head.last._2.map(_.getString(0)).toSeq
    (Stats.quantile(writes, 0.5), readS, topk)
  }

  /** The optimizer alone: the same GP, seed and trial count driven through
    * getSuggestion / noteStarted / finalize_ / noteFinalized, one trial at a
    * time. Returns the seconds each getSuggestion took. */
  def replay(numTrials: Int, seed: Long): Seq[Double] = {
    val opt = Optimizer.forName("gp")
    opt.initialize(Objective.space, numTrials, Direction.Max, seed)
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var prev: Option[Trial] = None
    var done = false
    while (!done) {
      val t0 = System.nanoTime()
      val s = opt.getSuggestion(prev)
      times += (System.nanoTime() - t0) / 1e9
      s match {
        case NewTrial(t) =>
          opt.noteStarted(t)
          t.finalize_(Objective.of(t.params))
          opt.noteFinalized(t)
          prev = Some(t)
        case Idle | Done => done = true
      }
    }
    times.toSeq
  }

  /** The HPO layers' per-layer metrics, for workloads that run no trials. */
  val idleLayers: Seq[(String, Double)] = Seq(
    "optimize.suggest_ms_p50", "optimize.suggest_ms_p90", "optimize.suggest_s_total",
    "exec.trial_gap_ms_p50", "exec.trial_gap_ms_p90", "exec.first_trial_s", "exec.drain_s",
    "exec.stopped_frac", "exec.stopped_train_s", "exec.async_saving_frac",
    "api.trials_sql_s").map(_ -> 0.0)

  def spans(): Seq[TrialSpan] = Timeline.spans.asScala.toSeq

  /** Makespan of the same trial durations run as synchronized batches of
    * `slots` (in start order), each batch waiting for its slowest trial,
    * plus the per-slot time the async run spent outside the train fn. */
  def bspMakespan(sp: Seq[TrialSpan], slots: Int, wallS: Double): Double = {
    val byStart = sp.sortBy(_.startNs).map(_.secs)
    val barriers = byStart.grouped(slots).map(_.max).sum
    val overhead = wallS - byStart.sum / slots
    barriers + overhead
  }

  /** Per slot, the seconds between one train-fn exit and the next entry. */
  def gaps(sp: Seq[TrialSpan]): Seq[Double] =
    sp.groupBy(_.slot).values.toSeq.flatMap { s =>
      val o = s.sortBy(_.startNs)
      o.zip(o.drop(1)).map { case (a, b) => (b.startNs - a.endNs) / 1e9 }
    }
}
