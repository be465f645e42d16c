package graft

import graft.ablate.{AblationStudy, Loco}
import graft.core._
import graft.core.HParam._
import graft.exec.TrialContext
import graft.ml.{MllibLagom, MllibTrain, MllibTrainConfig, MllibTrainFn}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** E2e MLlib training driver: distributed HP search over an MLlib estimator
  * (the north star's Spark-native replacement for the reference's Torch/TF
  * distributed executors) plus LOCO feature/stage ablation of a Pipeline.
  */
class MllibSpec extends AnyFunSuite with ScratchRoot {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("mllib-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val lineitem = MllibTrain.lineitemFrame(spark, sf).cache()
  private lazy val Array(trainDf, testDf) = lineitem.randomSplit(Array(0.8, 0.2), seed = 42L)

  // the suite's one persist goes with it, not with the shared session
  override def afterAll(): Unit = try lineitem.unpersist() finally super.afterAll()

  test("lagom-style HP search tunes LogisticRegression regParam/elasticNet") {
    object Fit extends MllibTrainFn {
      def apply(s: SparkSession, ctx: TrialContext): Double =
        MllibTrain.fitAuc(
          MllibTrain.logisticStages(
            MllibTrain.FeatureCols,
            regParam = math.exp(ctx.double("logReg")), // log-uniform 1e-4..1
            elasticNet = ctx.double("elasticNet"),
            useScaler = true).map(_._2),
          trainDf, testDf)
    }
    val res = MllibLagom.run(spark, MllibTrainConfig(
      numTrials = 4,
      searchspace = Searchspace(Seq(
        DoubleParam("logReg", math.log(1e-4), 0.0),
        DoubleParam("elasticNet", 0.0, 1.0))),
      parallelism = 2))(Fit)
    assert(res.numTrials == 4)
    assert(res.trials.map(_.trial_id).distinct.size == 4)
    assert(res.trials.forall(_.metric.exists(m => m >= 0.0 && m <= 1.0)))
    assert(res.bestMetric >= res.worstMetric)
  }

  test("LOCO ablation over Pipeline stages and features") {
    object Fit extends MllibTrainFn {
      def apply(s: SparkSession, ctx: TrialContext): Double = {
        val trial = new Trial(Map(
          "ablated_feature" -> HV.S(ctx.string("ablated_feature")),
          "ablated_layer" -> HV.S(ctx.string("ablated_layer"))))
        val features = Loco.ablatedFeature(trial) match {
          case Some(f) => MllibTrain.FeatureCols.filterNot(_ == f)
          case None => MllibTrain.FeatureCols
        }
        val useScaler = !Loco.ablatedStages(trial).contains("scaler")
        MllibTrain.fitAuc(
          MllibTrain.logisticStages(features, regParam = 0.01,
            elasticNet = 0.0, useScaler = useScaler).map(_._2),
          trainDf, testDf)
      }
    }
    val res = MllibLagom.runAblation(spark,
      AblationStudy(features = Set("l_discount", "l_tax"), components = Set("scaler")),
      parallelism = 2)(Fit)
    // base + 2 feature ablations + 1 stage ablation
    assert(res.numTrials == 4)
    assert(res.errored == 0)
    assert(res.trials.forall(_.metric.exists(m => m >= 0.0 && m <= 1.0)))
  }

  test("fit reports per-iteration objective history through the reporter") {
    object Fit extends MllibTrainFn {
      def apply(s: SparkSession, ctx: TrialContext): Double =
        MllibTrain.fitAuc(
          MllibTrain.logisticStages(MllibTrain.FeatureCols,
            regParam = math.exp(ctx.double("logReg")), elasticNet = 0.0,
            useScaler = true).map(_._2),
          trainDf, testDf, reporter = Some(ctx.reporter))
    }
    val res = MllibLagom.run(spark, MllibTrainConfig(
      numTrials = 2,
      searchspace = Searchspace(Seq(DoubleParam("logReg", math.log(1e-4), 0.0))),
      parallelism = 1))(Fit)
    assert(res.numTrials == 2)
    // LR objective history (loss per iteration) must land in the trial rows
    assert(res.trials.forall(_.metric_history.size >= 2),
      s"histories: ${res.trials.map(_.metric_history.size)}")
  }

  test("Env abstraction: fs round-trip and executor discovery") {
    val dir = scratch("env")
    import graft.exec.Env
    assert(!Env.exists(spark, dir))
    assert(Env.mkdirs(spark, dir))
    Env.dump(spark, s"$dir/artifact.json", """{"ok": true}""")
    assert(Env.exists(spark, s"$dir/artifact.json"))
    assert(Env.open(spark, s"$dir/artifact.json") == """{"ok": true}""")
    assert(Env.ls(spark, dir).exists(_.endsWith("artifact.json")))
    assert(Env.numExecutorSlots(spark) == spark.sparkContext.defaultParallelism)
    assert(Env.delete(spark, dir))
  }

  test("a failing fit marks the trial errored without sinking the experiment") {
    object Fit extends MllibTrainFn {
      def apply(s: SparkSession, ctx: TrialContext): Double = {
        if (ctx.double("x") > 0.5) throw new RuntimeException("injected fit failure")
        1.0 - ctx.double("x")
      }
    }
    val res = MllibLagom.run(spark, MllibTrainConfig(
      numTrials = 8,
      searchspace = Searchspace(Seq(DoubleParam("x", 0.0, 1.0))),
      parallelism = 2))(Fit)
    assert(res.numTrials + res.errored == 8)
    assert(res.errored >= 1, "uniform draws over [0,1] must land above 0.5 in 8 trials")
    assert(res.trials.forall(_.metric.exists(_ >= 0.5)))
  }
}
