package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.MasterEnv

/** One benchmark run in a fresh JVM, launched by run.py.
  *
  * Arguments are `key=value`:
  *   workload   suite | pipeline | hpo
  *   lines      comma-separated declared-query lines (suite, pipeline)
  *   stride     time every k-th of each layer's lines (default 1: all)
  *   data       table directory the timed lines read
  *   warmdata   small table directory the warm-up runs lines on
  *   warmlines  lines the warm-up runs (default: the timed lines)
  *   trials     trial count (hpo)
  *   slots      executor slots (hpo)
  *   seed       search seed (hpo)
  *   trace      0 | 1
  *   launchms   epoch ms at which run.py started this JVM
  *   localdir, warehouse, scratch   per-run directories
  *   out        where the result JSON goes
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val o = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val traced = o("trace") == "1"
    val workload = o("workload")
    val slots = o.getOrElse("slots", "2").toInt
    // the program's own session conf, plus this run's directories
    val b = MasterEnv.standardBuilderFor(s"local[$Cores]", Cores).appName("graftbench")
      .config("spark.local.dir", o("localdir"))
      .config("spark.sql.warehouse.dir", o("warehouse"))
    if (workload == "hpo") b.config("spark.default.parallelism", slots.toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Console.err.println(f"[graftbench] session up at ${setupSecs(o)}%.1f s")
    val probe = new Probe(spark, traced)
    val out = try workload match {
      case "suite" | "pipeline" => dataPlane(spark, probe, o)
      case "hpo" => hpo(spark, probe, o, slots)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      probe.close()
      spark.stop()
    }
    Files.write(Paths.get(o("out")), out.getBytes(StandardCharsets.UTF_8))
  }

  private def setupSecs(o: Map[String, String]): Double =
    (System.currentTimeMillis() - o("launchms").toLong) / 1000.0

  private def dataPlane(spark: SparkSession, probe: Probe, o: Map[String, String]): String = {
    val declared = o("lines").split(",").toSeq.filter(_.nonEmpty)
    val unknown = declared.filterNot(DataPlane.byName.contains)
    require(unknown.isEmpty, s"unknown lines: ${unknown.mkString(",")}")
    val names = DataPlane.stride(declared, o.getOrElse("stride", "1").toInt)
    // warm-up: the warm lines once on the small tables. Same plans as the
    // timed lines, so the same JIT, codegen, sink writer and native library
    // paths; the module caches key on the table directory, so no timed
    // line's cache is filled here. The dedup hash path is warmed whether or
    // not a dedup line is timed.
    val warmLines = o.get("warmlines").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(names)
    DataPlane.run(spark, o("warmdata"), (warmLines :+ "d1_exact_dedup").distinct, None)
    val setupS = setupSecs(o)

    probe.reset()
    probe.startHeap()
    // the timed phase is the lines' own windows; each line's output digest
    // runs between them, untimed
    val lines = DataPlane.run(spark, o("data"), names, Some(probe))
    val (heapPeakMb, heapLiveMb) = probe.heapMb()
    probe.drain()
    val secs = lines.map(_.secs)
    val runS = secs.sum
    val (w, r) = lines.partition(l => DataPlane.writeLines(l.name))
    val metrics = Seq(
      "setup_s" -> setupS,
      "run_s" -> runS,
      "read_s" -> r.map(_.secs).sum,
      "write_s" -> w.map(_.secs).sum,
      "line_geomean_s" -> Stats.geomean(secs),
      "line_p90_s" -> Stats.quantile(secs, 0.9),
      "slot_busy_frac" -> probe.taskRunMs.get / 1000.0 / (Cores * runS),
      "heap_live_mb" -> heapLiveMb, "heap_peak_mb" -> heapPeakMb) ++
      (if (probe.traced) {
        val bySub = lines.groupBy(l => DataPlane.layerOf(l.name)).map { case (k, v) => k -> v.map(_.secs).sum }
        DataPlane.layerKeys.map(k => k -> bySub.getOrElse(k, 0.0)) ++
          probe.snapshot().toSeq.sortBy(_._1) ++
          Seq("spark.driver_only_s" -> lines.map(l => probe.driverOnlyS(l.startMs, l.endMs)).sum) ++
          Hpo.idleLayers
      } else Nil)
    val lineJson = lines.map { l =>
      Json.obj(Seq(
        "name" -> Json.str(l.name), "secs" -> Json.num(l.secs), "rows" -> l.rows.toString,
        "hs" -> l.hashSum.toString, "hx" -> l.hashXor.toString,
        "error" -> l.error.map(Json.str).getOrElse("null")))
    }
    Json.obj(Seq(
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "lines" -> lineJson.mkString("[", ",", "]")))
  }

  private def hpo(spark: SparkSession, probe: Probe, o: Map[String, String], slots: Int): String = {
    val n = o("trials").toInt
    val seed = o("seed").toLong
    val scratch = o("scratch")
    // warm-up: a GP replay past the surrogate's 15-trial warm-up, then a
    // short experiment through the same lagom path (RPC, heartbeats, early
    // stop, GP fit) and the trial-table lines (parquet writer included) on
    // its result
    Hpo.replay(20, seed + 1)
    val warm = Hpo.experiment(spark, 20, seed + 1, Hpo.WorkPerStep / 20)
    Hpo.trialSql(spark, warm, s"$scratch/warm_trials", reps = 1)
    Timeline.spans.clear()
    Console.err.println(f"[graftbench] warm experiment ${warm.durationMs / 1000.0}%.1f s")
    val setupS = setupSecs(o)

    probe.reset()
    probe.startHeap()
    val t0 = System.currentTimeMillis()
    val t0ns = System.nanoTime()
    val result = Hpo.experiment(spark, n, seed, Hpo.WorkPerStep)
    val lagomEndNs = System.nanoTime()
    val (writeS, readS, topk) = Hpo.trialSql(spark, result, s"$scratch/trials", Hpo.SqlReps)
    val t1 = System.currentTimeMillis()
    val (heapPeakMb, heapLiveMb) = probe.heapMb()
    probe.drain()
    val runS = (t1 - t0) / 1000.0
    val sp = Hpo.spans()
    // per-trial latency over the trials that ran to completion: how many
    // were stopped early is its own metric (exec.stopped_frac)
    val secs = sp.filterNot(_.stopped).map(_.secs)

    // output checks, outside the timed window
    val ids = result.trials.map(_.trial_id)
    val checks = Seq(
      "finalized_plus_errored" -> (result.numTrials + result.errored == n),
      "unique_trial_ids" -> (ids.distinct.size == ids.size && sp.map(_.trialId).distinct.size == sp.size),
      "timeline_complete" -> (sp.size == n),
      "best_is_closed_form" -> (result.bestMetric == Objective.of(result.bestConfig)),
      "topk_starts_at_best" -> topk.headOption.exists(id =>
        result.trials.find(_.trial_id == id).flatMap(_.metric).contains(result.bestMetric)))
    val failed = math.min(n, result.errored + checks.count(!_._2))

    val metrics = Seq(
      "setup_s" -> setupS,
      "run_s" -> runS,
      "read_s" -> readS,
      "write_s" -> writeS,
      "line_geomean_s" -> Stats.geomean(secs),
      "line_p90_s" -> Stats.quantile(secs, 0.9),
      "slot_busy_frac" -> sp.map(_.secs).sum / (slots * runS),
      "heap_live_mb" -> heapLiveMb, "heap_peak_mb" -> heapPeakMb) ++
      (if (probe.traced) {
        val lagomS = (lagomEndNs - t0ns) / 1e9
        val firstS = if (sp.isEmpty) 0.0 else (sp.map(_.startNs).min - t0ns) / 1e9
        val drainS = if (sp.isEmpty) 0.0 else (lagomEndNs - sp.map(_.endNs).max) / 1e9
        val gaps = Hpo.gaps(sp).map(_ * 1000)
        val stopped = sp.filter(_.stopped)
        val snap = probe.snapshot()
        val suggest = Hpo.replay(n, seed)
        DataPlane.layerKeys.map(_ -> 0.0) ++ snap.toSeq.sortBy(_._1) ++ Seq(
          "spark.driver_only_s" -> probe.driverOnlyS(t0, t1),
          "optimize.suggest_ms_p50" -> Stats.quantile(suggest, 0.5) * 1000,
          "optimize.suggest_ms_p90" -> Stats.quantile(suggest, 0.9) * 1000,
          "optimize.suggest_s_total" -> suggest.sum,
          "exec.trial_gap_ms_p50" -> Stats.quantile(gaps, 0.5),
          "exec.trial_gap_ms_p90" -> Stats.quantile(gaps, 0.9),
          "exec.first_trial_s" -> firstS,
          "exec.drain_s" -> drainS,
          "exec.stopped_frac" -> (if (sp.isEmpty) 0.0 else stopped.size.toDouble / sp.size),
          "exec.stopped_train_s" -> stopped.map(_.secs).sum,
          "exec.async_saving_frac" -> (1.0 - lagomS / Hpo.bspMakespan(sp, slots, lagomS)),
          "api.trials_sql_s" -> ((t1 - t0) / 1000.0 - lagomS))
      } else Nil)
    Json.obj(Seq(
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> n.toString,
      "failed" -> failed.toString,
      "checks" -> Json.obj(checks.map { case (k, v) => k -> v.toString }),
      "early_stopped" -> result.earlyStopped.toString,
      "trials" -> sp.sortBy(_.startNs).map { s =>
        Json.obj(Seq("slot" -> s.slot.toString, "id" -> Json.str(s.trialId),
          "start_s" -> Json.num((s.startNs - t0ns) / 1e9), "end_s" -> Json.num((s.endNs - t0ns) / 1e9),
          "stopped" -> s.stopped.toString))
      }.mkString("[", ",", "]")))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
