package graft

import graft.data.Frames

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for declared queries to files — the
  * plan-evidence artifact the optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query,query,...> [sfDir]
  *
  * Writes <outDir>/<query>_<suffix>.txt containing the formatted plan of
  * the query as declared (pre-execution, so AQE shows the initial plan;
  * the per-stage/AQE-final view lives in ProbePlan). Queries whose
  * declaration itself runs jobs (cache builds, CC loops) run them here
  * exactly as Bench would — the dump is the plan of the RETURNED frame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = MasterEnv.standardBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) Frames.checkpointScope(name) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Console.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case NonFatal(e) =>
        Console.err.println(s"[plandump] FAILED $name: $e")
      }
    }
    Frames.releaseAll()
    spark.stop()
  }
}
