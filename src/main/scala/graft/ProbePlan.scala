package graft

import graft.data.Frames

import org.apache.spark.sql.SparkSession

/** Ad-hoc plan/timing inspector for a declared query: prints the FORMATTED
  * plan after one timed build + materialization (so AQE's final decisions are in)
  * plus per-stage task counts — the `.explain`-and-iterate loop the build
  * rules require, packaged as a main so it runs under the same session
  * conf as Bench. Usage: runMain graft.ProbePlan <query> [sfDir] [reps]. */
object ProbePlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = MasterEnv.standardBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val run = si.taskMetrics.executorRunTime / 1e3
        if (run > 0.5)
          Console.err.println(f"[stage] ${si.stageId}%4d ${si.numTasks}%4d tasks ${run}%8.1f s-cpu  ${si.name.take(80)}")
      }
    })
    // "__adc": the raw batch ADC search st_stream_ann runs per micro-batch,
    // built directly so its executed plan is inspectable (foreachBatch
    // hides the inner query from the outer explain)
    def build(): org.apache.spark.sql.DataFrame =
      if (name == "__adc") {
        import org.apache.spark.sql.functions._
        val emb = graft.data.Tables(spark, sfDir, "embeddings")
        val ivf = graft.llm.IvfIndex.cachedIndexFor(sfDir, emb, nClusters = 8)
        val model = graft.llm.PqIndex.cachedIvfPq(sfDir, ivf, emb, m = 8, ksub = 16, nClusters = 8)
        graft.llm.PqIndex.searchIvfPqResidual(ivf, model,
          emb.filter(col("vec_id") % 200 === 7).select("vec_id", "embedding"),
          emb, k = 10, shortlist = 50, nProbe = 4)
      } else SparkEntry.queries(name)(spark, sfDir)
    for (i <- 1 to reps) Frames.checkpointScope(s"$name rep $i") {
      // the window opens before build(): a build that runs jobs (a probe
      // collect, a cache build, a CC loop) is part of the line's cost
      val t0 = System.nanoTime()
      val df = build()
      df.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Console.err.println(f"[probeplan] $name rep $i: $secs%.2f s")
      if (i == reps) {
        Console.err.println(df.queryExecution.executedPlan.toString.take(12000))
      }
    }
    Frames.releaseAll()
    spark.stop()
  }
}
