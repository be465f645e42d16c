package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: run one declared query by name, print rows + wall time.
  * Usage: sbt "runMain graft.Run <queryName> [sfDir] [--explain|--show]" */
object Run {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1) else "/root/testdata/sf0.01"
    val flags = args.filter(_.startsWith("--")).toSet
    // --conf:k=v session-conf overrides, for perf experiments (e.g.
    // --conf:graft.stream.statePartitions=32)
    val confs = args.filter(_.startsWith("--conf:")).map { a =>
      val kv = a.stripPrefix("--conf:").split("=", 2)
      require(kv.length == 2 && kv(0).nonEmpty,
        s"bad conf override '$a': expected --conf:key=value")
      (kv(0), kv(1))
    }
    // same session as Verify/Bench (MasterEnv honors SPARK_GRAFT_MASTER),
    // so a dev run reproduces exactly what the artifact runs measure
    val spark = MasterEnv.standardBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // timing starts BEFORE build: streaming queries (and cache-building
    // setup queries) do their work inside the builder, not at .count()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (flags("--explain")) df.explain("formatted")
    val n = df.count()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[run] $name rows=$n time=$dt%.2fs sf=$sfDir")
    if (flags("--twice")) {
      val t1 = System.nanoTime()
      val n2 = SparkEntry.queries(name)(spark, sfDir).count()
      val dt2 = (System.nanoTime() - t1) / 1e9
      println(f"[run] $name rows=$n2 warm=$dt2%.2fs sf=$sfDir")
    }
    if (flags("--show")) df.show(50, truncate = false)
    graft.data.Frames.releaseAll()
    spark.stop()
  }
}
