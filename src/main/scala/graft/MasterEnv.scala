package graft

import org.apache.spark.sql.SparkSession

/** Session-master resolution for every graft main (Verify, Bench, Run, …).
  *
  * `SPARK_GRAFT_MASTER` overrides the default `local[cpus]` — its primary
  * use is `local-cluster[n,cores,memMB]`, the multi-JVM master that runs
  * real executor processes (separate heaps, network shuffle, serialized
  * task dispatch) without a standalone cluster. That is the closest
  * single-machine approximation of the deployment shape: everything that
  * rides a broadcast, a shuffle, or an RPC actually crosses a process
  * boundary instead of a reference handoff inside one JVM.
  *
  * local-cluster workers launch executors from SPARK_HOME, so the graft
  * classes are NOT on their classpath by default — the driver's own
  * classpath (sbt's forked-JVM `-classpath`) is shipped via
  * `spark.executor.extraClassPath`.
  */
object MasterEnv {

  /** Cores of the default `local[cpus]` master: `SPARK_GRAFT_CPUS`, 4 when
    * unset — read here only, so every main runs the same session. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  val master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def isMultiJvm(m: String): Boolean = m.startsWith("local-cluster")

  /** Resolved shuffle-partition count: SPARK_GRAFT_CPUS may be "*" (a valid
    * local[N] master but not a partition count) — fall back to the machine's
    * cores. */
  private def shufflePartitions: Int =
    scala.util.Try(cpus.trim.toInt).toOption
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The ONE session builder behind every graft main (Verify, Bench, Run,
    * RecallProbe and the probe mains): resolved master plus the conf block each run needs. A
    * conf added here reaches every artifact-producing entry point, so their
    * recorded numbers stay like-for-like.
    *
    *   - shuffle.partitions sized to the master's cores, not Spark's 200;
    *   - UTC session timezone: oracle comparisons are timezone-sensitive;
    *   - nanosAsLong: the testdata generator writes nanos timestamps;
    *   - openCostInBytes = maxPartitionBytes: never bin-pack parquet files
    *     into one scan partition. Packing amortizes per-file metadata over
    *     many tiny files, but a compressed corpus landing as a few
    *     single-row-group files is unsplittable BELOW file granularity —
    *     the 100× ScaleGen documents table (8 × ~7 MB files) was packed
    *     into ~1 partition and ran the whole linear t-family near-single-
    *     threaded. Nothing is lost at any scale: a split finer than a row
    *     group cannot parallelize a parquet read, so one ~row-group-sized
    *     file per task is exactly the 100 TB-cluster shape too.
    *   - adaptive.coalescePartitions off: shuffle.partitions is already the
    *     core count, so coalescing can only push a stage BELOW the cores,
    *     and it sizes partitions by bytes while the text stages (the x10/
    *     x11 trim islands, fingerprint and ledger projections) cost CPU
    *     per row — a few hundred KB of doc ids coalesced into one task ran
    *     each of them on one core (single-task stages of 0.3-0.7 s at
    *     sf0.1). AQE stays on for broadcast conversion and skew joins, and
    *     explicit repartitions (the dedup pair aggregate's 8× width, the
    *     ledger landing's file count) were never coalesced anyway.
    */
  def standardBuilder(): SparkSession.Builder =
    standardBuilderFor(master, shufflePartitions)

  /** The same conf block pinned to an EXPLICIT master — for suites that
    * must not honor SPARK_GRAFT_MASTER (ClusterSpec pins its own
    * local-cluster). Multi-JVM masters get the executor classpath shipped
    * exactly as [[standardBuilder]] ships it, so the multi-JVM evidence suite
    * runs the same session shape as the multi-JVM Verify/Bench artifacts. */
  def standardBuilderFor(masterStr: String, partitions: Int): SparkSession.Builder = {
    val base = SparkSession.builder().master(masterStr)
    val withCp = if (isMultiJvm(masterStr))
      base.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    else base
    standardConfs(withCp, partitions.toString)
  }

  private def standardConfs(b: SparkSession.Builder, partitions: String): SparkSession.Builder = {
    val base = b.config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v": diagnostic/studies passthrough
    // (event logs, memory knobs) without touching the pinned conf block
    // above — applied LAST so a study can also override a pinned value,
    // with the override recorded in the run's own environment
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").toSeq).map(_.trim).filter(_.contains("="))
      .foldLeft(base) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }
}
