package graft

import graft.data.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Planted join-skew probe: the shuffled-join analog of a12's salted
  * aggregation evidence. A j2/j3-class sort-merge join is run with ONE hot
  * key planted on the probe side (25% of lineitem rows remapped onto a
  * single order key — the "one whale customer" shape every 100 TB log
  * has), once with AQE skew-join handling OFF and once ON, and the
  * per-task time distribution of each run is recorded. The claim under
  * test: without handling, the hot key's shuffle partition serializes in
  * one straggler task (max ≫ p50); with
  * `spark.sql.adaptive.skewJoin.enabled`, AQE splits the oversized
  * partition and the distribution flattens — same result, no plan change
  * needed in user code.
  *
  * The orders side keeps one row per key, so the planted join stays 1:N
  * (row counts identical in both runs — asserted); only task placement
  * changes.
  *
  * Usage: sbt "runMain graft.SkewProbe [sfDir] [outJson]"
  * Artifact: scale_r11/skew_join.json
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_scale/sf10")
    val out = args.lift(1).getOrElse("scale_r11/skew_join.json")
    val spark = MasterEnv.standardBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // force the shuffled join under test: no broadcast escape hatch
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // make the skew visible to AQE at probe scale (defaults are sized for
    // production partitions): a partition ≥ 2× median and ≥ 16 MB splits
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    // keep partition-coalescing from hiding the distribution under test
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) durations.add(te.taskInfo.duration)
    })

    // the planted frame: 25% of order keys collapse onto key 1 → the SMJ
    // partition owning key 1 carries ~25% of the probe side
    val li = Tables(spark, sfDir, "lineitem")
      .select(when(col("l_orderkey") % 4 === 0, lit(1L))
        .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
    val ord = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))

    // the result invariant sums an exact decimal, not a double: skew-split
    // regroups partial aggregation, and float addition is not associative —
    // a last-ulp difference would abort the probe spuriously
    def runJoin(): (Long, java.math.BigDecimal) = {
      val r = li.join(ord, "k")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(20,2)")).as("s"))
        .head()
      (r.getLong(0), r.getDecimal(1))
    }

    def measure(skewOn: Boolean): (Long, java.math.BigDecimal, Seq[Long], Double) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      durations.clear()
      val t0 = System.nanoTime()
      val (n, s) = runJoin()
      val wall = (System.nanoTime() - t0) / 1e9
      // settle async listener delivery before reading the queue (the
      // internal listenerBus.waitUntilEmpty is private[spark])
      Thread.sleep(1500)
      import scala.jdk.CollectionConverters._
      (n, s, durations.asScala.toSeq.sorted, wall)
    }

    // warm the page cache so off/on compare plan behavior, not cold IO
    runJoin()

    val (nOff, sOff, dOff, wOff) = measure(skewOn = false)
    val (nOn, sOn, dOn, wOn) = measure(skewOn = true)
    require(nOff == nOn && sOff.compareTo(sOn) == 0,
      s"skew handling changed the answer: ($nOff,$sOff) vs ($nOn,$sOn)")

    def stats(d: Seq[Long]): String = {
      val p50 = if (d.isEmpty) 0L else d(d.size / 2)
      s""""n_tasks":${d.size},"max_task_ms":${d.lastOption.getOrElse(0L)},"p50_task_ms":$p50,"sum_task_ms":${d.sum}"""
    }
    val dir = java.nio.file.Paths.get(out).getParent
    if (dir != null) java.nio.file.Files.createDirectories(dir)
    def jstr(s: String): String = s.replaceAll("""["\\\n\r\t]""", " ")
    val json =
      s"""{"sf_dir":"${jstr(sfDir)}","join_rows":$nOff,
         |"skew_off":{${stats(dOff)},"wall_s":${math.rint(wOff * 100) / 100}},
         |"skew_on":{${stats(dOn)},"wall_s":${math.rint(wOn * 100) / 100}},
         |"loadavg":${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    graft.data.Frames.releaseAll()
    spark.stop()
  }
}
