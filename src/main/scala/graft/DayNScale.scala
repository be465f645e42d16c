package graft

import graft.data.Tables
import org.apache.spark.sql.functions._

/** Decade-up proof of the day-N ledger cadence (r14 verdict ask #5):
  * times the offline day-1 build, each batch append (including the
  * idempotent re-append of a mid-sequence batch), and the horizon
  * compaction on a given corpus, then re-proves store content and the
  * day-4 manifest byte-identical across the compaction — the evidence
  * that the append cost is governed by the INCOMING batch (store-side
  * reads are partition-pruned ledger scans) and that compaction is a
  * content-neutral maintenance job at the next decade.
  *
  * Per-batch cost is reported both raw and per 100k batch rows: the
  * declared day splits are unequal (batch 1 ≈ 8% of the corpus, batch 2
  * ≈ 1%), so flatness-in-batch-number reads from the normalized column.
  *
  * Usage: sbt "runMain graft.DayNScale [sfDir] [outJson]"
  * Artifact: scale_r15/dayn_sf100.json (5M docs — one decade above the
  * sf10 production suite).
  */
object DayNScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_scale/sf10")
    val out = args.lift(1).getOrElse("scale_r15/dayn_sf10.json")
    val spark = MasterEnv.standardBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.llm.Incremental

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val docs = Tables(spark, sfDir, "documents")
    val nDocs = docs.count()
    val nB1 = docs.filter(Incremental.batchPredFor(1)).count()
    val nB2 = docs.filter(Incremental.batchPredFor(2)).count()

    // day-1 offline build (first ledgerDir touch builds batch 0)
    val (dir, tBuild) = timed(Incremental.ledgerDir(spark, sfDir))
    // batch appends — each decided against its as-of-(n-1) horizon
    val (_, tA1) = timed(Incremental.appendBatchWrite(spark, sfDir, 1))
    val (_, tA2) = timed(Incremental.appendBatchWrite(spark, sfDir, 2))
    // idempotent retry of the MIDDLE batch (dynamic partition overwrite)
    val (_, tA1r) = timed(Incremental.appendBatchWrite(spark, sfDir, 1))

    // store content checksum per batch + the day-4 manifest, pre-compaction
    def storeChk(): Seq[(Long, Long, Long, Long)] =
      Incremental.ledgerAsOf(spark, sfDir, 2)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("in4"), 1L).otherwise(0L)).as("n_surv"),
          sum(conv(substring(col("h"), 1, 6), 16, 10).cast("long")).as("chk"))
        .orderBy("batch_id").collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    def day4(): Map[String, (Long, Long)] =
      Incremental.incrementalManifest(spark, sfDir,
          batchPred = Some(Incremental.batchPredFor(3)),
          store = Some(Incremental.ledgerAsOf(spark, sfDir, 2)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap

    val (chkPre, tChkPre) = timed(storeChk())
    val (d4Pre, tD4Pre) = timed(day4())

    def countFiles(p: String): Int = {
      def rec(f: java.io.File): Int =
        if (!f.isDirectory) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else f.listFiles().map(rec).sum
      rec(new java.io.File(p))
    }
    val filesPre = countFiles(dir)
    val (_, tCompact) = timed(Incremental.compactLedger(spark, sfDir, 2))
    val filesPost = countFiles(dir)

    val (chkPost, tChkPost) = timed(storeChk())
    val (d4Post, tD4Post) = timed(day4())
    require(chkPost == chkPre, s"compaction changed store content: $chkPre -> $chkPost")
    require(d4Post == d4Pre, "compaction changed the day-4 manifest")

    val json =
      s"""{"sf_dir":"$sfDir","n_docs":$nDocs,"n_batch1":$nB1,"n_batch2":$nB2,""" +
      s""""t_build_s":${jnum(tBuild)},"t_append_b1_s":${jnum(tA1)},""" +
      s""""t_append_b2_s":${jnum(tA2)},"t_reappend_b1_s":${jnum(tA1r)},""" +
      s""""append_per_100k_b1_s":${jnum(tA1 / math.max(1L, nB1) * 100000)},""" +
      s""""append_per_100k_b2_s":${jnum(tA2 / math.max(1L, nB2) * 100000)},""" +
      s""""t_compact_s":${jnum(tCompact)},"files_pre":$filesPre,"files_post":$filesPost,""" +
      s""""t_day4_pre_s":${jnum(tD4Pre)},"t_day4_post_s":${jnum(tD4Post)},""" +
      s""""t_storechk_pre_s":${jnum(tChkPre)},"t_storechk_post_s":${jnum(tChkPost)},""" +
      s""""summary_equal":true,"manifest_equal":true,""" +
      s""""heap_gb":${jnum(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024))}}"""
    println(json)
    new java.io.File(out).getParentFile match {
      case null => ()
      case p => p.mkdirs()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.data.Frames.releaseAll()
    spark.stop()
  }
}
