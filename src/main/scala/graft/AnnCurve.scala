package graft

import graft.data.Tables
import graft.llm.{IvfIndex, PqIndex, Similarity}
import org.apache.spark.sql.functions._

/** ANN recall/latency operating curve: sweeps the IVFPQ knobs
  * (codebook resolution ksub × rotation × nProbe × shortlist) against
  * EXACT brute-force top-k truth and records (recall@10, wall seconds)
  * per point — the tuning guidance a deployment needs to pick an
  * operating point, and the artifact backing the "recall ≥ 0.9 at a
  * measured latency" claim.
  *
  * Recall@10 here is pair recall: |approx∩exact| / |exact| over all
  * probes' top-10 sets (ties broken identically on both sides — lower
  * cand_id — so the comparison is exact).
  *
  * Usage: sbt "runMain graft.AnnCurve [sfDir] [outJson] [preset]"
  * preset `full` (default) sweeps the whole grid; `prod` probes only the
  * chosen operating configuration (PQ m16/k64 — the sf1 winner) at a few
  * nProbe×shortlist points, for checking the operating point a decade up
  * without paying 72 full-scan legs; `qps` measures the deployment number —
  * queries/sec vs probe BATCH size at the fixed crossover operating point
  * (residual IVFPQ m32/k64, nProbe 8, shortlist 200), served from the
  * PERSISTED cell-partitioned index (saveIvfPq → loadIvfPq: probes read
  * routed cells' files, no session state) — recall is verified once on the
  * truth-covered batch, the batch sweep isolates the per-probe marginal
  * cost (each probe row re-derives its m×ksub table inline, so small
  * batches are scheduling-floor-bound and large batches amortize the scan).
  * Artifacts: scale_r11/ann_curve.json, scale_r11/ann_curve_sf10_prod.json,
  * scale_r12/ann_curve_vec2m.json, scale_r13/ann_qps_vec2m.json
  */
object AnnCurve {
  def main(args: Array[String]): Unit = {
    val spark = MasterEnv.standardBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args)
    finally {
      graft.data.Frames.releaseAll()
      spark.stop()
    }
  }

  private def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_scale/sf1")
    val out = args.lift(1).getOrElse("scale_r11/ann_curve.json")
    val preset = args.lift(2).getOrElse("full")

    val emb = Tables(spark, sfDir, "embeddings")
    val nVec = emb.count()
    // ~1% of the corpus as probes, capped so the exact truth stays cheap
    val probeMod = math.max(2L, nVec / 200L)
    val probes = emb.filter(col("vec_id") % probeMod === 0)
    val nProbes = probes.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // preset `append`: the index-append story at corpus scale — build the
    // base index on day-1 (vec_id%97 != 3), APPEND day-2 (~1%) with frozen
    // centroids/codebooks (PqIndex.appendIvfPq: assign + encode + land as
    // batch=1 partitions; day-1 files untouched), then verify recall of
    // day-2 probes against exact truth on the MERGED corpus. The number a
    // deployment quotes: seconds per appended batch vs the full rebuild.
    if (preset == "append") {
      val day1 = emb.filter(col("vec_id") % 97 =!= 3)
      val day2 = emb.filter(col("vec_id") % 97 === 3)
      val nDay2 = day2.count()
      val (ivfA, tIvfA) = timed(IvfIndex.build(day1, 256, maxIter = 10))
      val dir = graft.data.Frames.storeDir("anncurve", "ivfpq_append")
      val (m, ksub, nProbe, shortlist) = (32, 64, 8, 200)
      val (_, tBase) = timed {
        val built = PqIndex.buildIvfPq(ivfA, day1, m, ksub)
        PqIndex.saveIvfPq(built, dir)
        built.unpersist()
      }
      val base = PqIndex.loadIvfPq(spark, dir)
      val (appended, tAppend) = timed(PqIndex.appendIvfPq(ivfA, base, day2, dir))
      val nLists = appended.cellCodes.count()
      // recall of day-2 probes vs exact truth on the merged corpus
      val aProbes = day2.filter(col("vec_id") % (97L * 500L) === 3)
      val nap = aProbes.count()
      // recall below divides by the truth-set size: an empty probe class
      // (corpora under ~48.5k vectors) would emit NaN, which is not valid
      // JSON — fail fast with the actionable message instead
      require(nap > 0,
        s"append preset: probe class vec_id % ${97L * 500L} == 3 is empty at $sfDir — " +
          "this preset needs the 2M-vector corpus (VectorGen vec2m)")
      val (tr, tTr) = timed(pairSet(Similarity.bruteForceKnnAgg(aProbes, emb, k = 10)))
      val (gotA, tGotA) = timed(pairSet(PqIndex.searchIvfPqResidual(
        ivfA, appended, aProbes, emb, k = 10, shortlist = shortlist, nProbe = nProbe)))
      val rec = (tr & gotA).size.toDouble / tr.size
      val day2Hits = gotA.count(_._2 % 97 == 3)
      val json =
        s"""{"sf_dir":"$sfDir","n_day1":${nVec - nDay2},"n_appended":$nDay2,
           |"base_build_save_s":${math.rint((tIvfA + tBase) * 100) / 100},
           |"append_s":${math.rint(tAppend * 100) / 100},
           |"lists_rows_after":$nLists,
           |"probes":$nap,"n_probe":$nProbe,"shortlist":$shortlist,
           |"recall_at_10_vs_merged_exact":${math.rint(rec * 1e4) / 1e4},
           |"truth_s":${math.rint(tTr * 100) / 100},
           |"probe_s":${math.rint(tGotA * 100) / 100},
           |"result_pairs_hitting_appended_vecs":$day2Hits}"""
          .stripMargin.replace("\n", "")
      println(s"[ann_append] append=${tAppend}s recall=$rec day2Hits=$day2Hits")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      return
    }

    // preset `compact` (r15, verdict ask #5): the decade-up maintenance
    // story — base index on day-1, TWO appended batches (timed each: the
    // flatness-in-batch-number evidence), the operating-point probe run
    // PRE-compaction, then compactIvfPq and the SAME probe run POST —
    // asserted pair-for-pair identical — plus file counts (the
    // consolidation the job exists for). Probes hit the PERSISTED store
    // via loadIvfPq both times, so the comparison includes the two-zone
    // read path, not just in-memory frames.
    // preset `recall`: recall@10 at the DECLARED operating point (residual
    // IVFPQ m32/k64, nProbe 8, shortlist 200, 256 cells) vs block-
    // partitioned exact truth — the r15 verdict's ask #6: the 20M-vector
    // decade had probe-identity and serving proofs but recall pinned only
    // at 2M. ~100 deterministic probes; truth is the bounded-heap
    // brute-force aggregator (broadcast probes, one corpus scan — the
    // block-partitioned formulation, no pair materialization).
    if (preset == "recall") {
      val (m, ksub, nProbe, shortlist) = (32, 64, 8, 200)
      val (ivf, tIvf) = timed(IvfIndex.build(emb, 256, maxIter = 10))
      val dir = graft.data.Frames.storeDir("anncurve", "recall")
      val (_, tBuild) = timed {
        val built = PqIndex.buildIvfPq(ivf, emb, m, ksub)
        PqIndex.saveIvfPq(built, dir)
        built.unpersist()
      }
      // serving never holds the build-time corpus cache (the r15 lesson)
      ivf.assigned.unpersist()
      val model = PqIndex.loadIvfPq(spark, dir)
      val recallProbes = emb.filter(col("vec_id") % math.max(2L, nVec / 100L) === 0)
      val nRp = recallProbes.count()
      val (truthSet, tTruthR) = timed(pairSet(
        Similarity.bruteForceKnnAgg(recallProbes, emb, k = 10)))
      // The operating point must SCALE with the corpus: nProbe cells at
      // 20M hold 10× the candidates they hold at 2M, so a fixed ADC
      // shortlist keeps a shrinking fraction of them and recall decays
      // (measured: 1.0 at 2M → 0.38 at 20M for nProbe 8 / shortlist 200).
      // Sweep the declared point plus shortlist/nProbe scaled with the
      // candidate count — same persisted index, probe-time knobs only.
      val points = Seq((nProbe, shortlist), (8, 1000), (8, 2000),
        (16, 2000), (16, 4000), (32, 4000))
      val rows = points.map { case (np, sl) =>
        val (gotSet, tGot) = timed(pairSet(PqIndex.searchIvfPqResidual(
          ivf, model, recallProbes, emb, k = 10, shortlist = sl, nProbe = np)))
        val recall = math.rint((truthSet & gotSet).size.toDouble / truthSet.size * 10000) / 10000
        println(s"[ann_recall] n=$nVec nProbe=$np shortlist=$sl recall@10=$recall adc=${tGot}s")
        s"""{"n_probe":$np,"shortlist":$sl,"recall_at_10":$recall,"adc_probe_s":${math.rint(tGot * 100) / 100}}"""
      }
      val json =
        s"""{"sf_dir":"$sfDir","n_vectors":$nVec,"n_probes":$nRp,
           |"declared_point":{"m":$m,"ksub":$ksub,"n_probe":$nProbe,"shortlist":$shortlist,"cells":256},
           |"points":[${rows.mkString(",")}],
           |"ivf_build_s":${math.rint(tIvf * 100) / 100},
           |"pq_build_save_s":${math.rint(tBuild * 100) / 100},
           |"exact_truth_s":${math.rint(tTruthR * 100) / 100},
           |"heap_gb":${math.rint(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024) * 10) / 10}}"""
          .stripMargin.replace("\n", "")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      return
    }

    // preset `scalelaw` (r17, verdict asks #1+#2): the two structural
    // scale fixes measured against the r16 256-cell comparison point in
    // ONE matched-condition run on the same persisted corpus —
    //   (a) the lifted quantizer cap: cells = scaledCells(n) (√n/8 = 559
    //       at 20M) vs the old cap 256, sampled-KMeans build both times;
    //   (b) staged rerank: plain exact rerank of the scaled shortlist vs
    //       fine-ADC refine → constant-width exact rerank (refineKeep).
    // Acceptance: recall@10 ≥ 0.999 at the scaled-cell point with ADC
    // s/probes LOWER than the 256-cell point, and staged ≤ plain cost at
    // equal recall.
    if (preset == "scalelaw") {
      val (m, ksub, nProbe) = (32, 64, 8)
      val recallProbes = emb.filter(col("vec_id") % math.max(2L, nVec / 100L) === 0)
      val nRp = recallProbes.count()
      val (truthSet, tTruthR) = timed(pairSet(
        Similarity.bruteForceKnnAgg(recallProbes, emb, k = 10)))
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      for (cells <- Seq(256, graft.llm.IvfIndex.scaledCells(nVec))) {
        val (ivf, tIvf) = timed(IvfIndex.build(emb, cells, maxIter = 10))
        val dir = graft.data.Frames.storeDir("anncurve", s"scalelaw_$cells")
        val (_, tBuild) = timed {
          val built = PqIndex.buildIvfPq(ivf, emb, m, ksub, refineKsub = 256)
          PqIndex.saveIvfPq(built, dir)
          built.unpersist()
        }
        ivf.assigned.unpersist() // serving never holds the build-time cache
        val model = PqIndex.loadIvfPq(spark, dir)
        val sl = PqIndex.scaledShortlist(nVec, nProbe, cells, floor = 200)
        for (rk <- Seq(0, PqIndex.refineKeep(10))) {
          val (gotSet, tGot) = timed(pairSet(PqIndex.searchIvfPqResidual(
            ivf, model, recallProbes, emb, k = 10, shortlist = sl,
            nProbe = nProbe, refineKeep = rk)))
          val recall = math.rint(
            (truthSet & gotSet).size.toDouble / truthSet.size * 10000) / 10000
          println(s"[ann_scalelaw] cells=$cells shortlist=$sl refineKeep=$rk " +
            s"recall@10=$recall probe_s=${math.rint(tGot * 100) / 100}")
          rows += s"""{"cells":$cells,"n_probe":$nProbe,"shortlist":$sl,"refine_keep":$rk,"recall_at_10":$recall,"probe_s":${math.rint(tGot * 100) / 100},"ivf_build_s":${math.rint(tIvf * 100) / 100},"pq_build_save_s":${math.rint(tBuild * 100) / 100}}"""
        }
        model.unpersist()
      }
      val json =
        s"""{"sf_dir":"$sfDir","n_vectors":$nVec,"n_probes":$nRp,
           |"m":$m,"ksub":$ksub,"refine_ksub":256,
           |"points":[${rows.mkString(",")}],
           |"exact_truth_s":${math.rint(tTruthR * 100) / 100},
           |"heap_gb":${math.rint(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024) * 10) / 10}}"""
          .stripMargin.replace("\n", "")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      return
    }

    if (preset == "compact") {
      val day1 = emb.filter(col("vec_id") % 97 =!= 3 && col("vec_id") % 97 =!= 7)
      val day2 = emb.filter(col("vec_id") % 97 === 3)
      val day3 = emb.filter(col("vec_id") % 97 === 7)
      val (nD2, nD3) = (day2.count(), day3.count())
      val (ivfA, tIvfA) = timed(IvfIndex.build(day1, 256, maxIter = 10))
      val dir = graft.data.Frames.storeDir("anncurve", "ivfpq_compact")
      val (m, ksub, nProbe, shortlist) = (32, 64, 8, 200)
      val (_, tBase) = timed {
        val built = PqIndex.buildIvfPq(ivfA, day1, m, ksub)
        PqIndex.saveIvfPq(built, dir)
        built.unpersist()
      }
      val base = PqIndex.loadIvfPq(spark, dir)
      // the corpus-wide assigned cache exists only for the base ENCODE
      // pass; appends re-route their own batch and probes read the
      // persisted lists — dropping it here frees ~20 GB of cache spill at
      // 20M vectors (the r15 disk-exhaustion lesson), and matches the
      // serving deployment, which never holds the build-time corpus cache
      ivfA.assigned.unpersist()
      val (afterB1, tA1) = timed(PqIndex.appendIvfPq(ivfA, base, day2, dir, batchId = 1))
      val cProbes = emb.filter(col("vec_id") % (97L * 500L) === 3)
      val nCProbes = cProbes.count()
      require(nCProbes > 0, "compact preset needs the big vector corpus")
      def probeRun(): (Set[(Long, Long)], Double) = {
        // fresh loadIvfPq per run — the serving shape (st_stream_ann's
        // micro-batches re-plan from the persisted store each trigger),
        // so the measurement includes the zone-listing path that
        // concurrent appends mutate
        val model = PqIndex.loadIvfPq(spark, dir)
        timed(pairSet(PqIndex.searchIvfPqResidual(
          ivfA, model, cProbes, emb, k = 10, shortlist = shortlist, nProbe = nProbe)))
      }
      // ---- SERVE-WHILE-APPEND (r14 ask #7, measured): baseline qps on
      // the 1-batch store, then probe continuously while batch 2 lands on
      // a separate thread — every in-flight result must classify as
      // pre-batch or post-batch (the staged-rename publish guarantee),
      // and the during-append qps quantifies the serving tax ----
      val (preB2, tBaseline) = probeRun()
      @volatile var appendErr: Option[Throwable] = None
      @volatile var tA2 = 0.0
      val appender = new Thread(() =>
        try { val (_, t) = timed(PqIndex.appendIvfPq(ivfA, afterB1, day3, dir, batchId = 2)); tA2 = t }
        catch { case e: Throwable => appendErr = Some(e) })
      appender.start()
      val during = scala.collection.mutable.ArrayBuffer.empty[(Set[(Long, Long)], Double)]
      while (appender.isAlive) during += probeRun()
      appender.join()
      require(appendErr.isEmpty, s"concurrent append failed: $appendErr")
      val (postB2, tAfter) = probeRun()
      val torn = during.count(r => r._1 != preB2 && r._1 != postB2)
      require(torn == 0, s"$torn of ${during.size} concurrent probes saw a torn store")
      val qpsBaseline = math.rint(nCProbes / tBaseline * 100) / 100
      val qpsDuring =
        if (during.isEmpty) 0.0
        else math.rint(nCProbes * during.size / during.map(_._2).sum * 100) / 100
      val qpsAfter = math.rint(nCProbes / tAfter * 100) / 100
      def countFiles(p: String): Int = {
        def rec(f: java.io.File): Int =
          if (!f.isDirectory) (if (f.getName.endsWith(".parquet")) 1 else 0)
          else f.listFiles().map(rec).sum
        rec(new java.io.File(p))
      }
      val (pre, tPre) = probeRun()
      val filesPre = countFiles(dir)
      val (_, tCompact) = timed(PqIndex.compactIvfPq(spark, dir, upTo = 2))
      val (post, tPost) = probeRun()
      val filesPost = countFiles(dir)
      require(post == pre,
        s"probe results changed across compaction: pre=${pre.size} post=${post.size}")
      val json =
        s"""{"sf_dir":"$sfDir","n_day1":${nVec - nD2 - nD3},"n_batch1":$nD2,"n_batch2":$nD3,
           |"base_build_save_s":${math.rint((tIvfA + tBase) * 100) / 100},
           |"append_b1_s":${math.rint(tA1 * 100) / 100},
           |"append_b2_s":${math.rint(tA2 * 100) / 100},
           |"compact_s":${math.rint(tCompact * 100) / 100},
           |"probe_pre_s":${math.rint(tPre * 100) / 100},
           |"probe_post_s":${math.rint(tPost * 100) / 100},
           |"files_pre":$filesPre,"files_post":$filesPost,
           |"probe_identical":true,"n_probe":$nProbe,"shortlist":$shortlist,
           |"serve_while_append":{"probes_per_run":$nCProbes,
           |"qps_baseline":$qpsBaseline,"qps_during_append":$qpsDuring,
           |"qps_after_append":$qpsAfter,"runs_during_append":${during.size},
           |"torn_results":0},
           |"heap_gb":${math.rint(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024) * 10) / 10}}"""
          .stripMargin.replace("\n", "")
      println(s"[ann_compact] a1=${tA1}s a2=${tA2}s compact=${tCompact}s " +
        s"files $filesPre->$filesPost probe ${tPre}->${tPost}s identical=true " +
        s"qps base=$qpsBaseline during=$qpsDuring after=$qpsAfter")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
      return
    }

    // exact truth: brute-force cosine top-10 (bounded-heap aggregator).
    // The cold preset defers it so the page-cache state around BOTH arms
    // is controlled explicitly inside the branch.
    val (truth0, tTruth0) =
      if (preset == "cold") (Set.empty[(Long, Long)], 0.0)
      else timed(pairSet(Similarity.bruteForceKnnAgg(probes, emb, k = 10)))
    var truth = truth0
    var tTruth = tTruth0

    // the engine's sized clustering (the sim_semdedup knob): cells of ~2k.
    // The cross preset bounds the coarse quantizer instead (256 cells,
    // 10 Lloyd iterations): k=n/2000 training cost grows ~k²·dim under
    // MLlib's axpy distance path (measured >90 min at k=1000, dim=256) for
    // a routing structure whose recall the sweep shows 256 cells already
    // deliver — the quantizer is a knob, not a contract
    // qps/cold probe the SAME operating point the cross preset proved
    // (256 cells, nProbe 8) — a different quantizer would silently move
    // the recall the "crossover" label stands on
    val coarse256 = Set("cross", "qps", "cold")
    val nClusters =
      if (coarse256(preset)) 256
      else math.max(8, math.min(4096, (nVec / 2000L).toInt))
    val (ivf, tIvf) = timed(IvfIndex.build(emb, nClusters,
      maxIter = if (coarse256(preset)) 10 else 20))

    val (configs, probeAxis, shortAxis) =
      if (preset == "prod")
        (Seq((16, 64, false)),
          Seq(4, 16, 32), Seq(200, 500))
      else if (preset == "cross")
        // the crossover preset: the corpus-size/dim regime where the exact
        // scan's probes×n×dim cost should exceed the routed ADC scan —
        // two code widths, a routing sweep, rerank depth fixed by the sf1
        // winner's neighborhood
        (Seq((16, 64, false), (32, 64, false)),
          Seq(8, 16, 32, 64), Seq(200, 500))
      else
        (for ((m, k) <- Seq((8, 16), (8, 64), (16, 64)); o <- Seq(false, true))
           yield (m, k, o),
          Seq(1, 4, nClusters), Seq(50, 200, 500, 1000))

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(label: String, nProbe: Int, shortlist: Int, tBuild: Double,
        got: Set[(Long, Long)], tQ: Double): Unit = {
      val rec = if (truth.isEmpty) 1.0 else (truth & got).size.toDouble / truth.size
      results += s"""{"model":"$label","n_probe":$nProbe,"shortlist":$shortlist,"recall_at_10":${math.rint(rec * 1e4) / 1e4},"query_s":${math.rint(tQ * 100) / 100},"build_s":${math.rint(tBuild * 100) / 100}}"""
      println(s"[ann_curve] $label nProbe=$nProbe shortlist=$shortlist recall=$rec t=${tQ}s")
    }
    /** Drop the OS page cache (root-only; /proc/sys/vm/drop_caches). The
      * cold preset's whole point: both arms' IO really hits disk, so the
      * 26× bytes-scanned advantage (codes vs floats) shows up as wall time
      * the way it would on a 100 TB corpus that can never be resident. */
    def dropCaches(): Boolean =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/proc/sys/vm/drop_caches"), "3")
        Thread.sleep(500); true
      } catch { case _: Throwable => false }

    if (preset == "qps" || preset == "cold") {
      // the fixed crossover operating point (scale_r12/ann_curve_vec2m:
      // recall@10 = 1.0), served from the PERSISTED cell-partitioned index
      val (m, ksub, nProbe, shortlist) = (32, 64, 8, 200)
      val (built, tBuild) = timed(PqIndex.buildIvfPq(ivf, emb, m, ksub))
      val dir = graft.data.Frames.storeDir("anncurve", s"ivfpq_$preset")
      val (_, tSave) = timed(PqIndex.saveIvfPq(built, dir))
      built.unpersist()
      ivf.unpersist() // search never reads `assigned`; keep memory honest
      val model = PqIndex.loadIvfPq(spark, dir)
      val label = s"ivfpq_res_m${m}_k$ksub(disk)"
      def probeOnce(p: org.apache.spark.sql.DataFrame) =
        PqIndex.searchIvfPqResidual(ivf, model, p, emb,
          k = 10, shortlist = shortlist, nProbe = nProbe)

      if (preset == "cold") {
        // truth arm: cold then warm — the float scan reads n·dim·4 bytes
        val coldOk = dropCaches()
        val (t1, tTruthCold) = timed(pairSet(
          Similarity.bruteForceKnnAgg(probes, emb, k = 10)))
        truth = t1
        val (_, tTruthWarm) = timed(pairSet(
          Similarity.bruteForceKnnAgg(probes, emb, k = 10)))
        tTruth = tTruthCold
        // ADC arm: cold then warm — routed cells' CODE files + rerank only
        val coldOk2 = dropCaches()
        val (got, tCold) = timed(pairSet(probeOnce(probes)))
        record(s"$label cold=${coldOk && coldOk2}", nProbe, shortlist,
          tBuild + tSave, got, tCold)
        val (got2, tWarm) = timed(pairSet(probeOnce(probes)))
        record(s"$label warm", nProbe, shortlist, tBuild + tSave, got2, tWarm)
        results += s"""{"model":"exact_scan","cold_s":${math.rint(tTruthCold * 100) / 100},"warm_s":${math.rint(tTruthWarm * 100) / 100},"cache_dropped":${coldOk && coldOk2}}"""
      } else {
        // recall verified once on the truth-covered batch, FROM DISK
        val (got, tQ) = timed(pairSet(probeOnce(probes)))
        record(label, nProbe, shortlist, tBuild + tSave, got, tQ)
        // batch sweep, time-only: recall is per-probe and batch-independent;
        // qps = batch / wall is the number a deployment quotes
        for (b <- Seq(1, 8, 64, 512, 2048)) {
          val mod = math.max(1L, nVec / b)
          val bp = emb.filter(col("vec_id") % mod === 1)
          val nb = bp.count()
          val (_, t) = timed(probeOnce(bp)
            .write.mode("overwrite").format("noop").save())
          val qps = math.rint(nb / t * 100) / 100
          results += s"""{"model":"$label","batch":$nb,"n_probe":$nProbe,"shortlist":$shortlist,"query_s":${math.rint(t * 100) / 100},"qps":$qps}"""
          println(s"[ann_qps] batch=$nb t=${t}s qps=$qps")
        }
      }
      model.unpersist()
    } else
    for ((m, ksub, opq) <- configs) {
      if (preset == "cross") {
        // the crossover preset measures the production composition:
        // RESIDUAL IVFPQ (FAISS IVFADC) over the persisted cell-keyed
        // inverted lists — raw-vector codes measured recall 0.06 here
        // (see IvfPqModel's doc), so the raw path is not on this sweep
        val label = s"ivfpq_res_m${m}_k$ksub"
        val (model, tBuild) = timed(PqIndex.buildIvfPq(ivf, emb, m, ksub))
        model.cellCodes.count() // materialize the persist before timing
        for (nProbe <- probeAxis; shortlist <- shortAxis) {
          val (got, tQ) = timed(pairSet(PqIndex.searchIvfPqResidual(
            ivf, model, probes, emb, k = 10, shortlist = shortlist, nProbe = nProbe)))
          record(label, nProbe, shortlist, tBuild, got, tQ)
        }
        model.unpersist()
      } else {
        val label = (if (opq) "opq" else "pq") + s"_m${m}_k$ksub"
        val (model, tBuild) = timed(PqIndex.build(emb, m = m, ksub = ksub, opq = opq))
        model.encoded.count() // materialize the persist before timing probes
        for (nProbe <- probeAxis; shortlist <- shortAxis) {
          val (got, tQ) = timed(pairSet(
            if (nProbe >= nClusters)
              PqIndex.search(model, probes, emb, k = 10, shortlist = shortlist)
            else
              PqIndex.searchIvfPq(ivf, model, probes, emb,
                k = 10, shortlist = shortlist, nProbe = nProbe)))
          record(label, nProbe, shortlist, tBuild, got, tQ)
        }
        model.unpersist()
      }
    }
    ivf.unpersist()

    val dir = java.nio.file.Paths.get(out).getParent
    if (dir != null) java.nio.file.Files.createDirectories(dir)
    def jstr(s: String): String = s.replaceAll("""["\\\n\r\t]""", " ")
    // bytes-scanned model inputs (the 100 TB IO argument, reported from
    // the corpus actually measured): a full float32 scan reads n·dim·4
    // bytes per probe batch; the routed ADC scan reads ~n·(nProbe/k)·m
    // code bytes + shortlist·dim·4 rerank bytes
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val json =
      s"""{"sf_dir":"${jstr(sfDir)}","n_vectors":$nVec,"n_probes":$nProbes,"dim":$dim,
         |"bytes_float32_scan":${nVec * dim * 4L},
         |"truth_s":${math.rint(tTruth * 100) / 100},"n_clusters":$nClusters,"ivf_build_s":${math.rint(tIvf * 100) / 100},
         |"points":[${results.mkString(",")}],
         |"loadavg":${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
  }
}
