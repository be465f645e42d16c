package graft.llm

import graft.data.Frames
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A built IVF index: broadcastable centroid list + the corpus with its cell
  * assignment. At 100 TB `assigned` is written out ONCE partitioned by
  * `cell` (so probe-time reads are partition-pruned subset scans); on
  * local testdata it is persisted in memory with the same plan shape. */
final case class IvfModel(centroids: Seq[(Int, Array[Double])], assigned: DataFrame) {
  def unpersist(): Unit = assigned.unpersist()
}

/** IVF (inverted-file) approximate nearest neighbor index.
  *
  * Build (offline, once): KMeans over the corpus → each vector assigned to
  * its nearest centroid ("cell"). Search (per query): route each probe to
  * its nProbe nearest centroids, scan only those cells — the candidate scan
  * shrinks by ~nProbe/nClusters while the plan shape (broadcast probes,
  * partial top-k) matches brute force.
  */
object IvfIndex {

  /** KMeans fit cap: the coarse quantizer trains on at most
    * max(50·k, this) vectors — the FAISS practice (its default trains on
    * ≤ 256 points per centroid). The centroids are k×dim KBs; full-corpus
    * Lloyd's pays corpus-scale iterations for the same KBs of output
    * (measured 82.8 s vs ~11 s at the 100× corpus, identical index
    * structure). The ASSIGNMENT pass stays distributed over every vector. */
  val KmeansTrainCap = 20000L

  /** Offline index build — the expensive step a deployment runs once and
    * reuses across query workloads, NOT per query. */
  def build(corpus: DataFrame, nClusters: Int, maxIter: Int = 20): IvfModel = {
    val vecs = corpus.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val cap = math.max(50L * nClusters, KmeansTrainCap)
    // deterministic hash-ordered sample (the PqIndex.train reservoir idiom;
    // Sampling.hashReservoir prefilters map-side so the global ordered
    // limit never fans corpus-wide per-task results into the driver)
    val n = corpus.count()
    val trainVecs =
      if (n <= cap) vecs
      else Sampling.hashReservoir(vecs, col("vec_id"), cap.toInt, knownCount = Some(n))
    val km = new KMeans().setK(nClusters).setSeed(42L).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(trainVecs)
    // Measured dispatch on the ASSIGNED cache (r15): the cell assignment
    // is a map-only derivation (one broadcast-centroid distance pass), so
    // below the bound caching it saves the handful of re-derivations the
    // build makes; above it the cache is a corpus-sized spill for work
    // that is cheaper to recompute — at 20M×256-d the MEMORY_AND_DISK
    // blocks spilled ~20 GB and (with the encode shuffle on top)
    // exhausted local disk, while the recompute pass is seconds of
    // codegen'd arithmetic. The 100 TB rule: never persist what a map
    // stage rebuilds from the scan for less than the cache's IO.
    val assigned0 = model.transform(vecs)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val assigned =
      if (n <= AssignedCacheMaxRows) assigned0.persist(StorageLevel.MEMORY_AND_DISK)
      else assigned0
    IvfModel(model.clusterCenters.zipWithIndex.map { case (v, i) => (i, v.toArray) }.toSeq,
      assigned)
  }

  /** Row bound for caching the build-time assignment: vec2m (2M×256-d,
    * ~2.2 GB cached) measured a net win; 20M spilled ~20 GB for a
    * recomputable map pass (see [[build]]). */
  val AssignedCacheMaxRows = 4000000L

  /** Route each probe to its nProbe nearest centroids (shared by top-k
    * search, threshold pair generation, and the IVFPQ composition).
    * Output: (probe_id, pv, cell), one row per routed cell. */
  private[graft] def route(index: IvfModel, probes: DataFrame, nProbe: Int): DataFrame = {
    val spark = probes.sparkSession
    val centDf = broadcast(spark.createDataFrame(index.centroids).toDF("cell", "centroid"))
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").cast("array<double>").as("pv"))
    val wRoute = Window.partitionBy("probe_id").orderBy(col("cdist"), col("cell"))
    p.crossJoin(centDf)
      // codegen'd SqDist (r14): the HOF fold ran INTERPRETED over
      // probes × centroids rows — and the routing frame is evaluated
      // twice when it feeds both a DPP subquery and the join build side.
      // Bit-identical accumulation, so routing (incl. ties) is unchanged.
      .withColumn("cdist", Similarity.sqDistNative(col("pv"), col("centroid")))
      .withColumn("rr", row_number().over(wRoute))
      .filter(col("rr") <= nProbe)
      .select(col("probe_id"), col("pv"), col("cell"))
  }

  /** Probe-time search against a prebuilt index. */
  def search(index: IvfModel, probes: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val routed = route(index, probes, nProbe)
    // scan only the routed cells (at scale: partition pruning on `cell`);
    // probe side picked by measured size like nearDupPairs — a corpus-sized
    // probe batch must not ride a broadcast. Sizing probe: count the RAW
    // probe table (route emits exactly min(nProbe, nClusters) rows per
    // probe, so probes × that IS the routed row count) — counting `routed`
    // itself would execute the centroid cross-join + routing window eagerly
    // and then, unpersisted, recompute it all when the returned join runs.
    val perProbe = math.min(nProbe, index.centroids.size).toLong
    val probeSide =
      if (probes.count() * perProbe <= BroadcastMaxRoutedRows) broadcast(routed) else routed
    val cand = index.assigned.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("cv"), col("cell"))
    val scored = cand.join(probeSide, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos_raw", Similarity.cosine(col("pv"), col("cv")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_raw").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("cand_id"), round(col("cos_raw"), 6).as("cosine"), col("rn"))
  }

  /** Threshold near-dup PAIRS via cell routing — the scale path for the
    * exact broadcast fan-out (`sim_near_dup_pairs` scans probes × corpus,
    * inherently quadratic: 232 s at the 100× corpus). Here each probe
    * scans only its nProbe routed cells (~nProbe/nClusters of the corpus;
    * at 100 TB the cell-partitioned layout makes that a partition-pruned
    * subset read). A candidate lives in exactly ONE cell, so a pair
    * appears at most once — no distinct needed. Cosines are computed
    * exactly on the routed candidates: zero false positives vs the exact
    * pair set; recall is the probability a ≥-threshold neighbour's cell is
    * among the probe's routed nProbe (DataPlaneSpec measures it vs the
    * exact pairs). Output matches sim_near_dup_pairs:
    * (probe_id, cand_id, cosine) with probe_id < cand_id. */
  /** Probe sets up to this many ROUTED rows ride a broadcast (vectors are
    * KB-scale rows: 100k × 64 doubles ≈ 50 MB, the broadcast comfort
    * zone). Beyond it the probe set is corpus-like — a 10%-of-corpus
    * incremental batch at 100× measured ~400 MB routed, which no driver
    * should ship — and the join shuffles on `cell` instead: with
    * production cell counts (~√n, thousands at scale) that is a
    * well-partitioned key, and the candidates are already cell-clustered
    * so only the probe side moves. */
  val BroadcastMaxRoutedRows = 100000L

  /** Routed sets above [[BroadcastMaxRoutedRows]] and up to this many rows
    * take the blocked in-memory kernel (collect + broadcast of packed
    * probe arrays: 1M × 64-d ≈ 550 MB — the ceiling a shared 8 GiB heap
    * tolerates); beyond it the probe set is corpus-like and the plain
    * cell join (shuffled, AQE-managed) is the only shape that scales. */
  val KernelMaxRoutedRows = 1000000L

  def nearDupPairs(index: IvfModel, probes: DataFrame, threshold: Double,
      nProbe: Int): DataFrame = {
    require(threshold > 0, "norm-hoisted prefilter assumes a positive threshold")
    val routed = route(index, probes, nProbe)
      .withColumn("pnorm", sqrt(Similarity.dotNative(col("pv"), col("pv"))))
    // measured dispatch (the w3/j2 precedent): one count of the RAW probe
    // table picks the strategy — route emits exactly
    // min(nProbe, nClusters) rows per probe, so probes × that IS the
    // routed row count, and counting the cheap scan (vs `routed` itself)
    // keeps the cross-join + routing window lazy so it executes once.
    val perProbe = math.min(nProbe, index.centroids.size).toLong
    val routedRows = probes.count() * perProbe
    // Dispatch on PAIR volume, not routed rows: the Catalyst join form
    // pays ~200 ns per candidate pair (measured by stage time at sf10:
    // 437 s-cpu over ~2G matches) — the per-element ArrayData access in
    // the join condition dominates, which is why hoisting the fused
    // cosine's 3 ops/element to a 1-op dot, and even a 4-accumulator
    // unroll, measured FLAT (18.8 / 18.6 / 18.5 s warm). The blocked
    // kernel reads primitive arrays and keeps a probe block L2-resident
    // while candidates stream under it (the GEMM insight), so above
    // ~100M candidate pairs its collect+pack overhead amortizes; its
    // ceiling is the packed-probe broadcast size. Below the floor the
    // join path keeps the oracle-visible plan + DPP cell pruning; above
    // the ceiling the shuffled cell join remains the only scalable shape.
    val pairVolume =
      routedRows.toDouble * index.assigned.count() / math.max(1, index.centroids.size)
    if (pairVolume >= 1e8 && routedRows <= KernelMaxRoutedRows)
      return nearDupPairsBlocked(index, routed, threshold)
    val cand = index.assigned.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("cv"), col("cell"))
      .withColumn("cnorm", sqrt(Similarity.dotNative(col("cv"), col("cv"))))
    val probeSide =
      if (routedRows <= BroadcastMaxRoutedRows) broadcast(routed) else routed
    // norms hoisted out of the quadratic stage (the withinCellPairs
    // contract: dot > τ·‖p‖·‖c‖ ⇔ cos > τ up to one-ulp boundary cases,
    // τ > 0; the reported cosine divides by the hoisted norm product —
    // ≤ 1 ulp vs the fused sqrt(a·b), invisible at 6 dp)
    cand.join(probeSide, Seq("cell"))
      .filter(col("probe_id") < col("cand_id"))
      .filter(Similarity.dotUnrolled(col("pv"), col("cv")) >
        col("pnorm") * col("cnorm") * lit(threshold))
      .select(col("probe_id"), col("cand_id"),
        round(Similarity.dotUnrolled(col("pv"), col("cv")) /
          (col("pnorm") * col("cnorm")), 6).as("cosine"))
  }

  /** The cache-blocked pair kernel for the mid-scale regime. Probes are
    * collected once (bounded by [[KernelMaxRoutedRows]]), packed per cell
    * into flat primitive arrays, and broadcast; each executor partition
    * buffers its candidate rows per cell and scans them against one
    * 256-probe block at a time — the block (~128 KB) stays L2-resident
    * across the whole candidate stream, so main-memory traffic drops from
    * pairs × vector-bytes to candidates × blocks (~32× less at sf10).
    * mapPartitions is the documented last-resort tier, taken here on
    * measurement: the quadratic stage is a dense rectangular kernel
    * Catalyst has no operator for (it re-decodes build rows per pair and
    * cannot tile). Semantics match the join path: probe_id < cand_id,
    * dot > τ·‖p‖·‖c‖ (one-ulp contract), cosine = round(dot/(‖p‖·‖c‖), 6)
    * with HALF_UP — the `round()` rule. */
  private[graft] def nearDupPairsBlocked(index: IvfModel, routed: DataFrame,
      threshold: Double): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val tColl0 = System.nanoTime()
    val probeRows = routed.select(col("cell"), col("probe_id"), col("pv"))
      .collect()
    Console.err.println(f"[neardup-kernel] collect ${probeRows.length} routed probes: ${(System.nanoTime() - tColl0) / 1e9}%.2f s")
    val packed: Map[Int, (Array[Long], Array[Double], Array[Double], Int)] =
      probeRows.groupBy(_.getInt(0)).map { case (cell, rs) =>
        val dim = rs.head.getSeq[Double](2).size
        val ids = new Array[Long](rs.length)
        val norms = new Array[Double](rs.length)
        val flat = new Array[Double](rs.length * dim)
        var j = 0
        while (j < rs.length) {
          ids(j) = rs(j).getLong(1)
          val v = rs(j).getSeq[Double](2)
          var i = 0
          var nn = 0.0
          while (i < dim) {
            val x = v(i); flat(j * dim + i) = x; nn += x * x; i += 1
          }
          norms(j) = math.sqrt(nn)
          j += 1
        }
        cell -> ((ids, norms, flat, dim))
      }
    val bc = spark.sparkContext.broadcast(packed)
    val cand = index.assigned
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("cell"))
      .as[(Long, Array[Double], Int)]
    cand.mapPartitions { iter =>
      val cells = bc.value
      val Block = 256
      // buffer the partition's candidates per cell FIRST: tiling only
      // pays if the probe block is the OUTER loop with many candidates
      // streamed under it (block stays L2-resident; candidates stream
      // sequentially from the buffer once per block)
      val buf = scala.collection.mutable.HashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]]
      iter.foreach { case (candId, cv, cell) =>
        if (cells.contains(cell))
          buf.getOrElseUpdate(cell, scala.collection.mutable.ArrayBuffer.empty) += ((candId, cv))
      }
      buf.iterator.flatMap { case (cell, cands) =>
        val (ids, norms, flat, dim) = cells(cell)
        val nc = cands.length
        val cnorms = new Array[Double](nc)
        var c = 0
        while (c < nc) {
          val cv = cands(c)._2
          var nn = 0.0
          var i = 0
          while (i < dim) { nn += cv(i) * cv(i); i += 1 }
          cnorms(c) = math.sqrt(nn)
          c += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var b0 = 0
        while (b0 < ids.length) {
          val b1 = math.min(b0 + Block, ids.length)
          var ci = 0
          while (ci < nc) {
            val candId = cands(ci)._1
            val cv = cands(ci)._2
            val cnorm = cnorms(ci)
            var j = b0
            while (j < b1) {
              if (ids(j) < candId) {
                val off = j * dim
                var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
                var k = 0
                val d4 = dim - 3
                while (k < d4) {
                  a0 += cv(k) * flat(off + k)
                  a1 += cv(k + 1) * flat(off + k + 1)
                  a2 += cv(k + 2) * flat(off + k + 2)
                  a3 += cv(k + 3) * flat(off + k + 3)
                  k += 4
                }
                while (k < dim) { a0 += cv(k) * flat(off + k); k += 1 }
                val dot = (a0 + a1) + (a2 + a3)
                if (dot > threshold * norms(j) * cnorm) {
                  val cos = BigDecimal(dot / (norms(j) * cnorm))
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  out += ((ids(j), candId, cos))
                }
              }
              j += 1
            }
            ci += 1
          }
          b0 = b1
        }
        out.iterator
      }
    }.toDF("probe_id", "cand_id", "cosine")
  }

  /** Build-and-search in one call (tests/declared query convenience). The
    * returned plan reads the build's assignment cache, so that is tracked
    * for the enclosing scope to release. */
  def annSearch(probes: DataFrame, corpus: DataFrame, k: Int, nClusters: Int, nProbe: Int): DataFrame = {
    val model = build(corpus, nClusters)
    Frames.track(model.assigned)
    search(model, probes, k, nProbe)
  }

  /** Persist a built index: centroids as one small parquet table, the
    * assigned corpus partitioned BY CELL — the build-once / probe-many
    * layout (reference pattern: feature-store datasets prepared offline,
    * maggy/core/patching/dataloader.py:99-137). Probe-time cell routing then
    * hits the partition layout: the broadcast join on `cell` qualifies for
    * dynamic partition pruning, so only routed cells' files are read. */
  def save(index: IvfModel, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    spark.createDataFrame(index.centroids).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // range-partition ON (cell, vec_id) first — a partitionBy write from an
    // unrelated partitioning opens one file per (task × cell), up to ~32k
    // small files at 2M vectors / 256 cells; plain repartition(cell) fixes
    // that but puts each WHOLE cell in one file, and at small cell counts
    // (8 at sf10) an 8-file corpus caps every downstream cell-joined scan
    // at 8 tasks (sim_near_dup_ivf measured 15.7 → 92.3 s). Range
    // partitioning keeps both bounds: ≥1 writer per cell at high cell
    // counts, multiple chunks per cell at low ones — total files ≈
    // max(nCells, 2×parallelism).
    index.assigned.repartitionByRange(
        math.max(index.centroids.size,
          index.assigned.sparkSession.sparkContext.defaultParallelism * 2),
        col("cell"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/corpus")
  }

  /** Load a persisted index — NO KMeans refit. Centroids (a few KB) load to
    * the driver for broadcast routing; the corpus stays a lazy parquet scan
    * over the cell-partitioned layout. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): IvfModel = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val assigned = spark.read.parquet(s"$dir/corpus")
      .select(col("vec_id"), col("embedding"), col("cell").cast("int").as("cell"))
    IvfModel(centroids, assigned)
  }

  /** The persisted index for `cacheKey`'s corpus, building and saving it on
    * first use — the offline step a deployment runs ONCE and amortizes
    * across every probe workload (see build's doc). The registered model
    * is parquet-backed, not session memory: the probe plan reads only
    * routed cells' files. */
  private def cachedIndex(cacheKey: String, corpus: DataFrame, nClusters: Int): IvfModel =
    Frames.getOrCreate(Frames.Key("ivf", cacheKey, nClusters))({
      val dir = Frames.storeDir("ivf", s"$cacheKey#$nClusters")
      val built = build(corpus, nClusters)
      save(built, dir)
      built.unpersist()
      load(corpus.sparkSession, dir)
    })(_.unpersist())

  /** Scale-correct quantizer size for the IVFPQ tier (r16, the other half
    * of the 20M-recall law next to [[PqIndex.scaledShortlist]]): with a
    * FIXED cell count, nProbe selects a constant corpus FRACTION, so the
    * ADC scan volume — and with it the shortlist a constant kept-share
    * demands — grows linearly with the corpus (at sf10 the historical
    * 8-cell quantizer scanned 50% of the corpus per probe). √n/8 cells
    * (FAISS's nlist ~ √n guidance, conservatively scaled down for the
    * k-proportional quantizer build cost) keeps the scanned fraction
    * shrinking as the corpus grows; floored at the historical 8 so
    * spec-scale corpora — and every DataPlaneSpec expectation — are
    * unchanged.
    *
    * r17 lifted the old cap of 256: it silently re-introduced the
    * linear-scan regime one decade up (√n/8 = 559 at 20M already exceeds
    * it — the per-probe ADC volume resumed growing linearly past ~4M
    * vectors, with the shortlist scaling to compensate on COST instead of
    * recall). The build is sampled-KMeans (train on ≤ max(50·k, 20k)
    * vectors, assign distributed — [[build]]), so the quantizer fit stays
    * bounded at any k this law produces; the remaining cap at 4096 bounds
    * the broadcast centroid table (4096 × dim doubles ≈ 8 MB at 256-d)
    * and the per-probe routing fan-out — past ~1B vectors (√n/8 > 4096) a
    * two-level quantizer is the right structure, not a bigger flat one. */
  def scaledCells(nVec: Long, floor: Int = 8, cap: Int = 4096): Int =
    math.max(floor, math.min(cap, (math.sqrt(nVec.toDouble) / 8).toInt))

  /** The persisted per-corpus index, for composed consumers (IVFPQ) that
    * pair it with another index tier. Same build-once semantics as the
    * cached search paths below. */
  def cachedIndexFor(cacheKey: String, corpus: DataFrame, nClusters: Int): IvfModel =
    cachedIndex(cacheKey, corpus, nClusters)

  /** Probe against a persisted index for `cacheKey`'s corpus (the declared
    * `sim_ivf_ann` path: probes are served from a LOADED on-disk index,
    * never a per-query refit). */
  def annSearchCached(cacheKey: String, probes: DataFrame, corpus: DataFrame,
      k: Int, nClusters: Int, nProbe: Int): DataFrame =
    search(cachedIndex(cacheKey, corpus, nClusters), probes, k, nProbe)

  /** [[nearDupPairs]] against the same persisted per-corpus index. */
  def nearDupPairsCached(cacheKey: String, probes: DataFrame, corpus: DataFrame,
      threshold: Double, nClusters: Int, nProbe: Int): DataFrame =
    nearDupPairs(cachedIndex(cacheKey, corpus, nClusters), probes, threshold, nProbe)

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster-scoped semantic
    * dedup. Pairwise cosine is computed ONLY within each KMeans cell (the
    * paper's ε-ball check inside each cluster), over-threshold members are
    * grouped by connected components, and one keeper survives per group —
    * the paper's policy: keep the member with the LOWEST cosine to its
    * cluster centroid (the most "extreme" exemplar), tiebreak vec_id.
    *
    * Scale shape: the only corpus-wide shuffle is the join on `cell`
    * (against the cell-partitioned index layout the candidates do not move
    * at all — only the left projection shuffles); the within-cell candidate
    * volume is Σ|cell|², the quantity a deployment CONTROLS by scaling
    * nClusters with the corpus (the paper runs k = 11k on 600M docs) —
    * never the global n². CC rounds move (node, label) longs over the
    * near-dup subgraph only. Output: one row per vector with its cell,
    * semantic group, centroid cosine, and survival flag. */
  /** The within-cell over-threshold cosine pairs SemDeDup groups over —
    * public so RecallProbe can measure cell-capture recall against the
    * exact global pair set at scales where truth is still computable. */
  /** A within-cell group holding more members than this takes the join
    * formulation (a flatMapGroups cell is ONE task: 8k members = 3.2×10⁷
    * dots ≈ sub-second; an unexpectedly giant cell must not serialize into
    * one straggler). Sized cells (semDedupK targets ~2000) stay far below. */
  val MaxFlatMapCellRows = 8000L

  def withinCellPairs(index: IvfModel, threshold: Double,
      window: Option[Int] = None, forceJoin: Boolean = false): DataFrame = {
    // per-vector norms hoisted OUT of the quadratic stage: the within-cell
    // scan does Σ|cell|² pair evaluations, so each pair pays one dot
    // (1 multiply-add per element) instead of the fused cosine's 3 —
    // norms are computed once per vector on the linear side.
    // dot > τ·na·nb ⇔ dot/(na·nb) > τ up to one-ulp boundary cases (τ > 0
    // and norms positive); DataPlaneSpec's exact recomputation guards the
    // equivalence on real data.
    val v = col("embedding").cast("array<double>")
    val assigned0 = index.assigned
      .select(col("vec_id"), v.as("v"),
        sqrt(Similarity.dotNative(v, v)).as("nrm"), col("cell"))
    // `window`: the SemDeDup paper's sort-by-centroid-distance pruning —
    // rank members by cosine to their centroid, score only pairs within
    // `window` ranks (Σ|cell|·W work instead of Σ|cell|²). MEASURED AND
    // REJECTED for the declared low-τ decision on this corpus
    // (scale_r12/recall_sf1.json: τ=0.6 capture 0.93 unbounded → 0.42 at
    // W=128 — centroid-distance rank is a weak neighbor proxy in high
    // dim); kept as the opt-in knob for the high-τ near-identical regime
    // the paper targets, where its recall holds (1.0 at τ=0.9).
    val rankCos: Option[DataFrame] = window.map { _ =>
      val centDf = broadcast(index.assigned.sparkSession
        .createDataFrame(index.centroids).toDF("cell", "centroid"))
      assigned0.join(centDf, Seq("cell"))
        .withColumn("rc", Similarity.cosine(col("v"), col("centroid")))
        .select(col("cell"), col("vec_id"), col("v"), col("nrm"), col("rc"))
    }
    val members = rankCos.getOrElse(
      assigned0.withColumn("rc", lit(0.0))
        .select("cell", "vec_id", "v", "nrm", "rc"))
    // measured dispatch on the largest cell: the quadratic stage runs as a
    // typed PER-CELL scan (flatMapGroups) when every group fits one task —
    // each vector then moves ONCE in the group shuffle and pairs are
    // evaluated in a primitive-array loop, vs the join formulation that
    // materializes TWO embedding arrays into every candidate row
    // (Σ|cell|² × vector-width of row traffic — measured 39.8 s → see
    // scale_r12 at sf10 for the delta). Oversized cells fall back to the
    // join (cluster-wide parallelism beats one straggler task).
    val maxCell = if (forceJoin) Long.MaxValue
      else index.assigned.groupBy("cell").count()
        .agg(max("count")).head().getLong(0)
    if (maxCell <= MaxFlatMapCellRows) {
      val spark = index.assigned.sparkSession
      import spark.implicits._
      val wOpt = window
      val thr = threshold
      members.select(col("cell"), col("vec_id"), col("v"), col("nrm"), col("rc"))
        .as[(Int, Long, Array[Double], Double, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          // sort by (rc, vec_id) when windowed — rank-neighborhood pairs
          // only; by vec_id otherwise (output order-stable either way
          // because pairs are emitted id-normalized)
          val m = it.toArray
          val sorted = if (wOpt.isDefined) m.sortBy(x => (x._5, x._2)) else m.sortBy(_._2)
          val n = sorted.length
          val w = wOpt.getOrElse(n)
          val out = Seq.newBuilder[(Long, Long)]
          var i = 0
          while (i < n) {
            val (va, na, ida) = (sorted(i)._3, sorted(i)._4, sorted(i)._2)
            var j = i + 1
            val jEnd = math.min(n, i + w + 1)
            while (j < jEnd) {
              val vb = sorted(j)._3
              var dot = 0.0
              var d = 0
              while (d < va.length) { dot += va(d) * vb(d); d += 1 }
              if (dot > thr * na * sorted(j)._4) {
                val idb = sorted(j)._2
                out += (if (ida < idb) (ida, idb) else (idb, ida))
              }
              j += 1
            }
            i += 1
          }
          out.result().iterator
        }
        .toDF("doc_a", "doc_b")
    } else {
      val a = members.select(col("cell"), col("vec_id").as("doc_a"),
        col("v").as("va"), col("nrm").as("na"), col("rc").as("rca"))
      val b = members.select(col("cell"), col("vec_id").as("doc_b"),
        col("v").as("vb"), col("nrm").as("nb"), col("rc").as("rcb"))
      val joined = a.join(b, Seq("cell")).filter(col("doc_a") < col("doc_b"))
      val inWindow = window match {
        case None => joined
        case Some(wSize) =>
          // rank-window restriction via a per-cell rank join would re-key
          // the cell; approximate the SAME windowed semantics on the join
          // path with the rank from a window function, then bound the gap
          val ranked = members.withColumn("rnk", row_number().over(
            Window.partitionBy("cell").orderBy(col("rc"), col("vec_id"))))
          val ra = ranked.select(col("vec_id").as("doc_a"), col("rnk").as("ra"))
          val rb = ranked.select(col("vec_id").as("doc_b"), col("rnk").as("rb"))
          joined.join(ra, "doc_a").join(rb, "doc_b")
            .filter(abs(col("ra") - col("rb")) <= wSize)
      }
      inWindow
        .filter(Similarity.dotNative(col("va"), col("vb")) >
          lit(threshold) * col("na") * col("nb"))
        .select("doc_a", "doc_b")
    }
  }

  /** Cell-local semantic decision: because SemDeDup scores pairs WITHIN
    * cells only, a component can never span cells — so the grouping needs
    * no distributed connected-components at all. Each cell runs an
    * in-task union-find over its members (union by min vec_id, path
    * compression) and emits ONE row per member — (vec_id, cell, grp,
    * cent_cos_raw), grp = the component's min vec_id, exactly the labels
    * pointer-doubling CC converges to, with ZERO pair materialization
    * (r11's decision shipped ~29M over-threshold pairs into a 29M-edge CC
    * at sf10; this emits n rows). Norms and the centroid cosine are
    * computed in the same task from the closure-captured centroid list
    * (k×dim KBs — the same data semDedup's distributed branch broadcasts),
    * with the identical fused accumulation order as
    * graft.functions.CosineSimilarity, so the two branches are bit-equal.
    * Same dot-vs-τ·na·nb pair test as [[withinCellPairs]]. */
  private def cellLocalDecision(index: IvfModel, threshold: Double,
      window: Option[Int]): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val cents: Map[Int, Array[Double]] = index.centroids.toMap
    val (wOpt, thr) = (window, threshold)
    index.assigned
      .select(col("cell"), col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val cent = cents(cell)
        def fused(a: Array[Double], b: Array[Double]): (Double, Double, Double) = {
          var (dot, na, nb) = (0.0, 0.0, 0.0)
          var i = 0
          while (i < a.length) {
            val (x, y) = (a(i), b(i)); dot += x * y; na += x * x; nb += y * y
            i += 1
          }
          (dot, na, nb)
        }
        val m0 = it.toArray
        // per-member norm + centroid cosine, once, linear
        val withStats = m0.map { case (_, id, v) =>
          val (dot, na, nb) = fused(v, cent)
          (id, v, math.sqrt(na), dot / math.sqrt(na * nb))
        }
        // windowed mode ranks by centroid cosine (the paper's pruning
        // order); unbounded mode is order-independent
        val sorted = if (wOpt.isDefined) withStats.sortBy(x => (x._4, x._1))
                     else withStats.sortBy(_._1)
        val n = sorted.length
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        // union keeps the member with the SMALLER vec_id as root, so every
        // root IS its component's min id — the CC label contract
        def union(a: Int, b: Int): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (sorted(ra)._1 <= sorted(rb)._1) parent(rb) = ra
            else parent(ra) = rb
          }
        }
        val w = wOpt.getOrElse(n)
        var i = 0
        while (i < n) {
          val (va, na) = (sorted(i)._2, sorted(i)._3)
          var j = i + 1
          val jEnd = math.min(n, i + w + 1)
          while (j < jEnd) {
            val vb = sorted(j)._2
            var dot = 0.0
            var d = 0
            while (d < va.length) { dot += va(d) * vb(d); d += 1 }
            if (dot > thr * na * sorted(j)._3) union(i, j)
            j += 1
          }
          i += 1
        }
        Iterator.tabulate(n)(i =>
          (sorted(i)._1, cell, sorted(find(i))._1, sorted(i)._4))
      }
      .toDF("vec_id", "cell", "grp", "cent_cos_raw")
  }

  def semDedup(index: IvfModel, threshold: Double,
      window: Option[Int] = None, forceDistributedCc: Boolean = false): DataFrame = {
    val spark = index.assigned.sparkSession
    val w = Window.partitionBy("grp").orderBy(col("cent_cos_raw"), col("vec_id"))
    // measured dispatch on the largest cell: sized cells (semDedupK's
    // ~2000 target) decide in-task — each vector moves once, no pair ever
    // materializes, the centroid join disappears (sf10: 39.8 → ~11 s,
    // identical output, spec-locked); an unexpectedly giant cell falls
    // back to the pair join + distributed CC rather than serializing into
    // one straggler task.
    val maxCell = index.assigned.groupBy("cell").count()
      .agg(max("count")).head().getLong(0)
    val decided =
      if (!forceDistributedCc && maxCell <= MaxFlatMapCellRows)
        cellLocalDecision(index, threshold, window)
      else {
        val centDf = broadcast(spark.createDataFrame(index.centroids).toDF("cell", "centroid"))
        val withCent = index.assigned
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("cell"))
          .join(centDf, Seq("cell"))
          .withColumn("cent_cos_raw", Similarity.cosine(col("v"), col("centroid")))
          .select(col("vec_id"), col("v"), col("cell"), col("cent_cos_raw"))
        val pairs = withinCellPairs(index, threshold, window)
        val comps = Dedup.connectedComponents(pairs, withCent.select(col("vec_id").as("node")))
        withCent.join(comps, withCent("vec_id") === comps("node"))
          .select(col("vec_id"), col("cell"), col("label").as("grp"), col("cent_cos_raw"))
      }
    decided
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cell"), col("grp"),
        round(col("cent_cos_raw"), 6).as("cent_cos"), col("keep"))
  }

  /** [[semDedup]] against the same persisted per-corpus index. */
  def semDedupCached(cacheKey: String, corpus: DataFrame, threshold: Double,
      nClusters: Int, window: Option[Int] = None): DataFrame =
    semDedup(cachedIndex(cacheKey, corpus, nClusters), threshold, window)
}
