package graft.llm

import graft.data.{Frames, Tables}
import graft.ops.QueryDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2.B J9, north-star
  * extension).
  *
  * Scale design: brute-force kNN is the correctness baseline (probe set
  * broadcast against the candidate scan — one pass, no shuffle of the
  * candidates). The scale path is IVF: KMeans-partition the corpus once,
  * route each probe to its nProbe nearest centroids, and scan only those
  * partitions — the candidate scan shrinks by ~nClusters/nProbe while the
  * plan shape (broadcast probes, partial top-k) is unchanged.
  */
object Similarity {

  /** dot(a,b) over double arrays — left-to-right fold, matching DuckDB's
    * sequential list_dot_product for bit-identical results. Kept as the
    * built-in-only reference implementation (DataPlaneSpec pins the native
    * expression against it). */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def cosineHof(a: Column, b: Column): Column =
    dotProduct(a, b) / sqrt(dotProduct(a, a) * dotProduct(b, b))

  /** Cosine via the native codegen'd Catalyst expression — one fused loop
    * instead of three interpreted higher-order aggregates; identical
    * accumulation order, so bit-identical results (graft.functions
    * .CosineSimilarity). This is the J9 hot path. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.columnOf(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(a),
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(b)))

  /** Dot product via the native codegen'd expression — for pair scans
    * whose per-vector norms are hoisted out of the quadratic stage (the
    * IVF near-dup join): 1 multiply-add per element per pair instead of
    * the fused cosine's 3, in the sequential fold order of the exact
    * `sim_near_dup_pairs` cosine. */
  def dotNative(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.columnOf(
      graft.functions.DotProductExpr(
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(a),
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(b)))

  /** Squared Euclidean distance via the native codegen'd expression —
    * the IVF routing hot loop (bit-identical to the HOF fold it
    * replaced; see graft.functions.SqDist). */
  def sqDistNative(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.columnOf(
      graft.functions.SqDist(
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(a),
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(b)))

  /** Brute-force top-k cosine neighbors for each probe row, window-rank
    * formulation: shuffles every (probe, candidate) score to sort it.
    * Kept as the reference implementation [[bruteForceKnnAgg]] is pinned
    * against; prefer the aggregator at scale. */
  def bruteForceKnn(probes: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").cast("array<double>").as("pv")))
    val c = candidates.select(col("vec_id").as("cand_id"), col("embedding").cast("array<double>").as("cv"))
    val scored = c.crossJoin(p)
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"), cosine(col("pv"), col("cv")).as("cos_raw"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_raw").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("cand_id"), round(col("cos_raw"), 6).as("cosine"), col("rn"))
  }

  /** Brute-force top-k via the typed [[graft.functions.TopKAggregator]]:
    * each partition keeps ≤ k candidates per probe before the shuffle
    * (map-side partial aggregation), so the exchange carries bounded lists
    * instead of the full probe×candidate score matrix — the formulation
    * that survives 100 TB. Same output contract as [[bruteForceKnn]]
    * (identical ordering + tiebreak; DataPlaneSpec pins equality). */
  def bruteForceKnnAgg(probes: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").cast("array<double>").as("pv")))
    val c = candidates.select(col("vec_id").as("cand_id"), col("embedding").cast("array<double>").as("cv"))
    val scored = c.crossJoin(p)
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"), cosine(col("pv"), col("cv")).as("cos_raw"))
    scored.groupBy("probe_id")
      .agg(graft.functions.TopK.topk(k, col("cand_id"), col("cos_raw")).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(
        col("probe_id"), col("s._1").as("cand_id"),
        round(col("s._2"), 6).as("cosine"), (col("pos") + 1).as("rn"))
  }

  /** SemDeDup's target cell size — the recall/cost knob: within-cell pair
    * work is n·cellSize, and cell-capture recall rises with cellSize.
    * BOTH operating points are measured at sf1 (RecallProbe): 1000-vector
    * cells halve the decision cost but drop τ=0.6 pair recall to 0.79
    * (scale_r11/recall_sf1_cells1000.json); 2000 holds 0.93
    * (scale_r11/recall_sf1.json). Recall wins — 2000 stays the declared
    * operating point, and a deployment trades it consciously. */
  private[graft] val SemDedupCellTarget = 2000L

  /** SemDeDup's sized clustering — measured dispatch (the IVF
    * precedent): one metadata-cheap count sizes the clustering so cells
    * hold ~[[SemDedupCellTarget]] vectors; within-cell pairwise work then
    * grows LINEARLY in n (n·cellSize), the "scale k with the corpus" knob
    * the paper turns (k = 11k at 600M docs). Pinning k instead is the
    * quadratic trap: at 100× the 8-cell cells held 25k vectors and the
    * pair scan did 2.5B cosines (229 s); sized cells do ~100M. Clamped so
    * testdata keeps the spec-pinned 8. Shared by sim_semdedup_build,
    * sim_semdedup, and RecallProbe so all three declare the SAME index. */
  private[graft] def semDedupK(nVec: Long): Int =
    math.max(8, math.min(4096, (nVec / SemDedupCellTarget).toInt))

  val entries: Seq[QueryDef] = Seq(
    // J9: brute-force top-10 cosine neighbors for 5 probe vectors; exact
    // (same fold order as the DuckDB oracle → identical doubles pre-round).
    QueryDef("j9_knn_cosine",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |         list_dot_product(p.e, c.e) /
        |         sqrt(list_dot_product(p.e, p.e) * list_dot_product(c.e, c.e)) AS cos_raw
        |  FROM v p JOIN v c ON p.vec_id < 5 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, cand_id, round(cos_raw, 6) AS cosine, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |                               ORDER BY cos_raw DESC, cand_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 10""".stripMargin) { (s, d) =>
      // aggregator formulation: bounded per-partition top-k, no score-matrix
      // shuffle (window version kept in bruteForceKnn for the pinned test)
      val emb = Tables(s, d, "embeddings")
      bruteForceKnnAgg(emb.filter(col("vec_id") < 5), emb, k = 10)
    },

    // Embedding near-duplicate pairs: probes (vec_id % 10 = 0) vs the corpus,
    // cosine above threshold — the embedding-space analog of d4. Threshold
    // 0.3 lands ~100 pairs on testdata (0.8 returned 0 rows, a vacuous
    // oracle match; the testdata embeddings are only weakly clustered).
    QueryDef("sim_near_dup_pairs",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |       round(list_dot_product(a.e, b.e) /
        |             sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id % 10 = 0 AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e) /
        |      sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) > 0.3""".stripMargin) { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val a = broadcast(emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").cast("array<double>").as("pv")))
      val b = emb.select(col("vec_id").as("cand_id"), col("embedding").cast("array<double>").as("cv"))
      b.crossJoin(a)
        .filter(col("probe_id") < col("cand_id"))
        .withColumn("cos_raw", cosine(col("pv"), col("cv")))
        .filter(col("cos_raw") > 0.3)
        .select(col("probe_id"), col("cand_id"), round(col("cos_raw"), 6).as("cosine"))
    },

    // The SCALE PATH for embedding near-dup: same contract as
    // sim_near_dup_pairs (probes vec_id % 10 = 0, cosine > 0.3,
    // probe_id < cand_id) but candidates come from the probe's nProbe
    // routed IVF cells instead of the whole corpus — the embedding analog
    // of d8b's LSH incremental pass. Cosines are exact on routed
    // candidates (zero false positives); recall is the cell-routing hit
    // rate, so no SQL oracle — DataPlaneSpec measures subset + recall vs
    // the exact pair set.
    QueryDef.noOracle("sim_near_dup_ivf") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      IvfIndex.nearDupPairsCached(d, emb.filter(col("vec_id") % 10 === 0), emb,
        threshold = 0.3, nClusters = 8, nProbe = 4)
    },

    // SemDeDup (Abbas et al. 2023): cluster-scoped SEMANTIC dedup — the
    // embedding-space analog of d6's shingle near-dup grouping, and the
    // production answer to "drop meaning-level duplicates at 100 TB":
    // pairwise cosine runs only WITHIN each KMeans cell, so candidate
    // volume is Σ|cell|² (controlled by scaling nClusters), never the
    // corpus square; groups form by connected components over the
    // within-cell over-threshold pairs; one keeper per group survives
    // (lowest centroid-cosine — the paper's "keep the extreme exemplar"
    // policy). Clustering is engine-specific → no SQL oracle; DataPlaneSpec
    // proves (a) every semantic group is a refinement of the EXACT global
    // cosine-CC groups (zero false merges), (b) grouped members really
    // exceed the threshold under exact recomputation, (c) exactly one
    // keeper per group, (d) determinism across runs.
    // The OFFLINE half of SemDeDup as its own declared line (the
    // sim_ivf_build / d0_cache_build precedent): the sized-cell KMeans
    // index build + save, reported as per-cell occupancy. sim_semdedup
    // (declared next) then reuses the persisted index, so its line
    // measures the DECISION pass, not the one-time clustering a
    // deployment amortizes across runs. Engine-specific clustering →
    // rows-only; DataPlaneSpec proves the build/decision split is exact
    // (same k, cells cover the corpus, decision unchanged).
    QueryDef.noOracle("sim_semdedup_build") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = IvfIndex.cachedIndexFor(d, emb, nClusters = semDedupK(Tables.cachedCount(s, d, "embeddings")))
      model.assigned.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    },

    QueryDef.noOracle("sim_semdedup") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      IvfIndex.semDedupCached(d, emb, threshold = 0.3, nClusters = semDedupK(Tables.cachedCount(s, d, "embeddings")))
    },

    // Per-label embedding centroids: element-wise mean via posexplode +
    // (label, pos) hash aggregation — the class-centroid computation a
    // training pipeline runs (and the same shape an IVF coarse quantizer
    // retrains with). Shuffle carries (label, pos, partial sums), never
    // whole vectors.
    QueryDef("sim_centroid",
      """SELECT label, pos, round(avg(v), 6) AS mean_v, count(*) AS n
        |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos""".stripMargin) { (s, d) =>
      Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos0", "v")))
        .select(col("label"), (col("pos0") + 1).as("pos"), col("v"))
        .groupBy("label", "pos")
        .agg(round(avg(col("v")), 6).as("mean_v"), count(lit(1)).as("n"))
    },

    // IVF-style ANN: KMeans centroids (seeded) + probe routing to the nearest
    // nProbe=4 centroids (testdata embeddings are weakly clustered, so half
    // the cells are needed for recall ≥ 0.8 — DataPlaneSpec measures it vs
    // bruteForceKnn; sharper clustering raises recall at fixed nProbe).
    // Engine-deterministic but not SQL-expressible → rows-only.
    QueryDef.noOracle("sim_ivf_ann") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      // index build cached per corpus dir — the offline/online split is the
      // point of IVF: the query measures probe-time routing + cell scans.
      // The build itself is declared (and benchmarked) separately as
      // sim_ivf_build, so its cost is first-class, not hidden in warmup.
      IvfIndex.annSearchCached(d, emb.filter(col("vec_id") < 5), emb,
        k = 10, nClusters = 8, nProbe = 4)
    },

    // The OFFLINE half of IVF as its own declared operator: a fresh
    // (uncached) KMeans build, reported as per-cell occupancy — the cost a
    // deployment pays once per corpus and what a rebalance monitors.
    // Engine-specific clustering → rows-only.
    QueryDef.noOracle("sim_ivf_build") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = IvfIndex.build(emb, nClusters = 8)
      val cells = model.assigned.groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"))
      // materialize before releasing the model's cache
      Frames.materializeAndRelease(cells, model.assigned)
    },

    // The OFFLINE half of PQ as its own declared operator: codebook train
    // + corpus encode into the shared per-corpus cache (the d0_cache_build
    // precedent — this setup line owns the one-time cost, sim_pq_ann then
    // measures probe time against the encoded corpus). Reported as
    // per-(subspace, code) occupancy — codebook utilization is what a
    // deployment monitors for retraining.
    QueryDef.noOracle("sim_pq_build") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = PqIndex.cachedModel(d, emb)
      model.encoded
        .select(posexplode(col("codes")).as(Seq("sub", "code")))
        .groupBy("sub", "code").agg(count(lit(1)).as("n_vectors"))
    },

    // Product quantization ANN (Jégou et al. 2011) — the MEMORY tier of
    // approximate search, orthogonal to IVF's routing tier: the corpus
    // scan reads m=8 byte-sized codes per vector instead of 64 floats
    // (a 100 TB float corpus becomes ~1.5 TB of codes), approximate
    // cosines are pure table lookups (ADC), and full vectors are touched
    // only for the per-probe shortlist's exact rerank. Engine-specific
    // clustering → no SQL oracle; DataPlaneSpec measures recall vs
    // brute force and proves the rerank cosines exact.
    QueryDef.noOracle("sim_pq_ann") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      // plain PQ scans the WHOLE code table → candidates = nVec; the
      // shortlist scales with it (scaledShortlist scaladoc: recall at a
      // fixed shortlist decays with corpus growth, measured at 20M)
      PqIndex.searchCached(d, emb.filter(col("vec_id") < 5), emb,
        k = 10, shortlist = PqIndex.scaledShortlist(Tables.cachedCount(s, d, "embeddings"), 1, 1, floor = 50))
    },

    // OPQ (Ge et al. 2013, "Optimized Product Quantization"): PQ with a
    // learned orthogonal rotation applied before sub-quantization — the
    // standard fix for PQ's axis-aligned subspace split when the data's
    // variance is correlated across subspaces (it is here: recall@10
    // measured +0.1-0.2 over plain PQ at the same m/ksub, see
    // scale_r11/ann_curve.json). The rotation is a dim×dim driver-side
    // matrix (trained by alternating Lloyd's + orthogonal Procrustes over
    // the same bounded sample as PQ) that rides into the encode/probe
    // plans as a literal inside codegen; the exact rerank never sees it,
    // so shortlist cosines stay bit-equal to brute force. Build line owns
    // the train+rotate+encode cost (the sim_pq_build precedent).
    QueryDef.noOracle("sim_opq_build") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val model = PqIndex.cachedModel(d, emb, opq = true)
      model.encoded
        .select(posexplode(col("codes")).as(Seq("sub", "code")))
        .groupBy("sub", "code").agg(count(lit(1)).as("n_vectors"))
    },

    QueryDef.noOracle("sim_opq_ann") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      PqIndex.searchCached(d, emb.filter(col("vec_id") < 5), emb,
        k = 10, shortlist = PqIndex.scaledShortlist(Tables.cachedCount(s, d, "embeddings"), 1, 1, floor = 50),
        opq = true)
    },

    // LAION-style alignment filtering (Schuhmann et al. 2021 keep an
    // image-text pair only if its CLIP score clears a threshold): here the
    // modality pair is (text quality, embedding-vs-source-centroid cosine)
    // over the 1:1 doc_id=vec_id join — a doc survives only if its
    // embedding actually looks like its source's population AND the text
    // passes the shared t11 gate. The cross-TABLE curation op the
    // single-table gates can't express.
    //
    // Scale shape: the only corpus-wide shuffle is the 1:1 id join; the
    // per-(source, pos) centroid aggregate is map-side combined and its
    // result is |sources|×dim rows, which broadcast back; scoring is then
    // map-side. keep thresholds the ROUNDED cosine (t17 precedent), and
    // the quality half reuses TextStats.qualityPass so the two gates can
    // never drift.
    QueryDef("sim_align_filter",
      s"""WITH j AS (SELECT d.doc_id, d.source, d.text, CAST(e.embedding AS DOUBLE[]) AS v
        |           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |c AS (SELECT source, pos, avg(x) AS m FROM (
        |        SELECT source, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM j)
        |      GROUP BY source, pos),
        |ca AS (SELECT source, list(m ORDER BY pos) AS cent FROM c GROUP BY source)
        |SELECT doc_id,
        |       round(list_dot_product(v, cent) /
        |             sqrt(list_dot_product(v, v) * list_dot_product(cent, cent)), 6) AS align_score,
        |       (${graft.llm.TextStats.qualityPassSql}) AS quality_ok,
        |       round(list_dot_product(v, cent) /
        |             sqrt(list_dot_product(v, v) * list_dot_product(cent, cent)), 6) >= 0.2
        |         AND (${graft.llm.TextStats.qualityPassSql}) AS keep
        |FROM j JOIN ca USING (source)""".stripMargin) { (s, d) =>
      val j = Tables(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
        .join(Tables(s, d, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("v")),
          "doc_id")
      val cent = j
        .select(col("source"), posexplode(col("v")).as(Seq("pos0", "x")))
        .groupBy("source", "pos0").agg(avg(col("x")).as("m"))
        .groupBy("source")
        .agg(transform(array_sort(collect_list(struct(col("pos0"), col("m")))),
          p => p.getField("m")).as("cent"))
      val q = graft.llm.TextStats.qualityPass
      j.join(broadcast(cent), "source")
        .withColumn("align_score", round(cosine(col("v"), col("cent")), 6))
        .select(col("doc_id"), col("align_score"), q.as("quality_ok"),
          (col("align_score") >= 0.2 && q).as("keep"))
    },

    // RESIDUAL IVFPQ (FAISS's IndexIVFPQ / Jégou IVFADC, r12): PQ encodes
    // v − centroid(cell) so the code budget spends on local structure —
    // the variant that DEMONSTRATED the ANN crossover (2M×256-d corpus:
    // recall@10 1.0 at 15.6 s vs the exact scan's 69.6 s,
    // scale_r12/ann_curve_vec2m.json; raw-vector codes measured recall
    // 0.06 on the same corpus). Build = the cell-keyed inverted-list
    // table (cell, vec_id, vnorm, codes); probe = routed cells' codes
    // only, codegen'd AdcDot + stored exact norms, exact rerank.
    QueryDef.noOracle("sim_ivfpqr_build") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val n = Tables.cachedCount(s, d, "embeddings")
      val cells = IvfIndex.scaledCells(n)
      val ivf = IvfIndex.cachedIndexFor(d, emb, nClusters = cells)
      // refine tier is scale-dispatched (r17): built only when the serving
      // shape's scaled shortlist exceeds refineKeep — see refineKsubFor
      PqIndex.cachedIvfPq(d, ivf, emb, m = 8, ksub = 16, nClusters = cells,
          refineKsub = PqIndex.refineKsubFor(n, 4, cells, k = 10))
        .cellCodes.groupBy("cell")
        .agg(count(lit(1)).as("n_codes"),
          round(sum(col("vnorm")), 6).as("norm_sum"))
    },
    // IVFPQ — the two ANN tiers COMPOSED (the production shape at 100 TB:
    // IVF prunes WHICH cells are scanned, PQ shrinks WHAT a scan reads;
    // both indexes come from their own declared build/cache lines —
    // declared AFTER sim_ivfpqr_build so the shared scaled-cell IVF
    // quantizer is charged to that named build line, r16). A
    // probe batch reads nProbe/nClusters of the ~64x-compressed code
    // table and touches full vectors only for the shortlist rerank.
    // Engine-specific → no SQL oracle; DataPlaneSpec measures recall and
    // proves the result ⊆ the routed cells with exact rerank cosines.
    QueryDef.noOracle("sim_ivfpq_ann") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      // cells AND shortlist both scale with the corpus (the 20M recall
      // law): more cells -> nProbe selects a shrinking fraction, and the
      // shortlist holds the kept share of what is still scanned
      val cells = IvfIndex.scaledCells(Tables.cachedCount(s, d, "embeddings"))
      PqIndex.searchIvfPq(
        IvfIndex.cachedIndexFor(d, emb, nClusters = cells),
        PqIndex.cachedModel(d, emb),
        emb.filter(col("vec_id") < 5), emb,
        k = 10,
        shortlist = PqIndex.scaledShortlist(Tables.cachedCount(s, d, "embeddings"), 4, cells, floor = 50),
        nProbe = 4)
    },

    QueryDef.noOracle("sim_ivfpqr_ann") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val n = Tables.cachedCount(s, d, "embeddings")
      val cells = IvfIndex.scaledCells(n)
      val ivf = IvfIndex.cachedIndexFor(d, emb, nClusters = cells)
      PqIndex.searchIvfPqResidual(ivf,
        PqIndex.cachedIvfPq(d, ivf, emb, m = 8, ksub = 16, nClusters = cells,
          refineKsub = PqIndex.refineKsubFor(n, 4, cells, k = 10)),
        emb.filter(col("vec_id") < 5), emb,
        k = 10,
        shortlist = PqIndex.scaledShortlist(n, 4, cells, floor = 50),
        nProbe = 4,
        refineKeep = PqIndex.refineKeep(10))
    },

    // INDEX APPEND (r13) — the ANN twin of x11c's ledger append: day-2
    // vectors (vec_id%10==9) enter the PERSISTED day-1 index with no
    // retrain/re-encode — nearest-existing-centroid assignment, residuals
    // encoded with the frozen day-1 codebooks, rows landed as their own
    // batch=1 partition tree under the cell layout (day-1 files never
    // rewritten; re-append replaces only batch=1 — idempotent). Result:
    // per-cell composition of the appended index. Engine-specific → spec
    // gate: DataPlaneSpec proves day-2 probes against the appended index
    // return EXACT merged-corpus neighbors under nProbe=all + full-depth
    // rerank, and that the base index alone cannot see day-2 vectors.
    QueryDef.noOracle("sim_ivfpqr_append") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val day1 = emb.filter(col("vec_id") % 10 =!= 9)
      val day2 = emb.filter(col("vec_id") % 10 === 9)
      val key = d + "#ivfpqr-day1"
      val n1 = Tables.cachedCountOf(d, "embeddings#day1")(day1)
      val cells = IvfIndex.scaledCells(n1)
      val ivf = IvfIndex.cachedIndexFor(key, day1, nClusters = cells)
      PqIndex.cachedIvfPqAppend(key, ivf, day1, day2,
          m = 8, ksub = 16, nClusters = cells,
          refineKsub = PqIndex.refineKsubFor(n1, 4, cells, k = 10))
        .cellCodes.groupBy("cell")
        .agg(sum(when(col("vec_id") % 10 =!= 9, 1L).otherwise(0L)).as("n_day1"),
          sum(when(col("vec_id") % 10 === 9, 1L).otherwise(0L)).as("n_day2"),
          round(sum(col("vnorm")), 6).as("norm_sum"))
    },

    // INDEX COMPACTION (r14) — the maintenance twin of x11e: the appended
    // batch=N trees (and any prior base) are rewritten into ONE
    // consolidated cell-partitioned file set (batch preserved as a data
    // column, codes untouched), so a daily append cadence cannot
    // accumulate an unbounded small-file tail under the probe path.
    // SETUP-class line (owns the rewrite). Output intentionally matches
    // sim_ivfpqr_append's per-cell summary — identical rows pre/post is
    // the content-preservation statement, and DataPlaneSpec additionally
    // proves full-depth probe results identical and the file count per
    // cell consolidated. Engine-specific layout op → spec gate.
    QueryDef.noOracle("sim_ivfpqr_compact") { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val day1 = emb.filter(col("vec_id") % 10 =!= 9)
      val day2 = emb.filter(col("vec_id") % 10 === 9)
      val key = d + "#ivfpqr-day1"
      val n1 = Tables.cachedCountOf(d, "embeddings#day1")(day1)
      val cells = IvfIndex.scaledCells(n1)
      val ivf = IvfIndex.cachedIndexFor(key, day1, nClusters = cells)
      PqIndex.cachedIvfPqCompact(key, ivf, day1, day2,
          m = 8, ksub = 16, nClusters = cells, upTo = 1,
          refineKsub = PqIndex.refineKsubFor(n1, 4, cells, k = 10))
        .cellCodes.groupBy("cell")
        .agg(sum(when(col("vec_id") % 10 =!= 9, 1L).otherwise(0L)).as("n_day1"),
          sum(when(col("vec_id") % 10 === 9, 1L).otherwise(0L)).as("n_day2"),
          round(sum(col("vnorm")), 6).as("norm_sum"))
    },

    // L2-normalization to unit vectors — the preprocessing step that turns
    // cosine into a plain dot product (what any serious ANN index wants).
    // sqrt and / are IEEE-correctly-rounded, and the dot-product fold order
    // matches DuckDB's list_dot_product, so values agree bit-for-bit
    // pre-round. Pure map-side — no shuffle. Output is long form
    // (vec_id, pos, unit_v, norm) — every column a scalar the driver's
    // pandas compare can sort (raw array<double> cells are unhashable for
    // its factorizer; same shape as sim_centroid).
    QueryDef("sim_l2norm",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
        |SELECT vec_id, generate_subscripts(e, 1) AS pos,
        |       round(unnest(e) / nrm, 6) AS unit_v, round(nrm, 6) AS norm
        |FROM n""".stripMargin) { (s, d) =>
      val e = col("embedding").cast("array<double>")
      Tables(s, d, "embeddings")
        .select(col("vec_id"), e.as("e"), sqrt(dotProduct(e, e)).as("nrm"))
        .select(col("vec_id"), col("nrm"), posexplode(col("e")).as(Seq("pos0", "x")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          round(col("x") / col("nrm"), 6).as("unit_v"), round(col("nrm"), 6).as("norm"))
    },

    // Int8-style quantization: symmetric per-vector scale (127 / max|x|),
    // values rounded to integers — the storage/bandwidth trick a 100 TB
    // embedding corpus ships with (4 bytes/dim → 1). Map-side only.
    // Long-form (vec_id, pos, q, scale) for the same driver-compare reason
    // as sim_l2norm.
    QueryDef("sim_quantize",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |             127.0 / list_max(list_transform(e, x -> abs(x))) AS scale FROM v)
        |SELECT vec_id, generate_subscripts(e, 1) AS pos,
        |       CAST(round(unnest(e) * scale, 0) AS BIGINT) AS q,
        |       round(scale, 6) AS scale
        |FROM s""".stripMargin) { (s, d) =>
      val e = col("embedding").cast("array<double>")
      Tables(s, d, "embeddings")
        .select(col("vec_id"), e.as("e"),
          (lit(127.0) / array_max(transform(e, x => abs(x)))).as("sc"))
        .select(col("vec_id"), col("sc"), posexplode(col("e")).as(Seq("pos0", "x")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          round(col("x") * col("sc"), 0).cast("long").as("q"),
          round(col("sc"), 6).as("scale"))
    }
  )
}
