package graft.llm

import graft.data.Frames
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A trained PQ model: per-subspace codebooks (driver-local, ~KBs) + the
  * corpus encoded to m small codes per vector, plus an optional OPQ
  * rotation (Ge et al. 2013) applied before sub-quantization. At 100 TB
  * `encoded` IS the scan — m bytes/vector instead of 4·dim — and the
  * full-precision vectors are touched only for the per-probe shortlist
  * rerank. The rotation is orthogonal, so rotated-space ADC dots
  * approximate ORIGINAL-space dots and the exact rerank is untouched. */
final case class PqModel(m: Int, dsub: Int,
    codebooks: Seq[Seq[Seq[Double]]], encoded: DataFrame,
    rotation: Option[Seq[Seq[Double]]] = None) {
  def unpersist(): Unit = encoded.unpersist()
}

/** A RESIDUAL IVFPQ index — the FAISS IndexIVFPQ design (Jégou et al. 2011
  * §IV-B, "IVFADC"): PQ encodes the residual v − centroid(cell(v)), never
  * the raw vector, so the whole code budget spends on LOCAL structure
  * instead of re-describing the coarse mode the routing tier has already
  * identified. (Raw-vector codes measured recall 0.06 on a 64-topic
  * hierarchical corpus — every code chased the topic modes and same-topic
  * candidates became indistinguishable; residual codes on the same corpus
  * are the fix, not a tuning knob.) `cellCodes` IS the persisted scan —
  * the inverted lists: (cell, vec_id, codes, vnorm), cell-keyed so a
  * probe batch reads only routed cells, m bytes + one stored exact norm
  * per vector. Search decomposes dot(v,p) = dot(c_cell,p) + dot(r_v,p):
  * the first term is per-(probe,cell) — computed once in routing — and
  * the second is the ADC lookup over the residual table. */
final case class IvfPqModel(m: Int, dsub: Int,
    codebooks: Seq[Seq[Seq[Double]]], cellCodes: DataFrame,
    refineCodebooks: Option[Seq[Seq[Seq[Double]]]] = None) {
  def unpersist(): Unit = cellCodes.unpersist()
}

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"): split each vector into m subvectors, KMeans
  * each subspace to ksub codes, store each vector as m code ids.
  *
  * Search is ADC (asymmetric distance computation): the probe builds an
  * m×ksub table of subspace dot products ONCE, every candidate's
  * approximate dot is then m table lookups — no float vector is read
  * until the exact rerank of the per-probe shortlist. This is the
  * memory/IO tier of ANN (IVF prunes WHICH vectors are scanned; PQ
  * shrinks WHAT a scan reads): a 100 TB float corpus becomes ~1.5 TB of
  * codes, and the two compose (IVF-route, then ADC within the cell).
  */
object PqIndex {

  /** Sample size for codebook training. 16k vectors bound the driver
    * collect to single-digit MB at any corpus size. */
  val TrainSample = 16384

  /** Offline codebook training — seeded k-means++ Lloyd's per subspace,
    * DRIVER-side over a bounded hash-ordered sample (the FAISS practice:
    * codebooks are KB-sized, so training them is not distributed work —
    * an MLlib fit per subspace measured 14-70 s of pure job-scheduling
    * floor for the same KB of output). The hash order makes the sample an
    * unbiased deterministic reservoir; everything CORPUS-sized (encode,
    * ADC scan) stays distributed. */
  def train(corpus: DataFrame, m: Int, ksub: Int): Seq[Seq[Seq[Double]]] =
    trainSub(sampleVecs(corpus), m, ksub)

  private def sampleVecs(corpus: DataFrame): Array[Array[Double]] =
    // hash-threshold prefilter BEFORE the ordered limit: orderBy+limit
    // alone compiles to TakeOrderedAndProject, which ships `limit` rows
    // from EVERY task to the driver — at high dim × many partitions that
    // exceeds maxResultSize (measured: 2M×256-d corpus, 32 MB/task × 64
    // tasks for a 16k sample). The map-side pmod filter cuts the corpus to
    // ~2× the sample first (deterministic pure function of vec_id, content
    // independent → still an unbiased reservoir), so the global TakeOrdered
    // only ever sees ~2·TrainSample rows.
    Sampling.hashReservoir(
        corpus.select(col("embedding").cast("array<double>").as("e"), col("vec_id")),
        col("vec_id"), TrainSample)
      .collect().map(_.getSeq[Double](0).toArray)

  private def trainSub(sample: Array[Array[Double]], m: Int,
      ksub: Int): Seq[Seq[Seq[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(sample.length >= ksub, s"${sample.length} vectors < $ksub codes")
    val dsub = dim / m
    // subspaces train INDEPENDENTLY (each lloyd is seeded per-subspace), so
    // the driver-local fit parallelizes bit-for-bit across cores (r17:
    // single-threaded it was ~0.4 Gflop per trainSub and the whole OPQ
    // alternation ran serially on one of 32 cores — sim_opq_build measured
    // 3.7 s; the fine refine tier's 16×256 fit costs ~16× a coarse fit and
    // rides the same path at the scales the dispatch builds it)
    import scala.collection.parallel.CollectionConverters._
    (0 until m).par.map { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloyd(pts, ksub, seed = 42L + s).map(_.toSeq).toSeq
    }.seq
  }

  /** OPQ rotation training (Ge et al. 2013, "Optimized Product
    * Quantization", the non-parametric solver): alternate between (a)
    * training sub-codebooks on the rotated sample and (b) solving the
    * orthogonal Procrustes problem min_R ||XR − Y||_F (Y = the PQ
    * reconstruction) via SVD, R = U·Vᵀ. All driver-side over the same
    * bounded sample as [[train]] — the rotation is a dim×dim matrix
    * (KBs); the corpus-sized encode stays distributed and applies it as
    * a literal inside codegen. Returns (rotation rows r_i with
    * x'_i = Σ_j r_ij·x_j, codebooks trained in the rotated space). */
  def trainOpq(corpus: DataFrame, m: Int, ksub: Int,
      iters: Int = 8): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    import breeze.linalg.{svd, DenseMatrix}
    val sample = sampleVecs(corpus)
    val n = sample.length
    val dim = sample.head.length
    val dsub = dim / m
    val x = DenseMatrix(sample: _*) // n×d
    var r = DenseMatrix.eye[Double](dim)
    var books: Seq[Seq[Seq[Double]]] = Seq.empty
    for (_ <- 0 until iters) {
      val xr = x * r
      val rows = Array.tabulate(n)(i => xr(i, ::).t.toArray)
      books = trainSub(rows, m, ksub)
      // PQ reconstruction of the rotated sample: per subspace, snap to the
      // nearest code (same argmin/tiebreak as the distributed encode)
      val y = DenseMatrix.zeros[Double](n, dim)
      // rows are independent and write disjoint cells of y — parallelize
      // the per-sample snap across cores (deterministic: pure argmin)
      import scala.collection.parallel.CollectionConverters._
      for (i <- (0 until n).par; s <- 0 until m) {
        val sub = java.util.Arrays.copyOfRange(rows(i), s * dsub, (s + 1) * dsub)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < ksub) {
          val cb = books(s)(c)
          var dd = 0.0; var j = 0
          while (j < dsub) { val t = sub(j) - cb(j); dd += t * t; j += 1 }
          if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        val cb = books(s)(best)
        var j = 0; while (j < dsub) { y(i, s * dsub + j) = cb(j); j += 1 }
      }
      val m2 = x.t * y
      val sv = svd(m2)
      r = sv.U * sv.Vt
    }
    // rotation rows for the column expression: x'_i = Σ_j rot(i)(j)·x_j,
    // i.e. rot(i)(j) = R(j,i) in the X·R convention used above
    val rot = (0 until dim).map(i => (0 until dim).map(j => r(j, i)).toSeq)
    (rot, books)
  }

  /** OPQ's rotation FOLDED into the codebooks, driver-side: the full-dim
    * back-rotated code vectors u_{s,c} = Rᵀ·pad(c at subspace s), so that
    * ⟨(Rv)_s, c⟩ = ⟨v, u_{s,c}⟩. No rotation expression ever reaches a
    * distributed plan — the naive formulation (rotate the vector column,
    * then slice inside the code lambdas) re-evaluates the dim×dim rotation
    * per CODE inside interpreted higher-order functions, measured 10-40×
    * slower per probe batch. With the fold, encode and probe-table build
    * are dots of the RAW vector against literal arrays — the exact plain-PQ
    * plan shape, just full-dim codes. Output: m × ksub × dim. */
  private def backRotate(codebooks: Seq[Seq[Seq[Double]]],
      rot: Seq[Seq[Double]]): Seq[Seq[Seq[Double]]] = {
    val dim = rot.size
    val dsub = codebooks.head.head.size
    codebooks.zipWithIndex.map { case (subCb, s) =>
      val off = s * dsub
      subCb.map { c =>
        val u = new Array[Double](dim)
        var i = 0
        while (i < c.size) {
          val ci = c(i); val row = rot(off + i)
          var j = 0; while (j < dim) { u(j) += ci * row(j); j += 1 }
          i += 1
        }
        u.toSeq
      }
    }
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Seeded k-means++ init + Lloyd's iterations; empty clusters re-seed
    * from a random point so every code stays live. */
  private def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
      iters: Int = 25): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    for (c <- 1 until k) {
      var i = 0
      while (i < n) {
        val dd = sqDist(pts(i), cents(c - 1)); if (dd < d2(i)) d2(i) = dd
        i += 1
      }
      var r = rnd.nextDouble() * d2.sum; var j = 0
      while (j < n - 1 && r > d2(j)) { r -= d2(j); j += 1 }
      cents(c) = pts(j).clone()
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val cnt = new Array[Int](k)
      for (p <- pts) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val dd = sqDist(p, cents(c)); if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        cnt(best) += 1
        var i = 0; while (i < p.length) { sums(best)(i) += p(i); i += 1 }
      }
      for (c <- 0 until k)
        cents(c) =
          if (cnt(c) > 0) sums(c).map(_ / cnt(c))
          else pts(rnd.nextInt(n)).clone()
    }
    cents
  }

  /** Map-side encode: each subvector to its nearest codebook entry
    * (argmin of squared distance; first index on ties — deterministic).
    * The codebooks ride into the plan as literals, so this is one
    * narrow projection over the corpus scan — no shuffle, no UDF. */
  def encode(corpus: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      rotation: Option[Seq[Seq[Double]]] = None,
      keep: Seq[String] = Nil): DataFrame = {
    val m = codebooks.size
    val dsub = codebooks.head.head.size
    val e = col("embedding").cast("array<double>")
    rotation match {
      case None =>
        // r13: one codegen'd argmin over all subspaces (PqEncode) — the
        // per-subspace HOF formulation (transform+aggregate+array_position)
        // ran interpreted and dominated the whole index build at corpus
        // scale (>25 min for 2M×256-d at m=32/ksub=64; the expression
        // encodes the same corpus in seconds). Bit-identical values and
        // tie-break — FunctionsSpec pins expression-vs-HOF equality.
        corpus.select(col("vec_id") +: keep.map(col) :+
          graft.functions.PqEncode.of(e, codebooks).as("codes"): _*)
      case Some(rot) =>
        // rotated-space argmin via the back-rotation fold (see backRotate):
        // argmin_c ||(Rv)_s − c||² = argmin_c (||c||² − 2⟨v, u_{s,c}⟩) —
        // the ||(Rv)_s||² term is constant within a subspace and drops out.
        // r13: the fold runs in the codegen'd PqEncodeRot expression (the
        // HOF chain it replaces ran interpreted — the same finding as the
        // un-rotated branch); bit-identical codes, FunctionsSpec-pinned.
        corpus.select(col("vec_id") +: keep.map(col) :+
          graft.functions.PqEncode.ofRotated(e, codebooks,
            backRotate(codebooks, rot)).as("codes"): _*)
    }
  }

  def build(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      opq: Boolean = false): PqModel = {
    val (rot, cbs) =
      if (opq) { val (r, b) = trainOpq(corpus, m, ksub); (Some(r), b) }
      else (None, train(corpus, m, ksub))
    val enc = encode(corpus, cbs, rot).persist(StorageLevel.MEMORY_AND_DISK)
    PqModel(m, cbs.head.head.size, cbs, enc, rot)
  }

  /** Probe prep shared by plain-PQ and IVFPQ search: per-probe m×ksub
    * dot-product table (built once per probe row), vector, norm. Under an
    * OPQ rotation the table entries are ⟨v, u_{s,c}⟩ against the
    * back-rotated codebooks (= the rotated-space dots, by orthogonality —
    * see backRotate); `pvec`/`pnorm` stay ORIGINAL — the exact rerank
    * never sees the rotation. */
  private def probePrep(model: PqModel, probes: DataFrame): DataFrame = {
    val pv = col("embedding").cast("array<double>")
    // the table is built by the codegen'd AdcTable expression (r18 — the
    // nested transform/zip_with/aggregate HOF ran interpreted per probe
    // row; same ascending-j fold, bit-identical) and ships FLATTENED
    // (m·ksub doubles, row s at offset s·ksub) for the AdcDot scan side
    val tbl = model.rotation match {
      case None => graft.functions.AdcTable.of(pv, model.codebooks)
      case Some(rot) =>
        // OPQ: each entry dots the FULL vector against a back-rotated
        // codebook column (= the rotated-space subspace dot)
        val u = backRotate(model.codebooks, rot)
        graft.functions.AdcTable.ofWidths(pv, u,
          width = u.head.head.size, step = 0)
    }
    probes.select(col("vec_id").as("probe_id"), pv.as("pvec"),
      tbl.as("tbl"), sqrt(Similarity.dotProduct(pv, pv)).as("pnorm"))
  }

  private def adcDot(codes: Column, tbl: Column, ksub: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.columnOf(
      graft.functions.AdcDot(
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(codes),
        org.apache.spark.sql.GraftExpressionBridge.expressionOf(tbl), ksub))

  /** ADC-score a (codes, tbl, pnorm) frame, shortlist per probe with the
    * bounded top-k aggregator (a per-probe window would sort the whole
    * code scan inside one task — the single-task trap this repo
    * dispatches away everywhere), then exact-rerank shortlist members
    * against the full vectors. */
  private def shortlistAndRerank(model: PqModel, scoredInput: DataFrame,
      p: DataFrame, corpus: DataFrame, k: Int, shortlist: Int): DataFrame = {
    // both lookups run as the codegen'd AdcDot over flat tables — the scan
    // is m adds/candidate at whole-stage-codegen speed (the interpreted
    // HOF formulation measured ~µs/candidate, slower than the exact scan
    // it exists to beat); fold order identical, results bit-equal
    val ksub = model.codebooks.head.size
    val normFlat: Seq[Double] =
      model.codebooks.flatMap(_.map(c => c.map(x => x * x).sum))
    val approx = scoredInput
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adot", adcDot(col("codes"), col("tbl"), ksub))
      .withColumn("anorm", sqrt(adcDot(col("codes"), typedLit(normFlat), ksub)))
      .withColumn("acos", col("adot") / (col("pnorm") * col("anorm")))
    shortRerank(approx, p, corpus, k, shortlist)
  }

  /** Per-probe bounded top-`width` over an `acos`-scored
    * (probe_id, vec_id, …) frame → exploded (probe_id, cand_id) pairs. */
  private def topPairs(scored: DataFrame, scoreCol: String, width: Int): DataFrame =
    scored.groupBy("probe_id")
      .agg(graft.functions.TopK.topk(width, col("vec_id"), col(scoreCol)).as("top"))
      .select(col("probe_id"), explode(col("top")).as("s"))
      .select(col("probe_id"), col("s._1").as("cand_id"))

  /** Shared tail: per-probe bounded top-`shortlist` over an `acos`-scored
    * (probe_id, vec_id, acos) frame, then the exact-cosine rerank reading
    * full vectors for shortlist members only. */
  private def shortRerank(approx: DataFrame, p: DataFrame, corpus: DataFrame,
      k: Int, shortlist: Int): DataFrame =
    exactRerank(topPairs(approx, "acos", shortlist), p, corpus, k)

  /** Exact-cosine rerank of (probe_id, cand_id) pairs: full vectors are
    * read ONLY for pair members, bounded top-k per probe out. */
  private def exactRerank(pairs: DataFrame, p: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val short = pairs
      .join(broadcast(p.select(col("probe_id"), col("pvec"))), "probe_id")
    // exact rerank: full vectors are read ONLY for shortlist members — and
    // (r15) the corpus is RESTRICTED to shortlist ids by a broadcast
    // semi-join BEFORE the rerank join. The old unrestricted join held the
    // bytes-READ contract but not bytes-SHUFFLED: it planned as a
    // sort-merge join and shuffled the corpus's full vectors (31 GB at
    // 20M×256-d — measured in the vec20m event log, and the disk
    // exhaustion that killed that run) to meet a probes×shortlist-row
    // side. The semi keeps the corpus scan map-side; the ≤|shortlist|
    // surviving fat rows meet the shortlist in an AQE-sized join. The
    // shortlist aggregation's exchange is referenced by both branches and
    // canonically identical, so ReuseExchange runs the ADC scan once.
    val candIds = short.select("cand_id").distinct()
    val cand = corpus.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<double>").as("cv"))
      .join(broadcast(candIds), Seq("cand_id"), "left_semi")
    val wK = Window.partitionBy("probe_id")
      .orderBy(col("cos_raw").desc, col("cand_id"))
    short.join(cand, "cand_id")
      .withColumn("cos_raw", Similarity.cosine(col("pvec"), col("cv")))
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("cand_id"),
        round(col("cos_raw"), 6).as("cosine"), col("rn"))
  }

  /** ADC top-k over the FULL code scan: shortlist by table-lookup cosine,
    * exact-cosine rerank of the shortlist only. Output matches
    * sim_ivf_ann: (probe_id, cand_id, cosine, rn). */
  def search(model: PqModel, probes: DataFrame, corpus: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val p = probePrep(model, probes)
    val scored = model.encoded.crossJoin(broadcast(p.drop("pvec")))
    shortlistAndRerank(model, scored, p, corpus, k, shortlist)
  }

  /** IVFPQ: the two tiers COMPOSED — IVF routes each probe to its nProbe
    * cells (the scan-pruning tier), ADC scores only those cells' CODES
    * (the memory tier), exact rerank as always. At 100 TB this is the
    * production shape: the cell-partitioned code table is ~1.5 TB, a
    * probe batch reads nProbe/nClusters of it, and full vectors are
    * fetched per-shortlist only. */
  def searchIvfPq(ivf: IvfModel, model: PqModel, probes: DataFrame,
      corpus: DataFrame, k: Int, shortlist: Int, nProbe: Int): DataFrame = {
    val p = probePrep(model, probes)
    val routed = IvfIndex.route(ivf, probes, nProbe)
      .select(col("probe_id"), col("cell"))
      .join(p.drop("pvec"), "probe_id")
    // candidates: the cell-partitioned CODE table (assigned ⋈ encoded is
    // one storage table in a deployment); join on cell = partition-pruned
    // subset read, only routed cells' codes are scanned
    val cands = ivf.assigned.select(col("vec_id"), col("cell"))
      .join(model.encoded, "vec_id")
    val scored = cands.join(broadcast(routed), "cell")
    shortlistAndRerank(model, scored, p, corpus, k, shortlist)
  }

  /** Offline residual-IVFPQ build (see [[IvfPqModel]]): codebooks train on
    * a bounded RESIDUAL sample, the corpus encodes its residuals in one
    * distributed pass, and the persisted product is the cell-keyed
    * inverted-list table (cell, vec_id, vnorm, codes) — at 100 TB this is
    * the table a deployment writes partitioned by cell; the raw-vector
    * assignment join is paid ONCE here, never per query (the raw
    * searchIvfPq re-joined assignment⋈codes per probe batch — measured
    * tens of seconds per query at 2M vectors). */
  /** When `refineKsub` > 0, a SECOND, finer residual codebook set is
    * trained on the same sample and every vector is additionally encoded
    * to a `codes_fine` column — the staged-rerank tier (FAISS's
    * IndexRefine idea folded into the inverted lists): stage-2 serving
    * re-scores the coarse ADC shortlist with the fine codes before the
    * exact rerank, so the full-vector fetch stays constant-sized while
    * the coarse shortlist grows with the corpus (see
    * [[searchIvfPqResidual]]). The fine codes live in the SAME rows /
    * batches / compaction lifecycle as the coarse ones — parquet is
    * columnar, so stage-1 scans never read them — and the fine subspace
    * width is fixed at ≤4 dims (m_f = dim/4), ksub clamped to the sample. */
  def buildIvfPq(ivf: IvfModel, corpus: DataFrame, m: Int, ksub: Int,
      refineKsub: Int = 0): IvfPqModel = {
    val spark = corpus.sparkSession
    val centDf = broadcast(spark.createDataFrame(ivf.centroids).toDF("cell", "centroid"))
    val withRes = ivf.assigned
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("cell"))
      .join(centDf, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        sqrt(Similarity.dotNative(col("v"), col("v"))).as("vnorm"),
        graft.functions.VecSub.of(col("v"), col("centroid")).as("embedding"))
    val sample = Sampling.hashReservoir(
        withRes.select(col("embedding").cast("array<double>").as("e"), col("vec_id")),
        col("vec_id"), TrainSample)
      .collect().map(_.getSeq[Double](0).toArray)
    val cbs = trainSub(sample, m, ksub)
    val fineCbs =
      if (refineKsub <= 0) None
      else {
        val dim = sample.head.length
        Some(trainSub(sample, refineM(dim), math.min(refineKsub, sample.length)))
      }
    // the fine encode needs the residual column through the coarse encode's
    // projection; it is dropped again right after, so the persisted frame
    // never carries full-precision vectors
    val keepCols = Seq("cell", "vnorm") ++ (if (fineCbs.isDefined) Seq("embedding") else Nil)
    val enc0 = encode(withRes, cbs, None, keep = keepCols)
    val enc = fineCbs.fold(enc0)(f => enc0
        .withColumn("codes_fine",
          graft.functions.PqEncode.of(col("embedding").cast("array<double>"), f))
        .drop("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfPqModel(m, cbs.head.head.size, cbs, enc, fineCbs)
  }

  /** Fine-tier subspace count: the widest split with ≤4-dim subspaces
    * that divides `dim` (dim 256 → 64 subspaces of 4; dim 64 → 16×4;
    * odd dims fall back to whatever ≤4-dim width divides). */
  private[graft] def refineM(dim: Int): Int =
    dim / (1 to math.min(4, dim)).filter(dim % _ == 0).max

  /** Stage-2 keep width for staged serving: how many shortlist members
    * survive the fine-ADC refine into the exact full-vector rerank.
    * CONSTANT in corpus size by design — that is the point of the stage:
    * the coarse shortlist must grow with the candidate volume (the 20M
    * recall law, [[scaledShortlist]]), but what the exact rerank fetches
    * only needs to cover top-k plus the fine tier's ranking slack. */
  def refineKeep(k: Int): Int = math.max(8 * k, 80)

  /** Scale dispatch for BUILDING the refine tier (r17): train/encode/store
    * fine codes only when the index's serving shape will actually use them
    * — i.e. when the corpus-scaled shortlist exceeds the constant
    * exact-fetch budget ([[refineKeep]]), which is exactly the condition
    * [[searchIvfPqResidual]] stages on. Below that (every corpus under
    * ~560k vectors at the declared nProbe=4 shape) the tier is dead
    * weight: the fine encode is ~16× the coarse encode's ADC work
    * (m_f=dim/4 subspaces × ksub 256 vs m=8 × 16) paid at build/append/
    * compact time for codes no probe ever reads. Measured at sf0.1:
    * sim_ivfpqr_build 3.95 → ~2 s, sim_ivfpqr_append 7.6 → ~5.6 s with
    * the tier dispatched off; at sf10 and the 20M study corpus the
    * dispatch turns it on and the staged path carries the win
    * (AnnCurve scalelaw). Same inputs ⇒ same answer at every scale:
    * serving stages only when the tier exists AND the shortlist exceeds
    * refineKeep, and the staged path is pair-identical at full depth
    * (DataPlaneSpec staged-rerank pin). */
  def refineKsubFor(nVec: Long, nProbe: Int, nCells: Int, k: Int,
      floor: Int = 50, ksub: Int = 256): Int =
    if (scaledShortlist(nVec, nProbe, nCells, floor) > refineKeep(k)) ksub else 0

  /** Persist a residual-IVFPQ index the way [[IvfIndex.save]] persists the
    * coarse tier: codebooks flattened to one small parquet table
    * (sub, code, vec — m×ksub rows, KBs), the inverted lists partitioned
    * BY CELL — (cell, vec_id, vnorm, codes) is the table a 100 TB
    * deployment writes once, and probe-time the broadcast routing join on
    * `cell` dynamically prunes to routed cells' FILES (the same
    * SelectedBucketsCount/PartitionFilters evidence as the coarse index,
    * now on the ~64×-smaller code table). */
  def saveIvfPq(model: IvfPqModel, dir: String): Unit = {
    val spark = model.cellCodes.sparkSession
    def writeBooks(books: Seq[Seq[Seq[Double]]], sub: String): Unit =
      spark.createDataFrame(
          books.zipWithIndex.flatMap { case (subCb, s) =>
            subCb.zipWithIndex.map { case (c, ci) => (s, ci, c) } })
        .toDF("sub", "code", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$sub")
    writeBooks(model.codebooks, "codebooks")
    model.refineCodebooks match {
      case Some(f) => writeBooks(f, "codebooks_fine")
      case None => graft.data.Frames.deleteRecursively(
        new java.io.File(s"$dir/codebooks_fine")) // a re-save without the tier owns the dir
    }
    // `batch` above `cell` in the layout: appendIvfPq lands each new crawl
    // batch as its own partition tree (batch=N/cell=*), so re-running an
    // append replaces exactly that batch (dynamic partition overwrite) and
    // cell pruning at probe time is unaffected (both are partition columns)
    // range-partition ON (cell, vec_id) first: a partitionBy write from an
    // unrelated partitioning opens one file per (task × cell) — up to
    // tasks×nClusters small files whose listing/open overhead taxes every
    // probe — while a plain repartition(cell) caps downstream cell-joined
    // scans at nCells tasks (the IvfIndex.save lesson: 15.7 → 92.3 s at 8
    // cells). Range keeps both bounds: files ≈ max(nCells, 2×parallelism).
    // a fresh save owns the whole lists surface: clear any stale
    // compacted base zones (legacy and versioned), the manifest, and the
    // legacy marker a prior build left behind
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("lists_base"))
      .foreach(graft.data.Frames.deleteRecursively)
    java.nio.file.Files.deleteIfExists(manifestPath(dir))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_compacted_up_to"))
    val budget = listFileBudget(model.cellCodes.count())
    model.cellCodes.withColumn("batch", lit(0))
      .repartitionByRange(budget, col("cell"), col("vec_id"))
      .write.mode("overwrite").partitionBy("batch", "cell")
      .parquet(s"$dir/lists")
  }

  /** Writer-partition budget for the cell-partitioned list writes, sized
    * by ROW COUNT (r13 verdict ask): target ~64k code rows per range
    * bucket (a few MB of packed codes — small enough that a routed-cell
    * probe scan parallelizes across files, large enough that the file
    * count stays bounded: a 2M-vector corpus lands ~32 buckets, a
    * 32M-vector sf10 corpus ~500). The old global max(64, 2×parallelism)
    * ignored the data volume: it over-split small corpora and under-split
    * large ones. Cells are contiguous in range order, so each cell's rows
    * land in few writer tasks regardless of the budget, and partitionBy
    * writes ~max(1, cellRows/64k) files per cell — "one file-set per
    * cell, sized by its rows". The count the budget needs is of a
    * persisted (build) or parquet-backed (append) frame — cheap. */
  private def listFileBudget(nRows: Long): Int =
    math.max(8, math.min(4096L, (nRows + 65535) / 65536).toInt)

  /** Append NEW vectors into a persisted residual-IVFPQ index without
    * retraining or re-encoding anything — FAISS IndexIVFPQ.add(), and the
    * ANN twin of x11c's ledger append (both production stores must be
    * incremental IN TIME, not build-once): each new vector is assigned to
    * its nearest EXISTING centroid, its residual is encoded with the
    * EXISTING codebooks, and the rows land in the cell-partitioned lists
    * as their own `batch=batchId` partition tree. Day-1 files are never
    * rewritten; re-running a batch replaces only that batch's partitions
    * (dynamic partition overwrite), so the append is idempotent. The
    * quantizer stays immutable by design — a corpus whose distribution
    * drifts past the trained centroids warrants a REBUILD, not an append
    * (the FAISS operational rule); recall on appended batches is the
    * spec's job (DataPlaneSpec forces nProbe=all + full-depth rerank,
    * where results are provably exact).
    *
    * Returns the reloaded index (base ∪ all appended batches). */
  def appendIvfPq(ivf: IvfModel, model: IvfPqModel, newVecs: DataFrame,
      dir: String, batchId: Int = 1): IvfPqModel = {
    val spark = newVecs.sparkSession
    // appending batch=N/cell=* trees into a pre-r13 dir persisted with the
    // old single-level cell= layout would leave mixed partition depths,
    // which the next load rejects as "Conflicting directory structures" —
    // fail fast with the actionable message instead of corrupting the dir
    val listsDir = new java.io.File(s"$dir/lists")
    if (listsDir.isDirectory &&
        listsDir.listFiles().exists(f => f.isDirectory && f.getName.startsWith("cell=")))
      throw new IllegalStateException(
        s"appendIvfPq: $dir/lists uses the legacy single-level cell= layout " +
          "(top-level cell= trees) — rebuild the index (saveIvfPq) before appending")
    // a batch compacted into lists_base/ is CLOSED (the ledger rule): its
    // delta tree is gone, so a re-append would land a SECOND copy beside
    // the base rows — fail loudly; only open batches may be retried
    if (batchId <= compactedUpTo(dir))
      throw new IllegalStateException(
        s"appendIvfPq: batch $batchId is already compacted into $dir/lists_base — " +
          "compacted batches are closed; rebuild the index to replay them")
    val centDf = broadcast(spark.createDataFrame(ivf.centroids).toDF("cell", "centroid"))
    // nearest-centroid assignment via the shared routing machinery
    // (nProbe=1 ⇒ argmin cell, the same Euclidean rule KMeans.transform
    // applied to the base corpus)
    val assigned = IvfIndex.route(ivf, newVecs, nProbe = 1)
      .select(col("probe_id").as("vec_id"), col("pv").as("v"), col("cell"))
    val withRes = assigned.join(centDf, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        sqrt(Similarity.dotNative(col("v"), col("v"))).as("vnorm"),
        graft.functions.VecSub.of(col("v"), col("centroid")).as("embedding"))
    // the appended rows mirror the base schema: fine codes are encoded
    // with the FROZEN fine codebooks iff the store carries them (a store
    // without the refine tier must not gain a column mid-life)
    val keepCols = Seq("cell", "vnorm") ++
      (if (model.refineCodebooks.isDefined) Seq("embedding") else Nil)
    val encoded0 = encode(withRes, model.codebooks, None, keep = keepCols)
    val encoded = model.refineCodebooks.fold(encoded0)(f => encoded0
      .withColumn("codes_fine",
        graft.functions.PqEncode.of(col("embedding").cast("array<double>"), f))
      .drop("embedding"))
    // ATOMIC batch visibility (r15, serve-while-append): the batch is fully
    // materialized under a staging dir, then ONE directory rename publishes
    // it as lists/batch=N. A concurrent prober listing the zones sees the
    // whole batch or none of it — never a partially-committed subset of
    // cell trees (the in-place dynamic partition overwrite this replaces
    // committed cell dirs one by one at job end). Retry idempotence is
    // preserved: the stage write is mode("overwrite") and the publish
    // replaces any prior batch=N tree wholesale.
    val stage = new java.io.File(s"$dir/lists_stage_$batchId")
    // persist the encoded batch before the range write (r17): the range
    // partitioner SAMPLES its input in a separate pass, so an unpersisted
    // frame pays the route+residual+PqEncode lineage twice — and its row
    // count prices the file budget for free (no separate newVecs scan)
    val encPersisted = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      encPersisted
        .repartitionByRange(listFileBudget(encPersisted.count()), col("cell"), col("vec_id"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(stage.getPath)
    } finally encPersisted.unpersist(blocking = false)
    val target = new java.io.File(s"$dir/lists/batch=$batchId")
    target.getParentFile.mkdirs()
    graft.data.Frames.deleteRecursively(target)
    require(stage.renameTo(target),
      s"appendIvfPq: could not publish $stage as $target")
    loadIvfPq(spark, dir)
  }

  /** Live-base manifest (r16, advice #2 — the Incremental.compactLedger
    * twin): `_lists_manifest` over versioned lists_base_v<horizon> dirs.
    * See [[ZoneManifest]] for the shared crash-safety contract; legacy
    * stores (lists_base/ + _compacted_up_to) read through the fallback. */
  private val manifest =
    new ZoneManifest("_lists_manifest", "_compacted_up_to", "lists_base")

  private def manifestPath(dir: String) =
    java.nio.file.Paths.get(dir, "_lists_manifest")

  /** (live base dir name, compacted horizon). */
  private def baseState(dir: String): (String, Int) = manifest.state(dir)

  /** Highest batch already compacted into the live base (−1 if none). */
  private def compactedUpTo(dir: String): Int = baseState(dir)._2

  /** Scale-correct ADC shortlist (r16, measured at the 20M decade): nProbe
    * selects ~nVec·nProbe/nCells candidates — a constant FRACTION of the
    * corpus — so a FIXED shortlist keeps a shrinking share of what the
    * scan ranks and recall decays as the corpus grows (recall@10 1.0 at
    * 2M → 0.383 at 20M for shortlist 200, scale_r16/ann_recall_vec20m).
    * Hold the kept share constant instead: shortlist = candidates/300,
    * the ratio the 20M sweep measured at recall 0.999, floored at the
    * small-corpus value so test-scale results are unchanged. */
  def scaledShortlist(nVec: Long, nProbe: Int, nCells: Int, floor: Int): Int = {
    val candidates = nVec.toDouble * math.min(nProbe, nCells) / math.max(nCells, 1)
    math.max(floor, (candidates / 300.0).toInt)
  }

  /** The LIVE base zone path, resolved through the manifest — layout
    * assertions (DataPlaneSpec) go through this, not a hardcoded name. */
  private[graft] def liveListsBaseDir(dir: String): String =
    s"$dir/${baseState(dir)._1}"

  /** Compact the CLOSED batches [0..upTo] of a persisted residual-IVFPQ
    * index: their per-batch partition trees (and any prior base) are
    * rewritten into ONE consolidated cell-partitioned file set under
    * lists_base/ — `batch` preserved as a DATA column, codes untouched,
    * file count per cell back to ~max(1, cellRows/64k) — and the
    * compacted delta trees are dropped. The maintenance twin of
    * [[graft.llm.Incremental.compactLedger]]: at a daily append cadence
    * the lists/ dir accumulates one batch=N tree per crawl (~365/year of
    * small file sets taxing every probe's listing path); this job bounds
    * it while open batches keep landing in lists/. Probe results are
    * byte-identical pre/post (DataPlaneSpec proves it at full depth —
    * cell membership, vnorm, and codes all survive the rewrite). */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String, upTo: Int): Unit = {
    // horizon only moves forward: a lower upTo would rewrite the base
    // from the batch<=upTo slice and drop already-compacted higher batches
    // whose delta trees are gone (same rule as Incremental.compactLedger)
    val (oldBase, oldHorizon) = baseState(dir)
    require(upTo >= oldHorizon,
      s"compactIvfPq: horizon $upTo is below the already-compacted " +
        s"$oldHorizon — compaction horizons only move forward")
    val newBase = s"lists_base_v$upTo"
    if (oldBase != newBase) {
      val zones = listZones(spark, dir)
      val rows = zones.reduce(_.union(_)).filter(col("batch") <= upTo)
      // 1. fully materialize into a versioned dir the manifest does not
      //    yet reference (a crashed prior attempt's leftovers overwrite)
      rows.repartitionByRange(listFileBudget(rows.count()), col("cell"), col("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/$newBase")
      // 2. the ATOMIC pointer swap — readers flip zones in one rename
      manifest.swap(dir, newBase, upTo)
    }
    // 3. dead zones, swept OUTSIDE the skip guard: a re-run at the same
    //    horizon after a crash between swap and delete still removes the
    //    superseded base and the legacy marker (r17, advice #2)
    manifest.sweepDeadZones(dir, liveBase = newBase)
    val delta = new java.io.File(s"$dir/lists")
    if (delta.isDirectory) delta.listFiles().foreach { f =>
      val m = "batch=(\\d+)".r.findFirstMatchIn(f.getName)
      if (m.exists(_.group(1).toInt <= upTo))
        graft.data.Frames.deleteRecursively(f)
    }
  }

  /** The inverted-list zones of a persisted index: the open delta trees
    * (lists/batch=N/cell=M) and, after compaction, the consolidated base
    * (lists_base/cell=M with batch as a data column). Identical five-
    * column shape either way; consumers read their union, and `cell` is a
    * partition column in BOTH zones so routed-cell pruning is unaffected
    * by compaction. */
  private def listZones(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[DataFrame] = {
    // codes_fine (the staged-rerank tier) rides along when the store has
    // it — zones always agree on schema because appends mirror the base
    val fineCols =
      if (new java.io.File(s"$dir/codebooks_fine").isDirectory) Seq(col("codes_fine"))
      else Seq.empty
    val cols = Seq(col("vec_id"), col("cell").cast("int").as("cell"),
      col("vnorm"), col("codes")) ++ fineCols :+ col("batch").cast("int").as("batch")
    def nonEmpty(p: String) = {
      val f = new java.io.File(p)
      f.isDirectory && f.listFiles().exists(c => c.isDirectory || c.getName.endsWith(".parquet"))
    }
    // delta (lists/) rows at or below the compaction horizon are stale
    // leftovers of a partial zone swap (the compacted delta trees are
    // deleted only after the manifest swap) — filter them so the union
    // never double-counts a batch; partition-pruned, free in steady state.
    // ONE manifest read resolves both the live base dir and the horizon,
    // so a concurrent swap can't pair a new base with a stale horizon.
    val (baseName, horizon) = baseState(dir)
    val zs = Seq(s"$dir/lists", s"$dir/$baseName").filter(nonEmpty)
    require(zs.nonEmpty, s"no inverted lists found under $dir")
    zs.map { p =>
      val df = spark.read.parquet(p).select(cols: _*)
      if (p.endsWith("/lists") && horizon >= 0) df.filter(col("batch") > horizon)
      else df
    }
  }

  /** Load a persisted residual-IVFPQ index — NO retrain, NO re-encode.
    * Codebooks (KBs) load to the driver for the probe-table literals; the
    * inverted lists stay a lazy parquet scan over the cell-partitioned
    * layout, so a probe batch reads only routed cells' files. */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqModel = {
    def readBooks(sub: String): Seq[Seq[Seq[Double]]] =
      spark.read.parquet(s"$dir/$sub").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq }
    val cb = readBooks("codebooks")
    val fine =
      if (new java.io.File(s"$dir/codebooks_fine").isDirectory)
        Some(readBooks("codebooks_fine"))
      else None
    val listCols = Seq(col("vec_id"), col("cell"), col("vnorm"), col("codes")) ++
      fine.map(_ => col("codes_fine"))
    val lists = listZones(spark, dir).map(_.select(listCols: _*)).reduce(_.union(_))
    IvfPqModel(cb.size, cb.head.head.size, cb, lists, fine)
  }

  /** Residual IVFADC search (the production composition): route each probe
    * to nProbe cells; per (probe, cell) the centroid dot comes from the
    * KB-sized routing frame; the scan reads ONLY routed cells' inverted
    * lists and scores each candidate as
    * (⟨c_cell,p⟩ + AdcDot(residual codes, probe table)) / (‖p‖·vnorm) —
    * m codegen'd adds per candidate against a STORED exact norm; exact
    * rerank reads full vectors for shortlist members only.
    *
    * STAGED rerank (r17, the scale answer to the growing shortlist): when
    * `refineKeep` > 0 and the store carries the fine tier
    * ([[buildIvfPq]]'s refineKsub) and the scaled shortlist actually
    * exceeds it, the coarse ADC top-`shortlist` is RE-SCORED with the
    * fine codes (fetched by id from routed cells' `codes_fine` column —
    * a code-sized read, never full vectors) and only the top-`refineKeep`
    * reach the exact full-vector rerank. The coarse shortlist grows with
    * the corpus (the 20M recall law); what the exact stage fetches stays
    * constant. When the shortlist is already at or under `refineKeep`
    * (every test-scale corpus) the staged path is a no-op by dispatch and
    * results are the plain path's. */
  def searchIvfPqResidual(ivf: IvfModel, model: IvfPqModel, probes: DataFrame,
      corpus: DataFrame, k: Int, shortlist: Int, nProbe: Int,
      refineKeep: Int = 0): DataFrame = {
    val spark = probes.sparkSession
    val ksub = model.codebooks.head.size
    val pv = col("embedding").cast("array<double>")
    val p = probes.select(col("vec_id").as("probe_id"), pv.as("pvec"),
      adcTable(pv, model.codebooks).as("tbl"),
      sqrt(Similarity.dotProduct(pv, pv)).as("pnorm"))
    val centDf = broadcast(spark.createDataFrame(ivf.centroids).toDF("cell", "centroid"))
    val routedCd = IvfIndex.route(ivf, probes, nProbe)
      .join(centDf, Seq("cell"))
      .select(col("probe_id"), col("cell"),
        Similarity.dotNative(col("pv"), col("centroid")).as("cdot"))
    val routed = routedCd.join(p.drop("pvec"), "probe_id")
    // ADC-scan parallelism guard (the Dedup.fanOut idiom): the row-sized
    // list layout can land a small corpus in fewer files than the session
    // has cores, and the per-candidate join work (ADC + shortlist agg) is
    // far heavier than the bytes suggest — measured 15-task stages doing
    // 100+ s-cpu at sf10. The shuffle only fires when the layout is
    // narrower than the parallelism, and moves only the packed code rows
    // (~50 B each); production layouts (thousands of buckets) never pay it.
    val codes = fannedCodes(model.cellCodes)
    val approx = codes.join(broadcast(routed), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("acos",
        (col("cdot") + adcDot(col("codes"), col("tbl"), ksub)) /
          (col("pnorm") * col("vnorm")))
    val staged = refineKeep > 0 && refineKeep < shortlist &&
      model.refineCodebooks.isDefined
    if (!staged) shortRerank(approx, p, corpus, k, shortlist)
    else {
      val fcbs = model.refineCodebooks.get
      val fksub = fcbs.head.size
      // stage 2: fetch ONLY the shortlist members' fine codes — a
      // columnar read of routed cells' codes_fine chunks (the coarse scan
      // above never touches that column; Catalyst prunes it), keyed back
      // to (probe, cand) pairs by the broadcast shortlist
      val shortIds = topPairs(approx, "acos", shortlist)
      val pf = probes.select(col("vec_id").as("probe_id"),
        adcTable(pv, fcbs).as("ftbl"),
        sqrt(Similarity.dotProduct(pv, pv)).as("pnorm"))
      val fineScored = codes
        .select(col("vec_id"), col("cell"), col("vnorm"), col("codes_fine"))
        .join(broadcast(routedCd.select("cell").distinct()), Seq("cell"), "left_semi")
        .join(broadcast(shortIds.withColumnRenamed("cand_id", "vec_id")), Seq("vec_id"))
        .join(broadcast(routedCd), Seq("probe_id", "cell"))
        .join(broadcast(pf), Seq("probe_id"))
        .withColumn("facos",
          (col("cdot") + adcDot(col("codes_fine"), col("ftbl"), fksub)) /
            (col("pnorm") * col("vnorm")))
      // stage 3: the exact rerank sees refineKeep ids per probe, not the
      // corpus-scaled shortlist
      exactRerank(topPairs(fineScored, "facos", refineKeep), p, corpus, k)
    }
  }

  /** Flattened per-probe ADC lookup table (m·ksub subspace dots, row s at
    * offset s·ksub) for an arbitrary codebook set — shared by the coarse
    * and fine (staged-rerank) tiers. Codegen'd (r18): the interpreted HOF
    * build was multiplied by ~500-probe micro-batches in st_stream_ann and
    * by the fine tier's ~16× larger table. */
  private def adcTable(pv: Column, cbs: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.AdcTable.of(pv, cbs)

  // per-corpus residual-IVFPQ models are LOADED indexes (build+save once,
  // probe-many — the IvfIndex.cachedIndex idiom: the cached model is
  // parquet-backed, not session memory, and the probe plan prunes routed
  // cells' files)
  private def ivfPqKey(cacheKey: String, m: Int, ksub: Int, nClusters: Int,
      refineKsub: Int): Frames.Key =
    Frames.Key("ivfpq", cacheKey, m, ksub, nClusters, refineKsub)

  // the refine tier changes the persisted schema, so it is part of the dir
  private def ivfPqDir(cacheKey: String, m: Int, ksub: Int, nClusters: Int,
      refineKsub: Int = 0): String =
    Frames.storeDir("ivfpq", s"$cacheKey#${m}_${ksub}_${nClusters}_r$refineKsub")

  /** MUTATION CONTRACT: `cacheKey` names a persisted STORE, not a frozen
    * snapshot — [[cachedIvfPqAppend]] lands new batches in the same dir,
    * and because every cached model's `cellCodes` is a LAZY scan of that
    * dir, all consumers of the key observe the appended store from the
    * append onward (exactly as all readers of one index deployment do).
    * A consumer that needs a frozen base view must use its own key (the
    * sim_ivfpqr_append query keys its day-1 base as `d + "#ivfpqr-day1"`
    * for precisely this reason — a suffixed key is a different dir). */
  def cachedIvfPq(cacheKey: String, ivf: IvfModel, corpus: DataFrame,
      m: Int, ksub: Int, nClusters: Int, refineKsub: Int = 0): IvfPqModel =
    Frames.getOrCreate(ivfPqKey(cacheKey, m, ksub, nClusters, refineKsub))({
      val dir = ivfPqDir(cacheKey, m, ksub, nClusters, refineKsub)
      val built = buildIvfPq(ivf, corpus, m, ksub, refineKsub)
      saveIvfPq(built, dir)
      built.unpersist()
      loadIvfPq(corpus.sparkSession, dir)
    })(_.unpersist())

  /** Append `newVecs` into the PERSISTED index cached for `cacheKey`
    * (building+saving the base first if this session hasn't), then refresh
    * the cache so every later consumer of the key probes base ∪ appended.
    * Idempotent per batchId — see [[appendIvfPq]]. */
  def cachedIvfPqAppend(cacheKey: String, ivf: IvfModel, baseCorpus: DataFrame,
      newVecs: DataFrame, m: Int, ksub: Int, nClusters: Int,
      batchId: Int = 1, refineKsub: Int = 0): IvfPqModel = {
    val base = cachedIvfPq(cacheKey, ivf, baseCorpus, m, ksub, nClusters, refineKsub)
    val dir = ivfPqDir(cacheKey, m, ksub, nClusters, refineKsub)
    // a batch already compacted into lists_base/ is already IN the store —
    // the append's idempotent outcome — so re-applying it would both fail
    // the closed-batch guard and be pointless: just reload
    val appended =
      if (batchId <= compactedUpTo(dir)) loadIvfPq(baseCorpus.sparkSession, dir)
      else appendIvfPq(ivf, base, newVecs, dir, batchId)
    Frames.replace(ivfPqKey(cacheKey, m, ksub, nClusters, refineKsub))(appended)(_.unpersist())
  }

  /** Compact the persisted index cached for `cacheKey` (ensuring the base
    * build + batch-1 append first), refreshing the cache with the
    * reloaded consolidated view — the declared sim_ivfpqr_compact path. */
  def cachedIvfPqCompact(cacheKey: String, ivf: IvfModel, baseCorpus: DataFrame,
      newVecs: DataFrame, m: Int, ksub: Int, nClusters: Int,
      upTo: Int = 1, refineKsub: Int = 0): IvfPqModel = {
    cachedIvfPqAppend(cacheKey, ivf, baseCorpus, newVecs, m, ksub, nClusters,
      refineKsub = refineKsub)
    val dir = ivfPqDir(cacheKey, m, ksub, nClusters, refineKsub)
    compactIvfPq(baseCorpus.sparkSession, dir, upTo)
    Frames.replace(ivfPqKey(cacheKey, m, ksub, nClusters, refineKsub))(
      loadIvfPq(baseCorpus.sparkSession, dir))(_.unpersist())
  }

  // per-corpus models — the offline/online split (the IvfIndex
  // precedent): the declared ANN query measures probe time, the build
  // cost is declared separately via sim_pq_build
  /** The shared per-corpus model (the d0_cache_build precedent: the
    * declared sim_pq_build line owns the train+encode cost; probe queries
    * reuse the encoded corpus). */
  def cachedModel(cacheKey: String, corpus: DataFrame,
      m: Int = 8, ksub: Int = 16, opq: Boolean = false): PqModel =
    Frames.getOrCreate(Frames.Key("pq", cacheKey, m, ksub, opq))(
      build(corpus, m, ksub, opq))(_.unpersist())

  def searchCached(cacheKey: String, probes: DataFrame, corpus: DataFrame,
      k: Int, shortlist: Int, m: Int = 8, ksub: Int = 16,
      opq: Boolean = false): DataFrame =
    search(cachedModel(cacheKey, corpus, m, ksub, opq), probes, corpus, k, shortlist)

  // Fanned-out code tables, one per canonical plan, tagged with its input
  // files: the ADC-scan parallelism guard's repartition is a full shuffle
  // of the code table, and a LOADED store's lazy scan re-ran it on EVERY
  // probe query and every micro-batch of the streaming twin (r17: 4× per
  // st_stream_ann run; at sf10 that is 4 shuffles of a 2M-row table to
  // serve 4 probe batches). The store is immutable between appends — an
  // append/compact lands a new file set under the same plan shape, which
  // replaces (and releases) the superseded fan-out instead of pinning a
  // second copy of the code table.
  private def fannedCodes(cellCodes: DataFrame): DataFrame = {
    val par = cellCodes.sparkSession.sparkContext.defaultParallelism
    if (cellCodes.rdd.getNumPartitions >= par) cellCodes
    else {
      val key = Frames.Key("pq.fanout", cellCodes.queryExecution.analyzed.canonicalized.toString)
      val fileKey = cellCodes.inputFiles.toSeq.sorted.mkString(",")
      def fan() = (fileKey, cellCodes.repartition(par).persist(StorageLevel.MEMORY_AND_DISK))
      val release: ((String, DataFrame)) => Unit = f => Frames.release(f._2)
      val cur = Frames.getOrCreate(key)(fan())(release)
      (if (cur._1 == fileKey) cur else Frames.replace(key)(fan())(release))._2
    }
  }
}
