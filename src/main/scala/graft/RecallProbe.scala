package graft

import graft.data.{Frames, Tables}
import graft.llm.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-recall probe: measures the probabilistic dedup guarantees against
  * EXACT ground truth at a corpus size where the exact algorithms still
  * finish (sf1: the inverted-index exact pair build runs ~30 s).
  *
  * The DataPlaneSpec recall proofs run at sf0.01; band-collision rates and
  * the LSH bucket cap are corpus-size-dependent, so the bounds they assert
  * must be re-MEASURED, not extrapolated, at scale:
  *   - d3 `bandedLshPairs` recall vs exact Jaccard ≥ 0.8 pairs (its
  *     maxBucketSize cap is the scale-sensitive term: hot bands get
  *     truncated as the corpus grows);
  *   - d8b `incrementalDedupLsh` near-dup flags vs the exact d8 PPJoin
  *     path on the same batch split;
  *   - d5b `simhashPairs` is EXACT for hamming ≤ 3 by the Manku pigeonhole
  *     construction — no recall question — but its pair count is recorded
  *     so a collapse (e.g. a bucket explosion regression) would be visible.
  *
  * Usage: sbt "runMain graft.RecallProbe [sfDir] [outJson]"
  * Artifact: scale_r10/recall_sf1.json
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_scale/sf1")
    val out = args.lift(1).getOrElse("scale_r10/recall_sf1.json")
    // same session as Verify/Bench (MasterEnv honors SPARK_GRAFT_MASTER),
    // so recall/timing artifacts stay comparable with the bench numbers
    val spark = MasterEnv.standardBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables(spark, sfDir, "documents")
    val nDocs = docs.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // exact ground truth via the threshold-aware PPJoin prefix path
    // (exactPairsPrefix): identical pair set to the posting-join build —
    // DataPlaneSpec asserts the identity — but its candidate volume tracks
    // near-dup density, so it still finishes at sf10 where the ≥0.1
    // posting join's shuffle spill exhausted local disk.
    //
    // BLOCK-PARTITIONED past 150k docs (r12, closing the r11 ENOSPC: one
    // 500k-doc PPJoin run needs more candidate-spill disk than this
    // machine has): the id space is hash-banded into B blocks and the
    // truth assembled from B(B+1)/2 bounded sub-runs — run (i,j) computes
    // exact pairs within blocks i∪j and keeps cross-block ones (i=j keeps
    // within-block). Every pair lands in exactly one kept run, so the
    // union IS the exact global pair set; per-run spill shrinks ~(2/B)²
    // while total tokenize work grows ~B — disk traded for CPU, the right
    // trade for an offline ground-truth tool. Sub-corpus df changes the
    // PPJoin prefix ORDERING only (any consistent order is correct), never
    // the verified pair set.
    val blocks = args.lift(2).map(_.toInt)
      .getOrElse(if (nDocs <= 150000L) 1 else math.ceil(nDocs / 62500.0).toInt)
    def blk(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(blocks))
    val (truth, tTruth) = timed {
      if (blocks == 1)
        pairSet(Dedup.exactPairsPrefix(docs, 0.8).select("doc_a", "doc_b"))
      else {
        val acc = scala.collection.mutable.Set.empty[(Long, Long)]
        // one scope per block pair: drops the sub-corpus shingle/pair caches
        for (i <- 0 until blocks; j <- i until blocks) Frames.scope(s"truth block $i,$j") {
          val sub = docs.filter(blk(col("doc_id")).isin(i, j))
          val pairs = Dedup.exactPairsPrefix(sub, 0.8).select("doc_a", "doc_b")
          val kept = if (i == j) pairs
            else pairs.filter(blk(col("doc_a")) =!= blk(col("doc_b")))
          acc ++= pairSet(kept)
        }
        acc.toSet
      }
    }

    // d3: banded MinHash LSH at the same threshold
    val (lsh, tLsh) = timed(pairSet(
      Dedup.bandedLshPairs(docs, jaccardThreshold = 0.8).select("doc_a", "doc_b")))
    val d3Recall = if (truth.isEmpty) 1.0 else (truth & lsh).size.toDouble / truth.size
    val d3Fp = (lsh -- truth).size

    // d8b vs d8: incremental near-dup flags on the same batch split
    val isBatch = col("doc_id") % 7 === 0
    def nearSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().collect { case r if r.getBoolean(2) => r.getLong(0) }.toSet
    // same block discipline for the exact incremental truth: the corpus
    // side is banded, the batch rides along in every run (a batch doc is
    // near SOME corpus doc iff it is near one in SOME corpus block)
    val (exactNear, tD8) = timed {
      if (blocks == 1) nearSet(Dedup.incrementalDedup(docs, isBatch))
      else {
        val acc = scala.collection.mutable.Set.empty[Long]
        for (c <- 0 until blocks) Frames.scope(s"d8 truth block $c") {
          val sub = docs.filter(isBatch || blk(col("doc_id")) === c)
          acc ++= nearSet(Dedup.incrementalDedup(sub, isBatch))
        }
        acc.toSet
      }
    }
    val (lshNear, tD8b) = timed(nearSet(Dedup.incrementalDedupLsh(docs, isBatch)))
    val d8Recall = if (exactNear.isEmpty) 1.0
      else (exactNear & lshNear).size.toDouble / exactNear.size
    val d8Fp = (lshNear -- exactNear).size

    // d5b: pair count only (exact-by-construction; a regression would show
    // as a count collapse or explosion, not a recall drop)
    val (d5bCount, tD5b) = timed(Dedup.simhashPairs(docs, maxHamming = 3).count())

    // sim_semdedup: cell-capture recall — what fraction of the EXACT global
    // over-threshold cosine pairs land inside one KMeans cell (the only
    // pairs SemDeDup can see). Counts computed distributively (the pair
    // sets are tens of millions at sf1 — never collected). Exact truth is
    // n²: bounded to corpora where that still finishes (sf1: 20k² = 200M
    // cosine evals); past it the artifact records the skip explicitly.
    // wrapped so a sfDir without an embeddings table records a skip instead
    // of aborting the probe after the d3/d8 work is already done
    val semJson = scala.util.Try {
    val emb = Tables(spark, sfDir, "embeddings")
    val nVec = emb.count()
    // skip threshold matches the documented 20k budget (200M cosine evals);
    // a 50k corpus would be a 2.5B-eval crossJoin
    if (nVec > 20000L) {
      s""""semdedup":{"skipped":"exact truth is n^2; n=$nVec"}"""
    } else {
      import graft.llm.IvfIndex
      // the declared queries' sizing, one source of truth
      val k = graft.llm.Similarity.semDedupK(nVec)
      val (idx, tBuild) = timed(IvfIndex.build(emb, k))
      val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = e.select(col("vec_id").as("doc_a"), col("v").as("va"))
      val b = e.select(col("vec_id").as("doc_b"), col("v").as("vb"))
      // one 200M-eval scan, recall read off at several thresholds: cell
      // capture is threshold-dependent (a 0.9-cosine near-duplicate pair
      // almost always co-clusters; a 0.3 pair often spans cells — SemDeDup
      // is built for the high-τ near-identical regime)
      val exactP = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
        .withColumn("cos", graft.llm.Similarity.cosine(col("va"), col("vb")))
        .filter(col("cos") > 0.3)
        .select("doc_a", "doc_b", "cos")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (_, tExact) = timed(exactP.count())
      val cellHit = IvfIndex.withinCellPairs(idx, 0.3)
        .join(exactP, Seq("doc_a", "doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (_, tCell) = timed(cellHit.count())
      val perThreshold = Seq(0.3, 0.6, 0.9).map { t =>
        val truth = exactP.filter(col("cos") > t).count()
        val hit = cellHit.filter(col("cos") > t).count()
        val r = if (truth == 0) 1.0 else hit.toDouble / truth
        s""""$t":{"truth_pairs":$truth,"cell_pairs_hit":$hit,"pair_recall":$r}"""
      }.mkString(",")
      // bounded-neighbor-window variants: the Σ|cell|·W pruning of the
      // Σ|cell|² within-cell scan — recall cost per window size, measured
      // against the same exact pair truth (the knob is only usable where
      // this shows it keeps recall)
      val windowed = Seq(32, 64, 128).map { wSize =>
        val wHit = IvfIndex.withinCellPairs(idx, 0.3, Some(wSize))
          .join(exactP, Seq("doc_a", "doc_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (_, tW) = timed(wHit.count())
        val per = Seq(0.3, 0.6, 0.9).map { t =>
          val truth = exactP.filter(col("cos") > t).count()
          val hit = wHit.filter(col("cos") > t).count()
          val r = if (truth == 0) 1.0 else hit.toDouble / truth
          s""""$t":$r"""
        }.mkString(",")
        wHit.unpersist()
        s""""w$wSize":{"scan_s":$tW,"pair_recall":{$per}}"""
      }.mkString(",")
      exactP.unpersist(); cellHit.unpersist()
      idx.unpersist()
      s""""semdedup":{"n_vectors":$nVec,"n_cells":$k,"exact_s":$tExact,"cell_s":$tCell,"build_s":$tBuild,$perThreshold,$windowed}"""
    }
    }.recover { case e =>
      val what = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      s""""semdedup":{"skipped":"${what.replaceAll("""["\\\n\r\t]""", " ")}"}"""
    }.get

    val dir = java.nio.file.Paths.get(out).getParent
    if (dir != null) java.nio.file.Files.createDirectories(dir)
    // same sanitization as Bench.jstr: a quote/backslash in a user-typed
    // path must not corrupt the JSON artifact
    def jstr(s: String): String = s.replaceAll("""["\\\n\r\t]""", " ")
    val json =
      s"""{"sf_dir":"${jstr(sfDir)}","n_docs":$nDocs,"truth_blocks":$blocks,
         |"d3":{"truth_pairs":${truth.size},"lsh_pairs":${lsh.size},"recall":$d3Recall,"false_positives":$d3Fp,"truth_s":$tTruth,"lsh_s":$tLsh},
         |"d8b":{"exact_near":${exactNear.size},"lsh_near":${lshNear.size},"recall":$d8Recall,"false_positives":$d8Fp,"exact_s":$tD8,"lsh_s":$tD8b},
         |"d5b":{"pairs":$d5bCount,"s":$tD5b},
         |$semJson,
         |"loadavg":${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    Frames.releaseAll()
    spark.stop()
  }
}
