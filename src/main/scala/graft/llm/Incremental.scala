package graft.llm

import graft.data.{Frames, Tables}
import graft.ops.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x11: the DAY-2 production operation — a NEW crawl batch ingested against
  * the PERSISTED fingerprint ledger of the existing corpus. x10 is the
  * from-scratch build; the cadence a RefinedWeb-class pipeline actually
  * runs per crawl snapshot is this one: fingerprint the batch, dedup it
  * against the store (never against re-read corpus text), decontaminate,
  * then re-run the mixture/cap/split/shuffle/shard tail over the MERGED
  * survivor set. (Reference analog: the incremental final-store append,
  * maggy/core/experiment_driver/optimization_driver.py:504-506.)
  *
  * Corpus-split convention (all derivable from the shared `documents`
  * table, so the whole job stays under the DuckDB oracle):
  *   - eval holdout   = doc_id % 10 == 0 (the d7b probe convention, as x10)
  *   - existing corpus = doc_id % 10 in 1..8 ("day 1")
  *   - new crawl batch = doc_id % 10 == 9; the x11c/x11d day-N carve
  *     splits it further by %100: day-2 = the class minus {89,99}
  *     (appended as batch 1), day-3 = %100==89 (appended as batch 2),
  *     day-4 = %100==99 (the probe batch against the twice-appended store)
  *
  * The persisted ledger (built ONCE per corpus by the declared
  * `x11_ledger_build` setup step, parquet on disk — the d8 fingerprint
  * store made concrete) carries one narrow row per day-1 doc:
  *   (doc_id, source, n_tok, q, h, in3, in4, sig)
  * where h = md5(text) (the exact-dedup key), q/in3/in4 the x10-style
  * quality/dedup-keeper/decontaminated flags, and sig the 64-minhash
  * signature array (persisted so the x11b LSH near-check can band the
  * corpus WITHOUT touching its text — 64 longs/doc vs the full document).
  *
  * Scale shape (the 100 TB story):
  *   - day-1 text is NEVER re-scanned by the incremental job: every
  *     corpus-side decision reads the ledger parquet (PlanSpec locks the
  *     returned manifest to ledger + checkpoint scans only — zero scans
  *     of the documents table);
  *   - the batch (a crawl snapshot, ~1% of the corpus in production) is
  *     scanned once for fingerprints, once gram-restricted for
  *     decontamination — both semi-join-restricted to current survivors;
  *   - exact dedup vs the corpus is d9's shape: corpus hashes fold into
  *     ONE broadcast Bloom binary, the batch probes it map-side, and only
  *     bloom-positive rows (fpp·|batch| + true dups) reach the exact
  *     semi-join verify — the answer stays exact;
  *   - the x11b near-check bands PERSISTED signatures (ledger) against
  *     fresh batch signatures; candidate pairs — and only candidates —
  *     fetch text for the exact-Jaccard verify (a candidate-restricted
  *     point lookup, not a corpus scan);
  *   - the tail is x10's: |sources|-row broadcast rates, measured-dispatch
  *     cap slots, budget-bounded (≤ MixBudget rows at ANY corpus size)
  *     shuffle/shard windows — single-task by construction.
  */
object Incremental {

  private def isHoldout = col("doc_id") % 10 === 0
  private def isBatch = col("doc_id") % 10 === 9
  private def isDay1 = !isHoldout && !isBatch
  // the day-N split carves the %10==9 class in three: day-2 and day-3 are
  // crawl batches APPENDED to the store (batch_id 1 and 2), day-4 the
  // probe batch that must dedup against BOTH appended days' survivors,
  // whose text it has never seen — only their persisted fingerprints
  private def isDay4 = col("doc_id") % 100 === 99
  private def isDay3 = col("doc_id") % 100 === 89
  private def isDay2 = isBatch && !isDay3 && !isDay4
  private[graft] def batchPredFor(n: Int): org.apache.spark.sql.Column = n match {
    case 1 => isDay2
    case 2 => isDay3
    case 3 => isDay4
    case _ => throw new IllegalArgumentException(s"no day split declared for batch $n")
  }

  import Pipeline.{MixBudget, SourceCap, hash6, hash6Sql, manifestRow, toks}

  // ---------------------------------------------------------------------
  // the persisted day-1 ledger (build-once per corpus, like IvfIndex)
  // ---------------------------------------------------------------------

  /** A built ledger store and the crawl batches appended to it. */
  private final class Ledger(val dir: String) {
    val appended = scala.collection.mutable.Set.empty[Int] // guarded by this
  }

  // one ledger per corpus dir, built on first use — the build is the
  // offline day-1 job a deployment runs once; every incremental query
  // against the same corpus reads the same parquet
  private def ledger(s: SparkSession, d: String): Ledger =
    Frames.getOrCreate(Frames.Key("ledger", d))({
      val dir = Frames.storeDir("ledger", d)
      buildLedger(s, d, dir)
      new Ledger(dir)
    })(l => Frames.deleteRecursively(new java.io.File(l.dir)))

  private[graft] def ledgerDir(s: SparkSession, d: String): String = ledger(s, d).dir

  // ---- the store's two zones (the LSM shape every appendable columnar
  // store converges on):
  //   delta/ — one batch_id=N partition tree per OPEN batch: appends land
  //            here (dynamic partition overwrite ⇒ idempotent per batch),
  //            and as-of reads prune whole batch partitions;
  //   base/  — the COMPACTED horizon: closed batches rewritten into one
  //            consolidated file set with batch_id preserved as a DATA
  //            column, sorted by (batch_id, doc_id) so parquet row-group
  //            min/max stats keep as-of reads pruned.
  // Both zones expose identical schemas; every consumer reads their union.
  private def deltaDir(dir: String) = s"$dir/delta"

  /** Live-base manifest (r16, advice #2) — see [[ZoneManifest]] for the
    * crash-safety contract (atomic pointer swap over versioned base
    * zones; legacy `base/` + `_compacted_up_to` stores stay readable). */
  private val manifest = new ZoneManifest("_base_manifest", "_compacted_up_to", "base")

  /** (live base dir name, compacted horizon). */
  private def baseState(dir: String): (String, Int) = manifest.state(dir)

  /** The LIVE base zone path, resolved through the manifest — the spec's
    * layout assertions go through this instead of assuming `base/`. */
  private[graft] def liveBaseDir(s: SparkSession, d: String): String = {
    val dir = ledgerDir(s, d)
    s"$dir/${baseState(dir)._1}"
  }

  private val LedgerCols =
    Seq("doc_id", "source", "n_tok", "q", "h", "in3", "in4", "sig", "batch_id")
  private def hasParquet(p: String): Boolean = {
    val f = new java.io.File(p)
    f.isDirectory && f.listFiles().exists(c =>
      c.getName.endsWith(".parquet") || (c.isDirectory && c.getName.startsWith("batch_id=")))
  }

  /** The persisted ledger as a DataFrame — plain parquet reads, so every
    * consumer's plan shows the store scan (and column pruning keeps the
    * sig array out of queries that don't band: x11 reads 7 narrow columns
    * of it, x11b additionally reads sig). batch_id 0 = the day-1 corpus
    * build, 1+ = appended crawl batches. */
  private[graft] def ledgerFor(s: SparkSession, d: String): DataFrame = {
    val dir = ledgerDir(s, d)
    // delta rows at or below the compaction marker are STALE: compaction
    // writes the marker after swapping base in but before deleting the
    // compacted delta trees, so a crash in that window leaves a batch in
    // both zones — this filter (partition-pruned, so it costs nothing in
    // the steady state) makes the union immune to the partial swap
    // ONE manifest read resolves both the live base dir and the staleness
    // horizon — two separate reads could straddle a concurrent pointer
    // swap and pair the new base with the old horizon
    val (baseName, horizon) = baseState(dir)
    def zone(p: String): Option[DataFrame] =
      if (!hasParquet(p)) None
      else Some(s.read.parquet(p).select(LedgerCols.map(col): _*))
    val base = zone(s"$dir/$baseName")
    val delta = zone(deltaDir(dir)).map(df =>
      if (horizon < 0) df else df.filter(col("batch_id") > horizon))
    (base.toSeq ++ delta.toSeq).reduce(_.union(_))
  }

  /** The store AS OF a batch: rows from batches ≤ `maxBatch` only — a
    * partition-pruned subset read. Every x11-family query pins its batch
    * horizon through this, so appending a later batch can never change an
    * earlier query's answer (x11 reads as-of 0 and is byte-identical
    * whether or not x11c has appended batch 1). */
  private[graft] def ledgerAsOf(s: SparkSession, d: String, maxBatch: Int): DataFrame =
    ledgerFor(s, d).filter(col("batch_id") <= maxBatch)

  /** The offline day-1 build: ONE fingerprint pass over day-1 text
    * (n_tok/q/h + minhash signatures), the x10-style keeper decision
    * (min doc_id per h among quality survivors), and the d7b
    * decontamination of the keepers against the holdout's broadcast gram
    * index. Writes the narrow store; day-1 text is never read again. */
  private def buildLedger(s: SparkSession, d: String, dir: String): Unit =
    // the build runs lazily on first ledger touch, possibly mid-way through
    // a caller's own query: its scope releases exactly the checkpoints it
    // derived (the fingerprints, a cold signature path's subset shingles),
    // never the caller's; the shared corpus caches it touches stay shared
    Frames.checkpointScope("x11 ledger build") {
      val day1 = Tables(s, d, "documents").filter(isDay1)
      val fp = Frames.trackedCheckpoint(day1.select(
        col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"),
        TextStats.qualityPass.as("q"), md5(col("text")).as("h")))
      val keepers = fp.filter(col("q")).groupBy("h")
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("is_keeper"))
      val withKeep = fp.join(keepers, Seq("doc_id"), "left_outer")
        .withColumn("in3", coalesce(col("is_keeper"), lit(false)))
        .drop("is_keeper")
      // decontamination restricted to keepers (the x10 stage-4 contract)
      val dedDocs = day1.join(
        withKeep.filter(col("in3")).select("doc_id"), Seq("doc_id"), "left_semi")
      val probeGrams = Dedup.probeGramSet(
        Tables(s, d, "documents").filter(isHoldout))
      val contamIds = Dedup.wideGrams(dedDocs)
        .join(broadcast(probeGrams), "h")
        .select("doc_id").distinct()
        .withColumn("contam", lit(true))
      // day1 ⊂ documents: read the corpus sig store ⋉ day-1 ids when warm
      // (the bench/Verify session has built it by d0/d6b time) instead of
      // re-tokenizing 80% of the corpus for the ledger's sig column
      val sig = Dedup.minhashSignaturesAmong(
        Tables(s, d, "documents"), day1.select("doc_id"))
      withKeep.join(contamIds, Seq("doc_id"), "left_outer")
        .withColumn("in4", col("in3") && !coalesce(col("contam"), lit(false)))
        .drop("contam")
        .join(sig, Seq("doc_id"), "left_outer")
        .withColumn("batch_id", lit(0))
        // byte-budgeted landing (§5/§6): without the exchange the day-1 write
        // fuses three sort-merge joins with the parquet write into one
        // parallelism-wide stage — each task holding sorter pages PLUS an
        // unmanaged row-group buffer for the ~600 B/row sig-array schema,
        // which OOMed the 5M-doc sf100 slice outright once the suite's warm
        // corpus caches were pinned (scale_r18, stage 232). The doc_id hash
        // repartition decouples join memory from writer memory and sizes the
        // store's files to the row-group budget instead of one shard per
        // core — the as-of reads that scan this store on every later line
        // then open a bounded, row-group-aligned file set.
        .repartition(ledgerWritePartitions(s, fp.count()), col("doc_id"))
        .write.mode("overwrite")
        .option("parquet.block.size", LedgerRowGroupBytes.toString)
        .partitionBy("batch_id").parquet(deltaDir(dir))
    }

  /** Ledger landing row-group size: 32 MB instead of the 128 MB default.
    * A parquet writer buffers the open row group on the JVM heap — at the
    * default, `parallelism × 128 MB` of unmanaged buffer can coexist with
    * the write stage's other memory; 32 MB keeps the per-writer buffer
    * bounded while still holding ~50k ledger rows per group, plenty for
    * row-group stat pruning on the (batch_id, doc_id)-clustered reads. */
  private val LedgerRowGroupBytes: Long = 32L * 1024 * 1024

  /** Partition count for a ledger landing write: ~128 MB of ~600 B rows
    * (fingerprint columns + the 64-long sig array) per output file, at
    * least one, never more than the session's parallelism (beyond it the
    * extra tasks only queue and fragment the store's file set). */
  private def ledgerWritePartitions(s: SparkSession, rows: Long): Int = {
    val bytesPerRow = 600L
    val targetBytes = 128L * 1024 * 1024
    val byBudget = math.ceil(rows.toDouble * bytesPerRow / targetBytes).toInt
    math.max(1, math.min(s.sparkContext.defaultParallelism, byBudget))
  }

  // ---------------------------------------------------------------------
  // the APPEND path: per-crawl-batch fingerprints added to the store
  // ---------------------------------------------------------------------

  /** Append crawl batch `n`, exactly once per ledger build (a rebuilt
    * store re-derives batch 0 and re-appends — deterministic content). */
  private def appendBatch(s: SparkSession, d: String, n: Int): Unit = {
    val l = ledger(s, d)
    l.synchronized {
      if (!l.appended(n)) { appendBatchWrite(s, d, n); l.appended += n }
    }
  }

  /** The append WRITE for batch `n` — the day-N production cadence: the
    * batch is fingerprinted and decided against the as-of-(n−1) store —
    * the SAME stage 01-04 decisions x11 makes — and the batch rows
    * (h, sig, q/in3/in4 flags) land as the store's batch_id=n partition.
    * This is the correctness condition of the "per crawl snapshot"
    * cadence: batch n+1 must dedup against batch n's survivors, whose
    * text it never reads — only their persisted fingerprints. (Reference
    * analog: the final store is append-per-trial, maggy/core/
    * experiment_driver/optimization_driver.py:504-506, not build-once.)
    *
    * IDEMPOTENT per batch: the decisions are a deterministic function of
    * the as-of-(n−1) horizon (appending a later batch can never change
    * them), and the landing is a DYNAMIC partition overwrite of exactly
    * batch_id=n — a retried or re-run append replaces its own partition
    * with identical content instead of doubling it (the mode("append")
    * formulation this replaces failed exactly that retry). Package-
    * private so the idempotence spec can force a mid-sequence re-run. */
  private[graft] def appendBatchWrite(s: SparkSession, d: String, n: Int): Unit =
    Frames.checkpointScope(s"x11 ledger append $n") {
      val dir = ledgerDir(s, d)
      // a batch compacted into base/ is CLOSED: re-appending it would land a
      // second copy in delta/ (the dynamic overwrite only owns delta) — the
      // retry window for an append ends at compaction, so fail loudly
      if (n <= compactedUpTo(dir))
        throw new IllegalStateException(
          s"appendBatchWrite: batch $n is already compacted into $dir/base — " +
            "compacted batches are closed; rebuild the store to replay them")
      val batch = Tables(s, d, "documents").filter(batchPredFor(n))
      val dec = batchDecisions(s, d, batch, ledgerAsOf(s, d, n - 1),
        lshNearCheck = false)
      // signatures are doc-local: batch ⊂ documents, so the appended sig
      // column reads the corpus sig store ⋉ batch ids when the store is warm
      // (r18, verdict #5 — the x11b stage-03c sharing extended to the append
      // path; bit-identical by doc-locality, and the Among dispatch keeps an
      // isolated cold append batch-local)
      val sig = Dedup.minhashSignaturesAmong(
        Tables(s, d, "documents"), batch.select("doc_id"))
      dec.select("doc_id", "source", "n_tok", "q", "h", "in3", "in4")
        .join(sig, Seq("doc_id"), "left_outer")
        .withColumn("batch_id", lit(n))
        .write.mode("overwrite")
        // bounded writer buffers (the buildLedger rationale): batch-sized
        // appends never hit the day-1 OOM, but the same ~600 B/row schema
        // gets the same row-group budget so append landings stay bounded
        // at any batch size
        .option("parquet.block.size", LedgerRowGroupBytes.toString)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(deltaDir(dir))
    }

  /** The store after appending batches 1..`upTo` IN ORDER (each batch's
    * decisions read the store as of its predecessor), ensured on first
    * use — the generic day-N loop: per-batch cost is flat in the number
    * of prior batches (fingerprint scans touch only the incoming batch;
    * store-side reads are partition/row-group-pruned ledger scans). */
  private[graft] def appendedLedger(s: SparkSession, d: String, upTo: Int = 1): DataFrame = {
    (1 to upTo).foreach(n => appendBatch(s, d, n))
    ledgerAsOf(s, d, upTo)
  }

  /** Compact the CLOSED horizon [0..upTo]: rewrite those batches' rows —
    * wherever they currently live (delta partition trees and/or a prior
    * base) — into ONE consolidated base file set, batch_id preserved as a
    * data column and rows clustered by (batch_id, doc_id) so row-group
    * stats keep as-of reads pruned; then drop the compacted delta
    * partitions. At a daily crawl cadence this is the maintenance job
    * that turns ~365 batch trees/year back into a bounded file count
    * while open batches keep landing in delta/ — summaries and as-of
    * probes are byte-identical pre/post (x11e's oracle re-proves the
    * content through DuckDB; DataPlaneSpec proves the layout). File
    * budget: one task per batch here (narrow rows, test-scale); a
    * deployment sizes the budget by bytes/targetFileSize instead. */
  /** Highest batch_id already compacted into the live base (−1 if none) —
    * read from the manifest; the append guard reads this instead of
    * scanning base. */
  private def compactedUpTo(dir: String): Int = baseState(dir)._2

  private[graft] def compactLedger(s: SparkSession, d: String, upTo: Int): Unit = {
    val dir = ledgerDir(s, d)
    val (oldBase, oldHorizon) = baseState(dir)
    // a compaction horizon BELOW a prior one would rewrite base from the
    // batch_id<=upTo slice and delete the old base — silently dropping the
    // already-compacted batches in (upTo, prior] whose delta trees are
    // long gone. The horizon only ever moves forward.
    require(upTo >= oldHorizon,
      s"compactLedger: horizon $upTo is below the already-compacted " +
        s"$oldHorizon — compaction horizons only move forward")
    val newBase = s"base_v$upTo"
    if (oldBase != newBase) {
      // 1. fully materialize the consolidated horizon into a VERSIONED dir
      //    the manifest does not yet reference (a crashed prior attempt's
      //    leftovers are simply overwritten)
      ledgerFor(s, d).filter(col("batch_id") <= upTo)
        .repartition(upTo + 1, col("batch_id"))
        .sortWithinPartitions("batch_id", "doc_id")
        .write.mode("overwrite").parquet(s"$dir/$newBase")
      // 2. the ATOMIC pointer swap: readers flip from {old base, old
      //    horizon} to {new base, new horizon} in one rename — before it
      //    the old view is fully intact, after it the old base and the
      //    compacted deltas are unreferenced garbage (deployment analog:
      //    a metastore/manifest commit)
      manifest.swap(dir, newBase, upTo)
    }
    // 3. drop the dead zones — OUTSIDE the skip guard, so a re-run at the
    //    same horizon after a crash between swap and delete still sweeps
    //    the superseded base and the legacy marker (r17, advice #2)
    manifest.sweepDeadZones(dir, liveBase = newBase)
    val delta = new java.io.File(deltaDir(dir))
    if (delta.isDirectory) delta.listFiles().foreach { f =>
      val m = "batch_id=(\\d+)".r.findFirstMatchIn(f.getName)
      if (m.exists(_.group(1).toInt <= upTo))
        Frames.deleteRecursively(f)
    }
  }

  // ---------------------------------------------------------------------
  // declared queries
  // ---------------------------------------------------------------------

  /** x11_ledger_build: builds (on first use) and summarizes the persisted
    * store per source — doc/flag counts, survivor tokens, the membership
    * checksum over survivors, and a checksum over the h column itself, so
    * the oracle validates the persisted CONTENT (not just row counts). */
  private def storeAggs = Seq(
    count(lit(1)).as("n_docs"),
    sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
    sum(when(col("in3"), 1L).otherwise(0L)).as("n_keepers"),
    sum(when(col("in4"), 1L).otherwise(0L)).as("n_survivors"),
    sum(when(col("in4"), col("n_tok")).otherwise(0L)).as("tok_survivors"),
    sum(when(col("in4"), hash6(col("doc_id"))).otherwise(0L)).as("chk_survivors"),
    sum(conv(substring(col("h"), 1, 6), 16, 10).cast("long")).as("chk_content"))

  private def ledgerSummary(s: SparkSession, d: String): DataFrame =
    ledgerAsOf(s, d, 0).groupBy("source").agg(storeAggs.head, storeAggs.tail: _*)

  /** Batch-side decisions (the x11 stages 01-04) for `batch` against
    * `store`: quality, exact dedup vs the store's quality hashes (Bloom
    * prefilter + exact semi-join verify) + within-batch keeper, the
    * optional LSH near-check vs persisted signatures, and holdout
    * decontamination. Returns the CHECKPOINTED batch ledger
    * (doc_id, source, n_tok, q, h, in3, in3c, in4) — shared by the
    * manifest queries and the append path, so a decision appended to the
    * store and a decision reported in a manifest can never drift. */
  private def batchDecisions(s: SparkSession, d: String, batch: DataFrame,
      led: DataFrame, lshNearCheck: Boolean): DataFrame = {
    val docs = Tables(s, d, "documents")

    // ---- stage 01: batch ingest — ONE batch text scan → fingerprints ----
    val bfp = Frames.trackedCheckpoint(batch.select(
      col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"),
      TextStats.qualityPass.as("q"), md5(col("text")).as("h")))

    // ---- stage 03: exact dedup vs the STORE (d9) + within the batch ----
    // corpus content keys = the store's quality survivors' h set; folded
    // into one broadcast Bloom binary, probed map-side; positives (fpp of
    // the batch + true dups) are exact-verified by the semi-join — exact
    // answer, Bloom is purely the shuffle prefilter
    import graft.functions.BloomMembership
    val corpusH = led.filter(col("q")).select("h")
    // size the Bloom from the MEMOIZED corpus doc count (Tables.cachedCount
    // — one metadata probe per run), an upper bound on the ledger's quality
    // count: ~10 bits/key keeps fpp ≤1% (the bound only over-provisions by
    // the quality-fail fraction), floors preserve the small-scale shape,
    // and the answer stays exact either way (Bloom is purely the shuffle
    // prefilter; positives exact-verify). Replaces a per-batchDecisions
    // ledger count job — SIX store scans per bench run just to size a
    // filter (r18, §1.2).
    val nQuality = math.max(1000000L, Tables.cachedCount(s, d, "documents"))
    val bloom = corpusH.agg(
      BloomMembership.bloomAgg(col("h"), nQuality,
        math.max(8388608L, 10L * nQuality)).as("bf"))
    val bq = bfp.filter(col("q"))
    val dupVsCorpus = bq
      .filter(BloomMembership.mightContain(
        org.apache.spark.sql.GraftExpressionBridge.scalarSubquery(bloom), col("h")))
      .join(corpusH.distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"), lit(true).as("dup_c"))
    val batchKeepers = bq.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("bk"))
    val withKeep = bfp.join(dupVsCorpus, Seq("doc_id"), "left_outer")
      .join(batchKeepers, Seq("doc_id"), "left_outer")
      .withColumn("in3", col("q") && !coalesce(col("dup_c"), lit(false)) &&
        coalesce(col("bk"), lit(false)))
      .drop("dup_c", "bk")

    // ---- stage 03c (x11b): LSH near-check vs PERSISTED signatures ----
    // corpus bands come from the store's sig arrays (in4 survivors — what
    // is actually in the corpus), batch bands from fresh signatures of the
    // stage-3 survivors; cross candidates fetch text for the exact-Jaccard
    // verify RESTRICTED to candidate ids on both sides — the point lookup,
    // never a corpus scan. Same verify contract as d8b: flagged pairs are
    // exact, recall is the band recall (~0.9998 at t=0.8 with 16×4).
    val withNear =
      if (!lshNearCheck) withKeep.withColumn("in3c", col("in3"))
      else {
        val b3Ids = withKeep.filter(col("in3")).select("doc_id")
        // signatures are doc-local: restrict the corpus sig cache to the
        // stage-3 batch survivors instead of re-tokenizing them (r17;
        // batch ⊂ docs, so the cache covers every batch doc)
        val batchSig = Dedup.minhashSignaturesAmong(docs, b3Ids)
        val corpusBands = Dedup.bandsFromSignature(
          led.filter(col("in4") && col("sig").isNotNull).select("doc_id", "sig"))
        val batchBands = Dedup.bandsFromSignature(batchSig)
        val cands = batchBands.join(
            corpusBands.withColumnRenamed("doc_id", "corpus_id"), Seq("band", "bh"))
          .select("doc_id", "corpus_id").distinct()
        // candidate shingle arrays from the corpus cache (point lookups —
        // no text re-scan; shingles are doc-local and batch ⊂ docs)
        val candB = Dedup.shingleSetsAmong(docs, cands.select("doc_id"))
          .select(col("doc_id"), col("sh").as("sh_b"))
        val candC = Dedup.shingleSetsAmong(docs,
            cands.select(col("corpus_id").as("doc_id")))
          .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
        val nearIds = cands.join(candB, Seq("doc_id")).join(candC, Seq("corpus_id"))
          .withColumn("n_inter",
            size(array_intersect(col("sh_b"), col("sh_c"))).cast("double"))
          // round to 6 dp BEFORE thresholding — bandedLshPairs (the d8b
          // contract this stage is spec-locked against) compares the
          // ROUNDED jaccard, so a raw ratio in [0.7999995, 0.8) must drop
          // on both paths
          .filter(round(col("n_inter") /
            (size(col("sh_b")) + size(col("sh_c")) - col("n_inter")), 6) >= 0.8)
          .select("doc_id").distinct()
          .withColumn("nd", lit(true))
        withKeep.join(nearIds, Seq("doc_id"), "left_outer")
          .withColumn("in3c", col("in3") && !coalesce(col("nd"), lit(false)))
          .drop("nd")
      }

    // ---- stage 04: batch decontamination (d7b, store-independent) ----
    // probe index = holdout wide grams (broadcast); batch text re-scan
    // restricted by semi-join to the current survivors
    val survDocs = batch.join(
      withNear.filter(col("in3c")).select("doc_id"), Seq("doc_id"), "left_semi")
    // shared persisted holdout gram index (r18, §2.4): six batchDecisions
    // calls per run re-scanned the same holdout text for the same set
    val probeGrams = Dedup.probeGramSet(docs.filter(isHoldout))
    val contamIds = Dedup.wideGrams(survDocs)
      .join(broadcast(probeGrams), "h")
      .select("doc_id").distinct()
      .withColumn("contam", lit(true))
    Frames.trackedCheckpoint(
      withNear.join(contamIds, Seq("doc_id"), "left_outer")
        .withColumn("in4", col("in3c") && !coalesce(col("contam"), lit(false)))
        .drop("contam"))
  }

  /** The x11/x11b/x11c manifest. Stages 01-04 are batch-side decisions
    * ([[batchDecisions]], one row each over the checkpointed batch
    * ledger); 05 is the merged corpus (persisted-store survivors ∪ batch
    * survivors — the store parquet scan PlanSpec pins); 06-10 are x10's
    * tail over the merged set. With `lshNearCheck`, stage 03c drops batch
    * docs whose exact Jaccard vs a corpus survivor is ≥ 0.8, candidates
    * generated by banding PERSISTED corpus signatures against fresh batch
    * signatures (d8b's decision, store-backed). `batchPred`/`store`
    * default to the x11 shape (day-2 batch vs the as-of-0 store); x11c
    * passes the day-3 batch and the APPENDED store. */
  private[graft] def incrementalManifest(s: SparkSession, d: String,
      lshNearCheck: Boolean = false,
      batchPred: Option[org.apache.spark.sql.Column] = None,
      store: Option[DataFrame] = None): DataFrame = {
    val led = store.getOrElse(ledgerAsOf(s, d, 0))
    val docs = Tables(s, d, "documents")
    val batch = docs.filter(batchPred.getOrElse(isBatch))
    val bled = batchDecisions(s, d, batch, led, lshNearCheck)

    // ---- stage 05: merged corpus = store survivors ∪ batch survivors ----
    // the ledger side is a PARQUET scan of the persisted store (PlanSpec
    // pins this — the incremental job must never re-fingerprint day-1
    // text); no trim in the incremental path, so n_clean := n_tok
    def survivors(src: DataFrame) = src.filter(col("in4"))
      .select(col("doc_id"), col("source"), col("n_tok").as("n_clean"))
    val merged = survivors(led).union(survivors(bled))

    // ---- stages 06-10: x10's tail over the merged set ----
    val ct = merged.groupBy("source").agg(count(lit(1)).as("n_docs"),
      sum(col("n_clean")).cast("long").as("n_tokens"))
    val mx = Frames.trackedCheckpoint(
      merged.join(broadcast(Mixture.ratesFor(ct, MixBudget)), "source")
        .filter(Sampling.keyUniform(col("doc_id")) < col("rate"))
        .select("doc_id", "source", "n_clean"))
    val cap = Sampling.sourceSlots(mx, s).filter(col("slot") <= SourceCap)
      .join(mx.select("doc_id", "n_clean"), "doc_id")
    val spl = cap.filter(md5(col("doc_id").cast("string")) < "cc")
    val wEp = org.apache.spark.sql.expressions.Window
      .orderBy(md5(concat(lit("ep1-"), col("doc_id").cast("string"))), col("doc_id"))
    val shf = spl.select(col("doc_id"), col("n_clean"),
      (row_number().over(wEp) - 1).cast("long").as("pos"))
    val shd = spl.select(col("doc_id"), col("n_clean"),
      (hash6(col("doc_id")) % 8).as("shard_id"))

    (Seq(
      manifestRow("01_batch_ingest", bled, col("n_tok"), hash6(col("doc_id"))),
      manifestRow("02_batch_quality", bled.filter(col("q")), col("n_tok"), hash6(col("doc_id"))),
      manifestRow("03_batch_exact_dedup", bled.filter(col("in3")), col("n_tok"), hash6(col("doc_id")))) ++
    (if (lshNearCheck) Seq(
      manifestRow("03c_batch_neardup_lsh", bled.filter(col("in3c")), col("n_tok"), hash6(col("doc_id"))))
     else Seq.empty) ++
    Seq(
      manifestRow("04_batch_decontam", bled.filter(col("in4")), col("n_tok"), hash6(col("doc_id"))),
      manifestRow("05_merged_corpus", merged, col("n_clean"), hash6(col("doc_id"))),
      manifestRow("06_mixture", mx, col("n_clean"), hash6(col("doc_id"))),
      manifestRow("07_source_cap", cap, col("n_clean"), hash6(col("doc_id"))),
      manifestRow("08_split_train", spl, col("n_clean"), hash6(col("doc_id"))),
      manifestRow("09_epoch_shuffle", shf, col("n_clean"),
        (col("pos") + 1) * (col("doc_id") % 997 + 1)),
      manifestRow("10_shard", shd, col("n_clean"),
        (col("shard_id") + 1) * (col("doc_id") % 997 + 1))
    )).reduce(_.union(_))
  }

  // ---------------------------------------------------------------------
  // oracle SQL (DuckDB recomputes the day-1 store from scratch — which is
  // exactly what makes the comparison validate the PERSISTED content)
  // ---------------------------------------------------------------------

  /** Shared day-1 + holdout CTEs (x10's corpus legs with the x11 split). */
  private def day1Ctes: String =
    s"""corpus1 AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 10 <> 9),
       |q1 AS (SELECT * FROM corpus1 WHERE ${TextStats.qualityPassSql}),
       |ded1 AS (SELECT * FROM q1 WHERE doc_id IN
       |           (SELECT min(doc_id) FROM q1 GROUP BY md5(text))),
       |pg AS (SELECT DISTINCT unnest(list_transform(
       |           range(1, len(string_split(text,' ')) - 6),
       |           i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS gram
       |       FROM documents
       |       WHERE doc_id % 10 = 0 AND len(string_split(text,' ')) >= 8),
       |cg1 AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(string_split(text,' ')) - 6),
       |           i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS gram
       |        FROM ded1 WHERE len(string_split(text,' ')) >= 8),
       |contam1 AS (SELECT DISTINCT doc_id FROM cg1 JOIN pg USING (gram)),
       |dc1 AS (SELECT * FROM ded1 WHERE doc_id NOT IN (SELECT doc_id FROM contam1))""".stripMargin

  private def ledgerBuildSql: String =
    s"""WITH ${day1Ctes}
       |SELECT source,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM ded1) THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dc1) THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dc1) THEN n_tok ELSE 0 END) AS BIGINT) AS tok_survivors,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dc1) THEN $hash6Sql ELSE 0 END) AS BIGINT) AS chk_survivors,
       |       CAST(sum(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT)) AS BIGINT) AS chk_content
       |FROM corpus1 GROUP BY source""".stripMargin

  /** Appended-batch CTEs — each batch's from-scratch recomputation
    * against its as-of horizon (DuckDB re-derives what the engine reads
    * from the persisted store, which is exactly what validates the
    * APPENDED content). `n` is the batch number, `where` its day split,
    * `priorQs` the quality CTEs of every earlier horizon member (the
    * store's quality-hash set the batch dedups against). */
  private def dayCtes(n: Int, where: String, priorQs: Seq[String]): String = {
    val hashes = priorQs.map(q => s"SELECT md5(text) FROM $q")
      .mkString(" UNION ALL ")
    s"""batch$n AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE $where),
       |bq$n AS (SELECT * FROM batch$n WHERE ${TextStats.qualityPassSql}),
       |b3$n AS (SELECT * FROM bq$n
       |        WHERE md5(text) NOT IN ($hashes)
       |          AND doc_id IN (SELECT min(doc_id) FROM bq$n GROUP BY md5(text))),
       |cg$n AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |            range(1, len(string_split(text,' ')) - 6),
       |            i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS gram
       |        FROM b3$n WHERE len(string_split(text,' ')) >= 8),
       |contam$n AS (SELECT DISTINCT doc_id FROM cg$n JOIN pg USING (gram)),
       |b4$n AS (SELECT * FROM b3$n WHERE doc_id NOT IN (SELECT doc_id FROM contam$n))""".stripMargin
  }

  /** Day-2 = the %10==9 class minus the day-3/day-4 carves. */
  private def day2Ctes: String =
    dayCtes(2, "doc_id % 10 = 9 AND doc_id % 100 NOT IN (89, 99)", Seq("q1"))

  /** Day-3 (%100==89), deduped against day-1 ∪ day-2 quality hashes. */
  private def day3Ctes: String =
    dayCtes(3, "doc_id % 100 = 89", Seq("q1", "bq2"))

  /** One per-batch leg of the x11c store summary. */
  private def storeSummarySql(src: String, qs: String, ks: String,
      ss: String, batchId: Int): String =
    s"""SELECT CAST($batchId AS INTEGER) AS batch_id, source,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM $qs) THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM $ks) THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM $ss) THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM $ss) THEN n_tok ELSE 0 END) AS BIGINT) AS tok_survivors,
       |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM $ss) THEN $hash6Sql ELSE 0 END) AS BIGINT) AS chk_survivors,
       |       CAST(sum(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT)) AS BIGINT) AS chk_content
       |FROM $src GROUP BY source""".stripMargin

  private def ledgerAppendSql: String =
    s"""WITH ${day1Ctes},
       |${day2Ctes}
       |${storeSummarySql("corpus1", "q1", "ded1", "dc1", 0)}
       |UNION ALL
       |${storeSummarySql("batch2", "bq2", "b32", "b42", 1)}""".stripMargin

  /** The 3-batch store summary (x11d_ledger_append; x11e_ledger_compact
    * re-proves the same content from the compacted layout). */
  private def ledgerAppend2Sql: String =
    s"""WITH ${day1Ctes},
       |${day2Ctes},
       |${day3Ctes}
       |${storeSummarySql("corpus1", "q1", "ded1", "dc1", 0)}
       |UNION ALL
       |${storeSummarySql("batch2", "bq2", "b32", "b42", 1)}
       |UNION ALL
       |${storeSummarySql("batch3", "bq3", "b33", "b43", 2)}""".stripMargin

  /** The shared manifest SQL: `batchWhere` selects the incoming batch,
    * `extraCtes` injects prior-batch recomputations, `dedupHashes` is the
    * store's quality-hash set the batch dedups against, `mergedLegs` the
    * store-survivor legs of the merged corpus. x11 = day-2 batch vs
    * day-1; x11c = day-3 batch vs day-1 ∪ appended day-2. */
  private def pipelineSql(batchWhere: String, extraCtes: String,
      dedupHashes: String, mergedLegs: String, lsh: Boolean = false): String = {
    val chk = hash6Sql
    // stage 03c (x11b): DuckDB recomputes the store-backed LSH near-check
    // from text — banded pairs over batch-survivors ∪ store-survivors
    // (persisted signatures provably equal fresh ones), near = a pair
    // crossing the batch/corpus boundary, candidates already exact-
    // Jaccard-verified inside the shared pairs CTE
    val b3F = if (lsh) "b3c" else "b3"
    val lshCtes =
      if (!lsh) ""
      else
        s"""lshdocs AS (SELECT doc_id, text FROM b3
           |            UNION ALL SELECT doc_id, text FROM dc1),
           |${graft.llm.Dedup.minhashLshCtes(0.8, "lshdocs", maxBucketSize = 0)},
           |nearb AS (SELECT DISTINCT p.doc_id FROM (
           |    SELECT doc_a AS doc_id, doc_b AS other FROM pairs
           |    UNION ALL SELECT doc_b, doc_a FROM pairs) p
           |  WHERE p.doc_id IN (SELECT doc_id FROM b3)
           |    AND p.other IN (SELECT doc_id FROM dc1)),
           |b3c AS (SELECT * FROM b3 WHERE doc_id NOT IN (SELECT doc_id FROM nearb)),
           |""".stripMargin
    val stage3c =
      if (!lsh) ""
      else
        s"""UNION ALL SELECT '03c_batch_neardup_lsh', count(*), CAST(sum(n_tok) AS BIGINT),
           |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM b3c
           |""".stripMargin
    s"""WITH RECURSIVE ${day1Ctes},
       |${extraCtes}batch AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE $batchWhere),
       |bq AS (SELECT * FROM batch WHERE ${TextStats.qualityPassSql}),
       |b3 AS (SELECT * FROM bq
       |       WHERE md5(text) NOT IN ($dedupHashes)
       |         AND doc_id IN (SELECT min(doc_id) FROM bq GROUP BY md5(text))),
       |${lshCtes}cgb AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |            range(1, len(string_split(text,' ')) - 6),
       |            i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS gram
       |        FROM $b3F WHERE len(string_split(text,' ')) >= 8),
       |contamb AS (SELECT DISTINCT doc_id FROM cgb JOIN pg USING (gram)),
       |b4 AS (SELECT * FROM $b3F WHERE doc_id NOT IN (SELECT doc_id FROM contamb)),
       |merged AS ($mergedLegs
       |           UNION ALL SELECT doc_id, source, n_tok FROM b4),
       |ct AS (SELECT source, count(*) AS n_docs,
       |              CAST(sum(n_clean) AS BIGINT) AS n_tokens FROM merged GROUP BY source),
       |w AS (SELECT source, n_docs,
       |             sqrt(CAST(n_tokens AS DOUBLE)) /
       |               sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS wt
       |      FROM ct),
       |r AS (SELECT source,
       |             CASE WHEN $MixBudget * wt / n_docs > 1.0 THEN 1.0
       |                  ELSE $MixBudget * wt / n_docs END AS rate
       |      FROM w),
       |mx AS (SELECT merged.* FROM merged JOIN r USING (source)
       |       WHERE CAST((doc_id * 2654435761) % 2147483648 AS DOUBLE) / 2147483648 < rate),
       |cap AS (SELECT doc_id, source, n_clean FROM (
       |          SELECT *, row_number() OVER (PARTITION BY source
       |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS slot FROM mx)
       |        WHERE slot <= $SourceCap),
       |spl AS (SELECT * FROM cap WHERE md5(CAST(doc_id AS VARCHAR)) < 'cc'),
       |shf AS (SELECT doc_id, n_clean,
       |               row_number() OVER (ORDER BY md5('ep1-' || CAST(doc_id AS VARCHAR)),
       |                                  doc_id) - 1 AS pos
       |        FROM spl),
       |shd AS (SELECT doc_id, n_clean, $chk % 8 AS shard_id FROM spl)
       |SELECT '01_batch_ingest' AS stage, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum, CAST(sum($chk) AS BIGINT) AS chk
       |FROM batch
       |UNION ALL SELECT '02_batch_quality', count(*), CAST(sum(n_tok) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM bq
       |UNION ALL SELECT '03_batch_exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM b3
       |${stage3c}UNION ALL SELECT '04_batch_decontam', count(*), CAST(sum(n_tok) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM b4
       |UNION ALL SELECT '05_merged_corpus', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM merged
       |UNION ALL SELECT '06_mixture', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM mx
       |UNION ALL SELECT '07_source_cap', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM cap
       |UNION ALL SELECT '08_split_train', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM spl
       |UNION ALL SELECT '09_epoch_shuffle', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT),
       |       CAST(sum((pos + 1) * (doc_id % 997 + 1)) AS BIGINT) FROM shf
       |UNION ALL SELECT '10_shard', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT),
       |       CAST(sum((shard_id + 1) * (doc_id % 997 + 1)) AS BIGINT) FROM shd""".stripMargin
  }

  /** x11's manifest SQL: the full %10==9 batch against the day-1 store. */
  private def incrementalSql: String = pipelineSql(
    batchWhere = "doc_id % 10 = 9",
    extraCtes = "",
    dedupHashes = "SELECT md5(text) FROM q1",
    mergedLegs = "SELECT doc_id, source, n_tok AS n_clean FROM dc1")

  /** x11c's manifest SQL: the day-3 batch (%100==89) against the APPENDED
    * store — its dedup hash set is day-1 quality ∪ day-2 quality and the
    * merged corpus carries day-2 survivors, both of which DuckDB
    * recomputes from text while the engine reads persisted fingerprints. */
  private def day3Sql: String = pipelineSql(
    batchWhere = "doc_id % 100 = 89",
    extraCtes = day2Ctes + ",\n",
    dedupHashes =
      "SELECT md5(text) FROM q1 UNION ALL SELECT md5(text) FROM bq2",
    mergedLegs =
      """SELECT doc_id, source, n_tok AS n_clean FROM dc1
        |           UNION ALL SELECT doc_id, source, n_tok FROM b42""".stripMargin)

  /** x11d's manifest SQL: the day-4 batch (%100==99) against the store
    * after BOTH appends — dedup hashes and merged survivors now span
    * three persisted horizons, every one of which DuckDB recomputes from
    * text while the engine reads fingerprints. */
  private def day4Sql: String = pipelineSql(
    batchWhere = "doc_id % 100 = 99",
    extraCtes = day2Ctes + ",\n" + day3Ctes + ",\n",
    dedupHashes =
      "SELECT md5(text) FROM q1 UNION ALL SELECT md5(text) FROM bq2" +
        " UNION ALL SELECT md5(text) FROM bq3",
    mergedLegs =
      """SELECT doc_id, source, n_tok AS n_clean FROM dc1
        |           UNION ALL SELECT doc_id, source, n_tok FROM b42
        |           UNION ALL SELECT doc_id, source, n_tok FROM b43""".stripMargin)

  val entries: Seq[QueryDef] = Seq(
    // the offline day-1 store build + content summary — declared first so
    // Verify's declaration-order run charges the build here, but ledgerFor
    // is build-on-first-use, so any order is correct
    QueryDef("x11_ledger_build", ledgerBuildSql)((s, d) =>
      ledgerSummary(s, d)),
    QueryDef("x11_incremental_pipeline", incrementalSql)((s, d) =>
      incrementalManifest(s, d)),
    // x11b: + the store-backed LSH near-check (stage 03c). ORACLED since
    // r15 (the d3 flip): DuckDB recomputes the banded pairs over batch ∪
    // day-1 survivors from TEXT, while the engine bands PERSISTED corpus
    // signatures — the hash match is therefore also a proof that the
    // stored sig arrays equal fresh recomputation (the x11c content
    // contract, extended to signatures). DataPlaneSpec keeps the direct
    // incrementalDedupLsh cross-path lock.
    QueryDef("x11b_incremental_lsh", pipelineSql(
      batchWhere = "doc_id % 10 = 9",
      extraCtes = "",
      dedupHashes = "SELECT md5(text) FROM q1",
      mergedLegs = "SELECT doc_id, source, n_tok AS n_clean FROM dc1",
      lsh = true))((s, d) =>
      incrementalManifest(s, d, lshNearCheck = true)),
    // x11c: the store made incremental IN TIME — the day-2 batch's
    // fingerprints are APPENDED as batch_id=1 (this line owns the append
    // cost and its summary validates the appended CONTENT per batch), then
    // x11c_incremental_pipeline runs a day-3 batch against the UPDATED
    // store: a day-3 duplicate of a day-2 survivor is dropped without
    // either day's text ever being re-read (PlanSpec locks the scans).
    QueryDef("x11c_ledger_append", ledgerAppendSql)((s, d) =>
      appendedLedger(s, d, upTo = 1).groupBy("batch_id", "source")
        .agg(storeAggs.head, storeAggs.tail: _*)),
    QueryDef("x11c_incremental_pipeline", day3Sql)((s, d) =>
      incrementalManifest(s, d,
        batchPred = Some(isDay3), store = Some(appendedLedger(s, d, upTo = 1)))),
    // x11d: the day-N loop — batch 2 (day-3) appended on top of batch 1,
    // each batch's decisions pinned to its as-of horizon, then the day-4
    // batch runs against the store after BOTH appends: its duplicates of
    // day-2 AND day-3 survivors drop off persisted fingerprints alone
    // (DataPlaneSpec plants dups across every batch pair and proves the
    // mid-sequence re-append idempotent).
    QueryDef("x11d_ledger_append", ledgerAppend2Sql)((s, d) =>
      appendedLedger(s, d, upTo = 2).groupBy("batch_id", "source")
        .agg(storeAggs.head, storeAggs.tail: _*)),
    QueryDef("x11d_incremental_pipeline", day4Sql)((s, d) =>
      incrementalManifest(s, d,
        batchPred = Some(isDay4), store = Some(appendedLedger(s, d, upTo = 2)))),
    // x11e: the maintenance op the append cadence requires — compact the
    // closed horizon [0..2] into one consolidated base file set (batch_id
    // preserved as a data column) and drop the per-batch delta trees; the
    // oracle is the SAME 3-batch content summary as x11d_ledger_append,
    // so DuckDB re-proves byte-identical store content from the compacted
    // layout. SETUP-class line (owns the rewrite cost).
    QueryDef("x11e_ledger_compact", ledgerAppend2Sql)((s, d) => {
      appendedLedger(s, d, upTo = 2)
      compactLedger(s, d, upTo = 2)
      ledgerAsOf(s, d, 2).groupBy("batch_id", "source")
        .agg(storeAggs.head, storeAggs.tail: _*)
    })
  )
}
