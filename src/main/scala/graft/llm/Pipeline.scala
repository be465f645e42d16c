package graft.llm

import graft.data.{Frames, Tables}
import graft.ops.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x10: the WHOLE training-data pipeline composed as ONE declared job —
  * the end-to-end artifact a real user asks for first. Every stage is an
  * operator this engine already ships (and gates individually): quality
  * (t11's shared predicate) → exact dedup (d1/x3's keeper-per-md5) →
  * decontamination against the eval holdout (d7b's wide-gram probe) →
  * duplicated-substring trim (d11's coverage) → sqrt-temperature mixture
  * under budget (x5-x7's rates) → per-source cap (p9's reservoir slots) →
  * train split (p7's hash buckets) → epoch shuffle (p8's seeded order) →
  * shard assignment (x4's md5 shards). Output: one oracle-checkable
  * manifest row per stage — (stage, n_docs, n_tokens, id_sum, chk) —
  * so the composition itself is under the DuckDB gate, not just the parts
  * (x7 proves three stages compose; this proves all nine).
  *
  * Scale shape (the 100 TB story, stage by stage):
  *   - ONE narrow fingerprint ledger (doc_id, source, n_tok, q, h) is
  *     checkpointed off the first corpus scan; every doc-set decision
  *     after it joins that ledger, never the text.
  *   - text is re-scanned only where an operator needs grams (the d10
  *     arithmetic: a pruned codegen re-scan beats checkpointing a
  *     fatter-than-corpus intermediate): the decontamination probe pass
  *     and the trim's anchor/rebuild passes, each RESTRICTED by a
  *     doc_id semi-join to the current survivor set.
  *   - the eval holdout's gram index broadcasts (d7b: an eval benchmark
  *     is KB-MB at any corpus size).
  *   - mixture rates are a |sources|-row broadcast (x5); the cap uses
  *     p9's source-slot window; everything after the mixture filter is
  *     budget-bounded (≤ MixBudget rows at ANY corpus size), so the tail
  *     stages' windows are single-task by CONSTRUCTION, not by accident.
  *   - the manifest itself aggregates the checkpointed ledger + the
  *     budget-bounded tails: the returned plan contains NO parquet scan
  *     (PlanSpec locks this — no stage re-scans the corpus).
  *
  * Stage semantics mirror the declared single-operator queries exactly:
  * the eval holdout is doc_id % 10 = 0 (the d7b probe convention), so the
  * pipeline corpus is the other 90%.
  */
object Pipeline {

  /** The pipeline's mixture document budget (stage 06). Deliberately
    * SMALLER than Mixture.SampleBudget so the stage is live (actually
    * cuts) at the sf0.01 oracle gate, where the post-trim survivor set is
    * ~156 docs. */
  private[graft] val MixBudget = 120

  /** Per-source document cap applied after the mixture (stage 07). */
  private[graft] val SourceCap = 5

  /** Minimum post-trim token count to survive stage 05 (the x3/x4
    * min-length rule applied to the TRIMMED text). */
  private[graft] val MinCleanTokens = 8

  private[llm] def toks = split(col("text"), " ")

  /** Set-identity checksum: the x4 shard hash reused as a per-doc value
    * whose SUM detects any membership difference the (count, id_sum)
    * pair could miss. */
  private[llm] def hash6(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long")

  private[llm] val hash6Sql =
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)"

  /** The stage 01-03 fingerprint ledger of `docs` — (doc_id, source,
    * n_tok, q, h), one text pass, checkpointed (a tracked checkpoint) —
    * shared by x10 and the x11 ledger build and batch decisions. The scan
    * is fanned out first ([[Tables.fanOut]]): from a one-task scan both the
    * pass and every stage reading the checkpoint (the keeper aggregate,
    * the ledger joins) would run on one core. */
  private[graft] def fingerprints(docs: DataFrame): DataFrame =
    Frames.trackedCheckpoint(Tables.fanOut(docs).select(
      col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"),
      TextStats.qualityPass.as("q"), md5(col("text")).as("h")))

  /** One manifest row: stage label + rollup over the stage's survivors.
    * `chk` defaults to the set checksum; the shuffle/shard stages pass an
    * order/assignment-sensitive one instead. */
  private[llm] def manifestRow(stage: String, df: DataFrame, nTokens: Column,
      chk: Column): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        sum(nTokens).cast("long").as("n_tokens"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(chk).cast("long").as("chk"))
      .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"),
        col("id_sum"), col("chk"))

  /** x10's manifest; with `lshNearDup` the pipeline additionally drops
    * near-duplicate group members after the exact pass (stage 03b) —
    * d6b's production decision: banded MinHash candidates, exact-verified
    * jaccard ≥ 0.8, connected components, keeper = min doc_id. LSH makes
    * it engine-specific (x10b declares without an oracle; DataPlaneSpec
    * proves the shared stages identical to x10 and the dropped set equal
    * to a direct d6b recomputation over the stage-3 survivors). */
  private[graft] def fullPipelineManifest(s: SparkSession, d: String,
      lshNearDup: Boolean = false): DataFrame = {
    val docs = Tables(s, d, "documents")

    // ---- stages 01-03: one corpus scan → narrow fingerprint ledger ----
    // (doc_id, source, n_tok, q, h): everything doc-local the set
    // decisions need, WITHOUT text — this is the frame a deployment
    // materializes as its fingerprint store (the d8 design), and the only
    // checkpoint the pipeline takes before the budget-bounded tail
    val l1 = fingerprints(docs.filter(col("doc_id") % 10 =!= 0))
    // exact-dedup keepers among quality survivors: min doc_id per content
    // hash (the d1/x3 policy) — keeper implies q by construction
    val keepers = l1.filter(col("q")).groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("is_keeper"))
    val withKeep0 = l1.join(keepers, Seq("doc_id"), "left_outer")
      .withColumn("in3", coalesce(col("is_keeper"), lit(false)))

    // ---- stage 03b (x10b only): LSH near-dup group decision (d6b) ----
    // banded MinHash candidates over the stage-3 survivor texts, exact-
    // verified jaccard ≥ 0.8, connected components, keeper = min doc_id —
    // the production near-dedup decision between the exact pass and
    // decontamination (the RefinedWeb order). in3b == in3 when disabled.
    val withKeep =
      if (!lshNearDup) withKeep0.withColumn("in3b", col("in3"))
      else {
        val s3Ids = withKeep0.filter(col("in3")).select("doc_id")
        // shingles/signatures are doc-local: the stage reuses the corpus
        // caches restricted to stage-3 survivors instead of re-tokenizing
        // ~90% of the corpus it already fingerprinted (r17; identical
        // pairs — bandedLshPairsAmong scaladoc)
        val pairs = Dedup.bandedLshPairsAmong(docs, s3Ids, jaccardThreshold = 0.8)
          .select("doc_a", "doc_b")
        val nonKeepers = Dedup.connectedComponents(
            pairs, s3Ids.select(col("doc_id").as("node")))
          .filter(col("node") =!= col("label"))
          .select(col("node").as("doc_id"), lit(true).as("nd_drop"))
        withKeep0.join(nonKeepers, Seq("doc_id"), "left_outer")
          .withColumn("in3b", col("in3") && !coalesce(col("nd_drop"), lit(false)))
      }

    // ---- stage 04: decontamination against the eval holdout (d7b) ----
    // probe index = the holdout's distinct wide grams, broadcast; the
    // corpus side re-scans text RESTRICTED to current survivors
    val dedDocs = docs.join(
      withKeep.filter(col("in3b")).select("doc_id"), Seq("doc_id"), "left_semi")
    // shared persisted holdout gram index (r18): x10/x10b/x11-family
    // stages probing the same holdout read one cached set instead of each
    // re-scanning holdout text (§2.4)
    val probeGrams = Dedup.probeGramSet(docs.filter(col("doc_id") % 10 === 0))
    val contamIds = Dedup.wideGrams(dedDocs)
      .join(broadcast(probeGrams), "h")
      .select("doc_id").distinct()
      .withColumn("contam", lit(true))
    val withContam = withKeep.join(contamIds, Seq("doc_id"), "left_outer")
      .withColumn("in4", col("in3b") && !coalesce(col("contam"), lit(false)))

    // ---- stage 05: duplicated-substring trim (d11's coverage) ----
    // anchor/df/island passes run WITHIN the surviving corpus (trim after
    // dedup — the d11 contract); only span counts come back, the trimmed
    // text itself is never carried (downstream stages consume counts)
    val dcDocs = docs.join(
      withContam.filter(col("in4")).select("doc_id"), Seq("doc_id"), "left_semi")
    val removed = Dedup.trimCoverage(dcDocs)
      .select(col("doc_id"),
        size(array_distinct(col("cov"))).cast("long").as("n_removed"))
    val ledger = Frames.trackedCheckpoint(
      withContam.join(removed, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("source"), col("n_tok"), col("q"),
          col("in3"), col("in3b"), col("in4"),
          (col("n_tok") - coalesce(col("n_removed"), lit(0L))).as("n_clean"))
        .withColumn("in5", col("in4") && col("n_clean") >= MinCleanTokens))

    val s5 = ledger.filter(col("in5"))

    // ---- the manifest: one row per stage, all from the checkpointed
    // ledger + the budget-bounded tail frames — no corpus re-scan ----
    (Seq(
      manifestRow("01_ingest", ledger, col("n_tok"), hash6(col("doc_id"))),
      manifestRow("02_quality", ledger.filter(col("q")), col("n_tok"), hash6(col("doc_id"))),
      manifestRow("03_exact_dedup", ledger.filter(col("in3")), col("n_tok"), hash6(col("doc_id")))) ++
    (if (lshNearDup) Seq(
      manifestRow("03b_neardup_lsh", ledger.filter(col("in3b")), col("n_tok"), hash6(col("doc_id"))))
     else Seq.empty) ++
    Seq(
      manifestRow("04_decontam", ledger.filter(col("in4")), col("n_tok"), hash6(col("doc_id"))),
      manifestRow("05_trim", s5, col("n_clean"), hash6(col("doc_id")))) ++
    tailManifest(s5)).reduce(_.union(_))
  }

  /** Stages 06-10 over the stage-05 survivors, read as
    * (doc_id, source, n_clean): sqrt-temperature mixture under budget
    * (x5-x7) → per-source cap (p9's slots) → train split (p7's hash
    * buckets) → epoch shuffle (p8's seeded order) → shard assignment
    * (x4's md5 shards); one manifest row each. The mixture is checkpointed
    * (≤ MixBudget rows at any corpus size): every later stage reads it. */
  private[llm] def tailManifest(s5: DataFrame): Seq[DataFrame] = {
    val ct = s5.groupBy("source").agg(count(lit(1)).as("n_docs"),
      sum(col("n_clean")).cast("long").as("n_tokens"))
    val mx = Frames.trackedCheckpoint(
      s5.join(broadcast(Mixture.ratesFor(ct, MixBudget)), "source")
        .filter(Sampling.keyUniform(col("doc_id")) < col("rate"))
        .select("doc_id", "source", "n_clean"))
    val cap = Sampling.sourceSlots(mx).filter(col("slot") <= SourceCap)
    val spl = cap.filter(md5(col("doc_id").cast("string")) < "cc")
    val shf = spl.select(col("doc_id"), col("n_clean"), Sampling.epochPos.as("pos"))
    val shd = spl.select(col("doc_id"), col("n_clean"),
      (hash6(col("doc_id")) % 8).as("shard_id"))
    Seq(
      manifestRow("06_mixture", mx, col("n_clean"), hash6(col("doc_id"))),
      manifestRow("07_source_cap", cap, col("n_clean"), hash6(col("doc_id"))),
      manifestRow("08_split_train", spl, col("n_clean"), hash6(col("doc_id"))),
      // order-sensitive checksum: any permutation difference changes it
      manifestRow("09_epoch_shuffle", shf, col("n_clean"),
        (col("pos") + 1) * (col("doc_id") % 997 + 1)),
      // assignment-sensitive checksum: any doc landing in another shard
      // changes it
      manifestRow("10_shard", shd, col("n_clean"),
        (col("shard_id") + 1) * (col("doc_id") % 997 + 1)))
  }

  /** The oracle of [[tailManifest]] over the relation `src`
    * (doc_id, source, n_clean): its CTEs (`ct` … `shd`) and its
    * `UNION ALL` manifest rows, spliced after the caller's own. */
  private[llm] def tailSql(src: String): (String, String) = {
    val chk = hash6Sql
    (s"""ct AS (SELECT source, count(*) AS n_docs,
        |              CAST(sum(n_clean) AS BIGINT) AS n_tokens FROM $src GROUP BY source),
        |w AS (SELECT source, n_docs,
        |             sqrt(CAST(n_tokens AS DOUBLE)) /
        |               sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS wt
        |      FROM ct),
        |r AS (SELECT source,
        |             CASE WHEN $MixBudget * wt / n_docs > 1.0 THEN 1.0
        |                  ELSE $MixBudget * wt / n_docs END AS rate
        |      FROM w),
        |mx AS (SELECT $src.* FROM $src JOIN r USING (source)
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
        |shd AS (SELECT doc_id, n_clean, $chk % 8 AS shard_id FROM spl)""".stripMargin,
     s"""UNION ALL SELECT '06_mixture', count(*), CAST(sum(n_clean) AS BIGINT),
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
        |       CAST(sum((shard_id + 1) * (doc_id % 997 + 1)) AS BIGINT) FROM shd""".stripMargin)
  }

  private def pipelineSql: String = pipelineSqlFor(lsh = false)

  /** x10's oracle; with `lsh` the stage-03b near-dup decision is spliced
    * in (r15): the shared banded-minhash CTEs run over the stage-3
    * survivor relation, the recursive-CTE component labeling (d6's oracle
    * idiom, named `ccr` — `r` is taken by the mixture rates) drops
    * non-keepers, and every downstream stage reads the 03b survivors —
    * DuckDB recomputes the ENTIRE LSH decision inside the composition. */
  private def pipelineSqlFor(lsh: Boolean): String = {
    val chk = hash6Sql
    val (tailCtes, tailRows) = tailSql("tr")
    val dedF = if (lsh) "ded3b" else "ded"
    val lshCtes =
      if (!lsh) ""
      else
        s"""${graft.llm.Dedup.minhashLshCtes(0.8, "ded")},
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |ccr(node, label) AS (
           |  SELECT doc_id, doc_id FROM ded
           |  UNION
           |  SELECT e.dst, ccr.label FROM ccr JOIN edges e ON ccr.node = e.src),
           |nk AS (SELECT node AS doc_id FROM (
           |         SELECT node, min(label) AS lab FROM ccr GROUP BY node)
           |       WHERE node <> lab),
           |ded3b AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM nk)),
           |""".stripMargin
    val stage3b =
      if (!lsh) ""
      else
        s"""UNION ALL SELECT '03b_neardup_lsh', count(*), CAST(sum(n_tok) AS BIGINT),
           |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM ded3b
           |""".stripMargin
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE doc_id % 10 <> 0),
       |q AS (SELECT * FROM corpus WHERE ${TextStats.qualityPassSql}),
       |ded AS (SELECT * FROM q WHERE doc_id IN
       |          (SELECT min(doc_id) FROM q GROUP BY md5(text))),
       |${lshCtes}pg AS (SELECT DISTINCT unnest(list_transform(
       |           range(1, len(string_split(text,' ')) - 6),
       |           i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS gram
       |       FROM documents
       |       WHERE doc_id % 10 = 0 AND len(string_split(text,' ')) >= 8),
       |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(string_split(text,' ')) - 6),
       |           i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS gram
       |       FROM $dedF WHERE len(string_split(text,' ')) >= 8),
       |contam AS (SELECT DISTINCT doc_id FROM cg JOIN pg USING (gram)),
       |dc AS (SELECT * FROM $dedF WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |tt AS (SELECT doc_id, string_split(text,' ') AS ts FROM dc),
       |g2 AS (SELECT doc_id, i AS pos, array_to_string(ts[i:i+4], ' ') AS gram
       |       FROM (SELECT * FROM tt WHERE len(ts) >= 5), UNNEST(range(1, len(ts)-3)) AS u(i)),
       |dup2 AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
       |da2 AS (SELECT doc_id, pos FROM g2 JOIN dup2 USING (gram)),
       |isl2 AS (SELECT doc_id, min(pos) AS s, count(*) + 4 AS len FROM (
       |           SELECT doc_id, pos,
       |                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |           FROM da2) GROUP BY doc_id, grp HAVING count(*) + 4 >= 10),
       |cov2 AS (SELECT doc_id,
       |                CAST(len(list_distinct(flatten(array_agg(range(s, s+len))))) AS BIGINT) AS n_removed
       |         FROM isl2 GROUP BY doc_id),
       |tr AS (SELECT dc.doc_id, dc.source,
       |              dc.n_tok - coalesce(cov2.n_removed, 0) AS n_clean
       |       FROM dc LEFT JOIN cov2 USING (doc_id)
       |       WHERE dc.n_tok - coalesce(cov2.n_removed, 0) >= $MinCleanTokens),
       |$tailCtes
       |SELECT '01_ingest' AS stage, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum, CAST(sum($chk) AS BIGINT) AS chk
       |FROM corpus
       |UNION ALL SELECT '02_quality', count(*), CAST(sum(n_tok) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM q
       |UNION ALL SELECT '03_exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM ded
       |${stage3b}UNION ALL SELECT '04_decontam', count(*), CAST(sum(n_tok) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM dc
       |UNION ALL SELECT '05_trim', count(*), CAST(sum(n_clean) AS BIGINT),
       |       CAST(sum(doc_id) AS BIGINT), CAST(sum($chk) AS BIGINT) FROM tr
       |$tailRows""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("x10_full_pipeline", pipelineSql)((s, d) =>
      fullPipelineManifest(s, d)),
    // x10b: the same composed pipeline with the LSH near-dup group
    // decision inserted after the exact pass (stage 03b = d6b) — the
    // 100 TB dedup decision the RefinedWeb-class pipelines actually run.
    // ORACLED since r15 (the d3 flip): DuckDB recomputes the banded pair
    // set over the stage-3 survivors and the component decision inside
    // the composed pipeline, so every downstream stage is hash-checked
    // against the LSH decision's actual survivors. DataPlaneSpec keeps
    // the cross-path lock (03b drop set == direct d6b recomputation).
    QueryDef("x10b_full_pipeline_lsh", pipelineSqlFor(lsh = true))((s, d) =>
      fullPipelineManifest(s, d, lshNearDup = true))
  )
}
