package graft.ops

import graft.data.Tables
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composed analytics queries — TPC-H-shaped multi-operator pipelines that
  * exercise scan + selective filters + multi-join + aggregation + top-k in
  * ONE declared query (the shapes a user actually runs, not isolated
  * operators). Engine built-ins only; plan properties follow from the same
  * design rules as the single-operator queries: dims broadcast, predicates
  * pushed to the scans, exact decimal money arithmetic, deterministic
  * tiebreaks on every ranking.
  */
object Analytics {

  private def revenue = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(22,8)")

  val entries: Seq[QueryDef] = Seq(
    // X1 (TPC-H Q3 shape): unshipped-order revenue priority list. Fact-fact
    // join shuffles on the order key; customer broadcasts; top-10 by
    // revenue with an order-key tiebreak.
    QueryDef("x1_priority_revenue",
      """SELECT l_orderkey,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8))) AS DOUBLE), 2) AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1997-01-01'
        |  AND l_shipdate > DATE '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("date"))
        .join(Tables(s, d, "orders")
          .filter(col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(revenue).cast("double"), 2).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // X2 (TPC-H Q5 shape): revenue by nation where the supplier and the
    // customer share the nation — five joins, one year filter; every
    // dimension broadcasts, the two facts shuffle on the order key.
    QueryDef("x2_local_supplier_volume",
      """SELECT n_name,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8))) AS DOUBLE), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem")
        .join(Tables(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
            col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(revenue).cast("double"), 2).as("revenue"))
    },

    // W11: running DISTINCT count per key — count(DISTINCT) over a window is
    // unsupported in both engines, so the first-occurrence-flag pattern
    // (row_number = 1 per (user, type)) + running sum expresses it exactly.
    // Two window passes over the same (user_id)-keyed shuffle.
    QueryDef("w11_running_distinct",
      """SELECT user_id, ts, event_id,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts, event_id) AS rn
        |      FROM events)""".stripMargin) { (s, d) =>
      val first = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
      val running = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("rn", row_number().over(first))
        .select(col("user_id"), col("ts"), col("event_id"),
          sum(when(col("rn") === 1, 1).otherwise(0)).over(running)
            .cast("long").as("distinct_types_so_far"))
    },

    // X3: the LLM training-data prep pipeline end-to-end in ONE declared
    // query — quality gate → exact dedup (keep lowest doc_id per text hash)
    // → deterministic ~50% hash sample of the keepers → per-language corpus
    // summary. The composition a data-curation run actually executes, not
    // isolated operators. Scale shape: the gate and the sample predicate
    // are map-side (no shuffle), dedup is ONE shuffle on the high-
    // cardinality text hash, the final rollup shuffles a few rows by lang.
    // Dedup groups by (lang, text-hash) rather than arg_min-ing lang per
    // hash: n_tokens is text-derived (identical across copies), and keeping
    // lang IN the group key keeps every aggregation buffer numeric — the
    // whole pipeline stays in HashAggregate (min_by over a string column
    // would demote the dedup to SortAggregate with per-partition sorts).
    QueryDef("x3_corpus_prep",
      """WITH gated AS (
        |  SELECT doc_id, lang, text,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |dedup AS (
        |  SELECT lang, min(doc_id) AS keeper, min(n_tokens) AS n_tokens
        |  FROM gated GROUP BY lang, md5(text)),
        |sampled AS (
        |  SELECT * FROM dedup WHERE md5(CAST(keeper AS VARCHAR)) < '80')
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(sum(keeper) AS BIGINT) AS keeper_sum
        |FROM sampled GROUP BY lang""".stripMargin) { (s, d) =>
      val nTok = size(split(col("text"), " "))
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"), nTok.as("n_tokens"))
        .filter(col("n_tokens") >= 8)
        .groupBy(col("lang"), md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"),
          min(col("n_tokens")).as("n_tokens"))
        .filter(md5(col("keeper").cast("string")) < "80")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("keeper")).as("keeper_sum"))
    },

    // x4: the export "last mile" of a training-data pipeline — gate the
    // corpus, assign every doc a DETERMINISTIC shard by content-independent
    // hash (md5 of doc_id: reproducible across runs/retries, decorrelates
    // adjacent ids so each shard is an unbiased sample), cluster by shard,
    // and land gzip TFRecord shards a training job's gang loader streams
    // (Datasets.shardFiles). The declared result re-reads the sink and
    // rolls up per-shard counts/id-sums — the roundtrip must be the
    // identity and the shard function must match the oracle exactly.
    // 100 TB: the shard hash is map-side; the single shuffle is the
    // value-aligned repartition (Partitioning.alignByValue — partition
    // index == shard_id, so shard ↔ output file is 1:1 and loader ranks
    // align with shard files), moving each row once to its output shard.
    QueryDef("x4_shard_export",
      """SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 8 AS shard_id,
        |       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE len(string_split(text, ' ')) >= 8
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val tmp = graft.data.Frames.storeDir("x4", d)
      Tables(s, d, "documents")
        .filter(size(split(col("text"), " ")) >= 8)
        .select(col("doc_id"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("long") % 8).as("shard_id"))
        .transform(Partitioning.alignByValue(_, col("shard_id"), 8))
        .write.mode("overwrite").format("tfrecord")
        .option("compression", "gzip").save(tmp)
      s.read.format("tfrecord")
        .schema("doc_id BIGINT, shard_id BIGINT").load(tmp)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    },

    // X8: the dataset card — the one-row datasheet a corpus release ships
    // (docs/tokens, language/source diversity, exact-dup rate, quality
    // survival, dominant language). Everything reduces map-side in two
    // aggregation jobs: the global rollup (three exact count-distincts —
    // Spark Expands the pruned 3-column projection ×3; lang/source
    // collapse in the partial agg, only the md5 stream stays wide, which
    // is the d1 shuffle shape and the honest cost of an EXACT dup rate)
    // and a |langs|-row count for the deterministic top-language pick
    // (max of (count, lang) structs — ties break to the greater string,
    // mirrored in the oracle's ORDER BY). Reuses t11's shared quality
    // gate so the card can never drift from the filter it reports on.
    QueryDef("x8_corpus_card",
      s"""WITH base AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        |         round(CAST(sum(len(string_split(text,' '))) AS DOUBLE)/count(*), 6) AS avg_doc_tokens,
        |         count(DISTINCT lang) AS n_langs,
        |         count(DISTINCT source) AS n_sources,
        |         count(DISTINCT md5(text)) AS n_unique,
        |         count(*) FILTER (WHERE ${graft.llm.TextStats.qualityPassSql}) AS n_quality
        |  FROM documents),
        |top AS (SELECT lang AS top_lang, count(*) AS top_c FROM documents
        |        GROUP BY lang ORDER BY top_c DESC, top_lang DESC LIMIT 1)
        |SELECT n_docs, n_tokens, avg_doc_tokens, n_langs, n_sources, top_lang,
        |       round(CAST(top_c AS DOUBLE)/n_docs, 6) AS top_lang_share,
        |       round(1 - CAST(n_unique AS DOUBLE)/n_docs, 6) AS exact_dup_rate,
        |       round(CAST(n_quality AS DOUBLE)/n_docs, 6) AS quality_pass_rate
        |FROM base CROSS JOIN top""".stripMargin) { (s, d) =>
      corpusCard(Tables(s, d, "documents"), c => countDistinct(c), "exact_dup_rate")
    },

    // x8's production variant: the exact card's three countDistincts make
    // Catalyst Expand the pruned projection ×3 and keep the md5 stream
    // corpus-wide — the honest ground-truth cost, but a 100 TB deployment
    // reports its card with sketches. approx_count_distinct (HLL++, default
    // rsd 5%; the a3 precedent) folds all three into ONE single-pass
    // partial-aggregate — no Expand, no distinct shuffle, partials are
    // constant-size sketches. No oracle (approx by design); DataPlaneSpec
    // bounds every approx field against the exact x8 row.
    QueryDef.noOracle("x8b_corpus_card_approx") { (s, d) =>
      corpusCard(Tables(s, d, "documents"), c => approx_count_distinct(c), "approx_dup_rate")
    },

    // X9: the ORDERED funnel — per user the first view, the first click
    // strictly AFTER that view, the first purchase strictly after that
    // click, and the stage reached. Sequenced mins can't collapse into one
    // unordered aggregate (each stage's min is conditioned on the previous
    // stage's result), so the scalable shape is a three-stage cascade:
    // every events scan PRUNES to one event_type (pushed filter — each
    // pass reads only its stage's rows, never the whole log), each stage's
    // per-user min is map-side combined, and each stage joins the previous
    // stage's per-user frame on user_id. All joins and aggregates share
    // the user_id key, so after a stage's join-shuffle the groupBy reuses
    // the same partitioning — no second exchange inside a stage. The
    // alternative single-shuffle plan (collect each user's full event
    // array and fold) moves the whole log through one shuffle and holds
    // per-user arrays in memory — strictly worse at 100 TB, where the
    // per-stage frames here are |users|-sized, not |events|-sized.
    QueryDef("x9_funnel_stages",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS first_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click GROUP BY e.user_id)
        |SELECT u.user_id, first_view, first_click, first_purchase,
        |       CAST(CASE WHEN first_purchase IS NOT NULL THEN 3
        |                 WHEN first_click IS NOT NULL THEN 2
        |                 WHEN first_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)""".stripMargin) { (s, d) =>
      funnelStages(Tables(s, d, "events"), Seq("view", "click", "purchase"))
    }
  )

  /** x9's plan (see the QueryDef comment): per-user sequenced first-times
    * through an ordered stage list — type-pruned scan + user-keyed min per
    * stage, each conditioned on the previous stage's frame. Exposed for
    * DataPlaneSpec's planted-sequence fixtures and PlanSpec. */
  private[graft] def funnelStages(ev: DataFrame, stages: Seq[String]): DataFrame = {
    val names = Seq("first_view", "first_click", "first_purchase")
      .take(stages.size)
    val users = ev.select("user_id").distinct()
    val firsts = stages.zip(names).foldLeft(List.empty[(String, DataFrame)]) {
      case (acc, (stage, name)) =>
        val scan = ev.filter(col("event_type") === stage)
        val conditioned = acc.headOption match {
          case None => scan
          case Some((prev, frame)) =>
            scan.join(frame, "user_id").filter(col("ts") > col(prev))
        }
        (name, conditioned.groupBy("user_id").agg(min(col("ts")).as(name))) :: acc
    }.reverse
    val joined = firsts.foldLeft(users) { case (acc, (_, frame)) =>
      acc.join(frame, Seq("user_id"), "left_outer")
    }
    // fold deepest stage LAST so its isNotNull check ends up outermost:
    // a user at stage 3 must report 3, not the first non-null it hit
    val stageCol = firsts.zipWithIndex.foldLeft(lit(0L)) {
      case (els, ((name, _), i)) =>
        when(col(name).isNotNull, (i + 1).toLong).otherwise(els)
    }
    joined.select(col("user_id") +: names.map(col) :+ stageCol.as("stage"): _*)
  }

  /** Shared x8/x8b card builder — one card shape, parameterized by the
    * distinct-count implementation (exact countDistinct vs HLL++ sketch)
    * and the dup-rate column's honesty label. Keeping a single builder
    * means a card-shape change cannot drift between the exact and approx
    * variants (DataPlaneSpec asserts their non-sketched fields identical). */
  private def corpusCard(docs: DataFrame,
      distinctFn: Column => Column, dupRateCol: String): DataFrame = {
    val nToks = size(split(col("text"), " "))
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(nToks).cast("long").as("n_tokens"),
      round(sum(nToks).cast("double") / count(lit(1)), 6).as("avg_doc_tokens"),
      distinctFn(col("lang")).as("n_langs"),
      distinctFn(col("source")).as("n_sources"),
      distinctFn(md5(col("text"))).as("n_unique"),
      sum(when(graft.llm.TextStats.qualityPass, 1L).otherwise(0L)).as("n_quality"))
    val top = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(max(struct(col("c"), col("lang"))).as("m"))
      .select(col("m.lang").as("top_lang"), col("m.c").as("top_c"))
    base.crossJoin(top).select(
      col("n_docs"), col("n_tokens"), col("avg_doc_tokens"),
      col("n_langs"), col("n_sources"), col("top_lang"),
      round(col("top_c").cast("double") / col("n_docs"), 6).as("top_lang_share"),
      round(lit(1) - col("n_unique").cast("double") / col("n_docs"), 6).as(dupRateCol),
      round(col("n_quality").cast("double") / col("n_docs"), 6).as("quality_pass_rate"))
  }
}
