package graft.llm

import graft.data.Tables
import graft.ops.QueryDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators (north-star extension: a training-data
  * pipeline down-samples, stratifies, and weight-samples corpora as a matter
  * of course; the reference's only sampling is searchspace config sampling,
  * maggy/searchspace.py:180-208, which fixes the SEEDED-DETERMINISM
  * requirement these operators honor).
  *
  * Every operator here is reproducible by construction — the "randomness"
  * is a pure function of the row key (md5 prefix or a Knuth multiplicative
  * hash), never an RNG — so the DuckDB oracle computes the identical sample.
  * That is also the 100 TB story: a re-run, a retry, or a different
  * partitioning produces the same sample, and the filter is a narrow
  * map-side predicate with no shuffle at all (the scan prunes + filters;
  * only the post-sample aggregate moves data).
  */
object Sampling {

  /** Uniform [0,1) pseudo-random derived from a row key via the Knuth
    * multiplicative hash — pure integer arithmetic + one IEEE division, so
    * Spark and DuckDB produce bit-identical values (ln/pow are NOT
    * correctly-rounded across libms; +,-,*,/ are).
    *
    * Key-range bound: the product stays inside int64 for keys < 2³¹; past
    * that Spark would silently wrap (a biased sample with no error), so the
    * key is range-guarded with raise_error — misuse fails loudly. For wider
    * key spaces use the md5-prefix predicate (p5/p6/w8), which has no
    * overflow regime. */
  private[graft] def keyUniform(key: Column): Column = {
    val guarded = when(key < 0 || key >= lit(2147483648L),
      raise_error(concat(
        lit("keyUniform: key outside [0, 2^31): "), key.cast("string"))))
      .otherwise(key)
    (guarded * lit(2654435761L) % lit(2147483648L)).cast("double") / lit(2147483648.0)
  }

  val entries: Seq[QueryDef] = Seq(
    // ~10% deterministic hash sample: keep rows whose md5 hex (lowercase in
    // both engines) sorts below '1a' (= 26/256 ≈ 10.2%). The predicate is
    // map-side — at 100 TB the sample never shuffles, only the aggregate.
    QueryDef("p5_hash_sample",
      """SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem
        |WHERE md5(CAST(l_orderkey * 65536 + l_linenumber AS VARCHAR)) < '1a'""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem")
        .filter(md5((col("l_orderkey") * 65536 + col("l_linenumber")).cast("string")) < "1a")
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("key_sum"))
    },

    // Stratified sample: per-stratum keep-rates (URGENT 20%, others 10%),
    // the sampleBy shape with deterministic hash thresholds instead of RNG.
    QueryDef("p6_stratified_sample",
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE md5(CAST(o_orderkey AS VARCHAR)) <
        |      CASE WHEN o_orderpriority = '1-URGENT' THEN '33' ELSE '1a' END
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .filter(md5(col("o_orderkey").cast("string")) <
          when(col("o_orderpriority") === "1-URGENT", "33").otherwise("1a"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).cast("long").as("key_sum"))
    },

    // p7: deterministic train/val/test split — the eval-split pass every
    // training pipeline runs last. Hex-threshold buckets over md5(doc_id)
    // (~79.7% / ~10.2% / ~10.2% at 'cc'/'e6'): a pure map-side CASE, so the
    // assignment is reproducible across runs/retries/partitionings, a doc
    // can never land in two splits, and at 100 TB the split is free (the
    // only shuffle is the 3-row audit rollup; writers consume the same
    // predicate as a filter). Same md5-prefix idiom as p5/p6 — no RNG.
    QueryDef("p7_train_val_test",
      """SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc' THEN 'train'
        |            WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS key_sum,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      val h = md5(col("doc_id").cast("string"))
      Tables(s, d, "documents")
        .select(
          when(h < "cc", "train").when(h < "e6", "val").otherwise("test").as("split"),
          col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("key_sum"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
    },

    // p8: deterministic epoch shuffle — the global training order a
    // pretraining run consumes each epoch, plus the round-robin data-loader
    // rank each position feeds. The order is rank-of-md5(seed ++ doc_id):
    // seeded, reproducible across runs/retries/partitionings (the p5–p7
    // no-RNG idiom), and a new seed string is a fresh permutation. The
    // global row_number sorts in one task: 500k docs at ScaleGen sf10.
    QueryDef("p8_epoch_shuffle",
      """SELECT doc_id, pos, pos % 8 AS loader_rank
        |FROM (
        |  SELECT doc_id,
        |         row_number() OVER (ORDER BY md5('ep1-' || CAST(doc_id AS VARCHAR)),
        |                            doc_id) - 1 AS pos
        |  FROM documents)""".stripMargin) { (s, d) =>
      Tables(s, d, "documents").select(col("doc_id"), epochPos.as("pos"))
        .select(col("doc_id"), col("pos"), (col("pos") % 8).as("loader_rank"))
    },

    // Uniform k-sample without replacement: global top-k by key hash — a
    // deterministic reservoir. Plan: TakeOrderedAndProject (each partition
    // keeps its local top-100, the driver merges 100×partitions rows; no
    // global sort shuffle).
    QueryDef("w8_sample_topk",
      """SELECT doc_id, source FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .select("doc_id", "source")
        .limit(100)
    },

    // Weighted Bernoulli sample: include a row with probability proportional
    // to its weight (o_totalprice / max). u and the threshold use only
    // integer ops and IEEE division, so the oracle selects the identical
    // rows. The max is a broadcast one-row join.
    QueryDef("w9_weighted_sample",
      """WITH m AS (SELECT max(CAST(o_totalprice AS DOUBLE)) AS mx FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders, m
        |WHERE CAST((o_orderkey * 2654435761) % 2147483648 AS DOUBLE) / 2147483648
        |      < CAST(o_totalprice AS DOUBLE) / mx
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val orders = Tables(s, d, "orders")
      val m = orders.agg(max(col("o_totalprice").cast("double")).as("mx"))
      orders.crossJoin(broadcast(m))
        .filter(keyUniform(col("o_orderkey")) < col("o_totalprice").cast("double") / col("mx"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).cast("long").as("key_sum"))
    },

    // P9: per-source quota cap — "no domain contributes more than N docs",
    // the anti-over-representation rebalance C4/RefinedWeb-style pipelines
    // apply before mixing (a handful of giant domains would otherwise
    // dominate the corpus). Deterministic: each source keeps its N lowest
    // (md5(doc_id), doc_id) docs — a seeded reservoir per group, stable
    // across runs/retries/partitionings (the p5-p8 no-RNG idiom). Output
    // is |sources|×N rows at any corpus size.
    QueryDef("p9_source_cap",
      """SELECT doc_id, source, slot FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS slot
        |  FROM documents)
        |WHERE slot <= 20""".stripMargin) { (s, d) =>
      sourceSlots(Tables(s, d, "documents"))
        .filter(col("slot") <= 20)
        .select(col("doc_id"), col("source"), col("slot"))
    }
  )

  /** Deterministic hash-ordered reservoir of exactly min(cap, n) rows —
    * the GLOBALLY lowest (xxhash64(key), key) rows. A bare orderBy+limit
    * compiles to TakeOrderedAndProject and ships `cap` rows from EVERY
    * task to the driver (maxResultSize blowup on wide rows); the map-side
    * prefilter bounds what the global heap ever sees. The prefilter keeps
    * xxhash64(key) below the value positioned at ~2·cap/n of the hash
    * range — the SAME criterion the final order ranks on, so the kept set
    * is a strict hash-order prefix (a superset of the answer whenever it
    * holds ≥ cap rows, which it does with probability 1 − exp(−Θ(cap)))
    * and the result is identical across the branch boundary: the same
    * corpus grown slightly yields the same sample minus displaced rows.
    * Pass `knownCount` when the caller already counted the input so the
    * reservoir doesn't re-run the count job. */
  private[graft] def hashReservoir(in: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, cap: Int,
      knownCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val n = knownCount.getOrElse(in.count())
    val pre =
      if (n > 4L * cap) {
        // threshold at fraction 2·cap/n of the unsigned 2^64 hash range,
        // anchored at Long.MinValue (xxhash64 is uniform over all longs);
        // ceil + the 2× margin keep the prefix comfortably ≥ cap rows
        val frac = 2.0 * cap / n
        val keepBelow = Long.MinValue + math.ceil(frac * math.pow(2.0, 64)).toLong
        in.filter(xxhash64(key) < lit(keepBelow))
      } else in
    pre.orderBy(xxhash64(key), key).limit(cap)
  }

  /** p9's per-source reservoir rank: `in` plus `slot`, each doc's
    * 1-based position in its source's (md5(doc_id), doc_id) order — one
    * row_number window partitioned by source. Shared by the declared p9
    * query and the composed pipelines' cap stage. `in` needs
    * (doc_id, source). */
  private[graft] def sourceSlots(in: DataFrame): DataFrame =
    in.withColumn("slot", row_number().over(
      Window.partitionBy("source").orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
      .cast("long"))

  /** A doc's 0-based position in the seeded epoch order
    * (md5('ep1-' ‖ doc_id), doc_id) — p8's shuffle and the composed
    * pipelines' stage 09. A global window: one task sorts every row. */
  private[llm] def epochPos: Column =
    (row_number().over(Window.orderBy(
      md5(concat(lit("ep1-"), col("doc_id").cast("string"))), col("doc_id"))) - 1).cast("long")
}
