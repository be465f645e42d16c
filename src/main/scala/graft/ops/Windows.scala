package graft.ops

import graft.data.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY §2.B W1–W6).
  *
  * Provenance: ASHA top-k promotion (reference: maggy/optimizer/asha.py:161-169),
  * acquisition argmax (maggy/optimizer/bayes/gp.py:214-215), TPE γ-split
  * (tpe.py:206-216), median-rule prefix averages (earlystop/medianrule.py:38-42),
  * monotone-step checks (core/reporter.py:95-96).
  */
object Windows {
  val entries: Seq[QueryDef] = Seq(
    // W1: ranking top-k per group (ASHA rung promotion shape).
    QueryDef("w1_topk_per_group",
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rn <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, d, "orders")
        .join(broadcast(Tables(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
    },

    // W2: global top-k / ORDER BY LIMIT (acquisition argmax shape). A global
    // sort-limit is a TakeOrderedAndProject — no full sort at scale.
    QueryDef("w2_global_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    },

    // W3: percent_rank + ntile (TPE good/bad split shape).
    QueryDef("w3_percent_rank",
      """SELECT o_orderkey,
        |       round(percent_rank() OVER w, 9) AS pct_rank,
        |       ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, d) =>
      // Rank windows over a low-cardinality key sort each group in one
      // task (5 priorities = 5 tasks); the largest group a reachable corpus
      // builds is ~3M rows (ScaleGen sf10), one task's codegen'd sort.
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables(s, d, "orders").select(
        col("o_orderkey"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        ntile(4).over(w).as("quartile"))
    },

    // W4: running prefix average (median-stopping-rule prefix averages).
    QueryDef("w4_running_avg",
      """SELECT user_id, event_id,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8))) OVER w AS DOUBLE) /
        |             count(*) OVER w, 6) AS running_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events").select(
        col("user_id"), col("event_id"),
        round(sum(Exact.dec4(col("value"))).over(w).cast("double") / count(lit(1)).over(w), 6)
          .as("running_avg"))
    },

    // W5: lag — inter-event deltas + monotone-step validation
    // (reference: reporter.py:95-96 rejects non-monotone steps).
    QueryDef("w5_lag_delta",
      """SELECT user_id, event_id,
        |       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      Tables(s, d, "events").select(
        col("user_id"), col("event_id"),
        (us - lag(us, 1).over(w)).as("delta_us"))
    },

    // W6: range frame — trailing 1-hour sum per user (nth-epoch sampling shape,
    // reference: maggy/optimizer/bayes/base.py:643-668). Ordered by exact µs.
    QueryDef("w6_range_frame",
      """SELECT user_id, event_id,
        |       round(CAST(sum(CAST(value AS DECIMAL(22,8)))
        |             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS trailing_1h
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables(s, d, "events").select(
        col("user_id"), col("event_id"),
        round(sum(Exact.dec4(col("value"))).over(w).cast("double"), 6).as("trailing_1h"))
    },

    // W7: positional window values — first/last/nth over an explicit
    // whole-partition frame, plus cume_dist (deterministic ts+event_id order).
    QueryDef("w7_positional",
      """SELECT user_id, event_id,
        |       first_value(event_id) OVER w AS first_ev,
        |       last_value(event_id) OVER w AS last_ev,
        |       nth_value(event_id, 3) OVER w AS third_ev,
        |       round(cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (s, d) =>
      val ordered = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val whole = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, d, "events").select(
        col("user_id"), col("event_id"),
        first(col("event_id")).over(whole).as("first_ev"),
        last(col("event_id")).over(whole).as("last_ev"),
        nth_value(col("event_id"), 3).over(whole).as("third_ev"),
        round(cume_dist().over(ordered), 6).as("cd"))
    },

    // W10: time-series gap fill — per-user hourly grid between first and
    // last activity (sequence + explode), hours with no events zero-filled
    // for counts and carry-forward-filled for the running "last seen total"
    // (last_value IGNORE NULLS). The resample-and-fill pass every metrics /
    // feature pipeline needs; grid generation is map-side per user, the
    // only shuffles are the hourly pre-aggregate and one window pass.
    QueryDef("w10_gap_fill",
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |         date_trunc('hour', max(ts)) AS h1
        |  FROM events WHERE user_id < 30 GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM b),
        |agg AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n_events,
        |         round(CAST(sum(CAST(value AS DECIMAL(22,8))) AS DOUBLE), 2) AS total
        |  FROM events WHERE user_id < 30 GROUP BY 1, 2)
        |SELECT g.user_id, g.hour,
        |       coalesce(a.n_events, 0) AS n_events,
        |       last_value(a.total IGNORE NULLS)
        |         OVER (PARTITION BY g.user_id ORDER BY g.hour) AS last_total
        |FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.hour = a.hour""".stripMargin) { (s, d) =>
      val ev = Tables(s, d, "events").filter(col("user_id") < 30)
      val grid = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
      // agg columns renamed: grid and agg share the events lineage, so
      // same-name references would be ambiguous self-join columns
      val agg = ev.groupBy(col("user_id").as("a_uid"), date_trunc("hour", col("ts")).as("a_hour"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(Exact.dec4(col("value"))).cast("double"), 2).as("total"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(agg,
          col("user_id") === col("a_uid") && col("hour") === col("a_hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n_events"), lit(0)).as("n_events"),
          last(col("total"), ignoreNulls = true).over(w).as("last_total"))
    }
  )
}
