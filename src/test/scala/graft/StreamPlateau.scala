package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Shared rate-source harness for the continuous-trigger eviction-plateau
  * tests: StreamingSuite runs three stateful shapes on local[4]; ClusterSpec
  * runs the dedup shape across executor JVMs. One copy of the source shape,
  * the readiness poll, and the plateau assertions — the thresholds were
  * tuned once under machine load and must not drift between the suites.
  */
object StreamPlateau {

  /** at-least-once shape: every rate event emitted twice → dedup has real
    * work; user_id recurs every ~25 s at 2000 rows/s over 50k users (far
    * beyond a 2 s session gap, so sessions close, emit, and evict). */
  def dupEvents(spark: SparkSession): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", "2000").load() // (timestamp, value)
      .withColumn("dup", explode(array(lit(0), lit(1))))
      .select(col("timestamp").as("ts"), col("value").as("event_id"),
        (col("value") % 50000).as("user_id"))

  def start(df: DataFrame, mode: String, ckpt: String): StreamingQuery =
    df.writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

  /** Stop `q` between triggers: a stop that lands while a micro-batch
    * commits interrupts the state-store commit, which logs
    * CANNOT_WRITE_STATE_STORE traces for every state partition. Waits
    * (bounded) for the running trigger to finish first; a failed stop is
    * reported on one stderr line, never swallowed silently. */
  def stop(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 30000L
    while (q.isActive && q.status.isTriggerActive && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    try q.stop()
    catch { case NonFatal(e) => Console.err.println(s"[StreamPlateau] stop of query ${q.id}: $e") }
  }

  /** One query's plateau contract: `needRemoved` asserts watermark eviction
    * actually fired; `keyspaceBound` adds the absolute bound for operators
    * whose state tracks a bounded keyspace (the FSM's 200 users). */
  final case class Check(q: StreamingQuery, label: String,
      needRemoved: Boolean, keyspaceBound: Option[Long] = None)

  /** Poll rather than one fixed sleep: concurrent 1 s-trigger queries
    * stretch under machine load, so "N samples in T s" is flaky — wait
    * (bounded) until the eviction evidence has had time to appear, then
    * assert on what was collected. State with eviction ≈ rate×(delay +
    * batch lag) while input ≈ rate×T, so the ratio only separates once
    * T ≫ the lag term — hence the ~70 s of source data (140k rows at
    * 2000/s, well inside the 100-entry recentProgress window at 1 s
    * triggers). */
  def awaitAndAssert(checks: Seq[Check], timeoutMs: Long = 180000L): Unit = {
    def prog(c: Check) = c.q.recentProgress.filter(_.stateOperators.nonEmpty)
    def ready(c: Check): Boolean = {
      val p = prog(c)
      p.length >= 8 && p.map(_.numInputRows).sum >= 140000L &&
        (!c.needRemoved || p.map(_.stateOperators.head.numRowsRemoved).sum > 0)
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && !checks.forall(ready))
      Thread.sleep(1000)
    for (c <- checks) {
      val p = prog(c)
      assert(p.length >= 8, s"${c.label}: too few progress samples (${p.length})")
      val input = p.map(_.numInputRows).sum
      val last = p.map(_.stateOperators.head.numRowsTotal).last
      assert(input >= 140000L, s"${c.label}: rate source barely ran ($input rows)")
      // scale-invariant plateau: without eviction dedup state holds every
      // distinct id (≈ input source rows) and session state ~one session
      // per source row — both would fail this by 3× — while with eviction
      // both are bounded by ~(delay+gap+lag)·rate no matter how long the
      // run stretched under load
      assert(last <= input / 3, s"${c.label}: state $last ~ input $input: unbounded")
      if (c.needRemoved)
        assert(p.map(_.stateOperators.head.numRowsRemoved).sum > 0,
          s"${c.label}: watermark never evicted a state row")
      c.keyspaceBound.foreach(k =>
        assert(last <= k, s"${c.label}: state exceeded its $k-key keyspace: $last"))
    }
  }
}
