package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table registry over the driver-generated parquet testdata.
  *
  * Semantics source: the reference delegates all bulk data I/O to
  * Parquet/Petastorm readers (reference: maggy/core/patching/dataloader.py:99-137);
  * here the native equivalent is a `spark.read.parquet` (with the table's
  * memoized schema) whose scan benefits from Catalyst column pruning +
  * predicate pushdown.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table from an sf directory.
    *
    * `events.ts` has shipped in two physical layouts across testdata
    * generations: TIMESTAMP(MICROS) (read natively as TimestampType) and
    * TIMESTAMP(NANOS), which Spark 4 rejects as a timestamp type — for the
    * latter, read it as raw nanos (legacy conf) and floor-convert to a µs
    * timestamp (the payload is µs-precision, so this is lossless and matches
    * DuckDB's ns→µs handling). Both layouts surface the same TimestampType
    * column to every downstream query.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    if (name == "events") {
      // idempotent guard: session builders set this once; only touch the
      // session conf if a caller forgot (a per-read set is a global side
      // effect on every query build)
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(read(spark, sfDir, name))
    } else {
      read(spark, sfDir, name)
    }
  }

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")

  /** The raw parquet schema of one table, read from its footer once per
    * (dir, table): an inferring `spark.read.parquet` runs a one-task
    * footer job on every call, and every query build reads its tables
    * again. Raw means as on disk: `events.ts` is still ns Long under
    * nanosAsLong, so callers set that conf before the first read, as
    * [[apply]] does. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    Frames.getOrCreate(Frames.Key("table.schema", sfDir, name))(
      spark.read.parquet(s"$sfDir/$name.parquet").schema)(_ => ())

  /** `docs` hash-partitioned on doc_id to the session's parallelism when it
    * arrives narrower, else `docs` itself — for a text pass (tokenize,
    * hash, gram explode) that starts from a table scan. Row groups are
    * Spark's split unit and every testdata table is one row group, so a
    * scan is ONE task whatever maxPartitionBytes says, and the CPU-heavy
    * pass after it would run on one core while the rest idle. The shuffle
    * moves at most ~parallelism × maxPartitionBytes (a deployment-scale
    * corpus arrives as thousands of splits and never pays it), and the
    * decision reads the planned scan's partition count without running a
    * job or persisting anything. Take any [[Frames.corpusKey]] of `docs`
    * BEFORE fanning out: the key hashes the analyzed plan. */
  def fanOut(docs: DataFrame): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) docs.repartition(target, col("doc_id")) else docs
  }

  /** Normalize an events-shaped frame's `ts` to TIMESTAMP regardless of the
    * physical layout it was read from: raw ns epoch (TIMESTAMP(NANOS) under
    * nanosAsLong) → timestamp_micros(ts div 1000); TIMESTAMP_NTZ (tz-naive
    * µs layout) → cast, value-preserving under the UTC session tz and
    * required because streaming watermarks reject NTZ; TIMESTAMP → as-is. */
  def normalizeEventTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType =>
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // integer div: ns epoch exceeds double precision
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _ => raw
  }

  /** Memoized row counts for the immutable testdata tables (r17, verdict
    * quality flag #1: every ANN declaration fired 2-3 redundant count
    * jobs per run just to size scaledCells/scaledShortlist). The parquet
    * dirs never change within a run, so one count per (dir, table) per
    * registry lifetime is correct — the cachedIndexFor idiom applied to
    * the knob that sizes it. */
  def cachedCount(spark: SparkSession, sfDir: String, name: String): Long =
    cachedCountOf(sfDir, name)(apply(spark, sfDir, name))

  /** Derived-frame variant (e.g. an append query's day-1 split): `key`
    * must uniquely name the derivation within `sfDir`. */
  def cachedCountOf(sfDir: String, key: String)(df: => DataFrame): Long =
    Frames.getOrCreate(Frames.Key("table.count", sfDir, key))(df.count())(_ => ())

  /** Register all tables as temp views (idempotent) so query builders can
    * use `spark.sql` where it is clearer than the DataFrame DSL. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => apply(spark, sfDir, n).createOrReplaceTempView(n) }
}
