package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.QueryDef

/** One timed declared-query line: its timed window (epoch ms) and wall
  * seconds, plus the row count and an order-insensitive digest of its output
  * (-1 rows when not checked). */
final case class LineResult(
    name: String, startMs: Long, endMs: Long, secs: Double, rows: Long, hashSum: Long,
    hashXor: Long, error: Option[String])

object DataPlane {

  lazy val byName: Map[String, QueryDef] = SparkEntry.allEntries.map(q => q.name -> q).toMap

  /** Lines whose job is to persist data (the list graft.Bench keeps as its
    * io class); every other line counts as a read. */
  val writeLines: Set[String] = Set(
    "s5_sink_roundtrip", "s7_jsonl_roundtrip", "s8_partition_layout",
    "s9_schema_write", "s11_orc_write", "s11_orc_roundtrip",
    "s12_tfrecord_roundtrip", "s13_zorder_layout", "j12_bucket_layout",
    "x4_shard_export", "d0_cache_build", "d0b_shingle_cache",
    "x11_ledger_build", "x11c_ledger_append", "x11d_ledger_append",
    "x11e_ledger_compact", "sim_ivf_build", "sim_semdedup_build",
    "sim_ivfpqr_append", "sim_ivfpqr_compact", "st_stream_sink")

  /** Per-layer subtotal each line's time lands in, from each module's own
    * `entries`. */
  lazy val layerOf: Map[String, String] = {
    import graft.ops._
    import graft.llm._
    import graft.streaming._
    def all(key: String, defs: Seq[QueryDef]*): Seq[(String, String)] =
      defs.flatten.map(_.name -> key)
    def split(read: String, write: String, defs: Seq[QueryDef]): Seq[(String, String)] =
      defs.map(q => q.name -> (if (writeLines(q.name)) write else read))
    (all("ops.scans_s", Scans.entries) ++ all("ops.joins_s", Joins.entries) ++
      all("ops.aggregations_s", Aggregations.entries) ++ all("ops.windows_s", Windows.entries) ++
      all("ops.scalar_s", ScalarFns.entries) ++
      all("ops.other_s", Projections.entries, Analytics.entries, SetOps.entries) ++
      all("streaming.streams_s", Streams.entries) ++
      all("streaming.windowed_s", WindowedAggs.entries) ++
      all("llm.dedup_s", Dedup.entries) ++
      all("llm.similarity_s", Similarity.entries) ++
      all("llm.text_s", TextStats.entries, Bpe.entries) ++
      all("llm.data_s", Mixture.entries, Multimodal.entries, Sampling.entries) ++
      all("llm.pipeline_s", Pipeline.entries) ++
      split("llm.incremental_read_s", "llm.incremental_write_s", Incremental.entries)).toMap
  }

  val layerKeys: Seq[String] = Seq(
    "ops.scans_s", "ops.joins_s", "ops.aggregations_s", "ops.windows_s", "ops.scalar_s",
    "ops.other_s", "streaming.streams_s", "streaming.windowed_s", "llm.dedup_s",
    "llm.similarity_s", "llm.text_s", "llm.data_s", "llm.pipeline_s",
    "llm.incremental_read_s", "llm.incremental_write_s")

  /** Canonical form of a value for hashing: doubles to 9 significant digits
    * (summation order may move the last bits), maps as sorted entry arrays. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Every k-th line of each layer's lines, declaration order kept, so each
    * family keeps its share and none is left out. */
  def stride(names: Seq[String], k: Int): Seq[String] = {
    val keep = names.groupBy(layerOf).values
      .flatMap(_.zipWithIndex.collect { case (n, i) if i % k == 0 => n }).toSet
    names.filter(keep)
  }

  /** (rows, sum, xor) of a row hash over the whole output. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Materialize each line once through the `noop` sink, in order. With a
    * probe, each line's output is then digested by executing the same built
    * DataFrame again, outside the timed window and with the probe's counters
    * paused; without one (warm-up) nothing is checked. */
  def run(spark: SparkSession, dir: String, names: Seq[String], probe: Option[Probe]): Seq[LineResult] =
    names.map { name =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val built = try {
        val df = byName(name).build(spark, dir)
        df.write.mode("overwrite").format("noop").save()
        Right(df)
      } catch { case NonFatal(e) => Left(describe(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val c0 = System.nanoTime()
      val checked = probe match {
        case Some(p) => built.flatMap(df =>
          try Right(p.untimed(digest(df))) catch { case NonFatal(e) => Left(describe(e)) })
        case None => built.map(_ => (-1L, 0L, 0L))
      }
      val checkSecs = (System.nanoTime() - c0) / 1e9
      val (rows, hs, hx) = checked.getOrElse((-1L, 0L, 0L))
      val err = checked.left.toOption
      Console.err.println(
        f"[graftbench] $name%-32s $secs%8.3f s rows=$rows (check $checkSecs%.3f s) ${err.getOrElse("")}")
      LineResult(name, startMs, endMs, secs, rows, hs, hx, err)
    }
}
