package graft
import graft.data.Frames
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+ (optional, local iteration only): restrict to named queries.
    // The driver always passes exactly (sfDir, outDir) → full dump.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = MasterEnv.standardBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // declaration order (not the unordered queries map): shared caches are
    // built by the entry declared for them (d0_cache_build) instead of
    // whichever family member an unordered iteration reaches first
    // each query in its own checkpoint scope: its tracked checkpoints (t14's
    // gram counts) are dead once the result is written, so they are
    // released here, not at end-of-run, and cannot accumulate across the
    // suite; the shared caches it builds stay for later queries
    SparkEntry.allEntries
      .filter(q => only.isEmpty || only.contains(q.name))
      .foreach { q =>
      Frames.checkpointScope(q.name) {
        try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] ${q.name} failed: $e")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Frames.releaseAll()
    spark.stop()
  }
}
