package graft.data

import org.apache.spark.sql.SparkSession

/** Parameterized vector-corpus generator for the ANN crossover measurement.
  *
  * TWO-LEVEL hierarchical structure (coarse "topics" × fine near-neighbor
  * groups), every row a pure function of (SEED, vec_id) like [[ScaleGen]].
  * A single-level Gaussian-blob corpus is the WRONG benchmark for ANN at
  * high dim: all ~n/k cluster-mates land at near-identical cosine
  * (measured: 0.973 ± 0.001 at dim 256), so exact top-10 is a ranking of
  * thousands of near-ties no quantized index — and no real system — could
  * resolve, and the measurement reports the generator, not the index.
  * Real embedding corpora are multi-scale: documents about one topic form
  * a broad cluster, near-duplicates/translations/revisions form tight
  * sub-groups inside it. This generator models exactly that:
  *
  *   v = C(coarse) + 0.5·F(coarse,fine) + 0.02·N(0,I), normalized
  *
  * giving in-fine cosine ~0.93, same-coarse/cross-fine ~0.75, cross-coarse
  * ~0 — a probe's true top-10 live in its ~n/(coarse·fine) member fine
  * group, separated from the background by a margin a code-compressed scan
  * can resolve. The IVFPQ measurement then answers the real question: can
  * routing + ADC find the fine group faster than the exact scan.
  *
  * Usage: runMain graft.data.VectorGen [outDir] [nVec] [dim] [nCoarse] [finePerCoarse]
  * Writes <outDir>/embeddings.parquet in the shipped schema
  * (vec_id long, embedding array<float>, label int — label = coarse id).
  */
object VectorGen {
  private val SEED = 1042L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unitGaussian(rng: java.util.Random, dim: Int): Array[Double] = {
    val c = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(c.map(x => x * x).sum)
    c.map(_ / n)
  }

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("/tmp/graft_scale/vec2m")
    val nVec = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val dim = args.lift(2).map(_.toInt).getOrElse(256)
    val nCoarse = args.lift(3).map(_.toInt).getOrElse(64)
    val finePerCoarse = args.lift(4).map(_.toInt).getOrElse(256)

    val spark = SparkSession.builder()
      .appName("graft-vectorgen")
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val coarse: Array[Array[Double]] = {
      val r = new java.util.Random(mix(SEED + 7))
      Array.fill(nCoarse)(unitGaussian(r, dim))
    }
    val coarseB = spark.sparkContext.broadcast(coarse)
    val (nc, fpc, d) = (nCoarse, finePerCoarse, dim)
    val embs = spark.range(nVec)
      .repartition(Runtime.getRuntime.availableProcessors() * 4)
      .mapPartitions { it =>
        val cents = coarseB.value
        it.map { id =>
          // group ids interleave so fine-group mates are SCATTERED across
          // the id space (a contiguous layout would let file pruning fake
          // the routing win)
          val g = id % (nc.toLong * fpc)
          val (ci, fi) = ((g % nc).toInt, (g / nc).toInt)
          // the fine direction re-derives from its (coarse, fine) seed per
          // row — generation stays one embarrassingly-parallel pass
          val fDir = unitGaussian(
            new java.util.Random(mix(SEED * 31 + ci * 1000003L + fi)), d)
          val rng = new java.util.Random(mix(SEED ^ (id + 0x5eed)))
          val v = Array.tabulate(d)(j =>
            cents(ci)(j) + 0.5 * fDir(j) + 0.02 * rng.nextGaussian())
          val n = math.sqrt(v.map(x => x * x).sum)
          (id.toLong, v.map(x => (x / n).toFloat), ci)
        }
      }
      .toDF("vec_id", "embedding", "label")
    embs.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val written = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"VECTORGEN n=$written dim=$dim coarse=$nCoarse fine=$finePerCoarse out=$out")
    graft.data.Frames.releaseAll()
    spark.stop()
  }
}
