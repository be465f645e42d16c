package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the driver testdata family.
  *
  * Purpose: the repo's central performance claim — Spark's fixed per-query
  * local-mode floor amortizes while distributed plans win wherever data
  * volume dominates — needs a measurement at a scale factor the driver does
  * not ship. This main writes a `factor`× corpus (default 10×, i.e. "sf1"
  * relative to sf0.1) that continues the SAME generative family as the
  * driver's seed-42 tables, so per-query scaling factors are attributable to
  * data volume, not a distribution shift:
  *
  *   - facts (`orders`, `lineitem`): replicated `factor`× with order-key
  *     offsets, preserving the exact 1:N orders↔lineitem fan-out and all
  *     value distributions; `o_custkey`/`l_partkey`/`l_suppkey` stay in the
  *     original dim ranges (facts grow, dims don't — the realistic shape,
  *     and it keeps the star-join dims broadcastable at any factor);
  *   - dims: copied as-is;
  *   - `events`: replicated `factor`× with user_id/event_id offsets and
  *     ts unchanged, so per-user patterns hold while streaming state
  *     grows ×factor (sf0.1's 100,000 events: 1M at sf1, 10M at sf10);
  *   - `documents`: synthesized from scratch (replication would give every
  *     doc `factor` exact copies and destroy dedup semantics) with the
  *     observed sf0.1 statistics: the same 30-word base vocabulary, uniform
  *     10..100 words/doc, empirical language weights, `src0..src19` sources,
  *     and the driver's planted-duplicate structure at identical per-capita
  *     rates — an exact-dup pair every 640 docs (sf0.1: 8/5000) and a
  *     near-dup pair every 20 docs (sf0.01: 25/500; appending one trailing
  *     "dup" token adds exactly one 3-shingle, so planted pairs land at
  *     jaccard = (n-2)/(n-1) ≥ 0.88 — the ≥ 0.8 regime d6/d8 cut at);
  *   - `embeddings`: 10 seeded unit centroids on the 64-d sphere, points =
  *     normalize(3·center + N(0,1) noise), labels uniform — matching the
  *     observed L2-normalized 10-cluster structure.
  *
  * Every row is a pure function of (SEED, row id): near-dup planting
  * re-derives its base text from the neighbouring id instead of joining,
  * so generation is one embarrassingly-parallel pass at any factor.
  *
  * Usage: runMain graft.data.ScaleGen [srcSfDir] [outDir] [factor]
  */
object ScaleGen {
  private val SEED = 1042L

  /** splitmix64 — decorrelates java.util.Random streams seeded by
    * consecutive row ids. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional comma-separated table filter (arg 3): a decade-up probe of
    // ONE operator family shouldn't pay a full-corpus generation — e.g.
    // the r15 sf100 day-N proof needs `documents` (5M docs) but not the
    // 600M-row lineitem that factor would imply
    val tableFilter = args.lift(3).map(_.split(",").map(_.trim).toSet)
    def want(t: String): Boolean = tableFilter.forall(_.contains(t))

    val spark = SparkSession.builder()
      .appName("graft-scalegen")
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // Output file counts must GROW with the factor: a generated table that
    // compresses to a handful of small files is unsplittable below file
    // granularity (one row group each), and Spark's scan bin-packing then
    // feeds the whole corpus to ~1 task — round-8 run A measured the
    // t-family 40-130× slower at factor 100 purely from an 8-file
    // documents layout. Real corpora at these volumes arrive as hundreds+
    // of files, so scaling file counts is fidelity, not tuning. Caps keep
    // small factors from producing thousands of tiny files.
    def scaled(base: Int, cap: Int): Int =
      math.min(cap, math.max(base, (base.toLong * factor / 10).toInt))

    // --- dims: copy unchanged ---------------------------------------------
    for (t <- Seq("region", "nation", "customer", "supplier", "part") if want(t))
      write(spark.read.parquet(s"$src/$t.parquet"), t, 1)
    // --- events: replicate with USER-key offsets --------------------------
    // (round 9; previously copied unchanged, which left streaming state
    // cardinality untested past 1.5k users / 100k events). Each replica
    // shifts user_id/event_id by the source span and keeps ts untouched:
    // per-user event patterns — window densities, session gaps, dedup
    // collision rates — are preserved exactly while watermark-keyed STATE
    // (per-user sessions/FSMs, per-window groups, dedup keys) grows ×factor,
    // which is the dimension a scaled streaming run must stress. events.ts
    // round-trips in whichever physical layout the source has
    // (TIMESTAMP(MICROS) natively; TIMESTAMP(NANOS) as int64 under
    // nanosAsLong) — Tables' schema-adaptive read handles both.
    if (want("events")) {
      val events = spark.read.parquet(s"$src/events.parquet")
      val userSpan = events.agg(max("user_id")).as[Long].head() + 1L
      val eventSpan = events.agg(max("event_id")).as[Long].head() + 1L
      val evReplicas = spark.range(factor).select(col("id").as("rep"))
      write(
        events.crossJoin(broadcast(evReplicas))
          .withColumn("user_id", col("user_id") + col("rep") * userSpan)
          .withColumn("event_id", col("event_id") + col("rep") * eventSpan)
          .drop("rep").select(events.columns.map(col).toSeq: _*),
        "events", scaled(2, 16))
    }

    // --- facts: replicate with key offsets --------------------------------
    // Two physical plans for the same logical replication:
    //   factor <= 100 (the per-boot sf1/sf10 regeneration): broadcast the
    //   replica ids against the source and repartition the OUTPUT for the
    //   file-count contract — layout identical to every prior round's
    //   corpora, so bench numbers stay comparable boot-over-boot.
    //   factor > 100 (decade-up probes, r16): repartitioning the scaled
    //   output shuffles the ENTIRE fact table (measured: the factor-1000
    //   lineitem wrote >47 GB of map output and exhausted local disk
    //   before finishing). Invert the join instead — shuffle the
    //   `factor`-row replica list to the target file count and broadcast
    //   the SOURCE table (sf0.1 lineitem is ~600k rows, well inside the
    //   broadcast budget): each task emits |source| x its-replicas rows
    //   directly into its own output file, zero big-data shuffle. Row
    //   order within files differs from the small-factor path; content is
    //   identical (offset replication is order-free).
    if (want("orders") || want("lineitem")) {
      val orders = spark.read.parquet(s"$src/orders.parquet")
      val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
      val span = orders.agg(max("o_orderkey")).as[Long].head() + 1L
      val replicas = spark.range(factor).select(col("id").as("rep"))
      def replicated(t: DataFrame, keyCol: String, files: Int): Unit = {
        val name = if (keyCol == "o_orderkey") "orders" else "lineitem"
        if (factor <= 100)
          write(
            t.crossJoin(broadcast(replicas))
              .withColumn(keyCol, col(keyCol) + col("rep") * span)
              .drop("rep").select(t.columns.map(col).toSeq: _*),
            name, files)
        else
          replicas.repartition(files).crossJoin(broadcast(t))
            .withColumn(keyCol, col(keyCol) + col("rep") * span)
            .drop("rep").select(t.columns.map(col).toSeq: _*)
            .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
      if (want("orders")) replicated(orders, "o_orderkey", scaled(4, 32))
      if (want("lineitem")) replicated(lineitem, "l_orderkey", scaled(8, 64))
    }

    // --- documents: synthesize at observed statistics ---------------------
    if (want("documents")) {
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = srcDocs.count() * factor
    // base vocab = observed tokens minus the "dup" mutation marker
    val vocab = srcDocs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "dup").distinct().as[String].collect().sorted
    // empirical language weights → cumulative thresholds
    val langCum: Array[(Double, String)] = {
      val counts = srcDocs.groupBy("lang").count()
        .as[(String, Long)].collect().sortBy(_._1)
      val total = counts.map(_._2).sum.toDouble
      var acc = 0.0
      counts.map { case (l, c) => acc += c / total; (acc, l) }
    }
    val nSources = srcDocs.select("source").distinct().count().toInt

    val vocabB = spark.sparkContext.broadcast(vocab)
    val langB = spark.sparkContext.broadcast(langCum)
    val docs = spark.range(nDocs).mapPartitions { it =>
      val vocab = vocabB.value
      val langCum = langB.value
      def gen(id: Long): (Array[String], String, String) = {
        val rng = new java.util.Random(mix(SEED ^ id))
        val n = 10 + rng.nextInt(91)
        val words = Array.fill(n)(vocab(rng.nextInt(vocab.length)))
        val u = rng.nextDouble()
        val lang = langCum.find(_._1 >= u).map(_._2).getOrElse(langCum.last._2)
        val source = "src" + rng.nextInt(nSources)
        (words, lang, source)
      }
      it.map { id =>
        val (_, lang, source) = gen(id)
        val words =
          if (id % 640 == 1) gen(id - 1)._1            // exact-dup pair
          else if (id % 20 == 3) gen(id - 1)._1 :+ "dup" // near-dup pair
          else gen(id)._1
        val text = words.mkString(" ")
        (id, text, lang, source, text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docs, "documents", scaled(8, 64))
    }

    // --- embeddings: 10 seeded spherical clusters -------------------------
    if (want("embeddings")) {
    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVecs = srcEmb.count() * factor
    val dim = 64
    val centers: Array[Array[Double]] = {
      val r = new java.util.Random(mix(SEED + 7))
      Array.fill(10) {
        val c = Array.fill(dim)(r.nextGaussian())
        val n = math.sqrt(c.map(x => x * x).sum)
        c.map(_ / n)
      }
    }
    val centersB = spark.sparkContext.broadcast(centers)
    val embs = spark.range(nVecs).mapPartitions { it =>
      val centers = centersB.value
      it.map { id =>
        val rng = new java.util.Random(mix(SEED ^ (id + 0x5eed)))
        val label = (id % 10).toInt
        val v = centers(label).map(c => 3.0 * c + rng.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(x => (x / n).toFloat), label)
      }
    }.toDF("vec_id", "embedding", "label")
    write(embs, "embeddings", scaled(4, 64))
    }

    // summary line for the generation log
    val counts = Tables.names.filter(want).map { t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count()
    }
    println("SCALEGEN " + counts.map { case (t, c) => s"$t=$c" }.mkString(" "))
    graft.data.Frames.releaseAll()
    spark.stop()
  }
}
