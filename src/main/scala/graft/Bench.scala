package graft
import scala.util.control.NonFatal

/** Per-round benchmark main: times every declared query at the given SF dir
  * and prints one JSON line for the driver.
  *
  * Methodology:
  *   - full materialization via the `noop` sink — `.count()` would let
  *     Catalyst prune every projected column, so projection/scalar queries
  *     would time a column-less scan instead of the declared work;
  *   - one untimed warmup query first, so JVM/codegen/session init cost is
  *     not charged to whichever query happens to run first.
  */
object Bench {

  /** Canonical bench heap in GiB. Every committed baseline artifact runs at
    * this -Xmx; runs at other heaps sit in a different G1 regime (measured
    * ~+7% suite-wide at 96 GiB, r14 dual-condition artifacts) and are not
    * like-for-like. */
  private val CanonicalHeapGb = 8.0

  /** Retire heap sensitivity AT THE SOURCE (r14 ask #8): when this JVM was
    * launched with a heap far from the canonical 8 GiB (the per-round
    * driver overrides SPARK_DRIVER_MEM to ~89 GiB), re-exec the bench into
    * a child JVM pinned to the canonical heap — same classpath, same
    * module flags, same env — and stream its output through. The child's
    * JSON then compares to any committed canonical artifact directly; the
    * launch condition is recorded in-band (launch_heap_gb) instead of
    * reconstructed by archaeology. Opt out with SPARK_GRAFT_NO_HEAP_PIN=1
    * (how the dual-condition heap studies are run). */
  private def reexecPinnedHeap(): Option[Int] = {
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val optOut = sys.env.contains("SPARK_GRAFT_NO_HEAP_PIN") ||
      sys.env.contains("SPARK_GRAFT_HEAP_PINNED")
    if (optOut || math.abs(heapGb - CanonicalHeapGb) < 1.0) None
    else {
      val javaBin = s"${sys.props("java.home")}/bin/java"
      val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString)
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
      val cmd = Seq(javaBin) ++ inherited ++ Seq(
        s"-Xmx${CanonicalHeapGb.toInt}g",
        // explicit G1 pause target: the JDK default (200ms) is implicit —
        // pinning it keeps the child's GC regime stable across JDK builds
        "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
        "-cp", sys.props("java.class.path"), "graft.Bench")
      Console.err.println(
        f"[bench] launch heap $heapGb%.1f GiB != canonical $CanonicalHeapGb%.0f GiB - re-execing pinned child JVM")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_HEAP_PINNED", "1")
      // Locale.ROOT: this value is emitted unquoted as the JSON number
      // launch_heap_gb — a comma-decimal default locale would break the parse
      pb.environment().put("SPARK_GRAFT_LAUNCH_HEAP_GB",
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(heapGb)))
      pb.inheritIO()
      Some(pb.start().waitFor())
    }
  }

  def main(args: Array[String]): Unit = {
    reexecPinnedHeap().foreach(rc => sys.exit(rc))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // NOTE on AQE sizing, measured on the 10× scale corpus: widening
    // every shuffle (initialPartitionNum=16×cpus, advisory=16m) stabilized
    // the one huge-cardinality aggregation (d0's ~1.2×10⁸-group posting
    // join: 43-234 s swings at 32 GB heap → steady ~40 s) but taxed every
    // small-shuffle operator 2-5× (measured when d6 still ran an iterative
    // CC loop; today the vocab- and pair-sized aggregates of t18/t19 and
    // the dedup family would each schedule hundreds of near-empty
    // partitions per shuffle). AQE sizing stays at Spark defaults apart
    // from coalescing, which is off; the posting join sizes its OWN pair-agg
    // shuffle instead (Dedup.boundedScoredPairs). The shared conf block
    // (incl. the openCostInBytes and coalescing rationales) lives in
    // MasterEnv.standardBuilder.
    val spark = MasterEnv.standardBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // warmup: a join + agg + window mix touching the big tables, untimed.
    // sim_ivf_ann warms its index cache here: the KMeans build is IVF's
    // offline step (run once, amortized across probe workloads), so the
    // timed pass measures probe-time routing + cell scans, not the build.
    try {
      graft.data.Frames.checkpointScope("warmup") {
        materialize("j3_star_join"); materialize("w1_topk_per_group")
        materialize("sim_ivf_ann")
      }
      // RocksDB native library extraction+load (~several seconds, once per
      // JVM) otherwise lands on st_stream_tws
      // (explicit catch: a missing native lib is an UnsatisfiedLinkError,
      // which NonFatal does not match)
      try org.rocksdb.RocksDB.loadLibrary() catch { case e @ (NonFatal(_) | _: LinkageError) =>
        Console.err.println(s"[bench] RocksDB load failed (continuing): $e")
      }
      // sink-writer init (output committer, codec, writer JIT) is a one-time
      // JVM cost — a 2-row write per format keeps it off the first timed
      // sink query (s5 absorbed ~4 s of it otherwise). Own try so a /tmp
      // problem here can't silently skip the dedup JIT warmup below.
      try {
        import spark.implicits._
        val tiny = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        val warmDir = graft.data.Frames.storeDir("bench", "warm")
        tiny.write.mode("overwrite").parquet(s"$warmDir/p")
        spark.read.parquet(s"$warmDir/p").count()
        tiny.write.mode("overwrite").orc(s"$warmDir/o")
        tiny.write.mode("overwrite").json(s"$warmDir/j")
      } catch { case NonFatal(e) =>
        Console.err.println(s"[bench] sink warmup failed (continuing): $e")
      }
      // JIT/codegen warm for the hash/string-heavy dedup path on a 2000-doc
      // slice, run twice — first-evaluation JIT (~1s) otherwise lands on
      // whichever dedup query the map ordering runs first. The slice's plan
      // differs from every declared query, so no per-corpus cache is
      // pre-populated.
      import org.apache.spark.sql.functions._
      for (_ <- 1 to 2) {
        val sh = graft.llm.Dedup.shingleSets(
          graft.data.Tables(spark, sfDir, "documents").limit(2000))
        val tok = sh.select(col("doc_id"), explode(col("sh")).as("h"))
        tok.select(col("doc_id").as("a"), col("h"))
          .join(tok.select(col("doc_id").as("b"), col("h")), "h")
          .filter(col("a") < col("b")).groupBy("a", "b").count()
          .write.mode("overwrite").format("noop").save()
      }
    } catch { case NonFatal(e) => Console.err.println(s"[bench] warmup failed (continuing): $e") }

    // --- contention self-evidence -----------------------------------------
    // A bench artifact must carry proof of its run conditions: round-6/7
    // driver-vs-committed gaps (153 vs 63 s, 102 vs 80 s) were diagnosed as
    // CPU contention only by post-hoc archaeology. Two in-band signals:
    //   - system 1-min loadavg before/after (anything far above this JVM's
    //     own usage on an otherwise-idle box = contended run);
    //   - a fixed calibration query (constant work, no table inputs) timed
    //     after warmup and again after the last timed query — if machine
    //     conditions are stable the two times agree; a large ratio flags a
    //     mid-run shift.
    def loadavg(): Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 22).selectExpr("sum(id * 3 + 1) AS s")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // disk-write calibration: the CPU calib can read clean while state-heavy
    // streaming queries swing 2-8× — measured one boot at 160 MB/s direct
    // writes where stream-stream join read 54 s vs 7 s on a faster-disk
    // boot, with calib_first ~0.5 s both times. 256 MB buffered write +
    // fsync through the same /tmp the state stores and sinks use.
    def ioCalibrate(): Double = {
      val p = java.nio.file.Paths.get(graft.data.Frames.storeDir("bench", "iocalib"))
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        for (_ <- 0 until 256) ch.write(java.nio.ByteBuffer.wrap(buf))
        ch.force(true)
      } finally ch.close()
      val secs = (System.nanoTime() - t0) / 1e9
      java.nio.file.Files.deleteIfExists(p)
      256.0 / secs // MB/s
    }
    val loadBefore = loadavg()
    val calibFirst = calibrate()
    val ioFirst = ioCalibrate()

    // optional comma-separated query filter for local iteration; the driver
    // never sets it, so per-round benches always time the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a query that throws is recorded in "errors" (class + message, sanitized
    // for the one-line JSON) rather than swallowed — a broken operator must
    // look broken, not fast
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // iterate allEntries in DECLARATION order, not the unordered queries
    // HashMap: map iteration reshuffles whenever the key set changes, which
    // moved one-time costs (caches, JIT) between named lines round-over-round
    // and made per-query numbers incomparable
    val runNames: Seq[String] = SparkEntry.allEntries.map(_.name)
      .filter(name => only.forall(_.contains(name)))
    val results: scala.collection.immutable.ListMap[String, Double] =
      scala.collection.immutable.ListMap.from(
        runNames
          .map { name =>
            // stderr progress line per query: when a run dies mid-suite
            // (OOM, heartbeat starvation), the log self-attributes the
            // killer instead of needing a bisect over SPARK_GRAFT_ONLY
            Console.err.println(s"[bench] start $name")
            val t0 = System.nanoTime()
            // the query's tracked checkpoints are released as its scope
            // closes, inside the timed window (the release is part of the
            // query's honest cost): a tracked intermediate left pinned until
            // end-of-run OOMed the sf10 suite (t14's gram-count frame is
            // ~GBs there)
            graft.data.Frames.checkpointScope(name) {
              try materialize(name) catch {
                case e: Throwable =>
                  val msg = e.getClass.getSimpleName + ": " +
                    Option(e.getMessage).getOrElse("")
                  errors(name) = msg.replaceAll("""["\\\n\r\t]""", " ").take(200)
              }
            }
            val secs = (System.nanoTime() - t0) / 1e9
            Console.err.println(
              String.format(java.util.Locale.ROOT, "[bench] done %s %.2f s", name, Double.box(secs)))
            name -> secs
          })
    val calibLast = calibrate()
    val ioLast = ioCalibrate()
    val loadAfter = loadavg()
    // Locale.ROOT: the f interpolator uses the JVM default locale, so a
    // comma-decimal locale would emit 0,468 and break the driver's JSON parse
    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // env-derived strings (master, cpus, sf_dir) are user-typed: a stray
    // quote or backslash must not break the driver's JSON parse
    def jstr(s: String): String = s.replaceAll("""["\\\n\r\t]""", " ")
    // max heap in GiB: the d0-style huge-cardinality aggregates are
    // GC-shaped, so runs at different -Xmx are not like-for-like (measured
    // sf1 d0_cache_build 14.5 s at one heap vs 65.5 s at another, same code)
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // --- self-normalizing summary (r14 ask #3) -----------------------------
    // Per-calibration-class subtotals and their ratios to the matching
    // calibration measurement, IN BAND: two bench artifacts are compared by
    // ratio (work per unit of measured machine speed), not by raw seconds —
    // no more post-hoc archaeology over heap/load/disk conditions.
    //   io class     = lines dominated by writing persisted state (sinks,
    //                  layouts, ledger/index builds+appends+compactions);
    //                  denominator: seconds the 256 MB fsync'd calibration
    //                  write took (mean of first/last probe);
    //   stream class = st_stream_* lines (micro-batch machinery + state
    //                  store IO; reported as its own subtotal, normalized
    //                  by the CPU calib like the cpu class);
    //   cpu class    = everything else; denominator: the constant-work CPU
    //                  calibration query (mean of first/last probe).
    val ioClass: Set[String] = Set(
      "s5_sink_roundtrip", "s7_jsonl_roundtrip", "s8_partition_layout",
      "s9_schema_write", "s11_orc_write", "s11_orc_roundtrip",
      "s12_tfrecord_roundtrip", "s13_zorder_layout", "j12_bucket_layout",
      "x4_shard_export", "d0_cache_build", "d0b_shingle_cache",
      "x11_ledger_build", "x11c_ledger_append", "x11d_ledger_append",
      "x11e_ledger_compact", "sim_ivf_build", "sim_semdedup_build",
      "sim_ivfpqr_append", "sim_ivfpqr_compact", "st_stream_sink")
    def classOfQuery(n: String): String =
      if (ioClass.contains(n)) "io"
      else if (n.startsWith("st_stream")) "stream"
      else "cpu"
    val classTotals: Map[String, Double] =
      results.toSeq.groupBy { case (n, _) => classOfQuery(n) }
        .map { case (c, kv) => c -> kv.map(_._2).sum }
        .withDefaultValue(0.0)
    val cpuCalibMean = (calibFirst + calibLast) / 2
    val ioCalibSecsMean = (256.0 / ioFirst + 256.0 / ioLast) / 2
    val classRatios: Seq[(String, Double)] = Seq(
      "cpu" -> classTotals("cpu") / cpuCalibMean,
      "io" -> classTotals("io") / ioCalibSecsMean,
      "stream" -> classTotals("stream") / cpuCalibMean)
    def jobj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    val normalized =
      s""""class_totals":${jobj(Seq("cpu", "io", "stream").map(c => c -> classTotals(c)))},""" +
      s""""calib_class_ratios":${jobj(classRatios)}"""
    // heap this process was LAUNCHED under before the canonical-heap
    // re-exec, when that happened — the in-band record of the original
    // condition (heap_gb is the condition the numbers were measured at)
    val launchHeap = sys.env.get("SPARK_GRAFT_LAUNCH_HEAP_GB")
      .map(h => s""""launch_heap_gb":${jstr(h)},""").getOrElse("")
    val contention =
      s""""heap_gb":${jnum(heapGb)},$launchHeap""" +
      s""""loadavg_before":${jnum(loadBefore)},"loadavg_after":${jnum(loadAfter)},""" +
      s""""calib_first_s":${jnum(calibFirst)},"calib_last_s":${jnum(calibLast)},""" +
      s""""io_calib_first_mb_s":${jnum(ioFirst)},"io_calib_last_mb_s":${jnum(ioLast)},""" +
      normalized
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // Full per-query map: one line for log readers, plus a file for offline
    // analysis. This line is ~3.4 KB — LONGER than the 2000-char tail window
    // the driver keeps, so it must NOT be the line the driver parses.
    // cpus recorded so a run under different local[N] conditions can't be
    // mistaken for a like-for-like regression; quoted because the env value
    // may be non-numeric ("*" for local[*]) and must not break the JSON
    val full = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":$sfNum,"sf_dir":"${jstr(sfDir)}","cpus":"${jstr(MasterEnv.cpus)}","master":"${jstr(MasterEnv.master)}",$contention}"""
    println(full)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(e) => Console.err.println(s"[bench] bench_full.json not written: $e") }
    // Headline JSON line, printed LAST: a representative cross-section of
    // the suite, sized (~700 chars) to survive the driver's 2000-char tail
    // intact so it parses. Full suite numbers: line above + bench_full.json.
    val headline = Seq(
      "x2_local_supplier_volume", "x3_corpus_prep", "a1_groupby_agg",
      "j2_join_shuffle", "j3_star_join", "w1_topk_per_group", "o1_sort_limit",
      "d0_cache_build", "d1_exact_dedup", "d4_ngram_jaccard", "d6_neardup_groups",
      "d7_contamination", "d9_bloom_dedup", "j9_knn_cosine", "sim_ivf_ann",
      "t4_fingerprint", "x7_pipeline_manifest",
      "st_stream_tumbling", "s12_tfrecord_roundtrip")
    val hq = headline.flatMap(k => results.get(k).map(v => s"\"" + k + "\":" + jnum(v)))
      .mkString("{", ",", "}")
    // errors must stay visible in the parsed line (a broken operator must
    // look broken), but bounded so a cascade can't blow the tail window
    val he = errors.take(3)
      .map { case (k, v) => s"\"" + k + "\":\"" + v.take(60) + "\"" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"queries":$hq,"errors":$he,"sf":$sfNum,"cpus":"${jstr(MasterEnv.cpus)}","master":"${jstr(MasterEnv.master)}",$contention}""")
    graft.data.Frames.releaseAll()
    spark.stop()
  }
}
