package graft

import graft.data.{Frames, Tables}
import graft.llm.{Dedup, IvfIndex, Multimodal, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Validation for the declared queries that have no DuckDB oracle
  * (probabilistic / sketch / engine-specific operators). Each test bounds
  * the approximation against an exact computation on the same testdata —
  * these are the suites the operator files point at.
  */
class DataPlaneSpec extends AnyFunSuite with ScratchRoot {

  private val sf = "/root/testdata/sf0.01"

  // release what the suite's queries registered (tracked checkpoints, the
  // shared dedup caches, store dirs) instead of pinning it until JVM exit
  override def afterAll(): Unit = try Frames.releaseAll() finally super.afterAll()

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dataplane-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Exact all-pairs Jaccard ≥ threshold over the 3-shingle sets — the
    * ground truth the LSH/SimHash approximations are measured against.
    * (Shingle extraction itself is oracle-checked via d4_ngram_jaccard.) */
  private def exactPairs(threshold: Double): Set[(Long, Long)] = {
    val sh = Dedup.shingleSets(Tables(spark, sf, "documents"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("j", inter / (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("j") >= threshold)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("shingleSets matches independent Scala-side 3-shingling (incl. <3-token guard)") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // FULLY independent derivation (r15): plain Scala sliding-window
    // shingling AND a plain-JVM md5 fingerprint — the engine's hi<<32|lo
    // assembly of the top 16 md5 hex chars equals the big-endian long of
    // the digest's first 8 bytes, so no Spark expression is shared at all
    def md5Fp(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d).getLong
    }
    val expectedStrings: Map[Long, Seq[(String, String, String)]] = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val shingles =
        if (toks.length >= 3)
          toks.sliding(3).map(w => (w(0), w(1), w(2))).toSeq.distinct
        else Seq.empty[(String, String, String)]
      id -> shingles
    }.toMap
    val expected: Map[Long, Set[Long]] = expectedStrings.collect {
      case (id, ss) if ss.nonEmpty =>
        id -> ss.map { case (a, b, c) => md5Fp(s"$a $b $c") }.toSet
    }
    val actual: Map[Long, Set[Long]] = Dedup.shingleSets(Tables(spark, sf, "documents"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(actual == expected, "shingle extraction diverges from independent derivation")
    // docs under 3 tokens (if any) must be absent, not descending-sequence junk
    val shortIds = expectedStrings.collect { case (id, ss) if ss.isEmpty => id }.toSet
    assert(shortIds.forall(id => !actual.contains(id)))
  }

  test("d3 banded MinHash LSH: recall >= 0.9 vs exact Jaccard pairs at 0.8, no false positives") {
    val truth = exactPairs(0.8)
    assert(truth.nonEmpty, "testdata must contain planted near-dup pairs")
    val lsh = Dedup.bandedLshPairs(Tables(spark, sf, "documents"), jaccardThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & lsh).size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (found ${lsh.size}, truth ${truth.size})")
    // candidates are verified with exact Jaccard, so precision must be perfect
    assert((lsh -- truth).isEmpty, s"false positives: ${(lsh -- truth).take(5)}")
  }

  test("d3 hot-bucket cap: engine slice == the oracle's row_number<=cap semantics (r16, advice #1)") {
    import spark.implicits._
    // six identical docs — ONE hot bucket holding {1..6} in every band —
    // plus two unrelated docs that must stay pair-free either way
    val docs = ((1L to 6L).map(i => i -> "alpha beta gamma delta epsilon zeta") ++
      Seq(7L -> "one two three four five six",
          8L -> "seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    def pairs(cap: Int): Set[(Long, Long)] =
      graft.llm.Dedup.bandedLshPairs(docs, jaccardThreshold = 0.8, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped at 3: pairs only among the 3 SMALLEST doc_ids of the bucket —
    // exactly what the DuckDB oracle's row_number()<=cap filter recomputes,
    // so the d3/d6b/x10b hash gates stay exact past a >cap bucket
    assert(pairs(3) == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"capped pair set diverges from the oracle cap semantics: ${pairs(3)}")
    // cap 0 = uncapped on BOTH sides: all 15 pairs among the 6 clones
    val all = (1L to 6L).combinations(2).map(c => (c(0), c(1))).toSet
    assert(pairs(0) == all, s"uncapped pair set wrong: ${pairs(0)}")
  }

  test("scaledShortlist: floor at test scale, candidates/300 at the decades (the 20M recall law)") {
    import graft.llm.PqIndex.scaledShortlist
    // sf-scale corpora sit under the floor -> declared results unchanged
    assert(scaledShortlist(2000, 4, 8, floor = 50) == 50)
    // 2M at the declared point lands ~at its historical 200 (62500/300)
    assert(scaledShortlist(2000000, 8, 256, floor = 200) == 208)
    // 20M: the formula yields the sweep's 0.999 operating point (~2083)
    assert(scaledShortlist(20000000, 8, 256, floor = 200) == 2083)
    // nProbe beyond nCells clamps to a full scan, never over-counts
    assert(scaledShortlist(100000, 16, 8, floor = 50) ==
      scaledShortlist(100000, 8, 8, floor = 50))
    // the quantizer's other half: cells scale ~sqrt(n)/8 with the same
    // spec-scale floor, so nProbe selects a SHRINKING corpus fraction
    import graft.llm.IvfIndex.scaledCells
    assert(scaledCells(500) == 8)        // spec scale: the historical 8
    assert(scaledCells(200000) == 55)    // sf10: 7% scanned at nProbe 4
    assert(scaledCells(20000000) == 559)   // √n/8 uncapped at the 20M decade (r17)
    assert(scaledCells(2000000000L) == 4096) // flat-quantizer ceiling: past ~1B
                                             // vectors a two-level quantizer is
                                             // the right structure
    // composed: at sf10 the scaled cells pull the shortlist back to floor
    assert(scaledShortlist(200000, 4, scaledCells(200000), floor = 50) == 50)
  }

  test("d4b prefix-filtered exact pairs equal the posting-join exact pairs (and the brute force)") {
    val docs = Tables(spark, sf, "documents")
    def ps(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = ps(Dedup.exactPairsPrefix(docs, 0.8))
    val posting = ps(Dedup.exactNgramJaccardPairs(docs, 0.8))
    assert(prefix == posting,
      s"missing: ${(posting -- prefix).take(5)}, extra: ${(prefix -- posting).take(5)}")
    // and against the independent all-pairs derivation (jaccard values too)
    assert(prefix.map(p => (p._1, p._2)) == exactPairs(0.8))
    assert(prefix.nonEmpty)
  }

  test("d10 substring spans: planted fixture + randomized property check vs brute force") {
    import spark.implicits._
    // Scala brute force over STRING grams (hash-free truth): duplicated
    // anchors (k-gram occurs >= 2x in corpus), distinct covered positions,
    // maximal anchor runs >= minSpan
    def truth(docs: Seq[(Long, String)], k: Int = 5, minSpan: Int = 10)
        : Map[Long, (Long, Long, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toVector }
        .filter(_._2.length >= k)
      val freq = toks.flatMap { case (_, ts) => ts.sliding(k).map(_.mkString(" ")) }
        .groupBy(identity).view.mapValues(_.size).toMap
      toks.flatMap { case (id, ts) =>
        val anchors = (0 to ts.length - k)
          .filter(p => freq(ts.slice(p, p + k).mkString(" ")) >= 2)
        if (anchors.isEmpty) None
        else {
          val cov = anchors.flatMap(p => p until p + k).distinct.size
          val runs = anchors.foldLeft(List.empty[(Int, Int)]) {
            case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
            case (acc, p) => (p, p) :: acc
          }.map { case (s, e) => e - s + k }
          val big = runs.filter(_ >= minSpan)
          Some(id -> (ts.length.toLong, cov.toLong, big.size.toLong,
            big.sorted.lastOption.getOrElse(0).toLong))
        }
      }.toMap
    }
    // each run in its own scope: its tracked checkpoints go as it returns
    def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long)] = Frames.scope("d10") {
      graft.llm.Dedup.substringSpans(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
    }

    // Handcrafted corpus: per-doc-unique filler so junction grams never
    // collide; span12 shared A<->B, span6 (t1..t6) shared A<->D, E repeats
    // its own opening 5-gram WITHIN itself, C fully unique
    val span12 = (1 to 12).map(i => s"s$i").mkString(" ")
    val span6 = (1 to 6).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      1L -> s"a1 a2 a3 a4 a5 $span12 a6 a7 a8 $span6 a9",
      2L -> s"b1 b2 $span12 b3 b4 b5 b6",
      3L -> (1 to 12).map(i => s"c$i").mkString(" "),
      4L -> s"d1 d2 d3 $span6 d4 d5",
      5L -> "e1 e2 e3 e4 e5 x1 e1 e2 e3 e4 e5")
    val got = run(docs)
    // A: 27 tokens; covered = 12 (span12) + 6 (span6); one >= 10-token run
    assert(got(1L) == ((27L, 18L, 1L, 12L)), s"doc A: ${got.get(1L)}")
    assert(got(2L) == ((18L, 12L, 1L, 12L)), s"doc B: ${got.get(2L)}")
    assert(!got.contains(3L), "unique doc C must be absent")
    assert(got(4L) == ((11L, 6L, 0L, 0L)), s"doc D: ${got.get(4L)}")
    // E: the within-doc repeat duplicates both occurrences (10 covered
    // positions, two 5-token runs — both under minSpan)
    assert(got(5L) == ((11L, 10L, 0L, 0L)), s"doc E: ${got.get(5L)}")
    assert(got == truth(docs), "fixture disagrees with brute force")

    // d11 trim on the same handcrafted corpus: only the >= 10-token span
    // (span12 in A and B) is cut; the short span6 and E's sub-threshold
    // runs survive; C and D are untouched
    def trimTruth(ds: Seq[(Long, String)], k: Int = 5, minSpan: Int = 10)
        : Map[Long, (Long, Long, Long, String)] = {
      val toks = ds.map { case (id, t) => id -> t.split(" ", -1).toVector }
      val freq = toks.filter(_._2.length >= k)
        .flatMap { case (_, ts) => ts.sliding(k).map(_.mkString(" ")) }
        .groupBy(identity).view.mapValues(_.size).toMap
      toks.map { case (id, ts) =>
        val anchors = if (ts.length >= k)
          (0 to ts.length - k).filter(p => freq(ts.slice(p, p + k).mkString(" ")) >= 2)
        else Seq.empty
        val runs = anchors.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.filter { case (s, e) => e - s + k >= minSpan }
        val cov = runs.flatMap { case (s, e) => s until (e + k) }.toSet
        val clean = ts.zipWithIndex.collect { case (w, i) if !cov.contains(i) => w }
        id -> (ts.length.toLong, clean.size.toLong, cov.size.toLong,
          java.security.MessageDigest.getInstance("MD5")
            .digest(clean.mkString(" ").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString)
      }.toMap
    }
    def runTrim(ds: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = Frames.scope("d11") {
      graft.llm.Dedup.substringTrim(ds.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
    }
    val gotTrim = runTrim(docs)
    assert(gotTrim == trimTruth(docs), "trim fixture disagrees with brute force")
    assert(gotTrim(1L)._3 == 12L && gotTrim(2L)._3 == 12L,
      s"A/B should each lose exactly span12: ${gotTrim(1L)} ${gotTrim(2L)}")
    assert(gotTrim(3L)._3 == 0L && gotTrim(4L)._3 == 0L && gotTrim(5L)._3 == 0L,
      "C untouched; D/E sub-threshold spans survive the trim")
    // exact-duplicate docs trim to EMPTY (md5('') — the oracle-parity edge)
    val dupDocs = docs ++ Seq(6L -> docs.head._2, 7L -> docs.head._2)
    val full = runTrim(dupDocs)
    assert(full(6L)._2 == 0L && full(6L)._4 == "d41d8cd98f00b204e9800998ecf8427e",
      s"exact-dup doc should trim to empty: ${full(6L)}")
    assert(full == trimTruth(dupDocs), "dup-doc trim disagrees with brute force")

    // Randomized corpora: tiny vocab forces dense gram collisions,
    // including in-doc repeats and sub-k docs (excluded)
    val rnd = new scala.util.Random(1017L)
    for (round <- 1 to 3) {
      val vocab = (0 until 8).map(i => s"w$i")
      val rdocs = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(28)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val exp = truth(rdocs)
      assert(exp.nonEmpty, s"round $round: fixture lost its duplicated grams")
      assert(run(rdocs) == exp, s"round $round: spans disagree with brute force")
      assert(runTrim(rdocs) == trimTruth(rdocs),
        s"round $round: trim disagrees with brute force")
    }
  }

  test("d4b prefix filter is exact on randomized corpora (property check vs brute force)") {
    import spark.implicits._
    // the prefix/length/positional bound math is subtle enough to deserve
    // randomized adversarial corpora beyond the generated testdata: small
    // vocab (forces shared shingles everywhere), planted exact duplicates,
    // near-dups at and around the threshold, short docs under the shingle
    // width, in-doc repeated tokens (array_distinct path)
    val rnd = new scala.util.Random(421L)
    // one scope per round: the per-corpus token caches are keyed by corpus,
    // so each round's are dropped as it ends
    for (round <- 1 to 3; threshold <- Seq(0.5, 0.8)) Frames.scope(s"d4b round $round") {
      val vocab = (0 until 12).map(i => s"w$i")
      val base = (0 until 60).map { i =>
        val n = 1 + rnd.nextInt(12) // includes <3-token docs (excluded)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // plant exact dups + one-token-perturbed near-dups of random docs
      val planted = (0 until 8).map { k =>
        val (_, text) = base(rnd.nextInt(base.size))
        val toks = text.split(" ", -1).toVector
        val mutated = if (k % 2 == 0 || toks.length < 4) text
          else toks.updated(rnd.nextInt(toks.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (1000L + k, mutated)
      }
      val docs = (base ++ planted).toDF("doc_id", "text")
      // Scala brute force over STRING shingle sets (hash-free truth)
      val sets: Map[Long, Set[String]] = (base ++ planted).map { case (id, t) =>
        val toks = t.split(" ", -1)
        id -> (if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
               else Set.empty[String])
      }.toMap
      val ids = sets.keys.toSeq.sorted
      val expected = (for {
        a <- ids; b <- ids if a < b && sets(a).nonEmpty && sets(b).nonEmpty
        inter = (sets(a) & sets(b)).size.toDouble
        j = inter / (sets(a).size + sets(b).size - inter) if j >= threshold
      } yield (a, b) -> BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      val got = Dedup.exactPairsPrefix(docs, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == expected,
        s"round $round t=$threshold: missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)} " +
          s"valueDiffs=${expected.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(3)}")
      assert(expected.nonEmpty, s"round $round t=$threshold: fixture lost its planted pairs")
    }
  }

  test("d6b LSH-pair components equal exact d6 components when pair sets agree") {
    // d3's pair set equals the exact one on this corpus (recall test above),
    // so the production grouping must reproduce the exact groups verbatim
    def groups(name: String): Map[Long, (Long, Boolean)] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val exact = groups("d6_neardup_groups")
    val lsh = groups("d6b_neardup_groups_lsh")
    assert(lsh == exact, "LSH components diverged from exact despite identical pairs")
    assert(exact.values.exists(!_._2), "testdata must contain non-keeper dups")
  }

  test("d5 SimHash: near-dup pairs land far below the unrelated-doc hamming band") {
    val truth = exactPairs(0.8)
    val sig = Dedup.simhash(Tables(spark, sf, "documents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dists = truth.toSeq.map { case (a, b) => hamming(sig(a), sig(b)) }
    // expected hamming for jaccard-0.8 pairs ≈ 64·arccos(cos)/π ≈ 11
    // (cos ~0.85-0.9 for these token multisets); 12 bounds the realized
    // distribution with headroom while staying far under the unrelated
    // expectation of 32 — the old bound of 8 was tuned to one hash
    // realization (xxhash64) and broke on the md5-derived hash r14
    // adopted for the DuckDB oracle
    assert(dists.forall(_ <= 12),
      s"near-dup hamming distances exceed 12: ${dists.filter(_ > 12)}")
    // sanity: unrelated docs are far apart — expected hamming 32 for random
    val far = sig.keys.toSeq.sorted.sliding(2).collect {
      case Seq(a, b) if !truth((a, b)) && !truth((b, a)) => hamming(sig(a), sig(b))
    }.toSeq
    assert(far.count(_ > 12).toDouble / far.size > 0.95,
      "unrelated docs should rarely collide under hamming 12")
  }

  test("d5b banded simhash pairs equal the brute-force hamming pairs") {
    val docs = Tables(spark, sf, "documents")
    val banded = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over collected signatures (test-side only)
    val sig = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sig; (b, sb) <- sig
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    // multi-block pigeonhole (3 clean blocks of 6) is EXACT for hamming <= 3:
    // sets must be equal
    assert(banded == brute,
      s"missing: ${(brute -- banded).take(5)}, extra: ${(banded -- brute).take(5)}")
    assert(banded.nonEmpty, "testdata should contain simhash near-dups")
  }

  test("d8 incrementalDedup accepts arbitrary batch predicates (semi-join re-binding)") {
    // the declared query uses doc_id % 7; a production caller splits on a
    // data column — verify the predicate re-binding against independently
    // derived ground truth for a source-based batch
    val docs = Tables(spark, sf, "documents")
    val isBatch = col("source") === "web"
    val out = Dedup.incrementalDedup(docs, isBatch)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batchIds = rows.collect { case (id, s, _) if s == "web" => id }.toSet
    assert(out.keySet == batchIds, "one output row per batch doc, none for corpus")
    // exact ground truth: md5(text) of batch doc appears in the corpus side
    val corpusTexts = rows.collect { case (_, s, t) if s != "web" => t }.toSet
    val expectedExact = rows.collect {
      case (id, "web", t) if corpusTexts.contains(t) => id
    }.toSet
    assert(out.collect { case (id, (true, _)) => id }.toSet == expectedExact,
      "dup_exact diverges from independent text-equality derivation")
    // near ground truth: exact jaccard >= 0.8 pairs with one side per set
    val corpusIds = rows.collect { case (id, s, _) if s != "web" => id }.toSet
    val expectedNear = exactPairs(0.8).collect {
      case (a, b) if batchIds(a) && corpusIds(b) => a
      case (a, b) if batchIds(b) && corpusIds(a) => b
    }.toSet
    assert(out.collect { case (id, (_, true)) => id }.toSet == expectedNear,
      "dup_near diverges from the exact cross-side jaccard pairs")
  }

  test("d8b incrementalDedupLsh: dup_exact identical, no false nears, recall >= 0.9 vs exact d8") {
    val docs = Tables(spark, sf, "documents")
    val isBatch = col("doc_id") % 7 === 0
    def flags(df: org.apache.spark.sql.DataFrame): Map[Long, (Boolean, Boolean)] =
      df.collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    val exact = flags(Dedup.incrementalDedup(docs, isBatch))
    val lsh = flags(Dedup.incrementalDedupLsh(docs, isBatch))
    assert(lsh.keySet == exact.keySet, "one output row per batch doc on both paths")
    assert(lsh.view.mapValues(_._1).toMap == exact.view.mapValues(_._1).toMap,
      "dup_exact is the md5 path — must be identical")
    val exactNear = exact.collect { case (id, (_, true)) => id }.toSet
    val lshNear = lsh.collect { case (id, (_, true)) => id }.toSet
    assert((lshNear -- exactNear).isEmpty,
      s"LSH candidates are exact-verified — false nears impossible: ${(lshNear -- exactNear).take(5)}")
    assert(exactNear.nonEmpty, "testdata should contain cross-side near-dups")
    assert(lshNear.size >= 0.9 * exactNear.size,
      s"LSH near recall ${lshNear.size}/${exactNear.size} below 0.9")
  }

  test("sim_ivf_ann: recall >= 0.8 vs brute-force top-10") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceKnn(probes, emb, k = 10))
    val ivf = pairs(IvfIndex.annSearch(probes, emb, k = 10, nClusters = 8, nProbe = 4))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall < 0.8")
  }

  test("sim_pq_ann: recall vs brute-force top-10, exact rerank cosines, valid codes") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val model = graft.llm.PqIndex.build(emb)
    // codes are well-formed: m entries, every code a trained centroid id
    val codeRows = model.encoded.collect()
    assert(codeRows.length == emb.count(), "one code row per vector")
    codeRows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.size == 8 && cs.forall(c => c >= 0 && c < 16),
        s"vec ${r.getLong(0)}: malformed codes $cs")
    }
    val exact = Similarity.bruteForceKnn(probes, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = graft.llm.PqIndex.search(model, probes, emb, k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    model.unpersist()
    assert(pq.size == exact.size, "k rows per probe")
    // the rerank is exact: any overlapping pair carries the identical cosine
    for ((pair, c) <- pq if exact.contains(pair))
      assert(c == exact(pair), s"$pair: rerank cosine $c != brute ${exact(pair)}")
    val recall = pq.keySet.count(exact.contains).toDouble / exact.size
    info(f"PQ recall@10 (shortlist 50) = $recall%.2f")
    assert(recall >= 0.6, s"PQ recall@10 (shortlist 50) $recall < 0.6")
  }

  test("sim_opq_ann: rotation is orthogonal, rerank exact, recall not below plain PQ floor") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val model = graft.llm.PqIndex.build(emb, opq = true)
    // the trained rotation really is orthogonal: RᵀR = I to 1e-9 — the
    // property that makes rotated-space ADC dots equal original-space dots
    // (and the back-rotation fold exact)
    val rot = model.rotation.get
    val dim = rot.size
    for (i <- 0 until dim; j <- i until dim) {
      val dot = (0 until dim).map(k => rot(i)(k) * rot(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"RRᵀ[$i][$j] = $dot, want $want")
    }
    // codes well-formed under rotation
    model.encoded.collect().foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.size == 8 && cs.forall(c => c >= 0 && c < 16),
        s"vec ${r.getLong(0)}: malformed codes $cs")
    }
    val exact = Similarity.bruteForceKnn(probes, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val opq = graft.llm.PqIndex.search(model, probes, emb, k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    model.unpersist()
    assert(opq.size == exact.size, "k rows per probe")
    // rerank never sees the rotation: overlapping cosines bit-equal
    for ((pair, c) <- opq if exact.contains(pair))
      assert(c == exact(pair), s"$pair: rerank cosine $c != brute ${exact(pair)}")
    val recall = opq.keySet.count(exact.contains).toDouble / exact.size
    info(f"OPQ recall@10 (shortlist 50) = $recall%.2f")
    assert(recall >= 0.6, s"OPQ recall@10 (shortlist 50) $recall < 0.6")
  }

  test("sim_ivfpq_ann: results come from routed cells, rerank exact, recall measured") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val ivf = IvfIndex.build(emb, nClusters = 8)
    val pq = graft.llm.PqIndex.build(emb)
    val got = graft.llm.PqIndex
      .searchIvfPq(ivf, pq, probes, emb, k = 10, shortlist = 50, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every candidate must live in one of its probe's 4 routed cells —
    // the IVF tier really pruned the scan
    val cellOf = ivf.assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val routed = IvfIndex.route(ivf, probes, 4).select("probe_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    for (((pid, cid), _) <- got)
      assert(routed.contains((pid, cellOf(cid))),
        s"pair ($pid,$cid) came from unrouted cell ${cellOf(cid)}")
    // rerank is exact where the answer overlaps brute force
    val exact = Similarity.bruteForceKnn(probes, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((pair, c) <- got if exact.contains(pair))
      assert(c == exact(pair), s"$pair: rerank cosine $c != brute ${exact(pair)}")
    val recall = got.keySet.count(exact.contains).toDouble / exact.size
    info(f"IVFPQ recall@10 (nProbe 4/8, shortlist 50) = $recall%.2f")
    assert(recall >= 0.5, s"IVFPQ recall $recall < 0.5")
    ivf.unpersist(); pq.unpersist()
  }

  test("sim_ivfpqr_ann: residual codes, routed cells only, rerank exact, recall >= raw IVFPQ") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val ivf = IvfIndex.build(emb, nClusters = 8)
    val res = graft.llm.PqIndex.buildIvfPq(ivf, emb, m = 8, ksub = 16)
    // the inverted lists carry one row per vector, cell-keyed, with the
    // stored EXACT norm (what removes the approximate norm lookup)
    val cc = res.cellCodes.collect()
    assert(cc.length == emb.count(), "inverted lists must cover the corpus")
    val normOf = emb.select(col("vec_id"),
        sqrt(Similarity.dotNative(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (r <- cc.take(50))
      assert(r.getAs[Double]("vnorm") == normOf(r.getAs[Long]("vec_id")),
        "stored norm must be the exact vector norm")
    val got = graft.llm.PqIndex
      .searchIvfPqResidual(ivf, res, probes, emb, k = 10, shortlist = 50, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // routed-cells-only + exact-rerank contracts, as sim_ivfpq_ann
    val cellOf = ivf.assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val routed = IvfIndex.route(ivf, probes, 4).select("probe_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    for (((pid, cid), _) <- got)
      assert(routed.contains((pid, cellOf(cid))),
        s"pair ($pid,$cid) came from unrouted cell ${cellOf(cid)}")
    val exact = Similarity.bruteForceKnn(probes, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((pair, c) <- got if exact.contains(pair))
      assert(c == exact(pair), s"$pair: rerank cosine $c != brute ${exact(pair)}")
    // residual codes must do at least as well as raw codes at the same
    // config (the design claim; at 2M×256 the gap was 0.06 vs 1.0)
    val pq = graft.llm.PqIndex.build(emb)
    val rawGot = graft.llm.PqIndex
      .searchIvfPq(ivf, pq, probes, emb, k = 10, shortlist = 50, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.keySet.count(exact.contains).toDouble / exact.size
    val rawRecall = rawGot.count(exact.contains).toDouble / exact.size
    info(f"residual IVFPQ recall@10 = $recall%.2f vs raw $rawRecall%.2f")
    assert(recall >= rawRecall - 1e-9,
      s"residual recall $recall must not trail raw $rawRecall")
    ivf.unpersist(); res.unpersist(); pq.unpersist()
  }

  test("staged rerank (r17): fine tier roundtrips the persisted store, full-depth " +
      "staged == plain pair-for-pair, small refineKeep keeps exact cosines and recall") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val probes = emb.filter(col("vec_id") < 5)
    val ivf = IvfIndex.build(emb, nClusters = 8)
    val res = graft.llm.PqIndex.buildIvfPq(ivf, emb, m = 8, ksub = 16, refineKsub = 256)
    assert(res.refineCodebooks.isDefined, "refineKsub > 0 must train the fine tier")
    assert(res.cellCodes.columns.contains("codes_fine"),
      "the fine codes ride in the same inverted-list rows")
    // roundtrip: save → load preserves both codebook tiers and the column
    val dir = scratch("spec_staged")
    graft.llm.PqIndex.saveIvfPq(res, dir)
    val loaded = graft.llm.PqIndex.loadIvfPq(spark, dir)
    assert(loaded.refineCodebooks == res.refineCodebooks,
      "fine codebooks must survive the store roundtrip bit-for-bit")
    assert(loaded.cellCodes.columns.contains("codes_fine"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // full-depth staged (refineKeep keeps the whole shortlist) must equal
    // the plain path pair-for-pair — the staged plumbing adds a stage, not
    // a semantics change
    val plain = pairs(graft.llm.PqIndex.searchIvfPqResidual(
      ivf, loaded, probes, emb, k = 10, shortlist = n + 1, nProbe = 8))
    val fullDepth = pairs(graft.llm.PqIndex.searchIvfPqResidual(
      ivf, loaded, probes, emb, k = 10, shortlist = n + 1, nProbe = 8, refineKeep = n))
    assert(fullDepth == plain,
      s"full-depth staged diverged: ${(plain.toSet diff fullDepth.toSet).take(3)}")
    // a genuinely small refineKeep (the production shape): returned pairs
    // still carry EXACT cosines, and the 256-code ≤4-dim fine tier ranks
    // well enough that top-10 recall vs the plain path stays high
    val staged = pairs(graft.llm.PqIndex.searchIvfPqResidual(
      ivf, loaded, probes, emb, k = 10, shortlist = n + 1, nProbe = 8, refineKeep = 20))
    val exact = Similarity.bruteForceKnn(probes, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((pair, c) <- staged if exact.contains(pair))
      assert(c == exact(pair), s"$pair: staged rerank cosine $c != brute ${exact(pair)}")
    val recall = staged.keySet.count(plain.contains).toDouble / plain.size
    info(f"staged(refineKeep=20) recall vs plain = $recall%.2f")
    assert(recall >= 0.9, s"staged recall $recall < 0.9 vs the plain shortlist path")
    // dispatch: refineKeep >= shortlist must take the plain path (the
    // test-scale no-op contract every declared query relies on)
    val dispatched = pairs(graft.llm.PqIndex.searchIvfPqResidual(
      ivf, loaded, probes, emb, k = 10, shortlist = 50, nProbe = 8, refineKeep = 50))
    val plain50 = pairs(graft.llm.PqIndex.searchIvfPqResidual(
      ivf, loaded, probes, emb, k = 10, shortlist = 50, nProbe = 8))
    assert(dispatched == plain50, "refineKeep >= shortlist must be the plain path")
    // fine subspace sizing: widest ≤4-dim split that divides dim
    assert(graft.llm.PqIndex.refineM(256) == 64 && graft.llm.PqIndex.refineM(64) == 16 &&
      graft.llm.PqIndex.refineM(6) == 2 && graft.llm.PqIndex.refineM(7) == 7)
    graft.data.Frames.deleteRecursively(new java.io.File(dir))
    ivf.unpersist(); res.unpersist()
  }

  test("sim_ivfpqr_append: day-2 vectors enter the persisted lists idempotently, " +
      "day-1 rows untouched, appended probes exact at full depth, base never sees day-2") {
    val emb = Tables(spark, sf, "embeddings")
    val day1 = emb.filter(col("vec_id") % 10 =!= 9)
    val day2 = emb.filter(col("vec_id") % 10 === 9)
    val ivf = IvfIndex.build(day1, nClusters = 8)
    val built = graft.llm.PqIndex.buildIvfPq(ivf, day1, m = 8, ksub = 16)
    val dir = scratch("append_spec")
    graft.llm.PqIndex.saveIvfPq(built, dir); built.unpersist()
    val base = graft.llm.PqIndex.loadIvfPq(spark, dir)
    val baseRows = base.cellCodes.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cell"), r.getAs[Double]("vnorm"), r.getAs[Seq[Int]]("codes"))).toMap
    // negative control: the base index (loaded BEFORE the append, so its
    // file listing is the day-1 snapshot) cannot return day-2 candidates
    val probes2 = day2.filter(col("vec_id") < 100)
    val baseGot = graft.llm.PqIndex.searchIvfPqResidual(
        ivf, base, probes2, emb, k = 10, shortlist = 500, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(baseGot.nonEmpty, "negative control must return rows")
    assert(baseGot.forall(_._2 % 10 != 9),
      "the un-appended index must be blind to day-2 vectors")
    // append the batch TWICE: dynamic partition overwrite replaces batch=1,
    // so re-running a crawl batch cannot duplicate its rows
    graft.llm.PqIndex.appendIvfPq(ivf, base, day2, dir)
    val appended = graft.llm.PqIndex.appendIvfPq(ivf, base, day2, dir)
    val cc = appended.cellCodes.collect()
    assert(cc.length == emb.count(),
      s"appended lists must cover the merged corpus exactly once, got ${cc.length}")
    // day-1 rows byte-identical (append never rewrites base partitions)
    for (r <- cc if r.getAs[Long]("vec_id") % 10 != 9) {
      val want = baseRows(r.getAs[Long]("vec_id"))
      assert((r.getAs[Int]("cell"), r.getAs[Double]("vnorm"),
        r.getAs[Seq[Int]]("codes")) == want, s"day-1 row ${r.getAs[Long]("vec_id")} changed")
    }
    // day-2 assignment = nearest existing centroid; codes from the FROZEN
    // day-1 codebooks — re-derive one batch independently
    val cents = ivf.centroids.toMap
    val d2 = day2.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for (r <- cc if r.getAs[Long]("vec_id") % 10 == 9) {
      val v = d2(r.getAs[Long]("vec_id"))
      val nearest = cents.minBy { case (_, c) =>
        v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum }._1
      assert(r.getAs[Int]("cell") == nearest,
        s"day-2 vec ${r.getAs[Long]("vec_id")} not in its nearest centroid's cell")
      assert(r.getAs[Double]("vnorm") ==
        math.sqrt(v.map(x => x * x).sum), "stored norm must be exact")
    }
    // at full depth (nProbe = all cells, shortlist >= corpus) the appended
    // index is provably EXACT: pair-for-pair equal to brute force on the
    // merged corpus, day-2 candidates included
    val got = graft.llm.PqIndex.searchIvfPqResidual(
        ivf, appended, probes2, emb, k = 10, shortlist = 500, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.bruteForceKnn(probes2, emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == exact,
      s"full-depth search on the appended index must equal merged brute force " +
        s"(got ${got.size} pairs, want ${exact.size})")
    assert(got.keys.exists(_._2 % 10 == 9),
      "merged neighbors must include day-2 vectors (planted same-cluster dups)")

    // ---- COMPACTION (sim_ivfpqr_compact): batches [0..1] rewritten into
    // one consolidated cell-partitioned base, batch kept as a data
    // column; probe results identical at full depth; delta trees gone;
    // closed batches refuse re-append; OPEN batches still appendable ----
    val preRows = appended.cellCodes.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("vnorm"), r.getAs[Seq[Int]]("codes"))).toSet
    def parquetFiles(root: java.io.File): Int =
      if (!root.isDirectory) 0
      else root.listFiles().map(f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) 1 else 0).sum
    val preFiles = parquetFiles(new java.io.File(s"$dir/lists"))
    graft.llm.PqIndex.compactIvfPq(spark, dir, upTo = 1)
    val compacted = graft.llm.PqIndex.loadIvfPq(spark, dir)
    val postRows = compacted.cellCodes.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("vnorm"), r.getAs[Seq[Int]]("codes"))).toSet
    assert(postRows == preRows, "compaction changed list content")
    val gotPost = graft.llm.PqIndex.searchIvfPqResidual(
        ivf, compacted, probes2, emb, k = 10, shortlist = 500, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotPost == got, "full-depth probe results changed across compaction")
    val deltaTrees = Option(new java.io.File(s"$dir/lists").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("batch=")).map(_.getName)
    assert(deltaTrees.isEmpty,
      s"compacted delta trees must be dropped, found: ${deltaTrees.mkString(",")}")
    // the live base resolves through the atomic manifest (r16, advice #2):
    // compaction writes a versioned dir and swaps the pointer
    val liveBase = graft.llm.PqIndex.liveListsBaseDir(dir)
    assert(liveBase.endsWith("lists_base_v1"),
      s"compaction must swap the manifest to the versioned base dir, got $liveBase")
    val baseCells = new java.io.File(liveBase).listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(baseCells.length == 8, "base zone must keep the cell= partition layout")
    // consolidation bound: each of the ≤8 range buckets writes one file
    // per cell it straddles, so total files ≤ budget + cells − 1 (a
    // skewed cell may legitimately span several buckets) — and strictly
    // fewer than the two batch trees it replaced
    val postFiles = parquetFiles(new java.io.File(liveBase))
    assert(postFiles <= 15 && postFiles < preFiles,
      s"compaction must consolidate files: $preFiles -> $postFiles")
    // batch column survives as data (the as-of provenance the verdict's
    // "preserving batch_id values" contract requires)
    val batches = spark.read.parquet(liveBase)
      .select("batch").distinct().collect().map(_.getInt(0)).toSet
    assert(batches == Set(0, 1), s"base must preserve batch values, got $batches")
    val closed = intercept[IllegalStateException](
      graft.llm.PqIndex.appendIvfPq(ivf, compacted, day2, dir, batchId = 1))
    assert(closed.getMessage.contains("compacted"), "closed-batch guard must fire")
    // an OPEN batch id still appends (two-zone union covers both)
    val day3probe = day2.filter(col("vec_id") % 100 === 19)
    val after = graft.llm.PqIndex.appendIvfPq(ivf, compacted, day3probe, dir, batchId = 2)
    assert(after.cellCodes.count() == emb.count() + day3probe.count(),
      "post-compaction append must land beside the base zone")
    // SERVE-WHILE-APPEND (r15, ask #7): concurrent probes race a batch-3
    // append. The staged-write + single-rename publish means every reader
    // sees the store PRE (no batch 3) or POST (the whole batch 3) — a
    // partially-visible batch (the in-place committer's cell-by-cell
    // window) would surface here as an intermediate row count.
    val day4 = day2.filter(col("vec_id") % 100 === 29)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val preN = graft.llm.PqIndex.loadIvfPq(spark, dir).cellCodes.count()
    val day4N = day4.count()
    @volatile var appendErr: Option[Throwable] = None
    val appender = new Thread(() =>
      try graft.llm.PqIndex.appendIvfPq(ivf, after, day4, dir, batchId = 3)
      catch { case e: Throwable => appendErr = Some(e) })
    appender.start()
    var observed = List.empty[Long]
    while (appender.isAlive && observed.length < 200)
      observed ::= graft.llm.PqIndex.loadIvfPq(spark, dir).cellCodes.count()
    appender.join()
    assert(appendErr.isEmpty, s"concurrent append failed: $appendErr")
    val torn = observed.filter(n => n != preN && n != preN + day4N)
    assert(torn.isEmpty,
      s"probes saw a partially-published batch: $torn (pre=$preN post=${preN + day4N})")
    assert(graft.llm.PqIndex.loadIvfPq(spark, dir).cellCodes.count() == preN + day4N,
      "post-append store must carry the full batch")
    // BACKWARD-HORIZON GUARD (r15, advice #1): compacting below the
    // already-compacted horizon must refuse (it would drop batch 1's rows,
    // whose delta tree is gone)
    intercept[IllegalArgumentException](
      graft.llm.PqIndex.compactIvfPq(spark, dir, upTo = 0))
    // PARTIAL-SWAP IMMUNITY (r15, advice #2): a stale delta tree at/below
    // the marker (crash between marker write and delta delete) must be
    // ignored by the zone union, never double-counted
    val liveRows = graft.llm.PqIndex.loadIvfPq(spark, dir).cellCodes.count()
    compacted.cellCodes.filter(col("vec_id") % 10 =!= 9)
      .select("vec_id", "vnorm", "codes")
      .write.parquet(s"$dir/lists/batch=0/cell=3")
    assert(graft.llm.PqIndex.loadIvfPq(spark, dir).cellCodes.count() == liveRows,
      "stale compacted delta tree must be filtered by the read path")
    ivf.unpersist()
  }

  test("sim_align_filter: keep = rounded-score threshold AND the shared t11 gate; both outcomes live") {
    val rows = SparkEntry.queries("sim_align_filter")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3)))
    assert(rows.length == 500, "one row per joined doc/embedding")
    // quality_ok must be EXACTLY the shared gate (no drift between ops)
    val gate = Tables(spark, sf, "documents")
      .select(col("doc_id"), graft.llm.TextStats.qualityPass.as("q"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    rows.foreach { case (id, score, qok, keep) =>
      assert(qok == gate(id), s"doc $id: quality_ok drifted from the t11 gate")
      assert(keep == (score >= 0.2 && qok), s"doc $id: keep must be score>=0.2 AND gate")
    }
    assert(rows.exists(_._4) && rows.exists(!_._4), "both keep outcomes live")
    // the score half must be live on its own (some quality-passing doc
    // must fail alignment — otherwise the embedding gate is vacuous)
    assert(rows.exists(r => r._3 && !r._4), "alignment must reject some quality-passing doc")
  }

  test("sim_near_dup_ivf: subset of exact pairs with identical cosines, recall >= 0.6") {
    val exact = SparkEntry.queries("sim_near_dup_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = SparkEntry.queries("sim_near_dup_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // zero false positives, and every reported cosine matches the exact one
    ivf.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"IVF pair $pair not in exact pair set")
      assert(exact(pair) == cos, s"IVF cosine $cos != exact ${exact(pair)} for $pair")
    }
    // recall = cell-routing hit rate; the testdata embeddings are only
    // weakly clustered (the sim_ivf_ann rationale), so the bound is looser
    // than the LSH families' 0.9 — sharper corpora raise it at fixed nProbe
    val recall = ivf.keySet.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF near-dup recall $recall < 0.6 (${ivf.size}/${exact.size})")
  }

  test("blocked near-dup kernel is bit-identical to the Catalyst join path") {
    // the big-pair-volume regime dispatches to the packed-array kernel
    // (measured 99 → 36 s median at sf10 embeddings on 4 cores) — same
    // sequential dot fold, same hoisted norms, same HALF_UP 6-dp rounding,
    // so the two paths must agree EXACTLY, not approximately
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") % 10 === 0)
    val index = IvfIndex.build(emb, nClusters = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // spec-scale volume is far below the dispatch floor, so the declared
    // query takes the join path — drive the kernel directly on the same
    // routed frame
    val joined = rows(IvfIndex.nearDupPairs(index, probes, threshold = 0.3, nProbe = 4))
    val kernel = rows(IvfIndex.nearDupPairsBlocked(index,
      IvfIndex.route(index, probes, nProbe = 4), threshold = 0.3))
    assert(kernel == joined,
      s"kernel/join drift: only-kernel=${(kernel -- joined).take(3)}, only-join=${(joined -- kernel).take(3)}")
    assert(kernel.nonEmpty, "spec corpus must produce near-dup pairs")
    index.unpersist()
  }

  test("top-k Aggregator output equals the window-rank formulation exactly") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 7)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val window = rows(Similarity.bruteForceKnn(probes, emb, k = 10))
    val agg = rows(Similarity.bruteForceKnnAgg(probes, emb, k = 10)
      .select(col("probe_id"), col("cand_id"), col("cosine"), col("rn").cast("int")))
    assert(window == agg)
  }

  test("native codegen cosine is bit-identical to the higher-order formulation") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("e").as("pe")).crossJoin(emb)
    val rows = probe.select(
      col("vec_id"),
      Similarity.cosine(col("pe"), col("e")).as("native"),
      Similarity.cosineHof(col("pe"), col("e")).as("hof")).collect()
    assert(rows.length > 0)
    // bit-identical, not approximately equal — same accumulation order
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("native codegen SqDist is bit-identical to the higher-order formulation") {
    // routing decisions (incl. ties) must be unchanged by the r14 codegen
    // swap in IvfIndex.route — same per-element expression, same fold order
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("e").as("pe")).crossJoin(emb)
    val rows = probe.select(
      col("vec_id"),
      Similarity.sqDistNative(col("pe"), col("e")).as("native"),
      aggregate(zip_with(col("pe"), col("e"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, v) => a + v).as("hof")).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("prebuilt IVF index serves multiple probe workloads without refitting") {
    val emb = Tables(spark, sf, "embeddings")
    val index = IvfIndex.build(emb, nClusters = 8)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("probe_id", "cand_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val first = pairs(IvfIndex.search(index, emb.filter(col("vec_id") < 5), k = 10, nProbe = 4))
      val second = pairs(IvfIndex.search(index, emb.filter(col("vec_id").between(5, 9)), k = 10, nProbe = 4))
      assert(first.nonEmpty && second.nonEmpty)
      // same index, same probes → identical results (deterministic routing)
      val firstAgain = pairs(IvfIndex.search(index, emb.filter(col("vec_id") < 5), k = 10, nProbe = 4))
      assert(first == firstAgain)
    } finally index.unpersist()
  }

  test("persisted IVF index round-trips: load serves probes with no refit, same results") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val built = IvfIndex.build(emb, nClusters = 8)
    val dir = scratchDir("ivf_rt")
    try {
      val inMem = rows(IvfIndex.search(built, probes, k = 10, nProbe = 4)
        .select(col("probe_id"), col("cand_id"), col("cosine"), col("rn").cast("int")))
      IvfIndex.save(built, dir)
      val loaded = IvfIndex.load(spark, dir)
      // centroids survive parquet exactly (doubles are bit-preserved)
      assert(loaded.centroids.map(_._1) == built.centroids.map(_._1))
      (loaded.centroids zip built.centroids).foreach { case ((_, a), (_, b)) =>
        assert(a.toSeq == b.toSeq)
      }
      // probe results off the on-disk, cell-partitioned layout are identical
      val fromDisk = rows(IvfIndex.search(loaded, probes, k = 10, nProbe = 4)
        .select(col("probe_id"), col("cand_id"), col("cosine"), col("rn").cast("int")))
      assert(fromDisk == inMem)
      // the loaded corpus is the partitioned layout (one dir per cell), so
      // probe-time cell routing reads a pruned subset of files at scale
      val cellDirs = new java.io.File(s"$dir/corpus").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.length == 8, s"expected 8 cell partitions, got ${cellDirs.length}")
    } finally built.unpersist()
  }

  test("approx_percentile lands within the exact per-group quantile neighborhood") {
    val cust = Tables(spark, sf, "customer")
    val exact = cust.groupBy("c_nationkey")
      .agg(expr("percentile(c_acctbal, 0.5)").as("m")).collect()
      .map(r => r.get(0) -> r.getDouble(1)).toMap
    val approx = cust.groupBy("c_nationkey")
      .agg(expr("approx_percentile(c_acctbal, 0.5, 1000)").as("m")).collect()
      .map(r => r.get(0) -> r.getDouble(1)).toMap
    // acctbal spans about [-1000, 10000]; a 1000-bucket sketch median must
    // land within 5% of that range of the exact median
    val span = 11000.0
    approx.foreach { case (k, v) =>
      assert(math.abs(v - exact(k)) <= 0.05 * span, s"group $k: approx $v vs exact ${exact(k)}")
    }
  }

  test("a3 approx_count_distinct within 2% of exact") {
    val li = Tables(spark, sf, "lineitem")
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("p"),
      countDistinct(col("l_orderkey")).as("o")).head()
    val approx = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("p"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("o")).head()
    def relErr(a: Long, e: Long): Double = math.abs(a - e).toDouble / e
    assert(relErr(approx.getLong(0), exact.getLong(0)) <= 0.02)
    assert(relErr(approx.getLong(1), exact.getLong(1)) <= 0.02)
  }

  test("m2 media features: REAL PNG decode reproduces the generator's exact pixel means") {
    import graft.llm.Multimodal
    val doc = Tables(spark, sf, "documents")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    // the media column carries genuine PNGs: magic bytes prove the format
    val png = Multimodal.pngFromText(0L, doc)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G',
      "generated payload must be a real PNG")
    // golden means from the FILL RULE (not a decode round trip): equality
    // proves imageio decode recovered every pixel the generator set
    val bytes = doc.getBytes("UTF-8")
    val n = Multimodal.GenDim * Multimodal.GenDim
    val px = (0 until n).map(i => Multimodal.genPixel(0L, bytes, i))
    def mean(f: ((Int, Int, Int)) => Int) = px.map(f(_).toLong).sum.toDouble / n
    val row = SparkEntry.queries("m2_media_features")(spark, sf)
      .filter(col("media_id") === 0).head()
    assert(row.getInt(1) == Multimodal.GenDim && row.getInt(2) == Multimodal.GenDim,
      "decoded dimensions mismatch")
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    assert(row.getDouble(3) == r6(mean(_._1)), "decoded mean_r mismatch")
    assert(row.getDouble(4) == r6(mean(_._2)), "decoded mean_g mismatch")
    assert(row.getDouble(5) == r6(mean(_._3)), "decoded mean_b mismatch")
  }

  test("m4 resize: decoded 8x8 output equals the exact 2x2 block means of the source pixels") {
    import graft.llm.Multimodal
    val doc = Tables(spark, sf, "documents")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    val bytes = doc.getBytes("UTF-8")
    val dim = Multimodal.GenDim
    def srcPx(x: Int, y: Int) = Multimodal.genPixel(0L, bytes, y * dim + x)
    // fetch the resized payload through the declared pipeline pieces and
    // decode it HERE: PNG is lossless, so every 8×8 pixel must equal the
    // integer block mean of its 2×2 source block
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(spark, sf).filter(_.media_id == 0L)
    val resized = Multimodal.resize(media, targetDim = 8).head()
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized.payload))
    assert(img.getWidth == 8 && img.getHeight == 8, "resized dims mismatch")
    for (y <- 0 until 8; x <- 0 until 8) {
      val block = for (dy <- 0 to 1; dx <- 0 to 1) yield srcPx(x * 2 + dx, y * 2 + dy)
      val (er, eg, eb) = (block.map(_._1).sum / 4, block.map(_._2).sum / 4, block.map(_._3).sum / 4)
      val p = img.getRGB(x, y)
      assert(((p >> 16) & 0xff) == er && ((p >> 8) & 0xff) == eg && (p & 0xff) == eb,
        s"block mean mismatch at ($x,$y)")
    }
    // the declared m4 row carries the hash/size of exactly these bytes
    val row = SparkEntry.queries("m4_resize")(spark, sf)
      .filter(col("media_id") === 0).head()
    assert(row.getLong(1) == resized.payload.length.toLong, "resized_bytes mismatch")
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(row.getString(2) == md.digest(resized.payload).map(b => f"$b%02x").mkString,
      "resized_hash mismatch")
  }

  test("stop-shingle pruning kills boilerplate pair blowup, keeps true near-dups") {
    Frames.scope("stop-shingle pruning") {
      import spark.implicits._
      // synthetic skew: 40 docs sharing a 30-token boilerplate footer; docs 0
      // and 1 are additionally true near-dups of each other (same unique body)
      val boiler = (1 to 30).map(i => s"footer$i").mkString(" ")
      val docs = (0 until 40).map { i =>
        val body = if (i <= 1) "alpha beta gamma delta epsilon zeta eta theta"
                   else (1 to 8).map(j => s"u${i}_$j").mkString(" ")
        (i.toLong, s"$body $boiler")
      }.toDF("doc_id", "text")
      // unbounded: every one of the 40*39/2 pairs shares the footer shingles
      val unbounded = Dedup.exactNgramJaccardPairs(docs, 0.0).count()
      assert(unbounded == 40L * 39 / 2, s"expected full pair space, got $unbounded")
      // bounded at maxDf=5: footer shingles (df=40) pruned from the
      // intersection — boilerplate-only pairs vanish, the planted near-dup
      // pair survives with jaccard from its unique body
      val bounded = Dedup.boundedScoredPairs(docs, maxDf = 5)
      val pairs = bounded.filter(col("jaccard") >= 0.1)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((0L, 1L)), s"expected only the planted near-dup pair, got $pairs")
    }
  }

  test("sampling operators are reproducible: re-run and repartition invariant") {
    // the design claim behind p5/w8/w9: the sample is a pure function of row
    // keys, so a retry or a different partitioning yields the SAME rows —
    // verify by running twice, the second time over a repartitioned source
    def rows(name: String): Set[Seq[Any]] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toSeq).toSet
    val first = Seq("p5_hash_sample", "w8_sample_topk", "w9_weighted_sample").map(rows)
    val again = Seq("p5_hash_sample", "w8_sample_topk", "w9_weighted_sample").map(rows)
    assert(first == again, "sampling not reproducible across runs")
    // repartition invariance for the filter-style sample (w8's top-k is
    // order-based and already proven equal across two full runs above)
    val li = Tables(spark, sf, "lineitem").repartition(7)
    val sampled = li
      .filter(md5((col("l_orderkey") * 65536 + col("l_linenumber")).cast("string")) < "1a")
      .agg(count(lit(1)), sum(col("l_orderkey"))).head()
    val direct = SparkEntry.queries("p5_hash_sample")(spark, sf).head()
    assert(sampled.getLong(0) == direct.getLong(0) && sampled.getLong(1) == direct.getLong(1),
      "hash sample changed under repartitioning")
  }

  test("connectedComponents labels a 50-long chain and isolated nodes by component minimum") {
    import spark.implicits._
    // a 50-diameter path graph (49 undirected pairs) plus five nodes no
    // pair touches: the chain is one component labelled 0, each isolated
    // node labels itself
    val chain = (0L until 49L).map(i => (i, i + 1))
    val pairs = chain.toDF("doc_a", "doc_b")
    val nodes = ((0L to 49L) ++ (100L to 104L)).toDF("node")
    val labels = Dedup.connectedComponents(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (ufNodes, ufLabels) = Dedup.unionFindMinLabel(
      chain.map(_._1).toArray, chain.map(_._2).toArray)
    assert(ufNodes.zip(ufLabels).forall { case (n, l) => labels(n) == l },
      "connectedComponents labels differ from the driver union-find")
    assert((0L to 49L).forall(labels(_) == 0L), s"chain not fully labeled: $labels")
    assert((100L to 104L).forall(i => labels(i) == i), "isolated nodes mislabeled")
  }

  test("keyUniform raises loudly for keys outside [0, 2^31)") {
    import spark.implicits._
    val ok = Seq(0L, 1L, 2147483647L).toDF("k")
      .select(graft.llm.Sampling.keyUniform(col("k")).as("u")).collect()
    assert(ok.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0))
    val boom = intercept[Exception] {
      Seq(2147483648L).toDF("k")
        .select(graft.llm.Sampling.keyUniform(col("k")).as("u")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(boom).exists(_.contains("keyUniform")), s"wrong error: $boom")
  }

  test("AQE splits a planted 100x-skewed key on the lineitem-orders join shape") {
    // The j2/j3 fact-dim joins rely on AQE's skew-join handling when a hot
    // key appears at scale (one key holding ~half the fact rows — the
    // regime where a static shuffle plan serializes on one straggler task).
    // Plant that regime small and assert the runtime actually re-plans:
    // the finalized adaptive plan must mark the join skew-handled.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    try {
      // force a shuffle join (no broadcast) and thresholds small enough
      // that the planted hot partition counts as skewed at test size
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "131072")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      // fact: 200k rows, HALF on key 1 (the hot customer), rest uniform.
      // The payload must be high-entropy: AQE sizes partitions from
      // COMPRESSED shuffle bytes, and a constant pad (or the pruned-away
      // key alone) compresses the planted skew out of existence.
      val fact = spark.range(200000).select(
        when(col("id") % 2 === 0, lit(1L)).otherwise(col("id") % 10000).as("k"),
        col("id").as("v"), md5(col("id").cast("string")).as("pad"))
      val dim = spark.range(10000).select(col("id").as("k"), col("id").as("w"))
      // global agg downstream: a groupBy on the join key would pin the
      // join's output partitioning (AQE refuses to split a skewed partition
      // another operator still requires) — the j2/x-composition shapes
      // aggregate on OTHER columns, which is the regime being locked here
      // max(pad) keeps the payload column alive through the join's column
      // pruning, so the shuffled rows carry their real width
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(col("w") === 1L cast "long").as("n_hot"),
          max(col("pad")).as("p"))
      val row = joined.collect().head
      // correctness under the re-plan: every fact row matches exactly one
      // dim row; the hot key keeps all 100020 rows (100k even ids + the 20
      // odd ids ≡ 1 mod 10000)
      assert(row.getLong(0) == 200000L && row.getLong(1) == 100020L, s"wrong agg: $row")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (plan:\n${plan.take(2000)})")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("alignByValue: partition index == shard value, 1:1 shard -> output file") {
    import spark.implicits._
    import org.apache.spark.TaskContext
    val n = 8
    // every shard value present with skewed counts (the regime where plain
    // hash repartition collides shards into shared files)
    val df = (0 until 2000).map(i => (i.toLong, (i % n).toLong)).toDF("doc_id", "shard_id")
    val aligned = graft.ops.Partitioning.alignByValue(df, col("shard_id"), n)
    val placed = aligned
      .select(col("shard_id"))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.map(r => (pid, r.getLong(0)))
      }.distinct().collect()
    assert(placed.length == n, s"expected $n (partition, shard) placements: ${placed.toSeq}")
    assert(placed.forall { case (pid, shard) => pid.toLong == shard },
      s"partition index != shard value: ${placed.toSeq.sorted}")

    // and through the x4 sink: exactly one TFRecord file per shard, file k
    // holding only shard k (sorted listing == shard order for the loader)
    val tmp = scratchDir("align")
    aligned.write.mode("overwrite").format("tfrecord").save(tmp)
    val files = graft.sources.Datasets.dataFiles(spark, tmp)
    assert(files.length == n, s"expected $n shard files, got ${files.length}")
    files.zipWithIndex.foreach { case (f, k) =>
      val shards = spark.read.format("tfrecord")
        .schema("doc_id BIGINT, shard_id BIGINT").load(f)
        .select("shard_id").distinct().as[Long].collect().toSeq
      assert(shards == Seq(k.toLong), s"file $f holds shards $shards, expected $k")
    }
  }

  test("d9 bloom prefilter: exact result, probe is a map-side might_contain") {
    val docs = Tables(spark, sf, "documents")
    val isBatch = col("doc_id") % 7 === 0
    val d9 = Dedup.bloomIncrementalDedup(docs, isBatch)

    // ground truth from an independent formulation: plain semi-join of batch
    // fingerprints against corpus fingerprints, no bloom anywhere
    val batch = docs.filter(isBatch).select(col("doc_id"), md5(col("text")).as("h"))
    val corpus = docs.filter(!isBatch).select(md5(col("text")).as("h"))
    val expectDup = batch.join(corpus, Seq("h"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = d9.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got.map(_._1).toSet == batch.select("doc_id").collect().map(_.getLong(0)).toSet,
      "d9 must emit every batch row exactly once")
    assert(got.filter(_._2).map(_._1).toSet == expectDup,
      "bloom prefilter changed the exact answer (false negative or lost row)")
    assert(got.forall { case (_, dup, keep) => keep == !dup })

    // the probe must be the subquery-fed might_contain filter, BEFORE the
    // exact-verify join (that ordering is the operator's entire point)
    val plan = d9.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe filter missing from the optimized plan:\n$plan")

    // degenerate corpus = empty (everything is batch): NULL filter matches
    // nothing, every row keeps
    val allBatch = Dedup.bloomIncrementalDedup(docs, lit(true)).collect()
    assert(allBatch.forall(r => !r.getBoolean(1) && r.getBoolean(2)))

    // the prefilter's point: rows surviving to the exact-verify join are
    // ~(true dups + fpp·batch), a small fraction of the batch — rebuild the
    // candidate frame exactly as the operator does and measure selectivity
    val bloom = corpus.agg(graft.functions.BloomMembership
      .bloomAgg(col("h"), 1000000L, 8388608L).as("bf"))
    val nCand = batch.filter(graft.functions.BloomMembership.mightContain(
      org.apache.spark.sql.GraftExpressionBridge.scalarSubquery(bloom), col("h"))).count()
    val nBatch = batch.count()
    assert(nCand <= expectDup.size + math.max(2L, (0.05 * nBatch).toLong),
      s"bloom passed $nCand of $nBatch batch rows (true dups: ${expectDup.size}) — " +
        "prefilter is not selective, the verify shuffle would carry the whole batch")
  }

  test("mixture: x5 weights form a distribution, x6 realizes it deterministically") {
    val x5 = SparkEntry.queries("x5_mixture_weights")(spark, sf).collect()
    val wSum = x5.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    assert(x5.forall(_.getAs[Long]("alloc_tokens") >= 0L))
    assert(x5.map(_.getAs[Long]("alloc_tokens")).sum <= 1000000L,
      "floor-allocation must never exceed the token budget")
    // sqrt temperature flattens the distribution: every domain's weight is
    // strictly positive (low-resource domains never vanish)
    assert(x5.forall(_.getAs[Double]("weight") > 0.0))

    val run1 = SparkEntry.queries("x6_mixture_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val run2 = SparkEntry.queries("x6_mixture_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(run1.sameElements(run2), "hash-based sample must be re-run invariant")
    val nDocs = Tables(spark, sf, "documents").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run1.forall { case (src, kept, _) => kept <= nDocs(src) })
  }

  test("dedup caches are per-corpus: same-schema corpora in one session never collide") {
    // regression: the plan-string cache key printed no file path, so a
    // second same-schema corpus silently reused the first one's shingles
    val small = Tables(spark, "/root/testdata/sf0.001", "documents")
    val big = Tables(spark, sf, "documents")
    // both dirs hold 500 docs with DIFFERENT texts — discriminate on the
    // shingle content, not the row count
    val nSmall = Dedup.sharedTokens(small).select(countDistinct("h")).head.getLong(0)
    val nBig = Dedup.sharedTokens(big).select(countDistinct("h")).head.getLong(0)
    assert(nSmall != nBig,
      s"distinct corpora served the same cached shingles ($nSmall distinct)")
  }

  test("t13 PII battery redacts planted email/IP/phone/term fixtures") {
    import graft.llm.TextStats.PiiPatterns
    // the corpus contains no structured PII, so the regexes are proven here
    // on planted rows run through the SAME pattern constants the query and
    // oracle share
    val fixtures = Seq(
      ("contact bob.smith+x@mail-host.example.org for details",
        "contact <EMAIL> for details", (1, 0, 0, 0)),
      ("node at 10.0.255.3 timed out", "node at <IP> timed out", (0, 1, 0, 0)),
      ("call 555-867-5309 or 555 123 4567 now",
        "call <PHONE> or <PHONE> now", (0, 0, 2, 0)),
      ("the customer moved the vector", "the <TERM> moved the <TERM>", (0, 0, 0, 2)),
      ("customers keep vectors", "customers keep vectors", (0, 0, 0, 0)), // \b guards
      ("a@b.co on 1.2.3.4 rang 999-999-9999 customer",
        "<EMAIL> on <IP> rang <PHONE> <TERM>", (1, 1, 1, 1)))
    for ((in, expectedOut, (ne, ni, np, nb)) <- fixtures) {
      val out = PiiPatterns.rules.foldLeft(in) { case (t, (p, r)) => t.replaceAll(p, r) }
      assert(out == expectedOut, s"scrub of '$in'")
      val counts = PiiPatterns.rules.map { case (p, _) =>
        p.r.findAllMatchIn(in).size }
      assert(counts == Seq(ne, ni, np, nb), s"counts for '$in'")
    }
    // and the declared query agrees with a direct Scala-side recount on the
    // real corpus (blocklist is the live rule there: 455/500 docs at sf0.01)
    val q = SparkEntry.queries("t13_pii_scrub")(spark, sf).collect()
    assert(q.count(_.getAs[Long]("n_blocked") > 0) > 400)
    assert(q.forall(r => r.getAs[Long]("n_email") == 0 && r.getAs[Long]("n_ip") == 0))
  }

  test("t14 boilerplate fraction matches a Scala-side recount; both keep outcomes occur") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val grams: Map[Long, Seq[String]] = docs.collect {
      case (id, text) if text.split(" ", -1).length >= 5 =>
        id -> text.split(" ", -1).sliding(5).map(_.mkString(" ")).toSeq
    }
    val df = grams.toSeq.flatMap { case (_, gs) => gs.distinct }
      .groupBy(identity).map { case (g, occ) => g -> occ.size }
    val expected = grams.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(df(_) >= 2).toLong) }
    val q = SparkEntry.queries("t14_boilerplate_spans")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_boiler"))).toMap
    assert(q == expected, "per-doc (n_spans, n_boiler) diverged from recount")
    val keeps = SparkEntry.queries("t14_boilerplate_spans")(spark, sf)
      .collect().map(_.getAs[Boolean]("keep"))
    assert(keeps.contains(true) && keeps.contains(false),
      "threshold must be live on the testdata — both outcomes present")
  }

  test("x8b approx corpus card: exact fields identical, sketched fields within HLL bounds") {
    val exact = SparkEntry.queries("x8_corpus_card")(spark, sf).collect()(0)
    val approx = SparkEntry.queries("x8b_corpus_card_approx")(spark, sf).collect()(0)
    // non-sketched fields must be IDENTICAL — only the three count-distincts
    // ride the HLL++ sketch
    assert(approx.getAs[Long]("n_docs") == exact.getAs[Long]("n_docs"))
    assert(approx.getAs[Long]("n_tokens") == exact.getAs[Long]("n_tokens"))
    assert(approx.getAs[Double]("avg_doc_tokens") == exact.getAs[Double]("avg_doc_tokens"))
    assert(approx.getAs[String]("top_lang") == exact.getAs[String]("top_lang"))
    assert(approx.getAs[Double]("top_lang_share") == exact.getAs[Double]("top_lang_share"))
    assert(approx.getAs[Double]("quality_pass_rate") == exact.getAs[Double]("quality_pass_rate"))
    // sketched: default rsd 5%, bound at 3σ (the a3_approx precedent)
    def within(a: Long, e: Long): Boolean =
      math.abs(a - e) <= math.max(0.15 * e, 1.0)
    assert(within(approx.getAs[Long]("n_langs"), exact.getAs[Long]("n_langs")),
      s"n_langs ${approx.getAs[Long]("n_langs")} vs ${exact.getAs[Long]("n_langs")}")
    assert(within(approx.getAs[Long]("n_sources"), exact.getAs[Long]("n_sources")),
      s"n_sources ${approx.getAs[Long]("n_sources")} vs ${exact.getAs[Long]("n_sources")}")
    assert(math.abs(approx.getAs[Double]("approx_dup_rate") -
      exact.getAs[Double]("exact_dup_rate")) <= 0.15,
      s"dup rate ${approx.getAs[Double]("approx_dup_rate")} vs ${exact.getAs[Double]("exact_dup_rate")}")
  }

  test("t4 fingerprint survives sub-5-token docs under ANSI and matches the clamped slice") {
    import spark.implicits._
    // Spark 4 defaults spark.sql.ansi.enabled=true, where a past-the-end
    // element_at THROWS instead of returning null — the regression this
    // fixture pins is that short docs (absent from the generated testdata,
    // min 10 tokens) must produce the oracle's clamped-slice fingerprint,
    // not INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "fixture assumes the ANSI default this regression depends on")
    val dir = scratch("shortdocs")
    val fixtures = Seq((1L, "one"), (2L, "two tokens"), (3L, "a b c"),
      (4L, "a b c d"), (5L, "a b c d e"), (6L, "a b c d e f g"))
    fixtures.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t4_fingerprint")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = fixtures.map { case (id, text) =>
      val ts = text.split(" ", -1)
      id -> (0 until math.max(ts.length - 4, 1))
        .map(i => md5hex(ts.slice(i, i + 5).mkString(" "))).min
    }.toMap
    assert(got == expected, s"clamped-slice fingerprints diverged: $got vs $expected")
    graft.data.Frames.deleteRecursively(new java.io.File(dir))
  }

  test("t14 handles a corpus-universal gram: df=n_docs counted by aggregate, values exact") {
    import spark.implicits._
    // a boilerplate 5-gram shared by EVERY doc is the 100 TB skew case —
    // under the old count-window-over-gh plan all its rows landed in one
    // task; the aggregate formulation (PlanSpec asserts no Window) reduces
    // it through map-side partials. Here: value-correctness on exactly
    // that corpus shape.
    val nDocs = 200
    val footer = "subscribe to our newsletter for more"       // 6 tokens → 2 universal grams
    val dir = scratch("unigram")
    (0 until nDocs).map { i =>
      val body = (1 to 6).map(j => s"u${i}_$j").mkString(" ") // 6 unique tokens
      (i.toLong, s"$body $footer")
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t14_boilerplate_spans")(spark, dir).collect()
    assert(rows.length == nDocs)
    // 12 tokens → 8 spans/doc; grams fully inside the unique body (i=1..2)
    // have df=1; the 6 straddling or inside the footer contain at least
    // one footer token... exact recount instead of hand-arithmetic:
    val docs = (0 until nDocs).map { i =>
      val body = (1 to 6).map(j => s"u${i}_$j").mkString(" ")
      i.toLong -> s"$body $footer".split(" ", -1).sliding(5).map(_.mkString(" ")).toSeq
    }
    val df = docs.flatMap(_._2.distinct).groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = docs.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(df(_) >= 2).toLong) }.toMap
    val got = rows.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_spans"), r.getAs[Long]("n_boiler"))).toMap
    assert(got == expected, "universal-gram corpus: per-doc counts diverged from recount")
    // the universal grams really are universal (df = n_docs) — the skew
    // shape is present, not hypothetical
    assert(df.values.max == nDocs, s"fixture lost its universal gram: max df = ${df.values.max}")
    graft.data.Frames.deleteRecursively(new java.io.File(dir))
  }

  test("t15 Moore-Lewis score matches a Scala-side recount; both keep outcomes occur") {
    val rows = Tables(spark, sf, "documents").select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val tokens = rows.map { case (id, src, text) => (id, src, text.split(" ", -1).toSeq) }
    val cg = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val ci = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    for ((_, src, ts) <- tokens; t <- ts) {
      cg(t) += 1; if (src == "src0") ci(t) += 1
    }
    val tg = cg.values.sum; val ti = ci.values.sum; val v = cg.size.toDouble
    val expected = tokens.map { case (id, _, ts) =>
      val s = ts.map(t => math.log((ci(t) + 1) / (ti + v)) - math.log(cg(t) / tg))
      id -> (BigDecimal(s.sum / s.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        ts.size.toLong)
    }.toMap
    val q = SparkEntry.queries("t15_domain_relevance")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("ml_score"), r.getAs[Long]("n_tokens"), r.getAs[Boolean]("keep")))
    assert(q.length == rows.length, "one scored row per doc")
    for ((id, (score, n, keep)) <- q) {
      val (eScore, eN) = expected(id)
      assert(n == eN, s"doc $id token count")
      assert(math.abs(score - eScore) <= 2e-6, s"doc $id score $score vs recount $eScore")
      assert(keep == (score > 0), s"doc $id keep must threshold the rounded score")
    }
    val keeps = q.map(_._2._3)
    assert(keeps.contains(true) && keeps.contains(false),
      "selection must be live on the testdata — both outcomes present")
  }

  test("p8 epoch shuffle: exact permutation, seeded-deterministic") {
    val rows = SparkEntry.queries("p8_epoch_shuffle")(spark, sf).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("pos")).sorted.sameElements(0L until n),
      "pos must be a contiguous 0-based permutation")
    assert(rows.forall(r => r.getAs[Long]("loader_rank") == r.getAs[Long]("pos") % 8))
  }

  test("s2 shard invariance: sliced-reshard path equals the full-reshard result (r15 dispatch lock)") {
    // the query dispatches on corpus row count (full reshard below
    // Scans.ShardReshardMaxRows); force the ABOVE-bound formulation here
    // and assert it produces the identical aggregate
    val li = Tables(spark, sf, "lineitem")
    val full = li.repartition(32)
      .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
      .collect().head
    val slice = pmod(xxhash64(col("l_orderkey")), lit(16L)) === 0L
    val sliced = li.filter(slice).repartition(32).unionByName(li.filter(!slice))
      .agg(count(lit(1)).as("n"), countDistinct(col("l_orderkey")).as("n_orders"))
      .collect().head
    assert(sliced.getLong(0) == full.getLong(0) && sliced.getLong(1) == full.getLong(1),
      "sliced-reshard invariance path diverged from the full reshard")
    // the slice must be live (some rows actually cross the reshard)
    assert(li.filter(slice).count() > 0, "deterministic slice selected no rows")
  }

  test("p9 source cap: exactly N per source, reproducible") {
    val rows = SparkEntry.queries("p9_source_cap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.size == 20 && bySrc.values.forall(_.length == 20),
      "every source capped at exactly 20 on the testdata")
    bySrc.values.foreach(g =>
      assert(g.map(_._3).sorted.sameElements(1L to 20L), "slots contiguous 1..20"))
  }

  test("t17 bigram perplexity: keep thresholds the rounded score, both outcomes live, bigram count exact") {
    val nToks = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SparkEntry.queries("t17_bigram_perplexity")(spark, sf).collect()
    assert(rows.length == nToks.count(_._2 >= 2), "one row per >=2-token doc")
    rows.foreach { r =>
      val (id, nb, nll, keep) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("nll"), r.getAs[Boolean]("keep"))
      assert(nb == nToks(id) - 1, s"doc $id: bigram count $nb != tokens-1")
      assert(keep == (nll <= 3.4), s"doc $id: keep must threshold the rounded nll")
      assert(nll > 0, s"doc $id: smoothed bigram nll must be positive")
    }
    val keeps = rows.map(_.getAs[Boolean]("keep"))
    assert(keeps.contains(true) && keeps.contains(false),
      "perplexity gate must be live on testdata — both outcomes present")
  }

  test("t19 NB classifier matches a Scala-side recount; separable planted corpus classifies perfectly") {
    // full-corpus recount (the t15 pattern): add-1 multinomial NB log-odds
    val rows = Tables(spark, sf, "documents").select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val posSrc = Set("src1", "src2", "src3", "src4")
    val tokens = rows.map { case (id, src, t) =>
      (id, posSrc(src), t.split(" ", -1).toSeq) }
    val c1 = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val c0 = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    for ((_, pos, ts) <- tokens; t <- ts) if (pos) c1(t) += 1 else c0(t) += 1
    val vocab = (c1.keySet ++ c0.keySet).size.toDouble
    val (tot1, tot0) = (c1.values.sum, c0.values.sum)
    val n1 = tokens.count(_._2).toDouble; val n0 = tokens.size - n1
    val expected = tokens.map { case (id, _, ts) =>
      val s = math.log(n1 / n0) + ts.map(t =>
        math.log((c1(t) + 1) / (tot1 + vocab)) -
        math.log((c0(t) + 1) / (tot0 + vocab))).sum
      id -> (BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        ts.size.toLong)
    }.toMap
    val q = SparkEntry.queries("t19_nb_classifier")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("log_odds"), r.getAs[Boolean]("keep")))
    assert(q.length == rows.length, "one scored row per doc")
    for ((id, (n, score, keep)) <- q) {
      val (eScore, eN) = expected(id)
      assert(n == eN, s"doc $id token count")
      assert(math.abs(score - eScore) <= 2e-6, s"doc $id score $score vs recount $eScore")
      assert(keep == (score > 0), s"doc $id keep must threshold the rounded score")
    }
    val keeps = q.map(_._2._3)
    assert(keeps.contains(true) && keeps.contains(false),
      "classifier must be live on the testdata — both outcomes present")

    // planted separable corpus: class vocabularies are disjoint, so every
    // doc must land on its own side regardless of the shared filler token
    import spark.implicits._
    val planted = Seq(
      (1L, "good clean prose good clean shared", "ref1"),
      (2L, "clean good good prose shared shared", "ref1"),
      (3L, "spam junk spam junk shared", "web1"),
      (4L, "junk junk spam spam shared shared", "web2"),
      (5L, "good prose clean clean shared", "ref2"))
      .toDF("doc_id", "text", "source")
    val got = graft.llm.TextStats.nbClassifier(planted, Seq("ref1", "ref2"))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false, 5L -> true),
      s"separable planted corpus misclassified: $got")
  }

  test("t20 BM25 top-k equals a Scala-side recount (set, scores, and tie-breaks)") {
    val rows = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val terms = Seq("spark", "join", "window")
    val n = rows.length.toDouble
    val avgdl = rows.map(_._2.size).sum.toDouble / n
    val dfs = terms.map(t => rows.count(_._2.contains(t)).toDouble)
    val expected = rows.map { case (id, ts) =>
      val dl = ts.size.toDouble
      val s = terms.zip(dfs).map { case (t, df) =>
        val tf = ts.count(_ == t).toDouble
        math.log((n - df + 0.5) / (df + 0.5) + 1) * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      (id, ts.size.toLong,
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, _, sc) => (-sc, id) }.take(20)
    val got = SparkEntry.queries("t20_bm25_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tok"), r.getAs[Double]("score")))
    assert(got.length == 20, "exactly k rows")
    got.zip(expected).foreach { case ((gi, gn, gs), (ei, en, es)) =>
      assert(gi == ei && gn == en, s"rank order diverged: got $gi expected $ei")
      assert(math.abs(gs - es) <= 2e-6, s"doc $gi score $gs vs recount $es")
    }
    assert(got.forall(_._3 > 0), "every retrieved doc must actually score")
  }

  test("x9 funnel: planted sequences hit every ordering edge (strict after, skipped stages)") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val ev = Seq(
      // u1: clean view -> click -> purchase
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // u2: purchase BEFORE the first view-then-click completes -> stage 2
      (2L, "purchase", ts(1)), (2L, "view", ts(2)), (2L, "click", ts(3)),
      // u3: no view at all -> stage 0 even with click+purchase present
      (3L, "purchase", ts(1)), (3L, "click", ts(2)),
      // u4: view only -> stage 1
      (4L, "view", ts(5)),
      // u5: click at the SAME ts as the view must not count (strictly
      // after); the later click does, and the purchase after it
      (5L, "view", ts(1)), (5L, "click", ts(1)),
      (5L, "click", ts(4)), (5L, "purchase", ts(5)),
      // u6: view then purchase but no click -> stage 1
      (6L, "view", ts(3)), (6L, "purchase", ts(4)))
      .toDF("user_id", "event_type", "ts")
    val got = graft.ops.Analytics
      .funnelStages(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
         Option(r.getTimestamp(3)), r.getLong(4))).toMap
    assert(got(1L) == ((Some(ts(1)), Some(ts(2)), Some(ts(3)), 3L)), s"u1: ${got(1L)}")
    assert(got(2L) == ((Some(ts(2)), Some(ts(3)), None, 2L)), s"u2: ${got(2L)}")
    assert(got(3L) == ((None, None, None, 0L)), s"u3: ${got(3L)}")
    assert(got(4L) == ((Some(ts(5)), None, None, 1L)), s"u4: ${got(4L)}")
    assert(got(5L) == ((Some(ts(1)), Some(ts(4)), Some(ts(5)), 3L)), s"u5: ${got(5L)}")
    assert(got(6L) == ((Some(ts(3)), None, None, 1L)), s"u6: ${got(6L)}")
    assert(got.size == 6, "one row per user with any event")
  }

  test("sim_semdedup: refinement of exact cosine components, genuine edges, one keeper, deterministic") {
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // exact ground truth at the query's threshold: full all-pairs cosine
    // (computable at spec scale) and its global connected components
    val a = e.select(col("vec_id").as("doc_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("doc_b"), col("v").as("vb"))
    val exactPairsDf = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) > 0.3)
      .select("doc_a", "doc_b")
    val exactPairSet = exactPairsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactComp = Dedup.connectedComponents(exactPairsDf, e.select(col("vec_id").as("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def run() = SparkEntry.queries("sim_semdedup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("grp"), r.getAs[Boolean]("keep")))
      .sortBy(_._1).toSeq
    val sd = run()
    assert(sd.map(_._1).toSet == exactComp.keySet, "one row per vector")

    // (a) refinement: cluster-scoped pairs are a SUBSET of the exact pairs,
    // so CC over them can only split, never merge — any two vectors sharing
    // a semantic group must share an exact global component
    val byGrp = sd.groupBy(_._2).values
    for (grp <- byGrp; if grp.size >= 2) {
      val comps = grp.map(m => exactComp(m._1)).toSet
      assert(comps.size == 1,
        s"semantic group ${grp.head._2} spans exact components $comps — false merge")
      // (b) every grouped member has a genuine over-threshold neighbour in
      // its group under EXACT recomputation (no phantom edges)
      val ids = grp.map(_._1).toSet
      for (m <- grp) {
        val hasEdge = ids.exists(o => o != m._1 &&
          (exactPairSet.contains((math.min(m._1, o), math.max(m._1, o)))))
        assert(hasEdge, s"vec ${m._1} in group ${m._2} has no exact >0.3 neighbour in-group")
      }
      // (c) exactly one keeper per group
      assert(grp.count(_._3) == 1, s"group ${grp.head._2}: expected exactly one keeper")
    }
    // singletons are their own keepers
    for (grp <- byGrp; if grp.size == 1)
      assert(grp.head._3, s"singleton ${grp.head._1} must keep itself")
    // (d) deterministic: a second run (cached index, same seed) is identical
    assert(run() == sd, "sim_semdedup must be run-to-run deterministic")
    // (e) the in-task union-find labels are exactly the connected components
    // of the exact over-threshold pairs whose two ends share a cell of the
    // query's persisted index
    val cellOf = IvfIndex.cachedIndexFor(sf, Tables(spark, sf, "embeddings"),
        nClusters = Similarity.semDedupK(exactComp.size.toLong))
      .assigned.select(col("vec_id"), col("cell"))
    val withinCell = exactPairsDf
      .join(cellOf.toDF("doc_a", "cell_a"), "doc_a")
      .join(cellOf.toDF("doc_b", "cell_b"), "doc_b")
      .filter(col("cell_a") === col("cell_b"))
      .select("doc_a", "doc_b")
    val cellComp = Dedup.connectedComponents(withinCell, e.select(col("vec_id").as("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mislabeled = sd.filter { case (id, grp, _) => cellComp(id) != grp }
    assert(mislabeled.isEmpty,
      s"grp must equal CC over the exact within-cell pairs: ${mislabeled.take(3)}")
    // the selection is live on testdata: some dups actually dropped
    assert(sd.exists(!_._3), "expected at least one dropped semantic duplicate")
  }

  test("sim_semdedup_build: sized-cell index covers the corpus; decision reuses it unchanged") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count()
    val cells = SparkEntry.queries("sim_semdedup_build")(spark, sf).collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("n_vectors")).toMap
    // the build declares the SAME sized k as the decision query and its
    // cells partition the corpus exactly; KMeans trained on a capped
    // subsample may leave a cell empty at other sizes/seeds, so bound
    // rather than pin the occupied-cell count
    assert(cells.size <= Similarity.semDedupK(emb.count()) && cells.nonEmpty,
      s"build must use at most the shared sized k: got ${cells.size}")
    assert(cells.values.sum == n, "cell occupancies must cover every vector")
    // the decision query run AFTER the build is served from the persisted
    // index (the build/query split): identical output to a direct semDedup
    // over the same cached index
    val viaQuery = SparkEntry.queries("sim_semdedup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("grp"), r.getAs[Boolean]("keep")))
      .sortBy(_._1).toSeq
    val direct = IvfIndex.semDedupCached(sf, emb, threshold = 0.3,
        nClusters = Similarity.semDedupK(emb.count())).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("grp"), r.getAs[Boolean]("keep")))
      .sortBy(_._1).toSeq
    assert(viaQuery == direct, "decision must be identical through the shared persisted index")
  }

  test("x10b LSH pipeline: shared stages identical to x10, stage 03b drops exactly the d6b non-keepers") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val a = rows("x10_full_pipeline")
    val b = rows("x10b_full_pipeline_lsh")
    assert(b.size == a.size + 1, "x10b adds exactly the 03b stage row")
    // stages before the near-dup decision are untouched
    for (st <- Seq("01_ingest", "02_quality", "03_exact_dedup"))
      assert(a(st) == b(st), s"$st must be identical to x10: ${a(st)} vs ${b(st)}")
    // stage 03b's drop set equals a DIRECT d6b recomputation over the
    // stage-3 survivors (quality-gated exact-dedup keepers of the corpus)
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") % 10 =!= 0)
    val gated = docs.filter(graft.llm.TextStats.qualityPass)
    val s3Ids = gated.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s3Docs = docs.join(s3Ids, Seq("doc_id"), "left_semi")
    val pairs = Dedup.bandedLshPairs(s3Docs, jaccardThreshold = 0.8)
      .select("doc_a", "doc_b")
    val nonKeepers = Dedup.connectedComponents(
        pairs, s3Docs.select(col("doc_id").as("node")))
      .filter(col("node") =!= col("label"))
      .collect().map(_.getLong(0)).toSet
    val (n3, t3, id3, _) = b("03_exact_dedup")
    val (n3b, _, id3b, _) = b("03b_neardup_lsh")
    assert(n3b == n3 - nonKeepers.size,
      s"03b doc count: $n3b vs $n3 - ${nonKeepers.size}")
    assert(id3b == id3 - nonKeepers.sum,
      "03b id_sum must drop exactly the non-keeper ids")
    assert(nonKeepers.nonEmpty, "near-dup stage must be live on testdata")
    // downstream stages stay monotonic and end-to-end deterministic
    val ord = Seq("03b_neardup_lsh", "04_decontam", "05_trim", "06_mixture",
      "07_source_cap", "08_split_train")
    for (Seq(x, y) <- ord.sliding(2))
      assert(b(y)._1 <= b(x)._1, s"$y grew relative to $x")
    assert(rows("x10b_full_pipeline_lsh") == b, "x10b must be run-to-run deterministic")
  }

  test("x11 persisted ledger: flag implications hold, signatures cover every shingled doc") {
    // full store (whatever batches exist): flag + signature invariants
    val led = graft.llm.Incremental.ledgerFor(spark, sf)
    val bad = led.filter(
      (col("in4") && !col("in3")) || (col("in3") && !col("q"))).count()
    assert(bad == 0, "ledger flags must imply q ⊇ in3 ⊇ in4")
    // signature present exactly for docs with ≥ 3 tokens (shingle-able)
    assert(led.filter(col("n_tok") >= 3 && col("sig").isNull).count() == 0,
      "every shingle-able stored doc must carry a persisted signature")
    assert(led.filter(col("sig").isNotNull &&
        size(col("sig")) =!= graft.llm.Dedup.NumHashes).count() == 0,
      "persisted signatures must be full 64-minhash arrays")
    // batch 0 is day-1 only: no holdout, no batch ids
    assert(graft.llm.Incremental.ledgerAsOf(spark, sf, 0)
      .filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 9)
      .count() == 0, "batch 0 of the ledger must contain only day-1 docs")
    // any appended batch holds day-2 docs only (%10==9 minus the %100==99
    // day-3 class) — the as-of contract that keeps x11 byte-stable
    assert(led.filter(col("batch_id") >= 1 &&
        (col("doc_id") % 10 =!= 9 || col("doc_id") % 100 === 99))
      .count() == 0, "appended batches must contain only day-2 docs")
  }

  test("x11b: shared stages identical to x11; 03c drops exactly the direct d8b LSH recomputation") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val a = rows("x11_incremental_pipeline")
    val b = rows("x11b_incremental_lsh")
    assert(b.size == a.size + 1, "x11b adds exactly the 03c stage row")
    for (st <- Seq("01_batch_ingest", "02_batch_quality", "03_batch_exact_dedup"))
      assert(a(st) == b(st), s"$st must be identical to x11: ${a(st)} vs ${b(st)}")
    // direct d8b recomputation over the same doc universe: corpus = the
    // store's in4 survivors, batch = the stage-3 batch survivors — flagged
    // dup_near ids must equal 03c's drop set (checked via the count and
    // the id_sum, which the manifest carries per stage)
    val docs = Tables(spark, sf, "documents")
    val led = graft.llm.Incremental.ledgerAsOf(spark, sf, 0)
    val corpusIds = led.filter(col("in4")).select("doc_id")
    val batchQ = docs.filter(col("doc_id") % 10 === 9)
      .filter(graft.llm.TextStats.qualityPass)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val corpusH = led.filter(col("q")).select("h").distinct()
    val b3Ids = batchQ.join(corpusH, Seq("h"), "left_anti")
      .groupBy("h").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val universe = docs.join(corpusIds.union(b3Ids), Seq("doc_id"), "left_semi")
    val dropped = Dedup.incrementalDedupLsh(universe,
        col("doc_id") % 10 === 9, nearThreshold = 0.8)
      .filter(col("dup_near")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val (n3, _, id3, _) = b("03_batch_exact_dedup")
    val (n3c, _, id3c, _) = b("03c_batch_neardup_lsh")
    assert(n3c == n3 - dropped.size,
      s"03c doc count: $n3c vs $n3 - ${dropped.size}")
    assert(id3c == id3 - dropped.sum,
      "03c id_sum must drop exactly the direct-recompute near-dup ids")
    // downstream stages stay monotonic through the split, and the whole
    // manifest is run-to-run deterministic (cached store, no RNG)
    val ord = Seq("03c_batch_neardup_lsh", "04_batch_decontam")
    for (Seq(x, y) <- ord.sliding(2))
      assert(b(y)._1 <= b(x)._1, s"$y grew relative to $x")
    assert(rows("x11b_incremental_lsh") == b, "x11b must be run-to-run deterministic")
  }

  test("store-backed LSH near-check is live: persisted-signature banding finds planted cross-side near-dups") {
    // the sf0.01 gate corpus has no cross-split near-dups (the declared
    // x11b run is equivalence-checked above, where the drop set may be
    // empty) — plant some here and drive the same primitives the x11b
    // stage uses: signatures → parquet round-trip → bandsFromSignature →
    // cross join → exact-Jaccard verify
    import spark.implicits._
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 7) "CHANGED" else s"token$i").mkString(" ")
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val corpus = Seq((10L, base), (12L, far)).toDF("doc_id", "text")
    val batch = Seq((109L, near), (119L, "tiny doc here")).toDF("doc_id", "text")
    val dir = scratch("spec_sigstore")
    Dedup.minhashSignaturesAmong(corpus, corpus.select("doc_id")).write.parquet(dir)
    val persisted = spark.read.parquet(dir)
    val cands = Dedup.bandsFromSignature(Dedup.minhashSignaturesAmong(batch, batch.select("doc_id")))
      .join(Dedup.bandsFromSignature(persisted)
        .withColumnRenamed("doc_id", "corpus_id"), Seq("band", "bh"))
      .select("doc_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((109L, 10L)),
      s"banding persisted signatures must surface the planted near-dup pair: $cands")
    assert(!cands.contains((109L, 12L)) && !cands.contains((119L, 12L)),
      s"unrelated docs must not collide in any band: $cands")
    graft.data.Frames.deleteRecursively(new java.io.File(dir))
  }

  test("x11 day-N ledger: planted dups across EVERY batch pair drop; mid-sequence re-append is idempotent; compaction preserves store + probes") {
    import spark.implicits._
    // synthetic corpus (own dir → own store): quality texts passing the
    // shared gate; each later day plants one exact dup of a survivor in
    // EVERY earlier day, plus one fresh doc.
    // short tokens keep the mean-token-length gate (≤ 4.8) satisfied
    def txt(tag: String) =
      "the of a and " + (1 to 36).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (10L, "src0", txt("h")),    // holdout
      (1L, "src1", txt("a")), (2L, "src1", txt("b")),   // day-1
      (19L, "src1", txt("n")),    // day-2: unique → appended survivor
      (29L, "src1", txt("a")),    // day-2: dup of day-1 → appended q, ¬in3
      (89L, "src1", txt("n")),    // day-3: dup of the DAY-2 survivor
      (189L, "src1", txt("b")),   // day-3: dup of day-1
      (289L, "src1", txt("d")),   // day-3: fresh → appended survivor
      (99L, "src1", txt("d")),    // day-4: dup of the DAY-3 survivor
      (199L, "src1", txt("n")),   // day-4: dup of the DAY-2 survivor
      (299L, "src1", txt("a")),   // day-4: dup of day-1
      (399L, "src1", txt("e")))   // day-4: fresh
    val dir = scratch("spec_x11c")
    docs.toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    def stages(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    def flags(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("q"), r.getAs[Boolean]("in3"), r.getAs[Boolean]("in4"))).toMap
    // both appended batches carry their as-of-horizon decisions
    val led = graft.llm.Incremental.appendedLedger(spark, dir, upTo = 2)
    assert(flags(led.filter(col("batch_id") === 1)) ==
      Map(19L -> (true, true, true), 29L -> (true, false, false)),
      "appended batch-1 rows wrong")
    assert(flags(led.filter(col("batch_id") === 2)) ==
      Map(89L -> (true, false, false), 189L -> (true, false, false),
        289L -> (true, true, true)),
      "appended batch-2 rows wrong: day-3 dups of day-2 AND day-1 must be ¬in3")
    // day-4 vs the twice-appended store: dups of day-3 (99), day-2 (199)
    // and day-1 (299) survivors all drop at stage 03; only 399 survives;
    // merged = {1,2} ∪ {19} ∪ {289} ∪ {399}
    val day4 = stages(SparkEntry.queries("x11d_incremental_pipeline")(spark, dir))
    assert(day4("03_batch_exact_dedup") == ((1L, 399L)),
      s"stage 03 must keep only the fresh day-4 doc: $day4")
    assert(day4("05_merged_corpus") == ((5L, 1L + 2L + 19L + 289L + 399L)),
      s"merged corpus must span all four days' survivors: $day4")
    // NEGATIVE CONTROL: the same day-4 batch against the ONCE-appended
    // store misses the day-3 duplicate — the correctness condition each
    // append exists for (199/299 are still caught by earlier horizons)
    val withoutB2 = stages(graft.llm.Incremental.incrementalManifest(
      spark, dir, batchPred = Some(col("doc_id") % 100 === 99),
      store = Some(graft.llm.Incremental.ledgerAsOf(spark, dir, 1))))
    assert(withoutB2("03_batch_exact_dedup") == ((2L, 99L + 399L)),
      s"without batch 2 the day-3 dup must slip through: $withoutB2")
    // IDEMPOTENCE: force the MIDDLE batch's append write to run again
    // (the retry/replay case) — the dynamic partition overwrite must
    // replace batch_id=1 with identical content, never double it
    def storeRows() = graft.llm.Incremental.ledgerAsOf(spark, dir, 2)
      .select("batch_id", "doc_id", "q", "in3", "in4", "h")
      .collect().map(_.toSeq).toSet
    val before = storeRows()
    graft.llm.Incremental.appendBatchWrite(spark, dir, 1)
    assert(storeRows() == before,
      "re-running the middle batch's append changed the store (idempotence broken)")
    // COMPACTION: summaries and the day-4 manifest must be identical
    // pre/post; the compacted horizon lives in base/ (batch_id preserved
    // as a data column) and the per-batch delta trees are gone
    graft.llm.Incremental.compactLedger(spark, dir, upTo = 2)
    assert(storeRows() == before, "compaction changed store content")
    val day4Post = stages(SparkEntry.queries("x11d_incremental_pipeline")(spark, dir))
    assert(day4Post == day4, "compaction changed the day-4 manifest")
    val storeDir = graft.llm.Incremental.ledgerDir(spark, dir)
    // the live base is resolved through the atomic manifest (r16,
    // advice #2): compaction writes a VERSIONED base dir and swaps the
    // pointer, so the layout assertion must follow the pointer
    val liveBase = graft.llm.Incremental.liveBaseDir(spark, dir)
    assert(new java.io.File(liveBase).isDirectory,
      "compaction must land the consolidated base zone")
    assert(liveBase.endsWith("base_v2"),
      s"compaction must swap the manifest to the versioned base dir, got $liveBase")
    assert(!new java.io.File(s"$storeDir/base").exists(),
      "the superseded legacy base dir must be dropped after the pointer swap")
    val deltaLeft = Option(new java.io.File(s"$storeDir/delta").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("batch_id=")).map(_.getName)
    assert(deltaLeft.isEmpty,
      s"compacted delta trees must be dropped, found: ${deltaLeft.mkString(",")}")
    val baseFiles = new java.io.File(liveBase).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(baseFiles <= 3,
      s"compacted base must be ~one file per batch, found $baseFiles")
    // BACKWARD-HORIZON GUARD (r15, advice #1): a compaction below the
    // already-compacted horizon would rewrite base from the <=upTo slice
    // and silently drop batches in (upTo, prior] — it must refuse
    intercept[IllegalArgumentException] {
      graft.llm.Incremental.compactLedger(spark, dir, upTo = 1)
    }
    assert(storeRows() == before, "refused compaction must not touch the store")
    // PARTIAL-SWAP IMMUNITY (r15, advice #2): a crash between the marker
    // write and the delta deletes leaves a compacted batch in BOTH zones —
    // simulate the leftover delta tree and assert the read path ignores it
    graft.llm.Incremental.ledgerAsOf(spark, dir, 2)
      .filter(col("batch_id") === 1).drop("batch_id")
      .write.parquet(s"$storeDir/delta/batch_id=1")
    assert(storeRows() == before,
      "stale delta tree at/below the compaction marker must be filtered, not double-counted")
    graft.data.Frames.deleteRecursively(new java.io.File(dir))
  }

  test("planted join skew: AQE splits the hot partition, answer unchanged (the SkewProbe case)") {
    // one hot key owning half the probe side of a shuffled join — the
    // SkewProbe shape at spec scale. Run the identical join with AQE
    // skew-join handling OFF and ON (thresholds lowered so the planted
    // partition qualifies) and assert (a) the ON plan really took the
    // skew-split path, (b) the answer is identical.
    import spark.implicits._
    val n = 400000L
    def planted = spark.range(n).select(
      when(col("id") % 2 === 0, lit(7L)).otherwise(col("id")).as("k"),
      (col("id") % 97).as("v"))
    def dim = spark.range(200000).select(col("id").as("k"), (col("id") % 13).as("w"))
    def run(skewOn: Boolean): (Long, Long, String) = {
      val conf = spark.conf
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled")
        .map(k => k -> conf.getOption(k)).toMap
      try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        val agg = planted.join(dim, "k")
          .agg(count(lit(1)), sum(col("v") * col("w")))
        // collect(), not head(): head() executes a DERIVED limit plan and
        // leaves this QueryExecution unexecuted (isFinalPlan=false) — only
        // the executed one carries AQE's final skew decisions
        val r = agg.collect().head
        (r.getLong(0), r.getLong(1), agg.queryExecution.executedPlan.toString)
      } finally saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _))
      }
    }
    val (nOff, sOff, pOff) = run(skewOn = false)
    val (nOn, sOn, pOn) = run(skewOn = true)
    assert(!pOff.contains("skew=true"), s"skew split ran with handling off:\n$pOff")
    assert(pOn.contains("skew=true"),
      s"AQE did not split the planted hot partition:\n$pOn")
    assert((nOff, sOff) == (nOn, sOn),
      s"skew handling changed the answer: ($nOff,$sOff) vs ($nOn,$sOn)")
  }

  test("s13 Morton code equals a bit-by-bit reference interleave (seeded, incl. wrap cases)") {
    import spark.implicits._
    // independent derivation: the mask-spread ladder vs a plain bit loop —
    // a wrong mask/shift constant agrees with DuckDB (same formula both
    // sides) but cannot agree with this
    def ref(x0: Long, y0: Long): Long = {
      val x = x0 & 65535L; val y = y0 & 65535L
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    }
    val rng = new scala.util.Random(13)
    val cases = Seq((0L, 0L), (65535L, 65535L), (65536L, 1L), (123456789L, 987654321L)) ++
      List.fill(500)((rng.nextLong().abs % 1000000L, rng.nextLong().abs % 1000000L))
    cases.toDF("x", "y")
      .withColumn("z", graft.ops.Scans.zval(col("x"), col("y")))
      .collect()
      .foreach { r =>
        val (x, y, z) = (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Long]("z"))
        assert(z == ref(x, y), s"zval($x, $y) = $z != ${ref(x, y)}")
      }
  }

  test("s13 z-order: per-file ranges tight on BOTH keys; linear sort leaves suppkey unprunable") {
    val li = Tables(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    val z = li.withColumn("zv",
      graft.ops.Scans.zval(col("l_partkey"), shiftleft(col("l_suppkey"), 4)))
    val base = scratch("s13_spec")
    z.repartitionByRange(8, col("zv")).sortWithinPartitions("zv")
      .write.mode("overwrite").parquet(s"$base/zorder")
    li.repartitionByRange(8, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    // per-file [min,max] of each key, normalized to the key's global range —
    // exactly the row-group stats parquet pruning consults
    def spans(dir: String): Seq[(Double, Double, (Long, Long))] = {
      val df = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy("f").agg(
          min("l_partkey").as("pk0"), max("l_partkey").as("pk1"),
          min("l_suppkey").as("sk0"), max("l_suppkey").as("sk1"))
        .collect()
      val pkAll = (df.map(_.getAs[Long]("pk0")).min, df.map(_.getAs[Long]("pk1")).max)
      val skAll = (df.map(_.getAs[Long]("sk0")).min, df.map(_.getAs[Long]("sk1")).max)
      df.map { r =>
        val pk = (r.getAs[Long]("pk1") - r.getAs[Long]("pk0")).toDouble / (pkAll._2 - pkAll._1)
        val sk = (r.getAs[Long]("sk1") - r.getAs[Long]("sk0")).toDouble / (skAll._2 - skAll._1)
        (pk, sk, (r.getAs[Long]("sk0"), r.getAs[Long]("sk1")))
      }.toSeq
    }
    val zs = spans(s"$base/zorder")
    val ls = spans(s"$base/linear")
    def avg(xs: Seq[Double]) = xs.sum / xs.size
    info(f"z-order  avg spans: pk=${avg(zs.map(_._1))}%.3f sk=${avg(zs.map(_._2))}%.3f")
    info(f"linear   avg spans: pk=${avg(ls.map(_._1))}%.3f sk=${avg(ls.map(_._2))}%.3f")
    // z-order: BOTH dims localized per file. 0.7, not 0.6: file boundaries
    // depend on repartitionByRange's reservoir sampling, and the avg pk
    // span was measured at 0.612 on one suite run vs 0.588 on another with
    // identical data — the discriminating contrast is vs linear's 1.0
    // suppkey span and the pruning assertions below, not the exact figure
    assert(avg(zs.map(_._1)) <= 0.7, s"z-order partkey spans too wide: $zs")
    assert(avg(zs.map(_._2)) <= 0.7, s"z-order suppkey spans too wide: $zs")
    // linear: partkey perfectly localized, suppkey spans ~the full range
    assert(avg(ls.map(_._1)) <= 0.2, s"linear partkey spans unexpectedly wide: $ls")
    assert(avg(ls.map(_._2)) >= 0.9, s"linear layout should NOT localize suppkey: $ls")
    // the pruning consequence: a 10%-wide suppkey-only predicate overlaps
    // every linear file but only a strict subset of z-ordered files
    def overlapping(s: Seq[(Double, Double, (Long, Long))]) =
      s.count { case (_, _, (lo, hi)) => lo <= 49 && hi >= 40 }
    assert(overlapping(ls) == ls.size, "linear: suppkey slice should hit every file")
    assert(overlapping(zs) < zs.size,
      s"z-order: suppkey slice must PRUNE files (${overlapping(zs)}/${zs.size})")
    graft.data.Frames.deleteRecursively(new java.io.File(base))
  }

  test("doc-locality: subset reads of the corpus sig and shingle tables equal the subset as its own corpus") {
    // the Among consumers read the corpus-wide tables through a doc_id
    // semi-join, whatever ran before them; the subset frame keys its own
    // corpus, so the reference comes from the subset's own text
    val docs = Tables(spark, sf, "documents")
    val subset = docs.filter(col("doc_id") % 3 === 0)
    val ids = subset.select("doc_id")
    assert(Frames.corpusKey(subset) != Frames.corpusKey(docs))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
    Frames.scope("doc-locality spec") {
      val sigs = rows(Dedup.minhashSignaturesAmong(docs, ids))
      assert(sigs.nonEmpty, "the subset produced no signatures")
      assert(sigs == rows(Dedup.minhashSignaturesAmong(subset, ids)),
        "corpus sig table ⋉ subset ids differs from the subset's own signatures")
      val pairs = rows(Dedup.bandedLshPairsAmong(docs, ids, 0.8))
      assert(pairs.nonEmpty, "the subset has no near-dup pairs to compare")
      assert(pairs == rows(Dedup.bandedLshPairs(subset, 0.8)),
        s"subset LSH pairs through the corpus tables differ from the subset's own: $pairs")
    }
  }

  /** Jobs started while `body` ran: a marker job with a unique description
    * runs after it, and listener events arrive in posting order, so every
    * job `body` started has been counted once the marker's start is seen. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"jobsDuring-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          done.countDown()
        else if (done.getCount > 0) seen.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      (out, seen.get)
    } finally sc.removeSparkListener(l)
  }

  test("fanOut: a one-task scan comes back hash-partitioned on doc_id, decided without a job") {
    val target = spark.sparkContext.defaultParallelism
    val docs = Tables(spark, sf, "documents")
    assert(docs.rdd.getNumPartitions < target, "the sf0.01 documents scan is one row group")
    val (fanned, jobs) = jobsDuring(Tables.fanOut(docs))
    assert(jobs == 0, s"fanOut ran $jobs job(s) to decide")
    assert(fanned.rdd.getNumPartitions == target)
    fanned.queryExecution.sparkPlan.outputPartitioning match {
      case org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(Seq(a), n) =>
        assert(n == target && a.references.map(_.name).toSet == Set("doc_id"), s"$a into $n")
      case p => fail(s"not hash-partitioned on doc_id: $p")
    }
    assert(fanned.exceptAll(docs).isEmpty && docs.exceptAll(fanned).isEmpty,
      "fanOut must keep every row")
    // a frame already as wide as the session is returned as it came
    val wide = spark.range(0, 100, 1, target + 1).withColumnRenamed("id", "doc_id")
    assert(Tables.fanOut(wide) eq wide)
    // the x10 stage 01-03 fingerprint ledger is checkpointed wide
    Frames.checkpointScope("fanOut spec") {
      val fp = graft.llm.Pipeline.fingerprints(docs.filter(col("doc_id") % 10 =!= 0))
      assert(fp.rdd.getNumPartitions >= target,
        s"fingerprint checkpoint has ${fp.rdd.getNumPartitions} partition(s)")
    }
  }

  test("Tables reads each footer once: a second read runs no job and equals an inferred read") {
    for (name <- Seq("part", "events")) {
      Tables(spark, sf, name)
      val (t, jobs) = jobsDuring(Tables(spark, sf, name))
      assert(jobs == 0, s"$name: a repeated Tables read ran $jobs job(s)")
      val raw = spark.read.parquet(s"$sf/$name.parquet")
      val inferred = if (name == "events") Tables.normalizeEventTs(raw) else raw
      assert(t.schema == inferred.schema, s"$name: ${t.schema} vs ${inferred.schema}")
      assert(t.exceptAll(inferred).isEmpty && inferred.exceptAll(t).isEmpty,
        s"$name: memoized-schema read differs from the inferred read")
    }
  }

  test("live() names each entry's owner and reads its block bytes") {
    val docs = Tables(spark, sf, "documents")
    Frames.scope("live probe") {
      // a persisted keyed cache and a tracked checkpoint, both materialized
      Dedup.probeGramSet(docs.filter(col("doc_id") % 7 === 3)).count()
      Frames.trackedCheckpoint(docs.select("doc_id"))
      val mine = Frames.live().filter(_._2 == "live probe")
      assert(mine.map(_._1.kind).toSet == Set("dedup.probe_grams", "checkpoint"), s"$mine")
      assert(mine.forall(_._3 > 0), s"an entry read no block bytes: $mine")
    }
    assert(!Frames.live().exists(_._2 == "live probe"))
  }

  test("store dirs sit under this process's own root") {
    val root = Frames.root
    assert(root.getParentFile == new java.io.File(sys.props("java.io.tmpdir")))
    assert(root.getName.startsWith(s"graft_${ProcessHandle.current.pid}_"),
      s"store root ${root.getName} does not carry this process's pid")
    val dirs = Seq(Frames.storeDir("spec", sf), Frames.storeDir("spec", "/other/corpus"),
      graft.llm.Incremental.ledgerDir(spark, sf))
    dirs.foreach(d => assert(new java.io.File(d).getParentFile == root, s"$d is not under $root"))
    assert(dirs.distinct.size == dirs.size, s"distinct keys share a dir: $dirs")
    // a declared store-writing query lands under the root too
    SparkEntry.queries("s4_text_scan")(spark, sf).collect()
    assert(new java.io.File(Frames.storeDir("s4", sf)).isDirectory)
  }

  // keep last: every persist this suite made must be owned by the registry
  test("releaseAll leaves no persisted RDD and no store root behind") {
    Frames.releaseAll()
    assert(Frames.live().isEmpty, s"entries left behind: ${Frames.live()}")
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.isEmpty,
      s"persisted RDDs the registry does not own: ${persisted.values.map(r => s"${r.id} ${r.name} $r")}")
    assert(!Frames.root.exists(), s"${Frames.root} survived releaseAll")
  }
}
