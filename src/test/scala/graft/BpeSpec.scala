package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** BPE trainer correctness: the distributed merge loop must reproduce, step
  * for step (pair, merged symbol, weighted count), a single-threaded
  * reference implementation of Sennrich et al. 2016 — including the greedy
  * left-to-right re-tokenization inside a word ("aaa" + (a,a) -> [aa, a])
  * and the deterministic (count desc, left asc, right asc) tie-break. */
class BpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bpe-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = graft.data.Frames.releaseAll()

  /** Single-threaded reference: word-frequency map -> iterative merges. */
  private def referenceBpe(texts: Seq[String], nMerges: Int, minCount: Long = 2L,
      eow: String = "</w>"): Seq[(Int, String, String, String, Long)] = {
    val wordFreq = texts.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var vocab: Map[Vector[String], Long] = wordFreq.toSeq
      .map { case (w, f) => (w.map(_.toString).toVector :+ eow) -> f }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; p <- syms.sliding(2) if p.size == 2)
        counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minCount) done = true
        else {
          out += ((step, l, r, l + r, c))
          def merge(syms: Vector[String]): Vector[String] =
            syms.foldLeft(Vector.empty[String]) { (acc, x) =>
              if (acc.nonEmpty && acc.last == l && x == r)
                acc.init :+ (l + r)
              else acc :+ x
            }
          vocab = vocab.toSeq.map { case (s, f) => merge(s) -> f }
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          step += 1
        }
      }
    }
    out.toSeq
  }

  /** localVocabMax = 0 forces the distributed merge loop; the default
    * exercises the driver-local dispatch path (these corpora are far under
    * the bound). Both must reproduce the reference identically. */
  private def run(texts: Seq[String], nMerges: Int,
      localVocabMax: Int = graft.llm.Bpe.DriverLocalVocabMaxRows): Seq[(Int, String, String, String, Long)] = {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    graft.data.Frames.scope("bpe train") {
      graft.llm.Bpe.trainBpe(docs, nMerges = nMerges,
          localVocabMax = localVocabMax).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq.sortBy(_._1)
    }
  }

  test("planted corpus: learns whole words through suffix merges; greedy overlap") {
    // "aaa" + repeated merges of (a,a): greedy left-to-right means the
    // first learned pair can only pair positions 1-2, not 2-3
    val texts = Seq.fill(6)("low lower lowest aaa") ++ Seq.fill(3)("low aaa")
    val exp = referenceBpe(texts, 12)
    val got = run(texts, 12)
    assert(exp.nonEmpty && exp.exists(_._4.contains("low")),
      s"reference fixture lost its planted structure: $exp")
    assert(got == exp, s"merge tables diverge:\nspark = $got\nref   = $exp")
  }

  test("randomized corpora reproduce the reference merge table exactly") {
    val rnd = new scala.util.Random(907L)
    for (round <- 1 to 3) {
      val vocabWords = Seq("scan", "span", "plan", "clan", "scat", "spat", "a", "aa", "ab")
      val texts = (0 until 30).map { _ =>
        Seq.fill(4 + rnd.nextInt(10))(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" ")
      }
      val exp = referenceBpe(texts, 15)
      val got = run(texts, 15)
      assert(got == exp, s"round $round: merge tables diverge:\nspark = $got\nref   = $exp")
      // the distributed loop (forced past the driver-local dispatch) must
      // produce the identical merge table — the two paths' identity proof
      val gotDist = run(texts, 15, localVocabMax = 0)
      assert(gotDist == exp,
        s"round $round: distributed loop diverges from local/reference:\nspark = $gotDist\nref   = $exp")
    }
  }

  test("applyBpe: encoding with the trained merges matches the reference encode") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    val vocabWords = Seq("lower", "lowest", "low", "slow", "slower", "aaa", "ab")
    val texts = (0 until 25).map { _ =>
      Seq.fill(3 + rnd.nextInt(8))(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = referenceBpe(texts, 10).map { case (_, l, r, _, _) => (l, r) }
    assert(merges.nonEmpty)
    // reference encode: same greedy fold applied in training order
    def encode(word: String): Vector[String] =
      merges.foldLeft(word.map(_.toString).toVector :+ "</w>") { case (syms, (l, r)) =>
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        }
      }
    val exp = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.split(" ", -1).filter(_.nonEmpty)
      val np = ws.map(w => encode(w).size.toLong).sum
      (i.toLong, ws.length.toLong, np,
        BigDecimal(np.toDouble / ws.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = graft.data.Frames.scope("bpe encode") {
      graft.llm.Bpe.applyBpe(docs, merges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sortBy(_._1)
    }
    assert(got == exp, s"encode diverges:\nspark = $got\nref   = $exp")
  }

  test("early stop: merges halt when no pair reaches minCount") {
    // every word unique and 2 chars -> after the few shared-pair merges
    // the counts drop under 2 and the loop must stop before nMerges
    val texts = Seq("ab cd ef gh ij kl")
    val exp = referenceBpe(texts, 50)
    val got = run(texts, 50)
    assert(got == exp)
    assert(got.size < 50, s"expected early stop, got ${got.size} merges")
  }
}
