package graft.llm

import graft.data.Tables
import graft.ops.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the missing
  * half of the tokenizer story next to t5 (BPE-ish regex tokenize) and t7
  * (one merge-candidate step): the full iterative merge loop that produces
  * a merge table a tokenizer then applies.
  *
  * Scale shape (Sennrich's own trick, which is also the distributed one):
  * the corpus is scanned exactly ONCE, to the word-frequency table; every
  * merge iteration then runs over the VOCAB (distinct words × frequency),
  * which is corpus-sublinear (tens of millions of rows at 100 TB, vs
  * trillions of tokens). Per iteration: one (left, right)-keyed aggregate
  * with map-side partials for the pair counts, a 1-row argmax collect
  * (driver-sized by construction, the AQE-probe precedent), and a
  * codegen'd fold that rewrites each word's symbol array. The vocab frame
  * is checkpointed per iteration — post-aggregation small, the t14/t17
  * side of the checkpoint arithmetic — so plans don't grow with the
  * iteration count (the d6 pointer-doubling precedent).
  */
object Bpe {

  /** One greedy left-to-right merge of (l, r) -> l+r inside a symbol
    * array, as a codegen'd fold: standard BPE semantics, so "a a a" with
    * pair (a, a) becomes ["aa", "a"]. try_element_at: null (never an
    * ANSI error) on the empty accumulator. */
  private def mergeFold(syms: org.apache.spark.sql.Column, l: String, r: String) =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Measured-dispatch bound for the trainer (the s2 idiom): a vocab
    * (distinct words) at or under this many rows collects to the driver
    * and the merge loop runs locally — each merge iteration was otherwise
    * a full scheduled Spark job (orderBy.limit(1).collect argmax), ~3 s of
    * pure job-launch floor for 20 merges at sf0.1, over data that is
    * MB-scale by Sennrich's own vocab argument. Above the bound the
    * distributed loop below (identical semantics, BpeSpec-proven equal)
    * takes over; at 100-TB corpora the vocab is tens of millions of rows
    * and the distributed path is the right one. */
  private[graft] val DriverLocalVocabMaxRows = 2000000

  /** Byte-budget companion to the row bound (r17, advice #1): the row
    * bound alone let a corpus of very LONG distinct "words" (space-free
    * text, minified content) put hundreds of MB of strings on the driver
    * heap just to make the dispatch decision. Estimated JVM cost —
    * 2 B/char + ~48 B object overhead per (word, freq) tuple — must stay
    * under this before the vocab collects; otherwise the distributed
    * loop takes over regardless of row count. */
  private[graft] val DriverLocalVocabMaxBytes = 256L * 1024 * 1024

  /** Train `nMerges` BPE merges over the corpus word distribution.
    * Symbols start as single characters plus a terminal `eow` marker (so
    * suffix merges are learnable); ties on pair count break
    * lexicographically on (left, right) — deterministic across engines
    * and partitionings. Stops early when no pair occurs `minCount` times.
    * Returns the merge table (step, left, right, merged, pair_count) —
    * driver-sized by definition (≤ nMerges rows).
    *
    * `localVocabMax` is the driver-local dispatch bound (0 forces the
    * distributed loop — how BpeSpec pins the two paths' identity). */
  def trainBpe(docs: DataFrame, nMerges: Int = 30, minCount: Long = 2L,
      eow: String = "</w>",
      localVocabMax: Int = DriverLocalVocabMaxRows): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the single corpus pass: word -> frequency
    val wordFreq = docs
      .select(split(col("text"), " ").as("ts"))
      .select(explode_outer(col("ts")).as("word"))
      .where(col("word").isNotNull && length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // measured dispatch (r17, advice #1: gate on BYTES too, not only
    // rows — the old limit(bound+1).collect shipped up to 2M (word, freq)
    // rows to the driver to make the decision, unbounded in string
    // length): one map-side-combined aggregate probes row count AND
    // estimated heap bytes; the vocab collects only when both bounds
    // hold. wordFreq is persisted across probe + consumer (the local
    // collect, or the distributed char-split below) so the corpus is
    // still scanned once.
    if (localVocabMax > 0) {
      wordFreq.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probe = wordFreq
        .agg(count(lit(1)), coalesce(sum(length(col("word"))), lit(0L))).head()
      val (nWords, chars) = (probe.getLong(0), probe.getLong(1))
      if (nWords <= localVocabMax &&
          chars * 2 + nWords * 48 <= DriverLocalVocabMaxBytes) {
        val head = wordFreq.as[(String, Long)].collect()
        wordFreq.unpersist()
        return trainBpeLocal(head, nMerges, minCount, eow)
          .toDF("step", "left", "right", "merged", "pair_count")
      }
    }
    // char-level start: ["w","o","r","d","</w>"]
    var vocab = graft.data.Frames.trackedCheckpoint(wordFreq.select(
      col("freq"),
      concat(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))),
        array(lit(eow))).as("syms")))
    // the checkpoint above was wordFreq's last consumer on this path
    if (localVocabMax > 0) wordFreq.unpersist(blocking = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val pairs = vocab
        .select(col("freq"),
          when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1), i =>
              struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>")).as("ps"))
        .select(col("freq"), explode_outer(col("ps")).as("p"))
        .where(col("p").isNotNull)
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
      val best = pairs.orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty || best(0).getAs[Long]("c") < minCount) done = true
      else {
        val (l, r, c) = (best(0).getAs[String]("l"), best(0).getAs[String]("r"),
          best(0).getAs[Long]("c"))
        merges += ((step, l, r, l + r, c))
        // checkpoint every 4th merge, not every merge: the per-iteration
        // cost here is job-scheduling floor, not data (the vocab is
        // corpus-sublinear), and a 4-deep chain of fold projections is a
        // trivial recompute — measured ~30% off the whole trainer. The
        // chain must still be cut periodically or plans grow linearly
        // with the merge count (the d6 pointer-doubling lesson).
        val merged = vocab.select(col("freq"), mergeFold(col("syms"), l, r).as("syms"))
        vocab = if (step % 4 == 0) graft.data.Frames.trackedCheckpoint(merged) else merged
        step += 1
      }
    }
    merges.toSeq.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** UTF-8 byte-order string comparison — what Spark's orderBy compares
    * (UTF8String binary ordering), NOT Java's UTF-16 code-unit compareTo;
    * the two diverge on supplementary characters, and the local loop's
    * tie-break must match the distributed argmax bit-for-bit. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local merge loop over a collected vocab — semantics identical
    * to the distributed loop above (code-point symbol start, overlapping
    * pair counts weighted by word frequency, greedy left-to-right merge
    * application, count-desc/(l,r)-asc tie-break in UTF8 byte order,
    * minCount early stop); BpeSpec proves the merge-table identity. */
  private[llm] def trainBpeLocal(words: Array[(String, Long)], nMerges: Int,
      minCount: Long, eow: String): Seq[(Int, String, String, String, Long)] = {
    // code-point split, matching Spark's substr(i, 1) character semantics
    val syms: Array[scala.collection.mutable.ArrayBuffer[String]] =
      words.map { case (w, _) =>
        val b = new scala.collection.mutable.ArrayBuffer[String](w.length + 1)
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          b += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        b += eow
        b
      }
    val freqs = words.map(_._2)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val b = syms(wi); val f = freqs(wi)
        var j = 0
        while (j < b.length - 1) {
          val k = (b(j), b(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          j += 1
        }
        wi += 1
      }
      var best: ((String, String), Long) = null
      counts.foreach { kv =>
        if (best == null || kv._2 > best._2 || (kv._2 == best._2 &&
            (if (kv._1._1 != best._1._1) utf8Less(kv._1._1, best._1._1)
             else utf8Less(kv._1._2, best._1._2)))) best = kv
      }
      if (best == null || best._2 < minCount) done = true
      else {
        val ((l, r), c) = best
        out += ((step, l, r, l + r, c))
        val m = l + r
        var wi2 = 0
        while (wi2 < syms.length) {
          val b = syms(wi2)
          if (b.length >= 2) {
            val nb = new scala.collection.mutable.ArrayBuffer[String](b.length)
            var j = 0
            while (j < b.length) {
              val x = b(j)
              if (nb.nonEmpty && nb(nb.length - 1) == l && x == r)
                nb(nb.length - 1) = m
              else nb += x
              j += 1
            }
            syms(wi2) = nb
          }
          wi2 += 1
        }
        step += 1
      }
    }
    out.toSeq
  }

  /** ENCODE with a trained merge table — the apply half of the tokenizer
    * loop. Scalable shape: the merges are applied to the DISTINCT-word
    * vocab (corpus-sublinear), in training order with the same greedy
    * fold and the same every-4th checkpoint cadence; the corpus then
    * joins its token stream against the encoded vocab — at sane vocab
    * sizes that join broadcasts, and the heavy fold work never touches
    * corpus-scale rows. Returns per-doc (doc_id, n_words, n_pieces,
    * pieces_per_word). */
  def applyBpe(docs: DataFrame, merges: Seq[(String, String)],
      eow: String = "</w>"): DataFrame = {
    val words = docs.select(split(col("text"), " ").as("ts"))
      .select(explode_outer(col("ts")).as("word"))
      .where(col("word").isNotNull && length(col("word")) > 0)
      .distinct()
    var enc = graft.data.Frames.trackedCheckpoint(words.select(
      col("word"),
      concat(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))),
        array(lit(eow))).as("syms")))
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      val next = enc.select(col("word"), mergeFold(col("syms"), l, r).as("syms"))
      enc = if ((i + 1) % 4 == 0) graft.data.Frames.trackedCheckpoint(next) else next
    }
    val perDoc = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), explode_outer(col("ts")).as("word"))
      .where(col("word").isNotNull && length(col("word")) > 0)
      .join(enc.select(col("word"), size(col("syms")).as("np")), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_pieces"),
        round(sum(col("np")).cast("double") / count(lit(1)), 6).as("pieces_per_word"))
    // every doc reports, like the sibling per-doc ops (d11's left join): a
    // doc with no non-empty tokens would otherwise vanish through the inner
    // vocab join — it surfaces as (0, 0, null) instead
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        col("pieces_per_word"))
  }

  // Per-corpus merge table (the d0 shared-cache idiom, keyed by the data
  // dir): the declared train + encode pair shares ONE training run in a
  // declaration-ordered suite, and the merge table itself is driver-sized
  // (≤ nMerges rows), so the entry holds no executor blocks.
  private def trainedMerges(s: SparkSession, d: String,
      nMerges: Int): Seq[(Int, String, String, String, Long)] =
    graft.data.Frames.getOrCreate(graft.data.Frames.Key("bpe.merges", d, nMerges))(
      trainBpe(Tables(s, d, "documents"), nMerges = nMerges).collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq)(_ => ())

  val entries: Seq[QueryDef] = Seq(
    // Iterative trainer output is not expressible as one SQL query (a
    // driver loop of data-dependent argmaxes) -> rows-only driver check;
    // BpeSpec proves the merge sequence against a single-threaded
    // reference implementation on planted and randomized corpora.
    QueryDef.noOracle("t18_bpe_train") { (s, d) =>
      import s.implicits._
      trainedMerges(s, d, 20)
        .toDF("step", "left", "right", "merged", "pair_count")
    },

    // Encode the corpus with the 20 trained merges — the end-to-end
    // tokenizer pipeline entry. The merge table comes from the per-corpus
    // cache (populated here if t18 hasn't run), so a declaration-ordered
    // suite charges training to the t18 line and this line times the
    // encode: one vocab fold chain + a token-stream join.
    QueryDef.noOracle("t18b_bpe_encode") { (s, d) =>
      applyBpe(Tables(s, d, "documents"),
        trainedMerges(s, d, 20).map { case (_, l, r, _, _) => (l, r) })
    }
  )
}
