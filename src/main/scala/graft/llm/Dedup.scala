package graft.llm

import graft.data.{Frames, Tables}
import graft.ops.QueryDef
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table (north-star extension;
  * exact-dup semantics from config dedup, reference:
  * maggy/optimizer/abstractoptimizer.py:254-295).
  *
  * Scale design: every variant is a groupBy/join on a *derived key* (hash,
  * fingerprint, band bucket) so the shuffle moves only (key, doc_id) pairs,
  * never the document text. At 100 TB: hash keys are ~32 bytes/doc → the
  * dedup shuffle is ~3 orders of magnitude smaller than the corpus.
  */
object Dedup {

  /** Tokenize on single spaces (testdata is space-separated words). */
  private def tokens = split(col("text"), " ")

  /** Shared DuckDB CTEs recomputing the [[simhash]] signature from
    * scratch: md5 token hashes split into 32-bit halves (BIGINT-safe bit
    * tests), the 64 ±1-vote bit sums, and the two signature halves —
    * consumers append the signed-long assembly (d5) or the brute-force
    * hamming pair join (d5b). */
  private def simhashSigSql: String =
    """WITH tok AS (
      |  SELECT doc_id, md5(t) AS hx FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
      |th AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) AS hi,
      |         CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS lo
      |  FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (CASE WHEN b < 32 THEN lo >> b
      |                             ELSE hi >> (b - 32) END) & 1 = 1
      |                  THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
      |  GROUP BY doc_id, b),
      |halves AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN b >= 32 AND s > 0 THEN 1 << (b - 32) ELSE 0 END) AS BIGINT) AS sh,
      |         CAST(sum(CASE WHEN b < 32 AND s > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sl
      |  FROM bits GROUP BY doc_id)
      |""".stripMargin

  /** Shared DuckDB CTEs recomputing the ENTIRE banded-minhash pair set
    * from scratch — the r15 oracle flip for the LSH family (the d5
    * precedent applied to minhash): shingle fingerprints from md5 halves
    * (signed-long assembly identical to the engine's shiftleft|OR), the 64
    * Carter-Wegman permutations with the SAME (aᵢ,bᵢ,p) literals the
    * engine uses ([[MinhashParams]] interpolated below), band keys as the
    * same 16 md5 hex chars the engine buckets on, candidate pairs by
    * band-key equality, and exact-Jaccard verification on string shingle
    * sets. Ends with a `pairs(doc_a, doc_b, jaccard)` CTE; d3 selects it,
    * d6b appends the recursive connected-components decision.
    *
    * [[minhashLshCtes]] is the embeddable form (no WITH keyword, source
    * relation parameterized): x10b/x11b splice it into their pipeline
    * oracles over the stage-3 survivor relation instead of `documents`. */
  private def minhashLshPairsSql(threshold: Double): String =
    "WITH RECURSIVE " + minhashLshCtes(threshold) + "\n"

  /** Engine-side hot-bucket cap (see [[bandedLshPairs]]): pairs are only
    * generated among the `DefaultMaxBucketSize` smallest doc_ids of each
    * (band, key) bucket. The oracle SQL replicates the cap bit-for-bit
    * (row_number over doc_id order), so the hash gate stays exact even on
    * a corpus with a >cap boilerplate bucket — the regime the cap exists
    * for. `maxBucketSize = 0` disables the cap (the x11b equi-join path
    * never materializes buckets, so its oracle must not cap either). */
  private[graft] val DefaultMaxBucketSize = 1000

  private[graft] def minhashLshCtes(threshold: Double,
      docsRel: String = "documents",
      maxBucketSize: Int = DefaultMaxBucketSize): String = {
    val permRows = MinhashParams.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM $docsRel
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shs AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
       |         i -> array_to_string(ts[i:i+2], ' '))) AS shingles
       |  FROM toks),
       |sh AS (SELECT doc_id, unnest(shingles) AS s FROM shs),
       |rh AS (
       |  SELECT doc_id,
       |         ((((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
       |             * 4294967296 + lo) % $MinhashP) + $MinhashP) % $MinhashP AS r
       |  FROM (SELECT doc_id,
       |               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hi,
       |               CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS lo
       |        FROM sh)),
       |perms(i, a, b) AS (VALUES $permRows),
       |mh AS (
       |  SELECT doc_id, i, min((a * r + b) % $MinhashP) AS m
       |  FROM rh CROSS JOIN perms GROUP BY doc_id, i),
       |bk AS (
       |  SELECT doc_id, i // 4 AS band,
       |         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS k
       |  FROM mh GROUP BY doc_id, band),
       |${if (maxBucketSize > 0)
           s"""bkr AS (
       |  SELECT doc_id, band, k,
       |         row_number() OVER (PARTITION BY band, k ORDER BY doc_id) AS rn
       |  FROM bk),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bkr a JOIN bkr b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
       |  WHERE a.rn <= $maxBucketSize AND b.rn <= $maxBucketSize),"""
         else
           s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id),"""}
       |pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT c.doc_a, c.doc_b,
       |           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
       |                 (len(a.shingles) + len(b.shingles)
       |                  - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
       |    FROM cand c JOIN shs a ON a.doc_id = c.doc_a JOIN shs b ON b.doc_id = c.doc_b)
       |  WHERE jaccard >= $threshold)""".stripMargin
  }

  val entries: Seq[QueryDef] = Seq(
    // d0: explicit build step for the shared per-corpus caches (the
    // localCheckpoint'ed shingle arrays + the ≥ PairCacheFloor scored
    // pair table) that the whole dedup family reuses. Declared FIRST in the
    // family so a declaration-ordered run charges the one-time build to this
    // named line instead of whichever dedup query happens to run first — the
    // sim_ivf_build precedent. Output (and oracle) is d4's pair count, so
    // the build is still a fully oracle-checked query.
    QueryDef("d0_cache_build",
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 3)
        |SELECT count(*) AS n_pairs FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |               (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.1""".stripMargin) { (s, d) =>
      exactNgramJaccardPairs(Tables(s, d, "documents"), 0.1)
        .agg(count(lit(1)).as("n_pairs"))
    },

    // d0b: build step for the shingle/token cache ALONE — the ≥100× regime
    // where the exact pair table (d0) has left the feasible set but the
    // LSH/incremental/contamination operators still need the cached shingle
    // arrays. A declaration-ordered run that excludes d0 charges the build
    // here; after d0 it is a cache hit (~0 s). Output: corpus shingle
    // totals (rows-only check; the cache's consumers are oracle-checked).
    QueryDef.noOracle("d0b_shingle_cache") { (s, d) =>
      sharedShingles(Tables(s, d, "documents"))
        .agg(count(lit(1)).as("n_docs"), sum(size(col("sh"))).as("n_shingles"))
    },

    // Exact dedup: md5(text) as the group key; keeper = lowest doc_id.
    QueryDef("d1_exact_dedup",
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
    },

    // Bag-of-words dedup: order-insensitive fingerprint (sorted token join).
    // Catches shuffled near-duplicates that exact hashing misses.
    QueryDef("d2_tokenbag_dedup",
      """SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_hash,
        |       count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents
        |GROUP BY 1""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(md5(array_join(array_sort(tokens), " ")).as("bag_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
    },

    // Exact all-pairs n-gram (3-shingle) Jaccard ≥ 0.1 — the oracle-checked
    // ground truth the MinHash/SimHash approximations are validated against.
    //
    // Plan: INVERTED SHINGLE INDEX. Round-1/2 d4 self-joined on `source`
    // (few distinct values → one skewed shuffle key), shuffled full shingle
    // arrays, and emitted every same-source pair including jaccard 0 — a
    // plan AND a pair space that both collapse at scale. Now both sides
    // explode to (doc_id, shingle-hash) longs; the join key is the shingle
    // hash itself (high-cardinality — no skew), so only pairs that actually
    // share a shingle are ever generated; |A∩B| = matched-row count per
    // pair; set sizes re-join from a tiny per-doc table. The jaccard ≥ 0.1
    // threshold is what makes the posting-list plan complete: zero-overlap
    // pairs can't appear in it, and can't pass the threshold either.
    // 100 TB note: a boilerplate shingle with document frequency k costs
    // k²/2 join rows — [[boundedScoredPairs]] prunes stop-shingles by df
    // before the join for that regime (pairs held together only by
    // ultra-common shingles sit far below any useful threshold).
    QueryDef("d4_ngram_jaccard",
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |               (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.1""".stripMargin) { (s, d) =>
      exactNgramJaccardPairs(Tables(s, d, "documents"), 0.1)
    },

    // d4b: the threshold-AWARE exact pair scan — same contract as d4 at
    // the dedup threshold, computed via the PPJoin prefix filter instead
    // of the threshold-independent posting join (see exactPairsPrefix:
    // candidate volume tracks near-dup density, not the corpus square —
    // the exact path that still finishes where d0's cache build exhausts
    // local disk). Oracle: identical quadratic formulation in DuckDB.
    QueryDef("d4b_jaccard_prefix",
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |               (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin) { (s, d) =>
      exactPairsPrefix(Tables(s, d, "documents"), 0.8)
    },

    // d6: the dedup DECISION — connected components over near-dup pairs
    // (jaccard ≥ 0.8), keeper = lowest doc_id per component. This is the
    // operator an LLM data pipeline actually applies: pairs are evidence,
    // the keep-list is the output. Oracle: recursive-CTE label propagation
    // in DuckDB over the identical pair definition.
    QueryDef("d6_neardup_groups",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 3),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |           (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.label FROM r JOIN edges e ON r.node = e.src)
        |SELECT node AS doc_id, min(label) AS component,
        |       CAST(node = min(label) AS BOOLEAN) AS is_keeper
        |FROM r GROUP BY node""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents")
      val pairs = exactNgramJaccardPairs(docs, 0.8).select("doc_a", "doc_b")
      connectedComponents(pairs, docs.select(col("doc_id").as("node")))
        .select(col("node").as("doc_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_keeper"))
    },

    // d6b: the dedup DECISION on the PRODUCTION pair path — connected
    // components over banded-LSH candidate pairs (exact-verified, so zero
    // false merges; recall measured 1.0 vs exact truth at sf0.01/sf1/sf10,
    // scale_r10/recall_*.json). d6 stays the exact ground truth over the
    // shared d0 pair cache; at sf10 that cache cannot even build (its
    // ≥0.1 pair spill exceeds local disk), while this path's pair stage
    // ran 7.4 s. A missed pair (sub-1.0 recall regime) splits a component
    // — keepers become a superset of d6's — which is the standard accepted
    // trade of every LSH dedup pipeline. ORACLED since r15 (the d3 flip):
    // DuckDB recomputes the banded pair set itself and runs the same
    // recursive-CTE component labeling as d6's oracle over it, so the
    // decision is hash-checked against the engine's LSH pairs — not
    // against d4's exact truth (that identity stays DataPlaneSpec's).
    QueryDef("d6b_neardup_groups_lsh", minhashLshPairsSql(0.8) +
      """, edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |r(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.label FROM r JOIN edges e ON r.node = e.src)
        |SELECT node AS doc_id, min(label) AS component,
        |       CAST(node = min(label) AS BOOLEAN) AS is_keeper
        |FROM r GROUP BY node""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents")
      val pairs = bandedLshPairs(docs, jaccardThreshold = 0.8)
        .select("doc_a", "doc_b")
      connectedComponents(pairs, docs.select(col("doc_id").as("node")))
        .select(col("node").as("doc_id"), col("label").as("component"),
          (col("node") === col("label")).as("is_keeper"))
    },

    // SimHash (64-bit) near-dup buckets. The md5-derived token hash makes
    // (shared signature CTEs: simhashSigSql below the entries)
    // the ENTIRE signature DuckDB-expressible (r13 verdict ask #7): the
    // oracle recomputes every token hash from its md5 halves, the 64
    // ±1-vote bit sums, and the signed-long assembly — a full independent
    // recomputation of the signature, hash-compared.
    QueryDef("d5_simhash", simhashSigSql +
      """SELECT doc_id,
        |       CASE WHEN sh >= 2147483648 THEN (sh - 4294967296) * 4294967296 + sl
        |            ELSE sh * 4294967296 + sl END AS simhash
        |FROM halves""".stripMargin) { (s, d) =>
      simhash(Tables(s, d, "documents"))
    },

    // d5b: SimHash near-dup PAIRS via the multi-block pigeonhole hamming
    // join (Manku et al. WWW'07): 6 signature blocks, C(6,3)=20 exact-match
    // keys of ~32 bits each — any pair within hamming 3 agrees exactly on
    // some key; candidates stream through a self equi-join and verify with
    // bit_count(xor) ≤ 3 (see [[simhashPairs]] for why single-band 16-bit
    // keys collapse at scale). The ENGINE prunes candidates by pigeonhole
    // keys; DuckDB (oracle-scale corpus) verifies all n²/2 pairs directly —
    // same answer proves the pruning lossless, and DataPlaneSpec re-proves
    // set-equality with brute force in-engine.
    QueryDef("d5b_simhash_pairs", simhashSigSql +
      """, sig AS (
        |  SELECT doc_id,
        |         CASE WHEN sh >= 2147483648 THEN (sh - 4294967296) * 4294967296 + sl
        |              ELSE sh * 4294967296 + sl END AS simhash
        |  FROM halves)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin) { (s, d) =>
      simhashPairs(Tables(s, d, "documents"), maxHamming = 3)
    },

    // d7: benchmark-contamination check — corpus documents sharing ≥ 2
    // 3-shingles with any doc of a small "eval set" (here: doc_id % 10 = 0
    // stands in for the benchmark). Plan shape: the eval set's exploded
    // (shingle-hash, probe_id) index is BROADCAST and the corpus streams
    // through one narrow pass against it — but the COST of that pass is
    // governed by probe-index selectivity, not just corpus size: on a
    // bounded-vocabulary corpus 3-shingles are shared by ~every doc pair,
    // so the matched-row volume (and the declared ≥2-shared pair OUTPUT
    // itself) grows quadratically — measured 753 s at the 100× ScaleGen
    // corpus vs 2.4 s at 10×. d7 is therefore the ORACLE-CHECKED EXACT
    // BASELINE, grouped with d0/d4/d6 in the scale suite; the production
    // scan at deployment width is d7b below. Oracle: brute-force
    // list_intersect join (fine at test SF, quadratic for DuckDB).
    QueryDef("d7_contamination",
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 3)
        |SELECT c.doc_id, p.doc_id AS probe_id,
        |       len(list_intersect(c.shingles, p.shingles)) AS n_shared
        |FROM sh c JOIN sh p ON p.doc_id % 10 = 0 AND c.doc_id <> p.doc_id
        |WHERE len(list_intersect(c.shingles, p.shingles)) >= 2""".stripMargin) { (s, d) =>
      val tok = sharedTokens(Tables(s, d, "documents"))
      val probeTok = tok.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("probe_id"), col("h"))
      val corpusTok = tok.select(col("doc_id"), col("h"))
      corpusTok.join(broadcast(probeTok), "h")
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy("doc_id", "probe_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },

    // d7b: contamination at the PRODUCTION n-gram width. Published
    // decontamination passes use WIDE n-grams (GPT-3 appendix C: 13-grams;
    // open pipelines typically 8-13) precisely so a match implies copied
    // text rather than shared phrasing: at width 8 even this corpus's
    // 30-word vocabulary gives a ~30⁸ gram space, the probe index is
    // selective, and matched rows ≈ true contamination — linear in corpus
    // size at a fixed eval set, where d7's 3-shingle matches are quadratic
    // (see d7). Same plan family: broadcast probe-gram index, one corpus
    // pass, only matches reach the counting shuffle. minShared = 1: any
    // single wide-gram hit is contamination (the published rule).
    QueryDef("d7b_contamination_wide",
      """WITH g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 6),
        |           i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS grams
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 8)
        |SELECT c.doc_id, p.doc_id AS probe_id,
        |       len(list_intersect(c.grams, p.grams)) AS n_shared
        |FROM g c JOIN g p ON p.doc_id % 10 = 0 AND c.doc_id <> p.doc_id
        |WHERE len(list_intersect(c.grams, p.grams)) >= 1""".stripMargin) { (s, d) =>
      contaminationWide(Tables(s, d, "documents"), col("doc_id") % 10 === 0)
    },

    // d8: INCREMENTAL dedup — a new crawl batch deduped against the EXISTING
    // corpus, the operator a production ingestion pipeline runs on every
    // shard (dedup-before-append), not the all-pairs pass. Batch stands in
    // as doc_id % 7 = 0. Per batch doc: dup_exact (md5 matches any corpus
    // doc), dup_near (3-shingle jaccard ≥ 0.8 with any corpus doc — from
    // the shared posting join, restricted to batch×corpus pairs), and the
    // keep decision. 100 TB shape: the corpus side is a PERSISTED
    // fingerprint store — a hash-bucketed table of (md5, shingle postings)
    // like IvfIndex's saved layout — so the exact check is a bucket-
    // co-located join on 32-byte keys and the batch never rescans corpus
    // text; here the store is derived in-query because testdata is one
    // table. The near check restricts the posting join to batch×corpus
    // BEFORE pair aggregation (see incrementalDedup); only the token cache
    // is shared with d0 — the pair cache is never touched.
    QueryDef("d8_incremental_dedup",
      """WITH ex AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM documents b JOIN documents c
        |    ON b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0 AND md5(b.text) = md5(c.text)),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split(text,' ')) - 1),
        |           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |  WHERE len(string_split(text,' ')) >= 3),
        |near AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh b JOIN sh c ON b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0
        |  WHERE round(CAST(len(list_intersect(b.shingles, c.shingles)) AS DOUBLE) /
        |        (len(b.shingles) + len(c.shingles) - len(list_intersect(b.shingles, c.shingles))), 6) >= 0.8)
        |SELECT doc_id,
        |       doc_id IN (SELECT doc_id FROM ex) AS dup_exact,
        |       doc_id IN (SELECT doc_id FROM near) AS dup_near,
        |       NOT (doc_id IN (SELECT doc_id FROM ex)
        |            OR doc_id IN (SELECT doc_id FROM near)) AS keep
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin) { (s, d) =>
      incrementalDedup(Tables(s, d, "documents"), col("doc_id") % 7 === 0)
    },

    // d8b: the SAME incremental contract with the near check on the LSH
    // path — the pass that stays feasible when even the batch×corpus
    // exact join leaves the budget (the bounded-vocab 100× corpus: every
    // shingle is common, so cross-candidate volume is itself ~quadratic).
    // ORACLED since r15 (the d3 flip): DuckDB recomputes the banded pair
    // set and derives dup_near as "batch doc with an LSH pair into the
    // corpus" — the exact contract of incrementalDedupLsh — while
    // dup_exact reuses d8/d9's md5 join. DataPlaneSpec keeps the
    // cross-path guarantees (dup_near ⊆ exact d8's, planted-dup recall).
    QueryDef("d8b_incremental_lsh", minhashLshPairsSql(0.8) +
      """, near AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_a AS doc_id, doc_b AS other FROM pairs
        |    UNION ALL SELECT doc_b, doc_a FROM pairs)
        |  WHERE doc_id % 7 = 0 AND other % 7 <> 0),
        |ex AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM documents b JOIN documents c
        |    ON b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0 AND md5(b.text) = md5(c.text))
        |SELECT doc_id,
        |       doc_id IN (SELECT doc_id FROM ex) AS dup_exact,
        |       doc_id IN (SELECT doc_id FROM near) AS dup_near,
        |       NOT (doc_id IN (SELECT doc_id FROM ex)
        |            OR doc_id IN (SELECT doc_id FROM near)) AS keep
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin) { (s, d) =>
      incrementalDedupLsh(Tables(s, d, "documents"), col("doc_id") % 7 === 0)
    },

    // d9: the EXACT incremental check with a Bloom-filter prefilter — the
    // membership pass a per-shard ingestion pipeline runs when even a
    // 32-byte-key semi-join shuffle of the whole batch is worth avoiding.
    // corpus fingerprints → one bloom_filter_agg (KB–MB binary, broadcast
    // as a one-row frame); batch rows probe it MAP-SIDE, and only the
    // ~fpp·|batch| + true-dup survivors enter the exact-verify semi-join.
    // Bloom filters have no false negatives, so the verified result is
    // EXACT — which is why this operator carries a full DuckDB oracle
    // (same contract as d8's dup_exact), unlike the probabilistic d3/d5/d8b.
    QueryDef("d9_bloom_dedup",
      """WITH ex AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM documents b JOIN documents c
        |    ON b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0 AND md5(b.text) = md5(c.text))
        |SELECT doc_id,
        |       doc_id IN (SELECT doc_id FROM ex) AS dup_exact,
        |       doc_id NOT IN (SELECT doc_id FROM ex) AS keep
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin) { (s, d) =>
      bloomIncrementalDedup(Tables(s, d, "documents"), col("doc_id") % 7 === 0)
    },

    // MinHash + banded AND/OR LSH near-dup pairs — ORACLED since r15: the
    // md5-derived shingle fingerprint + Carter-Wegman permutations +
    // raw-tuple band keys make the FULL banded pair set (not just the
    // verified survivors) DuckDB-recomputable, so the oracle independently
    // re-derives every signature, band bucket, candidate, and exact-Jaccard
    // verdict from the text (the d5/d5b precedent; r14 verdict ask #1).
    // DataPlaneSpec still proves recall 1.0 vs d4's exact truth across
    // three decades. NOTE (schema change vs round 1): output column is
    // `jaccard` (similarity, kept when >= 0.8); docs under 3 tokens are
    // excluded by the empty-shingle filter in shingleSets.
    QueryDef("d3_minhash_pairs", minhashLshPairsSql(0.8) +
      "SELECT doc_a, doc_b, jaccard FROM pairs") { (s, d) =>
      bandedLshPairs(Tables(s, d, "documents"), jaccardThreshold = 0.8)
    },

    // d10: EXACT duplicated-SUBSTRING spans (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better" — the ExactSubstr
    // modality). Lee et al. build a corpus suffix array to find every
    // substring of >= 50 tokens that occurs twice; the distributed
    // formulation here is the k-gram-ANCHOR equivalent the big pipelines
    // actually run (no suffix array shards): a token POSITION is
    // `duplicated` when the 5-gram starting there occurs >= 2 times in the
    // whole corpus (within- or cross-doc), and maximal runs of consecutive
    // duplicated positions are the reported spans (gaps-and-islands). A
    // true duplicated substring of m >= 5 tokens duplicates all of its
    // m-4 anchors, so every Lee-et-al span IS one of these runs; a run can
    // additionally stitch anchors matching DIFFERENT sources, so the stat
    // upper-bounds per-source span length — the right side to err on for a
    // trimming filter. Differs from t14 (bag-of-grams df fraction) by being
    // POSITIONAL: it reports where the duplicated material sits and how
    // long it runs, which is what span-trimming (vs doc-dropping) needs.
    // Output per doc with >= 1 duplicated anchor: token count, tokens
    // covered by any duplicated 5-gram, and the count / max length of
    // maximal runs spanning >= 10 tokens.
    //
    // Scale shape: anchors = one generator pass, (doc_id, pos, 8-byte
    // xxhash64, n_tok) — text never shuffles. Gram frequency is
    // groupBy(gh).count() with map-side partials (skew-proof against a
    // corpus-universal gram; the t14 lesson applied from birth, never a
    // count-window over gh), the anchors table is checkpointed ONCE (d0
    // idiom) so the frequency pass and the semi-join probe read the same
    // blocks, and the islands window partitions by doc_id — bounded by a
    // single document's length, never corpus-wide. Nothing is quadratic.
    // Oracle groups by the gram STRING where Spark groups by xxhash64 —
    // identical partitions absent a 64-bit collision (d4/t14 precedent).
    QueryDef("d10_substring_spans",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents
        |           WHERE len(string_split(text,' ')) >= 5),
        |g AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok, i AS pos,
        |             array_to_string(ts[i:i+4], ' ') AS gram
        |      FROM t, UNNEST(range(1, len(ts)-3)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |da AS (SELECT doc_id, n_tok, pos FROM g JOIN dup USING (gram)),
        |cov AS (SELECT doc_id, max(n_tok) AS n_tok,
        |               count(DISTINCT pos + o) AS dup_cov
        |        FROM da, UNNEST(range(0, 5)) AS v(o) GROUP BY doc_id),
        |isl AS (SELECT doc_id, count(*) + 4 AS span_len FROM (
        |          SELECT doc_id, pos,
        |                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |          FROM da) GROUP BY doc_id, grp),
        |sp AS (SELECT doc_id,
        |              CAST(sum(CASE WHEN span_len >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |              CAST(coalesce(max(CASE WHEN span_len >= 10 THEN span_len END), 0) AS BIGINT) AS max_span
        |       FROM isl GROUP BY doc_id)
        |SELECT doc_id, n_tok, dup_cov, n_spans, max_span
        |FROM cov JOIN sp USING (doc_id)""".stripMargin) { (s, d) =>
      substringSpans(Tables(s, d, "documents"))
    },

    // d11: the ACTIONABLE half of d10 — Lee et al. 2021's point is to
    // REMOVE the duplicated substrings, not just count them (trim, don't
    // drop: RefinedWeb/Gopher keep the document minus its boilerplate).
    // Every maximal duplicated-anchor run spanning >= 10 tokens is cut
    // from the text; output is every document with its token counts and
    // md5 of the trimmed text (hash, not text — result rows stay small
    // and the driver compare stays exact).
    //
    // Scale shape: the expensive half (anchors -> df -> islands) is
    // d10's, shuffling only 8-byte gram hashes and doc-bounded windows.
    // The REBUILD half never shuffles a token: the per-doc covered-
    // position array (tiny — only docs with >= 10-token spans have one)
    // joins back to the corpus scan and the trim is a map-side
    // filter/transform over the token array. At 100 TB the interval
    // table broadcasts; the corpus is never re-keyed.
    QueryDef("d11_substring_trim",
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(ts[i:i+4], ' ') AS gram
        |      FROM (SELECT * FROM t WHERE len(ts) >= 5), UNNEST(range(1, len(ts)-3)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |da AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, min(pos) AS s, count(*) + 4 AS len FROM (
        |          SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |          FROM da) GROUP BY doc_id, grp HAVING count(*) + 4 >= 10),
        |iv AS (SELECT doc_id, flatten(array_agg(range(s, s+len))) AS cov FROM isl GROUP BY doc_id)
        |SELECT t.doc_id,
        |       CAST(len(ts) AS BIGINT) AS n_tok,
        |       CAST(len(ts) - coalesce(len(list_distinct(cov)), 0) AS BIGINT) AS n_clean,
        |       CAST(coalesce(len(list_distinct(cov)), 0) AS BIGINT) AS n_removed,
        |       md5(coalesce(array_to_string(list_transform(
        |         list_filter(list_transform(range(1, len(ts)+1), i -> {'i': i, 'w': ts[i]}),
        |           p -> NOT list_contains(coalesce(cov, []), p.i)),
        |         p -> p.w), ' '), '')) AS clean_hash
        |FROM t LEFT JOIN iv USING (doc_id)""".stripMargin) { (s, d) =>
      // oracle-parity trap caught by an exact-duplicate doc (every token
      // trimmed): DuckDB's array_to_string([]) is NULL where Spark's
      // concat_ws is '' — the oracle coalesces before hashing
      substringTrim(Tables(s, d, "documents"))
    }
  )

  /** The per-doc covered-position arrays behind [[substringTrim]] —
    * (doc_id, cov: array<long>), one row per doc that has at least one
    * >= minSpan duplicated run. Duplicate-gram frequency is counted WITHIN
    * the given docs frame (a pipeline trims after dedup/decontamination,
    * against the surviving corpus). Shared by d11's text rebuild and the
    * x10 composed pipeline's trim accounting (which needs counts only). */
  private[graft] def trimCoverage(docs: DataFrame, k: Int = 5,
      minSpan: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = substringAnchors(docs, k)
    val dupGrams = anchors.groupBy("gh").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("gh")
    val da = anchors.join(dupGrams, Seq("gh"), "left_semi")
    val grp = col("pos") -
      row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
    da.select(col("doc_id"), col("pos"), grp.as("grp"))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).cast("long").as("s"), (count(lit(1)) + (k - 1)).as("len"))
      .filter(col("len") >= minSpan)
      .groupBy("doc_id")
      .agg(flatten(collect_list(sequence(col("s"), col("s") + col("len") - 1)))
        .as("cov"))
  }

  /** d11's plan (see the QueryDef comment): d10's anchor/df/island half,
    * then a map-side trim — per-doc covered-position arrays join the
    * corpus scan and a filter/transform rebuilds the text in place.
    * Exposed for PlanSpec and DataPlaneSpec's trim fixtures. */
  private[graft] def substringTrim(docs: DataFrame, k: Int = 5,
      minSpan: Int = 10): DataFrame = {
    val iv = trimCoverage(docs, k, minSpan)
    val cov = coalesce(col("cov"), array().cast("array<bigint>"))
    val withPos = transform(sequence(lit(1L), size(col("ts")).cast("long")),
      i => struct(i.as("i"), element_at(col("ts"), i.cast("int")).as("w")))
    val kept = filter(withPos, p => !array_contains(cov, p.getField("i")))
    docs.select(col("doc_id"), tokens.as("ts"))
      .join(iv, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        (size(col("ts")) - size(array_distinct(cov))).cast("long").as("n_clean"),
        size(array_distinct(cov)).cast("long").as("n_removed"),
        md5(concat_ws(" ", transform(kept, p => p.getField("w")))).as("clean_hash"))
  }

  /** d10's plan (see the QueryDef comment): positional 5-gram anchors →
    * skew-proof corpus frequency → semi-join back → per-doc coverage +
    * gaps-and-islands runs. Exposed for PlanSpec (no Window over the gram
    * key; map-side partial aggregation on the frequency pass) and for
    * DataPlaneSpec's planted-span fixtures. */
  /** d10's positional anchor table — (doc_id, n_tok, pos: 1-based, gh):
    * one row per token position that starts a k-gram. Exposed so PlanSpec
    * can audit the generator discipline and the single corpus scan before
    * the query checkpoints it. */
  private[graft] def substringAnchors(docs: DataFrame, k: Int = 5): DataFrame =
    docs.filter(size(tokens) >= k)
      .select(col("doc_id"), tokens.as("ts"))
      // Project the gram array, THEN explode_outer the bound attribute —
      // and the OUTER variant is load-bearing, not just the t10/t14 habit:
      // for any NON-outer generator (explode/posexplode),
      // InferFiltersFromGenerate adds `size(gs) > 0 AND isnotnull(gs)`,
      // and because the array is only a Project away from the scan, the
      // filter pushes below it with the FULL transform inlined — each
      // predicate re-splits the text and rebuilds the whole gram-hash
      // array per row, in an interpreted (non-codegen) Filter. Measured
      // 11x on the identical array: posexplode 5.2 s vs explode_outer
      // 0.45 s at sf0.1. Outer generators never get the inferred filter.
      // The position therefore rides INSIDE a (pos, gh) struct element
      // instead of coming from posexplode.
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"),
        transform(sequence(lit(1), size(col("ts")) - (k - 1)), i =>
          struct(i.cast("int").as("pos"),
            xxhash64((0 until k).map(j => element_at(col("ts"), i + j)): _*)
              .as("gh"))).as("gs"))
      .select(col("doc_id"), col("n_tok"), explode_outer(col("gs")).as("g"))
      .select(col("doc_id"), col("n_tok"), col("g.pos").as("pos"),
        col("g.gh").as("gh"))

  private[graft] def substringSpans(docs: DataFrame, k: Int = 5,
      minSpan: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The anchor build is planned TWICE (frequency branch + probe branch)
    // on purpose — the opposite call from t14, for a measured reason: the
    // positional anchor table is FATTER than the corpus text it derives
    // from (28 bytes per token position vs ~6 bytes per token), so
    // checkpointing it costs more than a second codegen'd scan+split+hash
    // pass (sf10: 12.6 s with the checkpoint vs 9.2 s without, cold; ~tie
    // warm). t14 checkpoints because its gram-count frame is
    // POST-aggregation (smaller than the corpus); d10's intermediate is
    // pre-aggregation. At 100 TB the same arithmetic holds: two pruned
    // column scans beat writing + reading a >corpus-sized spill.
    val anchors = substringAnchors(docs, k)
    // Corpus gram frequency: an AGGREGATE (map-side partials — the hottest
    // gram's reducer sees one partial per upstream partition), never a
    // count-window over gh (the t14 skew trap).
    val dupGrams = anchors.groupBy("gh").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("gh")
    val da = anchors.join(dupGrams, Seq("gh"), "left_semi")
    // One doc-partitioned pipeline computes everything: islands (maximal
    // anchor runs) via gaps-and-islands, then token COVERAGE by interval
    // arithmetic over the islands — island i covers positions
    // [s_i, s_i+c_i+k-2]; consecutive islands can overlap when the anchor
    // gap is < k, and since interval ends are strictly increasing the
    // union is sum(len) - sum(overlap with the immediately previous
    // island) (lag window, same doc_id partitioning — no extra shuffle).
    // The naive alternative (explode each anchor into its k covered
    // positions + countDistinct + a join back) costs a k-fold row blowup,
    // a distinct aggregate, and a doc-keyed join; this one reuses the
    // single doc_id exchange for both windows and the two aggregates.
    val grp = col("pos") -
      row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
    val isl = da.select(col("doc_id"), col("n_tok"), col("pos"), grp.as("grp"))
      .groupBy("doc_id", "grp")
      .agg(max(col("n_tok")).as("n_tok"), min(col("pos")).as("s"),
        (count(lit(1)) + (k - 1)).as("span_len"))
    val prevEnd = lag(col("s") + col("span_len") - 1, 1)
      .over(Window.partitionBy("doc_id").orderBy("s"))
    isl.select(col("doc_id"), col("n_tok"), col("span_len"),
        greatest(lit(0L), coalesce(prevEnd - col("s") + 1, lit(0L))).as("ov"))
      .groupBy("doc_id")
      .agg(max(col("n_tok")).as("n_tok"),
        (sum(col("span_len")) - sum(col("ov"))).as("dup_cov"),
        sum(when(col("span_len") >= minSpan, 1L).otherwise(0L)).as("n_spans"),
        coalesce(max(when(col("span_len") >= minSpan, col("span_len"))), lit(0L))
          .as("max_span"))
      .select("doc_id", "n_tok", "dup_cov", "n_spans", "max_span")
  }

  /** Incremental dedup: flag each BATCH doc (rows where `isBatch` is true)
    * that duplicates any CORPUS doc (the rest) — see the d8 comment for the
    * operator rationale and the 100 TB fingerprint-store shape. Output:
    * (doc_id, dup_exact, dup_near, keep) for batch docs only.
    * `nearThreshold` is 3-shingle jaccard; the exact check is md5(text).
    * A row where `isBatch` evaluates to NULL is treated as CORPUS (the
    * conservative side: an of-unknown-membership doc can still mark batch
    * docs as duplicates but is never itself flagged or kept-listed). */
  def incrementalDedup(docs: DataFrame, isBatch: Column,
      nearThreshold: Double = 0.8): DataFrame = {
    // NULL-predicate rows must land on exactly one side: filter(pred) and
    // filter(!pred) BOTH drop NULLs, silently losing such docs entirely
    val isBatch0 = coalesce(isBatch, lit(false))
    // near: the PREFIX-FILTERED batch×corpus set-similarity join (see
    // crossScoredPairs) — restricted to cross-side pairs before any pair
    // materialization, threshold-aware so each side posts only its rarest
    // (1−t)·n shingles. (History: through round 8 run A this was the
    // UNFILTERED posting join restricted to batch×corpus — its
    // Σ_h dfA·dfB candidate volume is quadratic on a bounded vocabulary
    // and exhausted local disk at the 100× ScaleGen corpus.) The caller's
    // predicate is re-bound to id sets via semi-joins, so ANY isBatch
    // expression over the docs columns stays valid.
    val nearIds = crossScoredPairs(docs,
        docs.filter(isBatch0).select("doc_id"),
        docs.filter(!isBatch0).select("doc_id"), nearThreshold)
      .select("doc_id").distinct()
    assembleIncremental(docs, isBatch0, nearIds)
  }

  /** [[incrementalDedup]] with the near check on the LSH path: minhash-band
    * the corpus, generate in-bucket candidates, verify candidates against
    * the cached shingle arrays, keep cross-side hits. This is the pass that
    * stays feasible when even the batch×corpus-restricted EXACT join leaves
    * the budget — the bounded-vocabulary regime where every shingle is
    * common and cross-candidate volume is itself ~quadratic (the 100×
    * ScaleGen corpus measures exactly this). dup_near recall is the LSH
    * band recall (≥ 1-(1-t^r)^b, ~0.9998 at t = 0.8 with 16×4 bands);
    * flagged pairs are exact-verified, so there are NO false positives vs
    * [[incrementalDedup]] — DataPlaneSpec proves both properties. */
  def incrementalDedupLsh(docs: DataFrame, isBatch: Column,
      nearThreshold: Double = 0.8): DataFrame = {
    val isBatch0 = coalesce(isBatch, lit(false))
    val batchIds = docs.filter(isBatch0).select("doc_id")
    val corpusIds = docs.filter(!isBatch0).select("doc_id")
    val pairs = bandedLshPairs(docs, nearThreshold)
    val oriented = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
      .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("other")))
    val nearIds = oriented
      .join(batchIds, Seq("doc_id"), "left_semi")
      .join(corpusIds.select(col("doc_id").as("other")), Seq("other"), "left_semi")
      .select("doc_id").distinct()
    assembleIncremental(docs, isBatch0, nearIds)
  }

  /** Shared tail of the incremental-dedup variants: the md5 exact check
    * (32-byte keys only cross the wire — never text) plus the
    * (doc_id, dup_exact, dup_near, keep) assembly over batch rows.
    * `nearIds`: batch doc_ids with a ≥-threshold corpus neighbour. */
  private def assembleIncremental(docs: DataFrame, isBatch0: Column,
      nearIds: DataFrame): DataFrame = {
    val corpusHashes = docs.filter(!isBatch0)
      .select(md5(col("text")).as("h")).distinct()
    val exactDup = docs.filter(isBatch0)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusHashes, Seq("h"), "left_semi")
      .select(col("doc_id"), lit(true).as("dup_exact"))
    val nearDup = nearIds.select(col("doc_id"), lit(true).as("dup_near"))
    docs.filter(isBatch0).select("doc_id")
      .join(exactDup, Seq("doc_id"), "left_outer")
      .join(nearDup, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        coalesce(col("dup_near"), lit(false)).as("dup_near"))
      .withColumn("keep", !col("dup_exact") && !col("dup_near"))
  }

  /** Exact incremental dedup with a Bloom-filter prefilter (d9).
    *
    * Plan: corpus md5 fingerprints fold into ONE `bloom_filter_agg` binary
    * (sized by `expectedCorpusDocs`/`numBits` — at 10⁹ corpus docs and
    * ~10 bits/doc the filter is ~1.2 GB, still a broadcast, vs shuffling
    * every batch fingerprint); the batch probes it with `might_contain`
    * behind a broadcast crossJoin of the one-row filter frame — a pure
    * map-side predicate, codegen'd, no shuffle. Only bloom-positive rows
    * (≈ fpp·|batch| + true duplicates) reach the exact md5 semi-join, so
    * the verify shuffle is ~fpp of the naive one. No false negatives →
    * bloom-negative rows are definitively new; the final answer is exact.
    *
    * An empty corpus folds to a NULL filter; `might_contain(NULL, ·)` is
    * NULL → no candidates → every batch row keeps, which is the correct
    * degenerate answer. */
  def bloomIncrementalDedup(docs: DataFrame, isBatch: Column,
      expectedCorpusDocs: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame = {
    val isBatch0 = coalesce(isBatch, lit(false))
    import graft.functions.BloomMembership
    val corpusFp = docs.filter(!isBatch0).select(md5(col("text")).as("h"))
    // the folded filter rides into the probe as a SCALAR SUBQUERY — the
    // required form for might_contain, and the same plan shape as Spark's
    // AQE-injected runtime Bloom filters: the one-row subquery executes
    // first, then its binary value is embedded into every probe task
    val bloom = corpusFp.agg(
      BloomMembership.bloomAgg(col("h"), expectedCorpusDocs, numBits).as("bf"))
    val candidates = docs.filter(isBatch0)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .filter(BloomMembership.mightContain(
        org.apache.spark.sql.GraftExpressionBridge.scalarSubquery(bloom), col("h")))
    val exactDup = candidates
      .join(corpusFp.distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"), lit(true).as("dup_exact"))
    docs.filter(isBatch0).select("doc_id")
      .join(exactDup, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"))
      .withColumn("keep", !col("dup_exact"))
  }

  /** d7b: wide-n-gram contamination scan — the production shape of the d7
    * eval-set check.
    *
    * Same plan as d7 (probe-gram index broadcast, corpus streams once, only
    * matched rows reach the counting shuffle); the GRAM WIDTH `k` is the
    * scale lever. 3-shingles on a bounded vocabulary are shared by ~every
    * doc pair, so d7's matched-row volume — and its declared pair output —
    * grow quadratically in corpus size (measured: 753 s at the 100×
    * ScaleGen corpus vs 2.4 s at 10×). Width-8 grams are selective enough
    * (~30⁸ gram space even on the 30-word test vocabulary) that a match
    * implies a copied 8-word span, so matched volume tracks TRUE
    * contamination: linear in corpus size for a fixed eval set. This is the
    * published decontamination design — wide-n-gram overlap, any single hit
    * flags the doc (GPT-3 report appendix C uses 13-grams) — not an
    * approximation of d7.
    *
    * Deployment shape at 100 TB: the eval set is benchmark-sized and FIXED
    * as the corpus grows, so the broadcast gram index stays KB–MB. Here the
    * probe is d7's doc_id % 10 slice for like-for-like comparability —
    * still comfortably broadcast-sized at every measured SF (~4.3M hashed
    * longs at the 100× corpus).
    *
    * Gram hashing chains the k token hashes through one multi-arg xxhash64
    * (no per-gram string/array allocation — the [[shingleSets]] rationale),
    * the gram ARRAY is staged as its own projection and only the bound
    * column is exploded (explode_outer — the t10 interpreted-generator
    * guard; `size(toks) >= k` already guarantees non-empty arrays). */
  def contaminationWide(docs: DataFrame, isProbe: Column, k: Int = 8,
      minShared: Int = 1): DataFrame = {
    val grams = wideGrams(docs, k)
    val probe = grams.filter(isProbe)
      .select(col("doc_id").as("probe_id"), col("h"))
    grams.join(broadcast(probe), "h")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The width-`k` gram projection of [[contaminationWide]] (doc_id, h):
    * distinct xxhash64-chained k-grams, one row per (doc, gram). Stateless
    * narrow plan, so it applies unchanged to a STREAMING documents frame —
    * graft.streaming.Streams uses it for decontamination-at-ingest. */
  // Distinct wide-gram PROBE sets (the d7b holdout index), one persisted
  // copy per probe frame: before r18 the x10/x10b/x11-family pipelines and
  // the ledger build each rebuilt the identical holdout gram index — seven
  // full holdout text scans (tokenize + 8-gram explode + distinct) per
  // bench run, growing with the holdout. The probe is an eval benchmark —
  // bounded as the corpus grows (the d7b broadcast argument) — so the
  // persisted copy is KB–MB at any scale.

  /** The distinct width-`k` gram hash set of `probeDocs`, shared across
    * every decontamination stage probing the same frame (§2.4 — remove
    * repeated passes; the shared-cache contract: first consumer pays inside
    * its timed line, its owner's release reclaims). */
  def probeGramSet(probeDocs: DataFrame, k: Int = 8): DataFrame =
    cached("dedup.probe_grams", probeDocs, k)(
      wideGrams(Tables.fanOut(probeDocs), k).select("h").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private[graft] def wideGrams(docs: DataFrame, k: Int = 8): DataFrame =
    docs.filter(size(tokens) >= k)
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => xxhash64((0 until k).map(j => element_at(col("toks"), i + j)): _*))).as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("h"))

  /** The cross-side (a×b) exact ≥-threshold pair join, PREFIX-FILTERED —
    * the set-similarity join of Chaudhuri et al. (ICDE'06) / Bayardo et al.
    * (WWW'07) as MapReduce'd by Vernica, Carey, Li (SIGMOD'10). Output:
    * (doc_id from `aIds`, other from `bIds`, jaccard ≥ threshold), each
    * qualifying cross pair exactly once, oriented a-side first.
    *
    * Why not the full posting join: candidate volume there is
    * Σ_h dfA(h)·dfB(h) — on the bounded-vocabulary 100× ScaleGen corpus
    * (every 3-shingle df ≈ 10³) that is ~3×10⁹ join rows, which exhausted
    * local disk after 955 s in the round-8 run A. The prefix filter is the
    * exact-preserving cut: under ANY global total order on shingles, two
    * sets with jaccard ≥ t must share an element among the first
    * n − ceil(t·n) + 1 of each (|a∩b| ≥ t·max(|a|,|b|), so a disjoint-prefix
    * pair cannot reach the required overlap). Ordering by ASCENDING global
    * document frequency makes each doc post only its RAREST ~(1−t)·n
    * shingles — at t = 0.8 that is 5× fewer postings per side and ~25×
    * fewer candidates even on the adversarial uniform-df corpus (measured:
    * the join completes in tens of seconds where the unfiltered one died);
    * on a real Zipfian corpus the rare tail is near-unique and the
    * candidate set collapses to ~true pairs. Candidates then pass the
    * length filter (jaccard ≥ t forces t·n_a ≤ n_b ≤ n_a/t) and the PPJoin
    * POSITIONAL filter (Xiao et al., WWW'08) BEFORE the distinct: a match
    * at ranks (rk_a, rk_b) of the df-sorted sets can witness at most
    * 1 + min(n_a−rk_a, n_b−rk_b) overlapping elements, and jaccard ≥ t
    * needs |a∩b| ≥ t·(n_a+n_b)/(1+t); the first common element of a
    * qualifying pair always passes, so the pair always survives the
    * distinct. Survivors verify EXACTLY against the cached shingle arrays
    * — the [[bandedLshPairs]] verification shape, so no dependence on the
    * all-pairs table and zero false positives/negatives.
    *
    * Physical topology — the part that decides whether the join survives
    * the adversarial corpus (run B of round 8: the array-verify SMJ sorted
    * ~10⁸ candidate rows each carrying two KB-sized shingle arrays and
    * died spilling hundreds of GB):
    *   - the BATCH prefix index (a-side postings, ~10s of MB for a crawl
    *     shard) is broadcast, so candidates are born map-side while the
    *     corpus postings stream — no shuffle scales with Σ df_A·df_B;
    *   - candidates are thin (two ids); their dedup exchange hash-partitions
    *     on `other` ALONE, which still satisfies the distinct's clustering
    *     (subset key) and is reused as-is by the corpus-array attach;
    *   - corpus arrays attach via a SHUFFLE-HASH join (only the KB-per-doc
    *     array table moves; candidate rows are already placed, and nothing
    *     fat is ever sorted), batch arrays attach via broadcast — so
    *     array-carrying rows exist only in-flight inside one pipeline,
    *     never in a sort buffer or shuffle file. A batch too large to
    *     broadcast (≫ GB of prefix postings) is the regime where the
    *     corpus-side store is bucketed on disk instead — see the d8
    *     fingerprint-store note. */
  private def crossScoredPairs(docs: DataFrame, aIds: DataFrame,
      bIds: DataFrame, threshold: Double): DataFrame = {
    val prefix = prefixTable(docs, threshold)
    val prefA = prefix.join(aIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("h"), col("rk").as("rk_a"), col("n").as("n_a"))
    val prefB = prefix.join(bIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("other"), col("h"),
        col("rk").as("rk_b"), col("n").as("n_b"))
    // candidate distinct has ~candidate-count group cardinality — it sizes
    // its own exchange (the boundedScoredPairs rationale); hashing on
    // `other` alone satisfies the (doc_id, other) clustering AND pre-places
    // rows for the corpus-array attach below
    val pairAggParts = docs.sparkSession.sparkContext.defaultParallelism * 8
    val cands = prefB.join(broadcast(prefA), "h")
      .filter(col("n_b") >= col("n_a") * threshold &&
        col("n_b") <= col("n_a") / threshold)
      .filter(lit(1) + least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")) >=
        (col("n_a") + col("n_b")) * lit(threshold / (1.0 + threshold)))
      .select("doc_id", "other")
      .repartition(pairAggParts, col("other"))
      .distinct()
    val sh = sharedShingles(docs)
    val shA = sh.join(aIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("sh").as("sh_a"))
    val shB = sh.join(bIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("other"), col("sh").as("sh_b"))
    withJaccard(cands
        .join(shB.hint("shuffle_hash"), Seq("other"))
        .join(broadcast(shA), Seq("doc_id")), "sh_a", "sh_b")
      .select("doc_id", "other", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** The PPJoin prefix table of `docs` at `threshold`: each doc's
    * (1−t)·n+1 RAREST shingles as (doc_id, h, rk, n) — rk its rank under
    * the global (df asc, h asc) order, n its set size. Both join sides of
    * [[crossScoredPairs]] and [[exactPairsPrefix]] rank under this one
    * order (h is distinct within a doc, so ranks are deterministic), or the
    * prefix theorem does not hold.
    *
    * MATERIALIZED once (r18, §2.4/§1.2): each caller references the table
    * twice, and without lineage truncation the whole pipeline above it —
    * posting explode, the df aggregation (itself a second posting
    * explode), the rank/size window sort — planned as TWO full copies, one
    * per join side (plans/r18/d4b_jaccard_prefix_before: nodes 1-22 and
    * 23-44 are byte-identical subtrees). The checkpoint holds the prefix
    * rows only — ~20% of the posting table — and releases with the query's
    * tracked frames. */
  private def prefixTable(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefix filter needs a jaccard threshold in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val tok = sharedTokens(docs)
    val dfTab = tok.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val perDoc = Window.partitionBy("doc_id")
    Frames.trackedCheckpoint(tok.join(dfTab, "h")
      .select(col("doc_id"), col("h"),
        row_number().over(byRarity).as("rk"),
        count(lit(1)).over(perDoc).as("n"))
      .filter(col("rk") <= col("n") - ceil(col("n") * threshold) + 1))
  }

  /** `pairs` plus the exact verify score of its shingle-set columns `a`
    * and `b`: jaccard = round(|a∩b| / (|a|+|b|−|a∩b|), 6), the one rule of
    * every verified pair in the dedup family (d3/d4b/d6b/d8b, the x10b and
    * x11b near-checks). Callers threshold the ROUNDED value, so a raw ratio
    * in [0.7999995, 0.8) drops on every path alike — x11b's stage 03c is
    * spec-locked against d8b on exactly that. |a∩b| is its own column so
    * the set intersection runs once per row. */
  private[graft] def withJaccard(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.withColumn("n_inter", size(array_intersect(col(a), col(b))).cast("double"))
      .withColumn("jaccard", round(col("n_inter") /
        (size(col(a)) + size(col(b)) - col("n_inter")), 6))
      .drop("n_inter")

  /** Exact all-pairs n-gram Jaccard ≥ threshold via the inverted shingle
    * index (see the d4 comment for the plan rationale). Output:
    * (doc_a, doc_b, jaccard) with doc_a < doc_b.
    *
    * The scored pair table is threshold-INDEPENDENT, so it is computed once
    * per corpus and shared: d4 (report ≥ 0.1) and d6 (cluster ≥ 0.8) are the
    * same posting join with different final filters — exactly the pattern a
    * production pipeline uses (materialize pairs once, filter downstream). */
  /** Exact ALL-PAIRS n-gram Jaccard ≥ threshold via the PPJoin prefix
    * filter (Xiao et al. 2008 — the same machinery as the incremental
    * [[crossScoredPairs]], self-joined). The threshold-INDEPENDENT posting
    * join behind [[exactNgramJaccardPairs]] materializes every pair
    * sharing ANY shingle before filtering — the right shape when d4/d6
    * share one cache across thresholds, but quadratic on a bounded
    * vocabulary (its pair-agg shuffle spill exhausted 74 GB of local disk
    * at the 100× corpus). Here each doc posts only its (1−t)·n+1 RAREST
    * shingles (global-df order; both sides ranked under the same order or
    * the prefix theorem does not hold): two docs with jaccard ≥ t MUST
    * share a prefix shingle, so the candidate volume tracks rare-shingle
    * posting products — near-dup density, not the corpus square — and
    * length + positional bounds prune further before the one exact-verify
    * pass over the cached shingle arrays. Output matches
    * [[exactNgramJaccardPairs]]: (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def exactPairsPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    val prefix = prefixTable(docs, threshold)
    val a = prefix.select(col("doc_id").as("doc_a"), col("h"),
      col("rk").as("rk_a"), col("n").as("n_a"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("h"),
      col("rk").as("rk_b"), col("n").as("n_b"))
    // candidate distinct sizes its own exchange (the boundedScoredPairs
    // rationale); hashing on doc_b alone satisfies the (doc_a, doc_b)
    // clustering and pre-places rows for the first array attach
    val pairAggParts = docs.sparkSession.sparkContext.defaultParallelism * 8
    val cands = a.join(b, "h")
      .filter(col("doc_a") < col("doc_b"))
      // |B| must lie in [t·|A|, |A|/t] for jaccard ≥ t (symmetric bound)
      .filter(col("n_b") >= col("n_a") * threshold &&
        col("n_b") <= col("n_a") / threshold)
      // positional bound: overlap still achievable past this prefix hit
      .filter(lit(1) + least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")) >=
        (col("n_a") + col("n_b")) * lit(threshold / (1.0 + threshold)))
      .select("doc_a", "doc_b")
      .repartition(pairAggParts, col("doc_b"))
      .distinct()
    // both sides are corpus-wide, so neither array table can broadcast:
    // two shuffle-hash attaches (only the KB-per-doc array tables and the
    // prefix-bounded candidate rows move; nothing fat is ever sorted)
    val sh = sharedShingles(docs)
    withJaccard(cands
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
          .hint("shuffle_hash"), Seq("doc_b"))
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
          .hint("shuffle_hash"), Seq("doc_a")), "sh_a", "sh_b")
      .select("doc_a", "doc_b", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  def exactNgramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    if (threshold >= PairCacheFloor)
      sharedScoredPairs(docs).filter(col("jaccard") >= threshold)
    else // below the cache floor: full pair space, recomputed uncached
      scoredNgramPairs(docs).filter(col("jaccard") >= threshold)

  /** Lowest jaccard the shared pair cache retains. Pairs below 0.1 never
    * serve a dedup decision (d4 reports ≥ 0.1, d6/d8/d3 cut at ≥ 0.8), but
    * at scale they dominate the pair space: with a bounded vocabulary the
    * ≥1-shared-shingle candidate set grows ~quadratically in corpus size
    * (measured on the 10× ScaleGen corpus: 50k docs → ~1.2×10⁸ candidates,
    * ~5 GB persisted — block-store churn that moved OTHER bench lines by
    * tens of seconds), while the ≥ 0.1 set stays ~linear. Filtering before
    * the persist keeps the one-time build CPU (the posting join + count
    * aggregation — the exact algorithm's irreducible cost) but shrinks the
    * retained cache by ~5 orders of magnitude. Requests below the floor
    * (analysis / tests) recompute the full table, uncached. */
  val PairCacheFloor: Double = 0.1

  /** Posting join with STOP-SHINGLE pruning — the 100 TB guard: a
    * boilerplate shingle with document frequency k contributes k²/2 join
    * rows, so one viral footer can dominate the whole pair space. Shingles
    * with df > maxDf are dropped from the INTERSECTION side only (set sizes
    * stay exact), making the computed jaccard a lower bound: pairs held
    * together only by ultra-common shingles disappear, genuine near-dups
    * lose at most the few stop shingles they contain. DataPlaneSpec plants
    * a boilerplate-heavy corpus and proves the join-row reduction plus
    * near-dup recall. */
  def boundedScoredPairs(docs: DataFrame, maxDf: Int): DataFrame = {
    // the exploded (doc_id, h) token table from the shared cache; set sizes
    // come from a per-doc count over it (shingle hashes are distinct per
    // doc) and are taken BEFORE pruning so they stay exact
    val tok = sharedTokens(docs)
    val tokKept =
      if (maxDf == Int.MaxValue) tok // unbounded = the exact d4/d6 pair table
      else {
        val keep = tok.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("h")
        tok.join(keep, "h")
      }
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // The pair-count aggregation has ~quadratic group cardinality (every
    // pair sharing ≥1 shingle — ~1.2×10⁸ groups on the 10× ScaleGen
    // corpus), so it sizes its OWN shuffle instead of inheriting the
    // session's reducer count: at `cpus` reducers each task builds a
    // multi-GB hash map whose memory churn made the build swing 43-234 s
    // run-to-run at large heaps; 8× keeps per-task state cache-sized
    // (measured steady ~40 s) while costing small corpora only ~0.2 s of
    // extra task launches. The explicit (doc_a, doc_b) repartition is the
    // agg's own exchange — the groupBy reuses the distribution, so rows
    // still move exactly once.
    val pairAggParts = docs.sparkSession.sparkContext.defaultParallelism * 8
    val inter = tokKept.select(col("doc_id").as("doc_a"), col("h"))
      .join(tokKept.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .repartition(pairAggParts, col("doc_a"), col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("double").as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
  }

  private def scoredNgramPairs(docs: DataFrame): DataFrame =
    boundedScoredPairs(docs, Int.MaxValue)

  // ---- shared per-corpus caches -------------------------------------------
  // Frames entries keyed by the corpus frame, serving the whole dedup family:
  //   dedup.tokens — the localCheckpoint'ed shingle-array rows backing the
  //     exploded (doc_id, shingle-hash) view (see sharedTokens). Consumers:
  //     the posting join (d4/d6), the contamination scan (d7), and the
  //     minhash signatures (d3).
  //   dedup.pairs  — the scored pair table at jaccard ≥ PairCacheFloor (d4
  //     reports ≥ 0.1, d6 clusters ≥ 0.8, d3 verifies its LSH candidates
  //     against it; see PairCacheFloor for why sub-floor pairs are not kept).
  //   dedup.lsh_pairs — verified banded-LSH pair sets per (threshold,
  //     maxBucketSize): d3, d6b and d8b all declare the identical pair
  //     computation over the same corpus (r17: ~2 s each at sf0.1); the
  //     verified table is tiny (true near-dup pairs only).
  //   dedup.sigs   — the minhash signature table (doc_id, m0..m63):
  //     signatures are a doc-LOCAL function of the doc's shingles, so every
  //     consumer over the same corpus (the inline LSH pair path, the
  //     incremental batch-signature path, the ledger build and appends, and
  //     any SUBSET of the corpus via a doc_id semi-join) reads one table
  //     instead of re-running the 64-permutation aggregation per query.
  //     One persist at DISK_ONLY for every corpus size: the block manager
  //     owns the files, no heap is pinned at any scale (a ~0.5 KB sig row
  //     per doc is GBs of storage region past a few million docs), and the
  //     consumers' plans read a flat cached relation, never the corpus-wide
  //     aggregation subtree. DISK_ONLY against MEMORY_AND_DISK on the 50k-doc
  //     ScaleGen sf1 corpus: scale_dedup/sig_storage_level_sf1.json.
  // First consumer pays (the fingerprint-store design: a deployment
  // materializes exactly this); the owning scope releases.
  private def cached(kind: String, docs: DataFrame, params: Any*)(build: => DataFrame): DataFrame =
    Frames.getOrCreate(Frames.Key(kind, Frames.corpusKey(docs), params: _*))(build)(Frames.release)

  private def sharedMinhashSigs(docs: DataFrame): DataFrame =
    cached("dedup.sigs", docs)(
      minhashAgg(sharedTokens(docs)).persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))

  /** Shared exploded (doc_id, h) distinct-shingle-hash pairs. The shingle
    * ARRAYS are localCheckpoint'ed (raw row blocks — no columnar array
    * encoding, ~1.2s at sf0.1) and the explode re-derives lazily per
    * consumer (~0.2s): Generate does not run complex generator expressions
    * in codegen, so exploding the un-materialized shingle expression costs
    * ~3s per evaluation — the checkpoint turns the generator into a bound
    * attribute. */
  def sharedTokens(docs: DataFrame): DataFrame =
    sharedShingles(docs).select(col("doc_id"), explode(col("sh")).as("h"))

  /** The cached (doc_id, sh: array<long>) shingle-set rows themselves —
    * for consumers that need per-doc SETS (candidate verification's
    * set intersection) rather than the exploded posting view. */
  private def sharedShingles(docs: DataFrame): DataFrame =
    cached("dedup.tokens", docs)(shingleSets(Tables.fanOut(docs)).localCheckpoint())

  private def sharedScoredPairs(docs: DataFrame): DataFrame =
    cached("dedup.pairs", docs)(
      scoredNgramPairs(docs).filter(col("jaccard") >= PairCacheFloor)
        // The pair-AGG shuffle is deliberately wide (8×parallelism — see
        // boundedScoredPairs), but the ≥-floor table retained here is ~5
        // orders of magnitude smaller than the agg's group space, and its
        // partitioning becomes every consumer's stage width — d4's count,
        // d4's pair listing and d6's collect each scan it, and 256
        // near-empty partitions would launch 256 tasks per scan (measured
        // when d6 still rescanned it every round of a distributed CC loop:
        // d6 2.3 → 4.7 s at sf0.1 with the 8× width). Bring the
        // RETAINED table back to session parallelism with a true
        // repartition — NOT coalesce, which would merge the reduce stage
        // itself back to 32 tasks and reintroduce the 8×-sized per-task
        // agg state the wide shuffle exists to avoid. The extra exchange
        // moves only the ≥-floor rows (KBs), on the one-time d0 build line.
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Connected components of the near-dup graph, labelled by the minimum
    * node id of each component: `pairs` (doc_a, doc_b) collects once to
    * the driver and a union-find labels it; every node of `nodes` that no
    * pair touches labels itself. The near-dup subgraph is small by
    * construction — ScaleGen plants one near-dup pair per 20 docs plus one
    * exact-dup pair per 640, about 25,800 pairs at sf10 — so it collects
    * as KBs to a few MB of longs. executeCollect keeps rows internal
    * (UnsafeRow, primitive getLong), the union-find runs on an
    * open-addressed long→long table (16 B/slot, no boxing), and the label
    * frame ships as a parallelized RDD — each row serialized to exactly
    * one task, once. */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val internal = pairs.select(col("doc_a"), col("doc_b"))
      .queryExecution.executedPlan.executeCollect()
    val m = internal.length
    val srcA = new Array[Long](m); val dstA = new Array[Long](m)
    var i = 0
    while (i < m) { srcA(i) = internal(i).getLong(0); dstA(i) = internal(i).getLong(1); i += 1 }
    val (nodeArr, labelArr) = unionFindMinLabel(srcA, dstA)
    import spark.implicits._
    val nOut = nodeArr.length
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, nOut / 250000 + 1))
    val labelDf = spark.sparkContext
      .parallelize(nodeArr.indices.map(j => (nodeArr(j), labelArr(j))), parts)
      .toDF("node", "label")
    val isolated = nodes.join(labelDf.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    labelDf.union(isolated)
  }

  /** Open-addressed long→long table (linear probing, power-of-two
    * capacity, grow at 0.6 load) — the union-find's parent store. 16 B per
    * slot and zero boxing; a java.util.HashMap<Long,Long> at 8M nodes held
    * ~0.5-1 GB of Entry/boxed-Long objects for the same content. */
  private final class LongLongMap(expected: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, expected * 2 - 1)) << 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    def size: Int = n
    private def idx(k: Long): Int = {
      // 64-bit mix (splitmix64 finalizer) → slot; linear probe from there
      var h = k * -7046029254386353131L
      h ^= (h >>> 32)
      var i = (h & (cap - 1)).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def getOrDefault(k: Long, d: Long): Long = {
      val i = idx(k); if (used(i)) vals(i) else d
    }
    def put(k: Long, v: Long): Unit = {
      var i = idx(k)
      if (!used(i)) {
        if ((n + 1) * 5 > cap * 3) { grow(); i = idx(k) } // grow BEFORE insert; re-probe
        used(i) = true; keys(i) = k; n += 1
      }
      vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val ou = used; val oc = cap
      cap <<= 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      used = new Array[Boolean](cap)
      var i = 0
      while (i < oc) {
        if (ou(i)) { val j = idx(ok(i)); used(j) = true; keys(j) = ok(i); vals(j) = ov(i) }
        i += 1
      }
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i)); i += 1 }
    }
  }

  /** Driver-side union-find with path halving over primitive arrays;
    * returns parallel (node, label) arrays where label = min node id of
    * the component. Edges are undirected: (a, b) and (b, a) union alike. */
  private[graft] def unionFindMinLabel(
      src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) = {
    val parent = new LongLongMap(math.min(src.length.toLong * 2, 1L << 27).toInt)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    var e = 0
    while (e < src.length) {
      val a = src(e); val b = dst(e)
      if (parent.getOrDefault(a, a) == a) parent.put(a, a)
      if (parent.getOrDefault(b, b) == b) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // union by min id keeps roots = component minima
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
      e += 1
    }
    val nodes = new Array[Long](parent.size)
    val labels = new Array[Long](parent.size)
    var i = 0
    parent.foreachKey { k => nodes(i) = k; i += 1 }
    var j = 0
    while (j < nodes.length) { labels(j) = find(nodes(j)); j += 1 }
    (nodes, labels)
  }

  /** 64-bit SimHash over md5-derived token hashes: per doc, for each of 64
    * bit positions sum ±1 across token hashes, sign → bit. Pure columnar
    * (explode + groupBy), no UDF; shuffle carries (doc_id, hash) longs only.
    *
    * Token hash = the top 16 hex chars of md5(token) parsed as two 32-bit
    * halves (hi<<32 | lo). md5 costs a few ns more per token than the
    * xxhash64 this replaces (r14: d5 sf0.1 unchanged within noise), and
    * buys the whole signature an independent DuckDB recomputation — d5 and
    * d5b moved from spec-gated to hash-green oracle rows with it. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), substring(md5(col("tok")), 1, 16).as("hx"))
      .select(col("doc_id"),
        shiftleft(conv(substring(col("hx"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("hx"), 9, 8), 16, 10).cast("long")).as("h"))
    // weight per bit: +1 if bit set else -1; aggregate via sum over shiftright&1
    val bitCols = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = tok.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs, exact for hamming ≤ `maxHamming` (≤ 3): the
    * multi-block pigeonhole of Manku/Jain/Sarma, "Detecting Near-Duplicates
    * for Web Crawling" (WWW '07). The 64-bit signature splits into
    * `maxHamming + 3` blocks; a pair within hamming k differs in at most k
    * blocks, so ≥ 3 blocks are clean on both sides and the pair agrees
    * EXACTLY on some 3-block combination — each of the C(k+3, 3)
    * combinations becomes a join key of ~32 clean bits.
    *
    * Why not the simpler 4×16 banding (pigeonhole over single bands): 16-bit
    * keys collide at n²/2¹⁶ per band for signatures that are merely
    * random-ish — on the 100× ScaleGen corpus (500k docs) that was 2.4×10⁹
    * in-bucket candidates with a 17k-doc hottest bucket, whose m²/2 pair
    * array was built as ONE row by the collect_list formulation → task OOM
    * at any heap. 3-block keys carry twice the bits, cutting random
    * collisions by ~2¹⁶ (same corpus: ~10⁶ streamed join rows), and the
    * candidates stream through a self equi-join on (table, key) — no
    * per-bucket array ever materializes, so an adversarial hot key degrades
    * into AQE-splittable join skew, never a giant row. bit_count
    * verification runs BEFORE distinct, so the dedup hashAgg sees only true
    * near-pairs (true-pair mass is linear in planted dups: 500k docs →
    * 8.5k same-signature pairs, max 9 docs per signature). */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"multi-block pigeonhole keys on 3 clean blocks of maxHamming+3 — exact only for hamming <= 3, got $maxHamming")
    val nBlocks = maxHamming + 3
    val bounds = (0 to nBlocks).map(b => 64 * b / nBlocks)
    def blockOf(x: Column, b: Int): Column =
      shiftrightunsigned(x, bounds(b))
        .bitwiseAND(lit((1L << (bounds(b + 1) - bounds(b))) - 1L))
    def block(b: Int): Column = blockOf(col("simhash"), b)
    val combos = (0 until nBlocks).combinations(3).map(_.toSeq).toSeq
    val keyCols = combos.zipWithIndex.map {
      // hashing the block triple to one long is key-space-preserving enough:
      // a hash collision only adds a candidate, and candidates verify exactly
      case (c, t) => xxhash64(lit(t) +: c.map(block): _*)
    }
    val sig = simhash(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(keyCols: _*)).as(Seq("tbl", "k")))
    // Exact-once emission instead of a terminal distinct: a pair within
    // hamming k agrees on EVERY all-clean 3-block combination (up to
    // C(k+3,3) = 20 of them), so the join produces up to 20 copies per
    // true pair and a distinct over candidate-volume rows used to dedup
    // them — the widest shuffle in the query (×20 the true-pair mass at
    // the 100× corpus). The copies are redundant by construction: the
    // canonical combination (lexicographically first = the three smallest
    // clean blocks, computable per row from the signatures' XOR since
    // `combinations` enumerates in lex order) is one the pair provably
    // matched, so emitting ONLY from it yields each pair exactly once and
    // the distinct disappears. Key-hash collision candidates that merely
    // agree on some combo's xxhash but not its blocks drop out the same
    // way: their tbl is never their canonical clean combo.
    val xorC = col("sig_a").bitwiseXOR(col("sig_b"))
    val comboClean = combos.map(c =>
      c.map(b => blockOf(xorC, b) === 0).reduce(_ && _))
    val canonicalTbl = array_position(array(comboClean: _*), lit(true)) - 1
    val result = keyed
      .select(col("tbl"), col("k"), col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      .join(keyed.select(col("tbl"), col("k"), col("doc_id").as("doc_b"),
        col("simhash").as("sig_b")), Seq("tbl", "k"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(bit_count(xorC) <= maxHamming && col("tbl") === canonicalTbl)
      .select(col("doc_a"), col("doc_b"), bit_count(xorC).as("hamming"))
    graft.data.Frames.materializeAndRelease(result, sig)
  }

  /** Banded AND/OR MinHash LSH parameters. 64 minhashes sliced into 16 bands
    * × 4 rows → P(candidate | jaccard s) = 1−(1−s⁴)¹⁶: 0.9998 at s=0.8,
    * 0.64 at s=0.5, 0.025 at s=0.2 — high recall in the near-dup regime,
    * sub-quadratic candidate volume below it. */
  // final + literal = compile-time constants, inlined at use sites: the
  // oracle-SQL strings are built while `entries` (a val declared earlier
  // in the file) initializes, BEFORE ordinary vals down here are assigned
  // — a non-final NumHashes read 0 there and froze MinhashParams empty
  final val NumHashes = 64
  final val Bands     = 16
  final val BandRows  = 4

  /** Smallest prime above 2³² — the modulus of the Carter-Wegman minhash
    * permutation family. The shingle fingerprint reduces to
    * r = h mod p ∈ [0, p), and permutation i is (aᵢ·r + bᵢ) mod p with
    * aᵢ < 2³⁰ — so aᵢ·r + bᵢ < 2⁶³ and the whole family is exact signed
    * 64-bit arithmetic in BOTH engines (no overflow under ANSI, no HUGEINT
    * needed in DuckDB). This replaces the r14-and-earlier xxhash64(i, h)
    * permutations, which DuckDB cannot recompute — the swap is what moves
    * d3/d6b from spec-gated to oracle rows (the d5 md5 precedent). */
  private[graft] final val MinhashP = 4294967311L

  /** The 64 (aᵢ, bᵢ) permutation constants, derived once from md5 of fixed
    * labels — deterministic across JVMs, and interpolated as LITERALS into
    * the generated oracle SQL (DuckDB never re-derives them). */
  private[graft] lazy val MinhashParams: IndexedSeq[(Long, Long)] = {
    def h64(label: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(label.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d).getLong
    }
    (0 until NumHashes).map { i =>
      val a = java.lang.Math.floorMod(h64(s"graft-minhash-a-$i"), (1L << 30) - 1L) + 1L
      val b = java.lang.Math.floorMod(h64(s"graft-minhash-b-$i"), MinhashP)
      (a, b)
    }
  }

  /** 64 min-aggregate columns m0..m63 over a (doc_id, h) token frame —
    * THE minhash signature definition, shared verbatim by the inline pair
    * path ([[bandedLshPairs]]) and the signature-array path
    * ([[minhashSignaturesAmong]]) so banded and persisted signatures agree
    * bit-for-bit. r is projected ONCE per token row (not once per
    * permutation) before the partial-aggregated groupBy. */
  private def minhashAgg(tok: DataFrame): DataFrame = {
    val withR = tok.select(col("doc_id"), pmod(col("h"), lit(MinhashP)).as("r"))
    val minCols = (0 until NumHashes).map { i =>
      val (a, b) = MinhashParams(i)
      min((lit(a) * col("r") + lit(b)) % lit(MinhashP)).as(s"m$i")
    }
    withR.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** Band key for a band's four minhash columns: the raw 4-tuple STRUCT —
    * no hashing at all. Bucketing on the values themselves is exact (zero
    * key collisions), costs nothing to compute (the md5-string key this
    * replaces spent ~8M digests per LSH query at sf10 — measured +2-3 s
    * on every d3-family line, r15), and stays DuckDB-expressible: the
    * oracle buckets on the comma-joined decimal string of the same four
    * values, which encodes the tuple uniquely, so both engines derive the
    * identical candidate set. The shuffle key is 32 B instead of 8 — noise
    * against the banded row itself. The `band` position rides alongside as
    * its own column (posexplode), exactly as before. */
  private def bandKeyCol(ms: Seq[Column]): Column =
    // uniform field names: the 16 band structs ride one array column
    // (posexplode), which needs a single element type across bands
    struct(ms.zipWithIndex.map { case (c, i) => c.as(s"r$i") }: _*)

  /** Distinct 3-shingle 64-bit fingerprints per doc. Narrow (no shuffle).
    * `keep` carries extra columns through (e.g. `source` for d4).
    *
    * Fingerprint = the top 16 hex chars of md5(space-joined triple) parsed
    * as two 32-bit halves (hi<<32 | lo) — the d5 token-hash idiom
    * (r15, replacing xxhash64 over the raw triple). md5 costs more per
    * shingle than xxhash64, but the whole pass is charged once per corpus
    * to the d0 SETUP line, and it buys the minhash LSH family an
    * independent DuckDB recomputation: with a SQL-expressible shingle
    * fingerprint, the 64 Carter-Wegman permutations and the banded pair
    * set become oracle rows (d3/d6b moved from spec-gated to hash-green,
    * the d5/d5b precedent). The string build per position is back (md5
    * needs bytes), but concat_ws of three elements skips the slice+
    * array_join array allocation the round-5 note measured as dominant. */
  def shingleSets(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    // under-3-token docs are excluded BEFORE shingling (equivalent to the
    // old trailing filter(size(sh) > 0), but that formulation made the
    // optimizer inline the whole shingle expression into the filter AND the
    // projection — the array was computed twice per row, measured ~10×).
    // The pre-filter also makes the sequence(1, n-2) bound safe: n ≥ 3, so
    // the Spark downward-stepping sequence trap for n < 1 cannot trigger.
    docs.filter(size(tokens) >= 3)
      .select(col("doc_id") +: keep.map(col) :+ tokens.as("toks"): _*)
      .select(
        col("doc_id") +: keep.map(col) :+
        // two nested transforms so md5 runs ONCE per position (hex → long
        // referenced twice would re-evaluate the digest inside the HOF
        // interpreter, where no common-subexpression elimination runs)
        array_distinct(transform(
          transform(
            sequence(lit(1), size(col("toks")) - 2),
            i => md5(concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))),
          hx => shiftleft(conv(substring(hx, 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(conv(substring(hx, 9, 8), 16, 10).cast("long")))).as("sh"): _*)

  /** LSH band keys from a signature ARRAY (persisted or fresh):
    * (doc_id, band, bh). Same banding arithmetic as [[bandedLshPairs]]. */
  private[graft] def bandsFromSignature(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      bandKeyCol((b * BandRows until (b + 1) * BandRows)
        .map(i => element_at(col("sig"), i + 1)))
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  /** Banded AND/OR MinHash LSH near-dup pairs with exact Jaccard on the
    * candidates (threshold in the near-dup regime).
    *
    * Plan shape (and why it survives 100 TB):
    *   1. minhash signatures via ONE partial-aggregated groupBy over the
    *      shared exploded token table: sig[i] = min over a doc's shingle
    *      fingerprints of the Carter-Wegman permutation (aᵢ·r + bᵢ) mod p
    *      ([[MinhashParams]] — DuckDB-recomputable, r15), 64 min-columns
    *      computed map-side before the (doc_id)-keyed shuffle of 64-long
    *      partial rows. (The earlier per-row higher-order formulation
    *      needed the array-column cache as a CollapseProject barrier — the
    *      aggregation form has no such hazard and shares the cheap token
    *      cache with d4/d6/d7.)
    *   2. band keys (md5-derived long of each 4-min group) → groupBy (band, hash)
    *      buckets → pairs generated INSIDE each bucket (higher-order
    *      transform over the sorted id list). Candidate volume scales with
    *      true near-dup pairs, not n² (vs the previous MLlib
    *      approxSimilarityJoin at distance 0.6, which passed ~85% of all
    *      pairs and was quadratic);
    *   3. exact-Jaccard verification of the CANDIDATES ONLY: each pair
    *      joins back to the cached shingle arrays and intersects directly —
    *      O(candidates × doc-shingles), with NO dependence on the full
    *      scored-pair table, so the LSH path stays feasible at corpus
    *      sizes where the exact all-pairs ground truth (quadratic
    *      candidate growth) no longer is. (Through round 7 this step
    *      joined the shared pair table instead, silently pulling the whole
    *      exact computation into d3's lineage.) A candidate pair sharing
    *      zero shingles scores jaccard 0 and is dropped — correct at any
    *      threshold > 0.
    *   Hot-bucket guard: a boilerplate-heavy corpus can put m docs in one
    *   bucket, whose m²/2 in-bucket pairs are generated inside ONE task —
    *   `maxBucketSize` caps the ids considered per bucket (other bands still
    *   catch capped docs' true near-dups, so recall degrades gracefully
    *   rather than a task OOMing at 100 TB).
    * Dedup intent per reference: maggy/optimizer/abstractoptimizer.py:254-295.
    */
  def bandedLshPairs(
      docs: DataFrame,
      jaccardThreshold: Double,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    cached("dedup.lsh_pairs", docs, jaccardThreshold, maxBucketSize)(
      bandedLshPairsImpl(docs, jaccardThreshold, maxBucketSize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Per-doc 64-minhash signature ARRAY of the `memberIds` docs of
    * `corpus` — the PERSISTABLE fingerprint-store column the incremental
    * near-check (x11b) and the ledger bands against WITHOUT re-scanning
    * corpus text: ~64 longs/doc vs the doc's full text, the reason a
    * deployment's dedup store stays KB-per-MB of corpus. It is the shared
    * sig table restricted by a doc_id semi-join: signatures are doc-LOCAL,
    * so the rows equal the subset's own signatures bit-for-bit (DataPlaneSpec
    * pins it). Docs under 3 tokens have no shingles and no row here (they
    * cannot be shingle near-dups of anything). */
  def minhashSignaturesAmong(corpus: DataFrame, memberIds: DataFrame): DataFrame =
    sharedMinhashSigs(corpus).join(memberIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))

  /** [[shingleSets]] for a SUBSET of an already-cached corpus — the cached
    * per-doc shingle arrays restricted by a doc_id semi-join, avoiding a
    * text re-scan for point lookups (candidate verification). */
  def shingleSetsAmong(corpus: DataFrame, memberIds: DataFrame): DataFrame =
    sharedShingles(corpus).join(memberIds, Seq("doc_id"), "left_semi")

  /** [[bandedLshPairs]] among a SUBSET of `corpus`: shingles and minhash
    * signatures are doc-LOCAL functions of each doc's text, so the shared
    * corpus tables restricted by a doc_id semi-join are bit-identical to
    * re-deriving them from the subset's text — the banding, bucket cap and
    * verification then run over subset rows only, exactly as if the subset
    * were shingled fresh (r17: x10b's stage-03b re-tokenized and
    * re-aggregated ~90% of the corpus it had already fingerprinted). */
  def bandedLshPairsAmong(
      corpus: DataFrame,
      memberIds: DataFrame,
      jaccardThreshold: Double,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bandedLshPairsFrom(
      sharedMinhashSigs(corpus).join(memberIds, Seq("doc_id"), "left_semi"),
      sharedShingles(corpus).join(memberIds, Seq("doc_id"), "left_semi"),
      jaccardThreshold, maxBucketSize)

  private def bandedLshPairsImpl(
      docs: DataFrame,
      jaccardThreshold: Double,
      maxBucketSize: Int): DataFrame =
    bandedLshPairsFrom(sharedMinhashSigs(docs), sharedShingles(docs),
      jaccardThreshold, maxBucketSize)

  private def bandedLshPairsFrom(
      sig: DataFrame,
      sh: DataFrame,
      jaccardThreshold: Double,
      maxBucketSize: Int): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      bandKeyCol((b * BandRows until (b + 1) * BandRows).map(i => col(s"m$i")))
    }
    val bands = sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    // bucket members → ordered pairs within the bucket; tiny rows from here on
    val grouped = bands.groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // <= 0 disables the cap (mirrors the oracle-side parameter)
    val buckets =
      if (maxBucketSize > 0) grouped.withColumn("ids", slice(col("ids"), 1, maxBucketSize))
      else grouped
    val cands = buckets
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    withJaccard(cands
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b")),
        "sh_a", "sh_b")
      .filter(col("jaccard") >= jaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
  }
}
