package graft.operators

import graft.functions.{TextFns, VectorFns}
import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline:
  *
  *  - d1 exact: hash-groupBy on md5(text).
  *  - d2 MinHash + LSH: word-3-gram shingles → 8 string-min hashes →
  *    4 banded bucket keys → candidate pairs → exact Jaccard filter.
  *    This is the scale path: candidate generation is a self-join on
  *    band keys (shuffle on a high-cardinality key; no O(n²) blow-up),
  *    exact Jaccard runs only on colliding pairs.
  *  - d3 SimHash: 16-bit occurrence-weighted sign fingerprint.
  *  - d4 n-gram Jaccard: exact char-5-gram Jaccard within small blocks
  *    (lang × source × length bucket) — blocked pairwise dedup.
  *  - d5 embedding near-dup: quantized-cosine threshold pairs within
  *    (label × LSH-bucket) blocks.
  *  - d6 clustering: connected components over the d2 pair graph
  *    (driver union-find for small graphs, distributed propagation
  *    beyond).
  *  - d7 SimHash pairing: Hamming ≤ 3 pairs via pigeonhole nibble bands.
  *
  * MinHash over md5-hex strings: lexicographic MIN of fixed-width hex ==
  * numeric min of the 128-bit value, so both engines agree without any
  * integer-hash builtin. The reference's group-signature dedup machinery
  * (spark_script_sim.py:181-221) is the d1/t21 exact-signature case; d2-d5
  * extend it to near-duplicate semantics.
  */
object Dedup extends OpModule {

  /** Exact dedup groups by md5(text); one row per distinct content. */
  val d1Exact: Op = Op(
    "d1_dedup_exact",
    Some("""
      SELECT md5(text) AS text_hash,
             CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id
      FROM documents
      GROUP BY text_hash
      ORDER BY text_hash
    """))((spark, dir) => {
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_doc_id"))
      .orderBy("text_hash")
  })

  private val NH = 8      // minhash functions
  private val BANDS = 4   // bands of 2 hashes each
  private val JACCARD_T = 0.5

  // Universal-hash family over ONE md5 per shingle: h_j = (a_j·h + b_j)
  // mod p with p = 2³¹−1 and h = md5-int64 masked to 31 bits, so a
  // shingle pays one md5 whatever NH is. a_j·h < 2⁶² so the arithmetic
  // can't overflow under ANSI mode on either engine.
  private val MinhashP = 2147483647L // 2^31 - 1 (Mersenne prime)
  private val MinhashMask = 2147483647L
  private val MinhashAB: Seq[(Long, Long)] = Seq(
    (1000003L, 7L), (1000033L, 11L), (1000037L, 13L), (1000039L, 17L),
    (1000081L, 19L), (1000099L, 23L), (1000117L, 29L), (1000121L, 31L))

  /** Identity of the minhash/LSH hash family, derived from every constant
    * that shapes a band key. Persisted indexes and pair tables stamp this
    * id at build time and refuse appends/reads under a different family:
    * changing any of these constants changes every band key, and an
    * unstamped index would silently drop all new-vs-old candidate pairs
    * — the exact nightly-ingest case the index exists for. */
  private[graft] val hashFamilyId: String =
    s"minhash/3;shingle=word3h31;p=$MinhashP;mask=$MinhashMask;nh=$NH;bands=$BANDS;" +
      s"ab=${MinhashAB.map { case (a, b) => s"$a*h+$b" }.mkString(",")};t=$JACCARD_T"

  /** d8's LSH bucket width (sign-projection bits) and cosine keep
    * threshold — named ONCE and interpolated into both the pair
    * derivation and [[embFamilyId]], so changing either cannot leave
    * the family stamp describing the old geometry (the silent-stale
    * failure the stamp exists to prevent). */
  private[operators] val EMB_BITS = 8
  private[operators] val EMB_COS_T = 0.3

  /** Identity of the EMBEDDING near-dup pair family (d8's multi-probe
    * cosine pairs) — every constant that shapes a pair: the quantization
    * scale, the sign-projection seed, bit width, probe radius, and the
    * cosine threshold. Persisted embedding pair tables stamp this id so
    * a seed/width change can't be consumed silently (same contract as
    * [[hashFamilyId]] for the text side). The quant/sign fragments stay
    * literal: they mirror [[graft.functions.VectorFns]] internals that
    * have their own Duck-mirror pinning. */
  private[graft] val embFamilyId: String =
    s"emblsh/1;quant=1e6;sign=popcount(b*1000003+i);bits=$EMB_BITS;probe=hamming1;cos_t=$EMB_COS_T"

  /** Shared DuckDB CTE chain producing the MinHash-LSH near-dup pairs
    * (used by d2's oracle and d6's clustering oracle). Shingles are
    * carried as int64 HASHES from the shingle stage on: ONE md5 per
    * distinct shingle string (first 15 hex chars parsed as a number,
    * masked to 31 bits — fixed-width hex is order-preserving so both
    * engines agree), then distinct'd again so downstream set math is
    * over the hashed shingle SET. MinHash signatures are identical to
    * the string-shingle formulation (a duplicate hash can't change a
    * min); the exact re-score is Jaccard over the hashed sets — the
    * standard 31-bit estimator, mirrored verbatim in this oracle so
    * both engines move together on the rare in-pair collision. Band
    * keys are the raw (h,h) long pairs — no extra hash at all. */
  private[operators] lazy val duckPairCtes: String = duckPairCtesFrom("documents")

  /** [[duckPairCtes]] parameterized by the source relation, so audits
    * over a filtered corpus (d16's sample) reuse the exact chain, and
    * by a CTE-name prefix `p`, so an oracle that needs the chain TWICE
    * in one WITH (d21 pairs the CLEANED corpus while its loser sets
    * derive from the un-prefixed chain over the raw one) never
    * collides on CTE names. */
  private[operators] def duckPairCtesFrom(docsRel: String, p: String = ""): String = {
    val mins = MinhashAB.zipWithIndex.map { case ((a, b), i) =>
      s"list_aggregate(list_transform(sh, h -> ($a * h + $b) % $MinhashP), 'min') AS h${i + 1}"
    }.mkString(",\n               ")
    val bandRows = (1 to BANDS).map(b =>
      s"SELECT doc_id, $b AS band, h${2 * b - 1} AS hx, h${2 * b} AS hy FROM ${p}hashed")
      .mkString("\n        UNION ALL ")
    s"""${p}toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        FROM $docsRel
      ), ${p}sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                FOR i IN generate_series(1, len(w) - 2)]),
                 s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
                        & $MinhashMask)) AS sh
        FROM ${p}toks WHERE len(w) >= 3
      ), ${p}hashed AS (
        SELECT doc_id, sh,
               $mins
        FROM ${p}sh
      ), ${p}bands AS (
        $bandRows
      ), ${p}cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ${p}bands a JOIN ${p}bands b
          ON a.band = b.band AND a.hx = b.hx AND a.hy = b.hy
         AND a.doc_id < b.doc_id
      ), ${p}scored AS (
        SELECT doc_a, doc_b,
               CAST(len(sa.sh) + len(sb.sh)
                    - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
        FROM ${p}cand
        JOIN ${p}sh sa ON sa.doc_id = doc_a
        JOIN ${p}sh sb ON sb.doc_id = doc_b
      )"""
  }

  /** d2's full pair pipeline, UNSORTED: shingle → minhash-band →
    * banded self-join → exact-Jaccard threshold. The d2 operator adds
    * the presentation ORDER BY; internal consumers (d6's clustering,
    * c1's anti-join, the persisted pair table) take the pair SET and
    * must not pay a total sort for it.
    *
    * Both caches release via storage-LRU by design: the pipeline
    * returns a LAZY pair DataFrame (consumers decide when — and how
    * often — to act on it), so an eager unpersist here would either
    * force materialization or yank blocks a consumer is about to read.
    * The band cache is what keeps the self-join from running the
    * explode+md5+min aggregate once PER SIDE — a derived-DF self-join
    * gets fresh expression ids, so Catalyst sees two distinct subtrees
    * and exchange reuse never fires; the cache is the cross-subtree
    * seam. 4 rows per doc, three longs each — negligible storage at any
    * scale. */
  private[operators] def d2Pairs(spark: SparkSession, dir: String): DataFrame =
    d2PairsFromShingles(
      // Not primed: three leaf stages of the final job race to populate
      // this cache cold (minhash map side + both exact-Jaccard attach
      // sides), but the duplicated shingle work back-fills otherwise
      // idle cores, while an eager build barrier would serialize the
      // chain (the [[Tables.prime]] rule).
      shingled(Tables.spread(Tables.documents(spark, dir)))
        .cache()) // reused for exact-Jaccard rescoring of the candidates

  /** The pair chain over a pre-derived (doc_id, sh) shingle frame — the
    * seam that lets a composite query (d17/d19's plan build) derive the
    * shingles from its own cached corpus frame, so the plan family
    * scans and tokenizes the documents once. The frame must be cached
    * or cheap to recompute:
    * the exact-Jaccard rescoring reads it a second time. */
  private[operators] def d2PairsFromShingles(sh: DataFrame): DataFrame = {
    val bands = minhashBands(sh)
      .cache() // both sides of the self-join read this, not the agg
    val cand = bandedCandidates(bands, Seq("band", "hx", "hy"))
    exactJaccard(cand, sh)
      .filter(col("jac") >= JACCARD_T)
      .select(col("doc_a"), col("doc_b"), col("jac").as("jaccard"))
  }

  /** MinHash signatures + banded LSH candidate pairs + exact Jaccard. */
  val d2MinHashLsh: Op = Op(
    "d2_dedup_minhash_lsh",
    Some(s"""
      WITH $duckPairCtes
      SELECT doc_a, doc_b, jac AS jaccard
      FROM scored WHERE jac >= $JACCARD_T
      ORDER BY doc_a, doc_b
    """))((spark, dir) =>
    d2Pairs(spark, dir).orderBy("doc_a", "doc_b"))

  /** d2's per-document shingle stage: (doc_id, sh) with the distinct
    * word-3-gram set carried as 31-bit md5 HASHES (int64); docs under 3
    * tokens drop. Hashing here — one md5 per distinct shingle string,
    * before anything is cached or shuffled — means every downstream
    * stage (the minhash aggregate, the cached re-score arrays, the
    * persisted index shingle table) moves 8-byte longs instead of
    * ~20-char strings, and the md5 is never re-evaluated per hash
    * function. Shared with [[NearDupIndex]] so the incremental index is
    * definitionally consistent with d2; the oracle mirror lives in
    * [[duckPairCtes]]'s `sh` CTE. */
  private[operators] def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), shingleHashCol(col("w")).as("sh"))

  /** d2's distinct word-3-gram hash set over a token array — THE one
    * expression: every position hashed in one codegen'd loop, then the
    * longs distinct'd, with no per-gram string materialized. Shared by
    * [[shingled]] and the fused
    * corpus frames (d17/d19's planCorpus, Curation's fused c2 frame) so
    * the shingle definition cannot drift between the inline chain and
    * a fused derivation. */
  private[operators] def shingleHashCol(
      w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_distinct(TextFns.wordShingleHashLong(w, 3, mask = MinhashMask))

  /** d2's signature stage: (doc_id, band, hx, hy) LSH band keys.
    *
    * Min-hashes via explode + ONE hash aggregate with 8 MIN columns —
    * not 8 interpreted array_min(transform(...)) lambdas over the
    * shingle array. The shingle hashes are already int64 (computed once
    * in [[shingled]]), so this stage is pure integer arithmetic: the
    * NH universal-hash mixes are two integer ops each inside the min()
    * aggregates, the agg state and every downstream shuffle row carries
    * longs, and the whole explode→agg span stays inside whole-stage
    * codegen. Band key = the raw (h, h) long pair — the join key is
    * already fixed-width. */
  private[operators] def minhashBands(sh: DataFrame): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("hb"))
    val minAggs = MinhashAB.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hb") + lit(b)) % lit(MinhashP)).as(s"h${i + 1}")
    }
    val hashed = exploded.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    hashed.select(
      col("doc_id"),
      explode(array((1 to BANDS).map(b =>
        struct(lit(b).as("band"),
          col(s"h${2 * b - 1}").as("hx"), col(s"h${2 * b}").as("hy"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.hx").as("hx"), col("bb.hy").as("hy"))
  }

  /** The banded self-join: DISTINCT pairs `a.doc_id < b.doc_id` that
    * agree on every column of `keys` (the band key and any block),
    * projected to `doc_a`, `doc_b` and the `carried` columns, which read
    * the two sides as `a` and `b`. ONE definition for d2, the d16 recall
    * audit (whose premise is that it measures exactly the banding d2
    * ships) and [[hammingBandPairs]]. */
  private[operators] def bandedCandidates(bands: DataFrame, keys: Seq[String],
      carried: Seq[Column] = Nil): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +: carried: _*)
      .distinct()

  /** Pairs whose `hash` columns differ in at most `maxHamming` bits,
    * with `doc_a < doc_b` and, when `block` names columns, equal blocks.
    * Candidates share one of `bands` bands of `bandBits` bits (hashes
    * must be non-negative); `bit_count(xor)` then keeps the exact
    * radius. A pair outside every shared band differs in at least one
    * bit per band, so `maxHamming < bands` loses no pair (pigeonhole).
    * `cap` skips every (block, band, value) bucket holding more than
    * `cap` rows before the join: the count is a partial aggregate and
    * the filter a SHUFFLE_HASH semi-join, never a window partitioned by
    * the corpus-global bucket key, so one hot bucket cannot become one
    * unsplittable sort task. Returns (doc_a, doc_b, block..., hamming),
    * unsorted. */
  private[operators] def hammingBandPairs(hashed: DataFrame, hash: String,
      bands: Int, bandBits: Int, maxHamming: Int,
      block: Seq[String] = Nil, cap: Option[Int] = None): DataFrame = {
    val carry = (col("doc_id") +: block.map(col)) :+ col(hash)
    val banded = hashed.select(carry :+
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          (shiftright(col(hash), bandBits * b) % (1 << bandBits)).as("bv"))): _*)).as("bb"): _*)
      .select(carry :+ col("bb.band").as("band") :+ col("bb.bv").as("bv"): _*)
    val keys = block ++ Seq("band", "bv")
    val kept = cap.fold(banded) { c =>
      val small = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bc")).filter(col("bc") <= c).select(keys.map(col): _*)
      banded.join(small.hint("SHUFFLE_HASH"), keys, "semi")
        .select(carry :+ col("band") :+ col("bv"): _*)
    }
    val carried = block.map(k => col(s"a.$k").as(k)) :+ col(s"a.$hash").as("ha") :+ col(s"b.$hash").as("hb")
    bandedCandidates(kept, keys, carried)
      .withColumn("hamming", bit_count(col("ha") bitwiseXOR col("hb")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select((Seq("doc_a", "doc_b") ++ block :+ "hamming").map(col): _*)
  }

  /** d2's rescoring stage: exact Jaccard over candidate (doc_a, doc_b)
    * pairs, shingle sets attached from `sh`. Returns (doc_a, doc_b, jac). */
  private[operators] def exactJaccard(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("uni", TextFns.unionSize(col("sha"), col("shb")))
      .withColumn("jac",
        (size(col("sha")) + size(col("shb")) - col("uni")).cast("double") / col("uni"))
      .select(col("doc_a"), col("doc_b"), col("jac"))

  private[graft] def jaccardThreshold: Double = JACCARD_T

  /** 16-bit occurrence-weighted SimHash per document, (doc_id, simhash):
    * bit b is set when at least half of the document's word occurrences
    * have bit b set in the first 16 bits of md5(word). ONE definition for
    * d3 and d7; its DuckDB mirror is [[duckSimHashCtes]]. */
  private[operators] def simHash16(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      .withColumn("hv", TextFns.md5PrefixLong(col("word"), 4)) // == hex4ToInt(substring(md5,1,4))
    val bitAggs = (0 until 16).map(b =>
      sum(when(((col("hv") / lit(1 << b)).cast("long") % 2) === 1, 1).otherwise(-1)).as(s"s$b"))
    val bits = words.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val hash = (0 until 16).map(b =>
      when(col(s"s$b") >= 0, lit(1 << b)).otherwise(lit(0))).reduce(_ + _)
    bits.select(col("doc_id"), hash.cast("int").as("simhash"))
  }

  /** DuckDB CTEs ending in `sh(doc_id, simhash)`: [[simHash16]] over
    * `documents`, shared by the d3 and d7 oracles. */
  private[operators] lazy val duckSimHashCtes: String = {
    val hv = TextFns.hex4ToIntSql("substring(md5(word), 1, 4)")
    val bitSums = (0 until 16).map(b =>
      s"SUM(CASE WHEN (hv // ${1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n               ")
    val hash = (0 until 16).map(b =>
      s"(CASE WHEN s$b >= 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
    s"""words AS (
        SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), x -> x != '')) AS word
        FROM documents
      ), hv AS (
        SELECT doc_id, $hv AS hv FROM words
      ), bits AS (
        SELECT doc_id,
               $bitSums
        FROM hv GROUP BY doc_id
      ), sh AS (
        SELECT doc_id, CAST($hash AS INTEGER) AS simhash FROM bits
      )"""
  }

  /** 16-bit SimHash fingerprint per document (occurrence-weighted). */
  val d3SimHash: Op = Op(
    "d3_dedup_simhash",
    Some(s"""
      WITH $duckSimHashCtes
      SELECT doc_id, simhash FROM sh
      ORDER BY doc_id
    """))((spark, dir) =>
    simHash16(Tables.spread(Tables.documents(spark, dir))).orderBy("doc_id"))

  /** Blocked exact char-5-gram Jaccard pairs (block = lang × source ×
    * length-bucket). */
  val d4NgramJaccard: Op = Op(
    "d4_dedup_ngram_jaccard",
    Some("""
      WITH g AS (
        SELECT doc_id, lang, source, n_chars // 100 AS lenb,
               list_distinct([CAST(('0x' || substring(md5(
                                concat_ws(chr(1), lang, source, n_chars // 100,
                                          substring(text, i, 5))), 1, 15)) AS BIGINT)
                              FOR i IN generate_series(1, greatest(length(text) - 4, 1))]) AS gs
        FROM documents
      ), p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(a.gs) + len(b.gs)
                    - len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE)
                 / len(list_distinct(list_concat(a.gs, b.gs))) AS jac
        FROM g a JOIN g b
          ON a.lang = b.lang AND a.source = b.source AND a.lenb = b.lenb
         AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, jac AS jaccard5
      FROM p WHERE jac >= 0.5
      ORDER BY doc_a, doc_b
    """))((spark, dir) => {
    // Gram-level equi-join instead of per-pair array unions: emit each
    // doc's DISTINCT grams as rows, self-join on (block, gram) — one
    // matched row per shared gram — then count per pair = |A ∩ B|. Same
    // result, but the work is a hash join on a high-cardinality key
    // (linear in total gram occurrences), not O(pairs × gram-array).
    // Pairs sharing no gram have Jaccard 0 and are never materialized.
    //
    // CharGramHashLong emits every position's blocked gram key (the
    // md5 prefix of block ++ 5-gram) in one codegen'd call per document:
    // O(total chars), with no range join against the longest document
    // and no driver action. array_distinct dedups the grams inside the
    // row — grams are per-document, so the set needs no distinct
    // exchange over the gram stream.
    val grams = Tables.spread(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        explode(array_distinct(TextFns.charGramHashLong(
          col("text"),
          TextFns.blockPrefix(col("lang"), col("source"),
            (col("n_chars") / lit(100)).cast("long")), 5))).as("bg"))
    gramIntersections(grams, primeGrams = true)
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jac").as("jaccard5"))
      .orderBy("doc_a", "doc_b")
  })

  /** Embedding near-duplicate pairs: quantized cosine ≥ 0.3 within
    * (label × 8-bit LSH bucket) blocks. */
  val d5EmbeddingNearDup: Op = Op(
    "d5_dedup_embedding",
    Some(s"""
      WITH v AS (
        SELECT vec_id, label, ${VectorFns.duckQuantize("embedding")} AS qv
        FROM embeddings
      ), n AS (
        SELECT vec_id, label, qv, ${VectorFns.duckNorm2("qv")} AS nrm,
               ${VectorFns.duckLshBucket8("qv")} AS bucket
        FROM v
      ), p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
               CAST(${VectorFns.duckDot("a.qv", "b.qv")} AS DOUBLE)
                 / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
        FROM n a JOIN n b
          ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      )
      SELECT vec_a, vec_b, label, cos AS cosine
      FROM p WHERE cos >= 0.3
      ORDER BY vec_a, vec_b
    """))((spark, dir) => {
    // d8's vectors, self-joined on their own bucket: the integer bucket
    // splits vectors into the same groups as the oracle's bit string.
    val n = embVectors(spark, dir)
    cosinePairs(n, "bucket", n)
      .filter(col("cos") >= 0.3)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cos").as("cosine"))
      .orderBy("vec_a", "vec_b")
  })

  /** (vec_id, label, qv, nrm, bucket) per embedding: the labeled
    * [[Similarity.vectorFrame]] plus its [[EMB_BITS]]-bit integer LSH
    * bucket. Cached: a pair join reads it on both sides, and uncached the
    * scan + quantize + norm + bucket work runs once per side (fresh
    * expression ids defeat exchange reuse). */
  private def embVectors(spark: SparkSession, dir: String): DataFrame =
    Similarity.vectorFrame(spark, dir, label = true)
      .withColumn("bucket", VectorFns.lshBucketInt(col("qv"), EMB_BITS))
      .cache()

  /** (vec_a, vec_b, label, cos) for `a.vec_id < b.vec_id` of one label
    * whose `a.<key>` equals `b.bucket`; `a` carries vec_id, label, qv
    * and nrm, `n` is [[embVectors]]. */
  private def cosinePairs(a: DataFrame, key: String, n: DataFrame): DataFrame =
    a.as("a")
      .join(n.as("b"),
        col("a.label") === col("b.label") && col(s"a.$key") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("a.label").as("label"),
        VectorFns.cosine(
          VectorFns.dot(col("a.qv"), col("b.qv")), col("a.nrm"), col("b.nrm")).as("cos"))

  /** d8's pair CTE chain, shared with d11's clustering oracle: `epairs`
    * holds the threshold-filtered multi-probe embedding near-dup pairs. */
  private[operators] lazy val duckEmbPairCtes: String = {
    val bInt = VectorFns.duckLshBucketInt("qv", EMB_BITS)
    s"""v AS (
        SELECT vec_id, label, ${VectorFns.duckQuantize("embedding")} AS qv
        FROM embeddings
      ), n AS (
        SELECT vec_id, label, qv, ${VectorFns.duckNorm2("qv")} AS nrm,
               $bInt AS bucket
        FROM v
      ), probes AS (
        SELECT vec_id, label, qv, nrm,
               UNNEST([bucket] || [CAST(xor(bucket, CAST(1 << j AS BIGINT)) AS BIGINT)
                                   FOR j IN generate_series(0, ${EMB_BITS - 1})]) AS probe
        FROM n
      ), p AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
               CAST(${VectorFns.duckDot("a.qv", "b.qv")} AS DOUBLE)
                 / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
        FROM probes a JOIN n b
          ON a.label = b.label AND a.probe = b.bucket AND a.vec_id < b.vec_id
      ), epairs AS (
        SELECT vec_a, vec_b, label, cos FROM p WHERE cos >= $EMB_COS_T
      )"""
  }

  /** d8's full pair pipeline, UNSORTED (see [[d2Pairs]] for the
    * pattern): internal consumers take the pair SET. */
  private[operators] def d8Pairs(spark: SparkSession, dir: String): DataFrame =
    d8PairsAndNorms(spark, dir)._1

  /** d8's pairs PLUS the cached per-vector (vec_id, nrm) projection the
    * pair join already computed, so d12 re-attaches norms from the cache
    * instead of scanning and quantizing the embeddings a second time. */
  private[operators] def d8PairsAndNorms(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val n = embVectors(spark, dir)
    val probes = n.select(
      col("vec_id"), col("label"), col("qv"), col("nrm"),
      explode(array(col("bucket") +: (0 until EMB_BITS).map(j =>
        expr(s"bucket ^ ${1L << j}")): _*)).as("probe"))
    // A pair found through two probes dedupes on DISTINCT.
    val p = cosinePairs(probes, "probe", n).distinct()
    (p.filter(col("cos") >= EMB_COS_T), n.select(col("vec_id"), col("nrm")))
  }

  /** d5 with multi-probe blocks: embedding near-dup pairs where the two
    * buckets differ by AT MOST ONE sign bit. Single-bucket blocking
    * (d5) misses any true pair straddling a bucket boundary; expanding
    * ONE side of the self-join into its bucket plus the 8 Hamming-1
    * neighbors recovers those pairs while the join stays a (label,
    * bucket) equi-join — candidates grow ~9×, not quadratically, and
    * the big side still carries a single bucket column. */
  val d8EmbeddingMultiProbe: Op = Op(
    "d8_dedup_embedding_multiprobe",
    Some(s"""
      WITH $duckEmbPairCtes
      SELECT vec_a, vec_b, label, cos AS cosine
      FROM epairs
      ORDER BY vec_a, vec_b
    """))((spark, dir) =>
    d8Pairs(spark, dir)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cos").as("cosine"))
      .orderBy("vec_a", "vec_b"))

  /** Embedding-space near-dup clusters: connected components over d8's
    * multi-probe cosine pair graph — the vector-side twin of d6 (text
    * clusters), sharing [[connectedComponents]] so both scale paths are
    * one implementation. Labels are component minima; the census output
    * matches d6's shape with vec_id keys. */
  val d11EmbeddingClusters: Op = Op(
    "d11_embedding_clusters",
    Some(s"""
      WITH RECURSIVE $duckEmbPairCtes,
      e AS (SELECT vec_a AS a, vec_b AS b FROM epairs
            UNION SELECT vec_b, vec_a FROM epairs),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
      ),
      comp AS (
        SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
      )
      SELECT c.vec_id, c.cluster_id, CAST(n.cnt AS BIGINT) AS cluster_size
      FROM comp c
      JOIN (SELECT cluster_id, COUNT(*) AS cnt FROM comp GROUP BY cluster_id) n
        USING (cluster_id)
      ORDER BY c.vec_id
    """))((spark, dir) => {
    val comp = connectedComponents(d8Pairs(spark, dir).select("vec_a", "vec_b"))
      .withColumnRenamed("doc_id", "vec_id")
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("cluster_id"))
      .select("vec_id", "cluster_id", "cluster_size")
      .orderBy("vec_id")
  })

  /** Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    * pair graph (d2's output as edges). Spark side runs iterative
    * min-label propagation — each pass joins current labels to the edge
    * list and takes the per-node minimum; converges to the unique
    * component-minimum fixpoint, so the result is deterministic
    * regardless of iteration schedule. The oracle computes the same
    * components via a recursive transitive closure. At 100 TB this
    * becomes large-star/small-star (the edge list here is tiny relative
    * to the corpus by LSH design, so simple propagation converges in
    * O(diameter) cheap joins). */
  val d6Clusters: Op = Op(
    "d6_dedup_clusters",
    Some(s"""
      WITH RECURSIVE $duckPairCtes,
      pairs AS (SELECT doc_a, doc_b FROM scored WHERE jac >= $JACCARD_T),
      e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
      ),
      comp AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
      )
      SELECT c.doc_id, c.cluster_id, CAST(n.cnt AS BIGINT) AS cluster_size
      FROM comp c
      JOIN (SELECT cluster_id, COUNT(*) AS cnt FROM comp GROUP BY cluster_id) n
        USING (cluster_id)
      ORDER BY c.doc_id
    """))((spark, dir) => {
    // d2's pair SET, skipping its presentation sort — clustering is
    // order-insensitive and the total ORDER BY was a wasted shuffle.
    val pairs = d2Pairs(spark, dir).select("doc_a", "doc_b")
    val comp = connectedComponents(pairs)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  })

  /** Connected components over an undirected pair list, labels = the
    * component minimum (so results are schedule-independent).
    *
    * The LSH pair graph is tiny relative to the corpus BY DESIGN (only
    * near-dup candidates survive banding + the Jaccard filter), so below
    * `maxDriverEdges` we union-find on the driver — ONE collect of the
    * edge list (the gate itself is a count, so an over-threshold graph
    * never lands on the driver), zero extra Spark jobs.
    *
    * Above the threshold: alternating large-star/small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"). Each round re-points every larger node at its
    * neighborhood minimum (large-star) then folds the remaining smaller
    * neighbors onto it (small-star) — two shuffle passes over the
    * CURRENT edge set, converging in O(log² n) rounds on any topology,
    * where plain min-label propagation needs O(graph diameter) rounds.
    * Only the latest round's edge set stays cached; the previous one is
    * unpersisted as soon as the next is materialized. */
  def connectedComponents(pairs: DataFrame, maxDriverEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e0 = pairs.select(col(pairs.columns(0)).cast("long"), col(pairs.columns(1)).cast("long"))
      .cache()
    if (e0.count() <= maxDriverEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val edgeArr = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
      edgeArr.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // attach the larger root under the smaller → root == component min
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
          parent.getOrElseUpdate(math.min(ra, rb), math.min(ra, rb))
        } else { parent.getOrElseUpdate(ra, ra); () }
      }
      val nodes = edgeArr.flatMap(e => Seq(e._1, e._2)).distinct
      val out = nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster_id")
      e0.unpersist()
      out
    } else {
      // Canonical directed form: (u, v) with u > v. Self-loops dropped.
      // Every round ends in an EAGER localCheckpoint: the next round's
      // plan reads materialized blocks instead of the whole iteration
      // lineage, whose logical plan otherwise grows exponentially (each
      // round references the previous one several times) and whose
      // recomputation on cache eviction would replay every round. The
      // same pattern at reliable-cluster scale uses checkpoint() to a
      // durable dir; local blocks are the single-job equivalent.
      var edges = e0.toDF("a", "b").filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct().localCheckpoint()
      var prevCheck: (Long, Long) = (-1L, -1L)
      var converged = false
      var iters = 0
      while (!converged && iters < 50) {
        // Large-star over the FULL (symmetric) neighborhood: every
        // neighbor larger than u re-points at m = min(Γ(u) ∪ {u}).
        // Output is canonical by construction (big > u ≥ m).
        val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        val mLarge = sym.groupBy("u")
          .agg(least(min(col("v")), first(col("u"))).as("m"))
        val large = sym.join(mLarge, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        // Small-star on the canonical output: all of u's (smaller)
        // neighbors plus u itself attach to the neighborhood minimum.
        val mSmall = large.groupBy("u").agg(min(col("v")).as("m"))
        val small = large.join(mSmall, Seq("u"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mSmall.select(col("u"), col("m").as("v")))
          .distinct()
          .localCheckpoint()
        // Fixpoint test via (count, order-independent hash-xor) over the
        // checkpointed blocks. Collision odds ~2⁻⁶⁴ per round. (xor, not
        // sum: ANSI mode makes a long hash-sum overflow.)
        val chk = small.select(xxhash64(col("u"), col("v")).as("h"))
          .agg(count(lit(1)), expr("bit_xor(h)")).head()
        val check = (chk.getLong(0), if (chk.isNullAt(1)) 0L else chk.getLong(1))
        converged = check == prevCheck
        prevCheck = check
        edges = small // previous round's blocks are GC-cleaned by the ContextCleaner
        iters += 1
      }
      e0.unpersist()
      // At the fixpoint every edge is (node, component-min); roots label
      // themselves. `edges` is checkpointed, so downstream consumers do
      // not re-run the iteration.
      edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
        .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
        .distinct()
    }
  }

  /** SimHash near-dup pairs: Hamming distance ≤ 3 on the 16-bit
    * fingerprint, through [[hammingBandPairs]] with four 4-bit bands:
    * a pair within Hamming 3 agrees on at least one nibble, so banding
    * loses no pair while the join stays per bucket, not all-pairs. */
  val d7SimHashPairs: Op = Op(
    "d7_simhash_hamming_pairs", {
      val bandRows = (0 until 4).map(b =>
        s"SELECT doc_id, simhash, $b AS band, (simhash // ${1 << (4 * b)}) % 16 AS nib FROM sh")
        .mkString("\n        UNION ALL ")
      Some(s"""
      WITH $duckSimHashCtes, bands AS (
        $bandRows
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
      FROM cand
      WHERE bit_count(xor(ha, hb)) <= 3
      ORDER BY doc_a, doc_b
    """)
    })((spark, dir) =>
    // Cached: both sides of the band self-join read the fingerprints.
    hammingBandPairs(simHash16(Tables.spread(Tables.documents(spark, dir))).cache(),
      "simhash", bands = 4, bandBits = 4, maxHamming = 3)
      .orderBy("doc_a", "doc_b"))

  /** Canonical-document selection: the "which copy survives" step that
    * turns d6's clusters into an actionable dedup decision. Within each
    * near-dup cluster the longest document wins (ties to the lowest
    * doc_id) — the standard keep-the-most-complete-copy policy of
    * corpus dedup pipelines. One row per cluster: the canonical doc and
    * how many near-copies it absorbs. Both the rank and the size are
    * windows over cluster_id, so the whole decision is one shuffle of
    * the (tiny, by LSH design) clustered subset — the corpus itself is
    * never re-scanned beyond the n_chars dim lookup, and at 100 TB the
    * documents join stays a broadcast of the clustered ids against the
    * doc-length column only (pruned scan). */
  val d9CanonicalDocs: Op = Op(
    "d9_canonical_docs",
    Some(s"""
      WITH RECURSIVE $duckPairCtes,
      pairs AS (SELECT doc_a, doc_b FROM scored WHERE jac >= $JACCARD_T),
      e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
      ),
      comp AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
      ), j AS (
        SELECT c.doc_id, c.cluster_id, d.n_chars
        FROM comp c JOIN documents d USING (doc_id)
      ), r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rnk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS csize
        FROM j
      )
      SELECT cluster_id, doc_id AS canonical_doc_id,
             CAST(n_chars AS BIGINT) AS canonical_chars,
             CAST(csize AS BIGINT) AS cluster_size,
             CAST(csize - 1 AS BIGINT) AS n_dropped
      FROM r WHERE rnk = 1
      ORDER BY cluster_id
    """))((spark, dir) =>
    canonicalDocsFrom(spark, dir, d2Pairs(spark, dir)))

  /** d9's canonical-doc selection parameterized by the near-dup pair
    * SET — the seam that lets [[Curation.fromPersisted]] serve the same
    * decision from a stored pair table instead of re-deriving the banded
    * self-join per run. */
  private[operators] def canonicalDocsFrom(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs.select("doc_a", "doc_b"))
    val lens = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val j = comp.join(lens, Seq("doc_id"))
    val byCluster = Window.partitionBy("cluster_id")
    val r = j
      .withColumn("rnk", row_number().over(
        byCluster.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("csize", count(lit(1)).over(byCluster))
    r.filter(col("rnk") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc_id"),
        col("n_chars").as("canonical_chars"), col("csize").as("cluster_size"),
        (col("csize") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Embedding-side canonical selection — d9's keep-this-copy decision
    * over d11's vector clusters, completing the vector half of the dedup
    * pipeline (d11 says "these are duplicates", d12 says which one the
    * corpus keeps). Policy: the highest-norm member wins (ties to the
    * lowest vec_id) — the quantized ‖v‖² is an exact int64 on both
    * engines, so the rank is bit-stable where a float cosine-to-centroid
    * rule would not be. Same scale shape as d9: the windows run over the
    * (LSH-small) clustered subset only; the corpus-wide table is touched
    * once for the norm column. */
  val d12CanonicalVectors: Op = Op(
    "d12_canonical_vectors",
    Some(s"""
      WITH RECURSIVE $duckEmbPairCtes,
      e AS (SELECT vec_a AS a, vec_b AS b FROM epairs
            UNION SELECT vec_b, vec_a FROM epairs),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
      ),
      comp AS (
        SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
      ), j AS (
        SELECT c.vec_id, c.cluster_id, n.nrm
        FROM comp c JOIN n USING (vec_id)
      ), r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY nrm DESC, vec_id) AS rnk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS csize
        FROM j
      )
      SELECT cluster_id, vec_id AS canonical_vec_id,
             CAST(nrm AS BIGINT) AS canonical_nrm,
             CAST(csize AS BIGINT) AS cluster_size,
             CAST(csize - 1 AS BIGINT) AS n_dropped
      FROM r WHERE rnk = 1
      ORDER BY cluster_id
    """))((spark, dir) => {
    // Both the pair set AND the norms come from d8's one cached
    // quantize pass — a separate norms derivation re-scanned and
    // re-quantized the full embeddings table for a column the cache
    // already holds.
    val (pairs, norms) = d8PairsAndNorms(spark, dir)
    canonicalVectorsFrom(spark, dir, pairs, Some(norms))
  })

  /** d12's canonical-vector selection parameterized by the embedding
    * pair SET — the vector-side twin of [[canonicalDocsFrom]]. Pass
    * `normsOpt` when the caller already has a (vec_id, nrm) projection
    * (d12 reuses d8's cached quantize subtree); persisted-pair callers
    * leave it None and pay the one table scan. */
  private[operators] def canonicalVectorsFrom(spark: SparkSession, dir: String,
      epairs: DataFrame, normsOpt: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFns
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(epairs.select("vec_a", "vec_b"))
      .withColumnRenamed("doc_id", "vec_id")
    val norms = normsOpt.getOrElse(Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        VectorFns.norm2(VectorFns.quantize(col("embedding"))).as("nrm")))
    val j = comp.join(norms, Seq("vec_id"))
    val byCluster = Window.partitionBy("cluster_id")
    val r = j
      .withColumn("rnk", row_number().over(
        byCluster.orderBy(col("nrm").desc, col("vec_id"))))
      .withColumn("csize", count(lit(1)).over(byCluster))
    r.filter(col("rnk") === 1)
      .select(col("cluster_id"), col("vec_id").as("canonical_vec_id"),
        col("nrm").as("canonical_nrm"), col("csize").as("cluster_size"),
        (col("csize") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  private val DupGramN = 8

  /** Cross-document duplicated-gram fraction: for each document, the
    * share of its word-8-gram OCCURRENCES whose gram also appears in at
    * least one other document — the corpus-level repetition signal
    * quality-filtering pipelines threshold on (t29 measures repetition
    * WITHIN a doc; this measures how much of a doc is boilerplate shared
    * ACROSS docs, which pair-level dedup like d2 only catches when
    * whole documents align). One pass over the grams: per-(doc, gram)
    * occurrence counts, gram document-frequency as a COUNT window over
    * the gram hash (not a self-join — a join would re-derive the whole
    * tokenize/explode/md5 subtree for the second branch), then a per-doc
    * rollup. Every aggregate is map-side combinable, the window
    * partitions by the int64 gram hash (max partition size = corpus doc
    * count), nothing corpus-global. The fraction is one IEEE division of
    * two exact counts. */
  val d10DupGramFraction: Op = Op(
    "d10_dup_gram_fraction",
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        FROM documents
      ), grams AS (
        SELECT doc_id,
               UNNEST([array_to_string(w[i:i+${DupGramN - 1}], ' ')
                       FOR i IN generate_series(1, len(w) - ${DupGramN - 1})]) AS g
        FROM toks WHERE len(w) >= $DupGramN
      ), occ AS (
        SELECT doc_id, CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS gh,
               COUNT(*) AS c
        FROM grams GROUP BY 1, 2
      ), df AS (
        SELECT gh, COUNT(*) AS ndocs FROM occ GROUP BY gh
      )
      SELECT o.doc_id,
             CAST(SUM(o.c) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN d.ndocs >= 2 THEN o.c ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(SUM(CASE WHEN d.ndocs >= 2 THEN o.c ELSE 0 END) AS DOUBLE)
               / CAST(SUM(o.c) AS DOUBLE) AS dup_fraction
      FROM occ o JOIN df d USING (gh)
      GROUP BY o.doc_id
      ORDER BY o.doc_id
    """))((spark, dir) => {
    val occ = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= DupGramN)
      // Fused hash (r14): same per-position md5-prefix values, one
      // codegen'd loop, no gram strings.
      .select(col("doc_id"),
        explode(TextFns.wordShingleHashLong(col("w"), DupGramN)).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
    occ
      .withColumn("ndocs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_grams"),
        sum(when(col("ndocs") >= 2, col("c")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double")).as("dup_fraction"))
      .orderBy("doc_id")
  })

  /** Shared scaffolding of the gram-level pair ops (d4's Jaccard, d13's
    * containment): per-pair intersection counts with both set sizes
    * attached, from (doc_id, bg) rows that are DISTINCT per document
    * (the caller guarantees that — it's what makes the per-pair row
    * count equal |A ∩ B|).
    *
    * Document-frequency pruning: a block-gram held by exactly ONE doc
    * cannot produce a pair (grams are distinct per doc, and the
    * a.doc_id < b.doc_id predicate excludes self-matches), so drop the
    * df=1 tail before the self-join. The count rides a window OVER THE
    * SAME bg partitioning the self-join needs, and the cache holds the
    * windowed rows — so both join sides read bg-partitioned cached
    * blocks and the join plans with ZERO further exchanges. (A separate
    * aggregate+join re-derivation measured 2.5× worse at 64×; no
    * pruning ~1.3× worse.) `sizes` stays over the FULL gram sets:
    * Jaccard/containment denominators must count unshared grams too.
    *
    * `sizes` carries one row PER DOCUMENT, so it must never be
    * broadcast-HINTED: the hint is unconditional, and at 100 TB a
    * billions-of-rows build side blows the 8 GB broadcast limit and
    * fails the job outright. The joins are left unhinted — AQE
    * broadcasts from the RUNTIME size when sizes actually is small,
    * and degrades to a shuffle join (on the already-aggregated,
    * LSH-small pair side) when it is not. PlanAuditSpec pins the
    * no-hint invariant. */
  private def gramIntersections(gramRows: DataFrame,
      primeGrams: Boolean = false): DataFrame = {
    // primeGrams: THREE leaf stages of the final job read this cache
    // (the sizes aggregate's map side plus both self-join sides) and
    // race to populate it cold. Per the [[Tables.prime]] rule, d4's
    // char-5-gram stream saturates the machine and primes; d13's
    // word-5-shingle stream is light enough that the racing duplicates
    // back-fill idle cores, so d13 does not.
    val cached = gramRows
      .withColumn("dfb",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("bg")))
      .cache()
    val grams = if (primeGrams) Tables.prime(cached) else cached
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).cast("int").as("sz"))
    val shared = grams.filter(col("dfb") > 1)
    shared.as("a")
      .join(shared.as("b"),
        col("a.bg") === col("b.bg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sza"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "szb"), Seq("doc_b"))
  }

  private val ContainN = 5    // word-shingle width for containment
  private val ContainT = 0.5  // keep pairs where max containment >= this

  /** Asymmetric gram-CONTAINMENT pairs: for documents in the same
    * (lang × source) block, c(A→B) = |shingles(A) ∩ shingles(B)| /
    * |shingles(A)| — the directional complement to d4's symmetric
    * Jaccard. Jaccard misses the quote/boilerplate case entirely: a
    * short document fully contained in a long one has Jaccard
    * |A|/|B| ≈ 0 but containment 1.0, which is why dedup pipelines run
    * both (Broder's original resemblance/containment pair). Note the
    * block deliberately has NO length bucket — short-in-long pairs are
    * the point, and d4's lenb blocking would split them.
    *
    * Scale shape: identical to d4's — per-doc DISTINCT block-shingle
    * hashes (block baked into the int64 key), document-frequency-1
    * pruning via a window OVER THE SAME bg partitioning the self-join
    * uses (df=1 grams cannot produce a pair; the cache holds the
    * windowed rows so both join sides read bg-partitioned blocks and
    * the join adds zero exchanges), gram-level equi-join → per-pair
    * intersection counts, sizes re-attached unhinted (AQE broadcasts
    * when actually small — sizes is per-document, so a hint would be a
    * 100 TB failure). Linear in total shingle occurrences, never
    * O(pairs × array). */
  val d13ContainmentPairs: Op = Op(
    "d13_containment_pairs",
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang, source,
               list_filter(string_split(text, ' '), x -> x != '') AS w
        FROM documents
      ), sh AS (
        SELECT doc_id, lang, source,
               list_distinct([CAST(('0x' || substring(md5(
                                concat_ws(chr(1), lang, source,
                                          array_to_string(w[i:i+${ContainN - 1}], ' '))), 1, 15)) AS BIGINT)
                              FOR i IN generate_series(1, len(w) - ${ContainN - 1})]) AS gs
        FROM toks WHERE len(w) >= $ContainN
      ), p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.gs, b.gs)) AS inter,
               len(a.gs) AS sza, len(b.gs) AS szb
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / sza AS cont_a_in_b,
             CAST(inter AS DOUBLE) / szb AS cont_b_in_a
      FROM p
      WHERE greatest(CAST(inter AS DOUBLE) / sza, CAST(inter AS DOUBLE) / szb) >= $ContainT
      ORDER BY doc_a, doc_b
    """))((spark, dir) => {
    val grams = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"),
        TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= ContainN)
      // Fused hash (r14): every gram position hashed in one codegen'd
      // loop with the block prefix baked in; hash-then-array_distinct
      // is the same set as the old distinct-strings-then-hash.
      .select(col("doc_id"),
        explode(array_distinct(TextFns.blockWordShingleHashLong(
          col("w"), TextFns.blockPrefix(col("lang"), col("source")),
          ContainN))).as("bg"))
    gramIntersections(grams)
      .withColumn("cont_a_in_b", col("inter").cast("double") / col("sza"))
      .withColumn("cont_b_in_a", col("inter").cast("double") / col("szb"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= ContainT)
      .select(col("doc_a"), col("doc_b"), col("cont_a_in_b"), col("cont_b_in_a"))
      .orderBy("doc_a", "doc_b")
  })

  private val SpanN = 8          // span gram width (tokens)
  private val SpanMinTokens = 16 // report maximal spans of at least this
  // Occurrence cap per gram: a gram appearing more than this many times
  // corpus-wide is ubiquitous boilerplate whose pair fanout is
  // quadratic (n occurrences → ~n²/2 matched rows) — list-prune it, in
  // BOTH engines (visible semantics, unlike the df=1 prune). Sized for
  // the target scale: testdata maxes out at df=4, so the cap never
  // triggers at test SFs; at 100 TB it is the lever that keeps the
  // corpus-global join linear. The spec forges a 130-doc boilerplate
  // cohort to prove the capped path.
  //
  // Maximality caveat (visible in both engines, so gates still agree):
  // the cap counts a gram's occurrences CORPUS-wide, so a genuine long
  // span between ONE pair of documents fragments (or, if shorter than
  // SpanMinTokens + the gap, drops) when an INTERIOR gram happens to be
  // common via unrelated documents. Reported spans are therefore
  // maximal runs of surviving (df ≤ cap) grams, not of all shared
  // grams. Acceptable by design: a gram that common is itself
  // boilerplate, and the trimmer's near-miss is bounded by the gram
  // width. Counting df as DISTINCT DOCS per gram would narrow (not
  // close) the gap at extra cost — revisit only if strict maximality
  // between surviving pairs becomes a contract.
  private val SpanMaxDf = 128

  /** Exact repeated-substring SPANS: maximal runs of ≥[[SpanMinTokens]]
    * consecutive tokens shared verbatim between two documents, located
    * by start position in both — the actionable artifact of
    * exact-substring deduplication (cf. Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": the duplicated SPAN
    * gets cut, not the document). The hash ops report that duplication
    * exists (d10's gram fraction) or which docs pair up (d2/d4/d13);
    * this one says exactly WHERE, so a trimmer can act per span.
    *
    * Mechanics: word-[[SpanN]]-gram occurrences with their token
    * position, df-pruned the same way as d4/d13 (a gram occurring once
    * corpus-wide cannot match; the count rides a window on the join's
    * own gh partitioning), equi-joined across documents, then matches
    * are grouped into maximal runs by the DIAGONAL trick: consecutive
    * shared grams advance both positions together, so a run lives on
    * one diagonal d = pos_a − pos_b and is an island of consecutive
    * pos_a values there (island id = pos_a − row_number). A run of k
    * grams covers k + [[SpanN]] − 1 tokens.
    *
    * Scale shape: the join is deliberately CORPUS-GLOBAL — no
    * lang/source blocking, unlike d4/d13, because cross-source
    * boilerplate is precisely the target. What keeps it linear: the
    * df=1 prune drops the unique-gram long tail (most of the corpus),
    * and the [[SpanMaxDf]] occurrence cap drops ubiquitous grams whose
    * pair fanout would be quadratic — capped identically in the oracle
    * (visible semantics). The islands windows partition by (doc_a,
    * doc_b, diag) over the MATCHED stream only (bounded by shared-gram
    * occurrences between the two prunes, not the corpus). */
  val d14RepeatedSpans: Op = Op(
    "d14_repeated_spans",
    Some(s"""
      $duckSpanCtes
      SELECT da AS doc_a, db AS doc_b, sa AS start_a, sb AS start_b, span_tokens
      FROM sp
      ORDER BY doc_a, doc_b, start_a, start_b
    """))((spark, dir) =>
    spanTable(spark, dir).orderBy("doc_a", "doc_b", "start_a", "start_b"))

  /** d14's span table without the presentation sort: one row per
    * maximal ≥[[SpanMinTokens]]-token shared run, (doc_a, doc_b,
    * start_a, start_b, span_tokens) with doc_a < doc_b. Shared with
    * d15's trim census so the cut plan is definitionally the spans. */
  private def spanTable(spark: SparkSession, dir: String): DataFrame = {
    // Fused hash: one codegen'd loop hashes every SpanN-gram position —
    // no per-position gram string, no md5-hex/conv parse (same value;
    // the oracle chain is untouched).
    val occ0 = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= SpanN)
      .select(col("doc_id"),
        posexplode(TextFns.wordShingleHashLong(col("w"), SpanN)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("gh"))
    // Cached here (not inside the chain): the df aggregate and the
    // semi-join probe side both read it, and THIS path derives it from
    // a fresh scan + tokenize. The fused-corpus path (planParts, d15)
    // passes a projection of its own cached frame instead — re-running
    // a posexplode over cached arrays is cheaper than a second cache.
    // Not primed: the df aggregate and semi-join probe leaves back-fill
    // idle cores rather than saturate (the [[Tables.prime]] rule).
    spanPairsFromShared(spanSharedFromOcc(occ0.cache()))
  }

  /** The span chain's df-pruned shared-occurrence CACHE, from (doc_id,
    * p, gh) gram-occurrence rows. `occ0` must be cached or a cheap
    * projection of a cached frame: the df filter reads it twice. The
    * plan family (d17/d19) feeds it from its fused corpus cache and
    * composes the pair tail itself, so this half and
    * [[spanPairsFromShared]] stay separate.
    *
    * df filter via PARTIAL-AGG COUNT + SEMI-JOIN, not a count window
    * over gh: d14's join is deliberately corpus-GLOBAL (no lang/source
    * block in the key, unlike d4/d13), so a `count().over(partitionBy
    * "gh"))` window puts EVERY occurrence of one gram into one task —
    * and the SpanMaxDf cap prunes ubiquitous boilerplate only AFTER
    * that window has sorted/buffered its whole partition. A 10M-
    * occurrence gram at 100 TB is then a single-task hotspot the cap
    * never saves. The aggregate form has no such wall: the per-gram
    * count collapses hot keys MAP-SIDE (partial agg), the surviving
    * 2..SpanMaxDf gram list is keys-only, and the one full-occ
    * exchange happens in the semi-join, where AQE's skew-join split
    * CAN spread a hot gram across tasks (a window partition cannot be
    * split). d4's window form does not transfer here: d4's window rides
    * a BLOCKED key that cannot concentrate, and saves an exchange its
    * join needs anyway. */
  private def spanSharedFromOcc(occ0: DataFrame): DataFrame = {
    val good = occ0.groupBy("gh").agg(count(lit(1)).as("dfg"))
      .filter(col("dfg") > 1 && col("dfg") <= SpanMaxDf)
      .select("gh")
    // Cached post-join: both self-join sides read gh-partitioned blocks
    // (the semi-join's output partitioning), so the pair join adds no
    // exchange.
    occ0.join(good.hint("shuffle_hash"), Seq("gh"), "leftsemi")
      .select("doc_id", "p", "gh")
      .cache()
  }

  /** The span chain's pair-join + islands tail over the df-pruned
    * shared-occurrence cache — the other half of [[spanSharedFromOcc]]. */
  private def spanPairsFromShared(shared: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val m = shared.as("a")
      .join(shared.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.p").as("pa"), col("b.p").as("pb"),
        (col("a.p") - col("b.p")).as("diag"))
    m.withColumn("grp",
        col("pa") - row_number().over(w.partitionBy("da", "db", "diag").orderBy("pa")))
      .groupBy("da", "db", "diag", "grp")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + lit(SpanN - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= SpanMinTokens)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("start_a"), col("start_b"), col("span_tokens"))
  }

  /** The occ0..sp span-chain CTEs (mirror of [[spanTable]]), written
    * against a PRECEDING `toks(doc_id, w)` CTE and ending with
    * `sp(da, db, sa, sb, span_tokens)` already thresholded. ONE builder
    * shared by [[duckSpanCtes]] (d14/d15) and [[duckPlanPrefix]]
    * (d17/d19), so a future edit to the chain cannot leave the plan
    * oracles running a silently different span semantics than the
    * census — the failure mode a substring splice would hide. */
  private lazy val duckSpanChain: String = s"""occ0 AS (
        SELECT doc_id,
               [{'p': i, 'gh': CAST(('0x' || substring(md5(
                     array_to_string(w[i:i+${SpanN - 1}], ' ')), 1, 15)) AS BIGINT)}
                FOR i IN generate_series(1, len(w) - ${SpanN - 1})] AS gs
        FROM toks WHERE len(w) >= $SpanN
      ), occ AS (
        SELECT doc_id, u.p AS p, u.gh AS gh FROM occ0, UNNEST(gs) AS t(u)
      ), occf AS (
        SELECT doc_id, p, gh FROM (
          SELECT doc_id, p, gh, COUNT(*) OVER (PARTITION BY gh) AS dfg FROM occ)
        WHERE dfg <= $SpanMaxDf
      ), m AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb,
               a.p - b.p AS diag
        FROM occf a JOIN occf b ON a.gh = b.gh AND a.doc_id < b.doc_id
      ), isl AS (
        SELECT da, db, diag, pa, pb,
               pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
        FROM m
      ), sp AS (
        SELECT da, db, sa, sb, span_tokens FROM (
          SELECT da, db, MIN(pa) AS sa, MIN(pb) AS sb,
                 COUNT(*) + ${SpanN - 1} AS span_tokens
          FROM isl GROUP BY da, db, diag, grp)
        WHERE span_tokens >= $SpanMinTokens
      )"""

  /** The full d14/d15 oracle prefix: the whitespace-token CTE plus
    * [[duckSpanChain]]. The toks body is byte-identical to
    * [[duckPairCtes]]' — both mirror [[graft.functions.TextFns.tokens]]. */
  private lazy val duckSpanCtes: String = s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        FROM documents
      ), $duckSpanChain"""

  /** Span-trim census: what an exact-substring trimmer would actually
    * cut, per document. The deterministic keep-rule is "the lower
    * doc_id keeps its copy": every d14 span is cut from its doc_b side,
    * so a document's cut set is the UNION of its incoming span
    * intervals [start_b, start_b + span_tokens), merged by the
    * classic sweep (sort by start; running max of prior ends; a new
    * merged region starts where start exceeds it) — overlapping cuts
    * from different partners must not double-count. Census covers ALL
    * documents (zero-cut docs included: the export gate needs the
    * full ledger).
    *
    * Scale shape: [[spanTable]]'s join plus one (doc_id)-partitioned
    * sweep over the SPAN list (bounded by found spans, not the corpus).
    * The census joins (lens ⋈ cuts ⋈ nsp) are left UNHINTED: cuts/nsp
    * are one row per document-with-spans — unbounded on a heavily
    * duplicated corpus — so a broadcast hint would be a 100 TB failure
    * mode; AQE broadcasts from the runtime size when they are small. */
  val d15SpanTrimCensus: Op = Op(
    "d15_span_trim_census",
    Some(s"""
      $duckSpanCtes, iv AS (
        SELECT db AS doc_id, sb AS s, sb + span_tokens - 1 AS e FROM sp
      ), swept AS (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM iv
      ), gisl AS (
        SELECT doc_id, s, e,
               SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS gid
        FROM swept
      ), merged AS (
        SELECT doc_id, MAX(e) - MIN(s) + 1 AS cov FROM gisl GROUP BY doc_id, gid
      ), cuts AS (
        SELECT doc_id, SUM(cov) AS cut_tokens FROM merged GROUP BY doc_id
      ), nsp AS (
        SELECT db AS doc_id, COUNT(*) AS n_spans FROM sp GROUP BY db
      ), lens AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents
      )
      SELECT l.doc_id, l.n_tokens,
             CAST(COALESCE(n.n_spans, 0) AS BIGINT) AS n_spans,
             CAST(COALESCE(c.cut_tokens, 0) AS BIGINT) AS cut_tokens,
             l.n_tokens - CAST(COALESCE(c.cut_tokens, 0) AS BIGINT) AS kept_tokens,
             CASE WHEN l.n_tokens = 0 THEN 0.0
                  ELSE CAST(COALESCE(c.cut_tokens, 0) AS DOUBLE) / l.n_tokens END AS cut_fraction
      FROM lens l
      LEFT JOIN cuts c ON l.doc_id = c.doc_id
      LEFT JOIN nsp n ON l.doc_id = n.doc_id
      ORDER BY l.doc_id
    """))((spark, dir) => {
    // The span table feeds both the interval sweep and the per-doc span
    // count; cache it (tiny — found spans only) so the gram join runs
    // once, not once per consumer. No fused (n_tokens, sg) corpus cache
    // here (the planCorpus pattern): d15's lens branch needs only one
    // narrow column, so the fused frame's array cache write costs more
    // than the scan it saves. The pattern pays only when three subtrees
    // share the tokenize, as in d17/d19.
    val spans = spanTable(spark, dir).cache()
    val cuts = spanCuts(spans)
    val nsp = spans
      .groupBy(col("doc_b").as("doc_id")).agg(count(lit(1)).as("n_spans"))
    val lens = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    lens
      .join(cuts, Seq("doc_id"), "left")
      .join(nsp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"),
        (col("n_tokens") - coalesce(col("cut_tokens"), lit(0L))).as("kept_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("cut_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("cut_fraction"))
      .orderBy("doc_id")
  })

  /** Per-document cut totals from a span table: each doc_b's incoming
    * span intervals [start_b, start_b + span_tokens), merged by the
    * running-max sweep so overlapping cuts from different partners never
    * double-count. One (doc_id)-partitioned window pass over FOUND spans
    * only. Shared by d15's census and d17's action plan. */
  /** Merges each doc_b's incoming span intervals [start_b, start_b +
    * span_tokens) into disjoint (doc_id, s, e) regions via the classic
    * running-max sweep — the interval form both the d15/d17 cut SUMS
    * and d19's actual token surgery consume, so the census can never
    * disagree with the corpus a trimmer would materialize. */
  private def mergedIntervals(spans: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val sp = spans
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("span_tokens") - 1).as("e"))
    val swept = sp.withColumn("pmax",
      max(col("e")).over(w.partitionBy("doc_id").orderBy("s", "e")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
    val gisl = swept.withColumn("gid",
      sum(when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .over(w.partitionBy("doc_id").orderBy("s", "e")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    gisl.groupBy("doc_id", "gid")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .select("doc_id", "s", "e")
  }

  private def spanCuts(spans: DataFrame): DataFrame =
    mergedIntervals(spans)
      .groupBy("doc_id").agg(sum(col("e") - col("s") + 1).as("cut_tokens"))

  /** d16's corpus-sample modulus: keep documents whose md5(doc_id)
    * int64 is ≡ 0 mod this. The audit's exact all-shared-shingle truth
    * join is quadratic ONLY within the sample, so this is THE knob that
    * bounds it — 2 by default so the small-SF oracle gate has pairs to
    * grade; a 100 TB audit sets `GRAFT_AUDIT_MOD` ~10⁵-10⁶ (a ~1/mod
    * sample of a 10¹⁰-doc corpus leaves 10⁴-10⁵ docs, whose quadratic
    * truth join is cheap while still yielding thousands of truth pairs
    * to grade recall on). The registered Op's DuckDB oracle interpolates
    * the SAME value, so both engines always sample identically. */
  private[graft] val AuditMod: Long =
    sys.env.get("GRAFT_AUDIT_MOD").map(_.toLong).getOrElse(2L)

  /** d16's deterministic sample predicate over a doc_id column — ONE
    * definition shared with the spec that re-derives the sample set
    * (a hand-copied hash expression drifting from this one would grade
    * the audit against a different sample). */
  private[graft] def auditSampled(docId: org.apache.spark.sql.Column,
      mod: Long = AuditMod): org.apache.spark.sql.Column =
    conv(substring(md5(docId.cast("string")), 1, 15), 16, 10)
      .cast("long") % mod === 0

  /** LSH-recall audit: how much does d2's banding MISS? The 100 TB
    * dedup path depends on banded candidate generation (8 minhashes ×
    * 4 bands), which trades recall for linearity — this op measures
    * that trade on a deterministic corpus sample, the way a pipeline
    * tunes band geometry before committing to it. Ground truth inside
    * the sample: EXACT hashed-shingle Jaccard (d2's own estimator) over
    * a df-pruned shingle-level equi-join — every true pair ≥ the d2
    * threshold, found without banding. Each truth pair is then flagged
    * with whether d2's band keys would have surfaced it (band keys are
    * per-document, so sample-restricted banding equals full-corpus
    * banding restricted to sample pairs). Recall = flagged fraction;
    * the unflagged rows are the pairs banding loses.
    *
    * Scale shape: linear in corpus size for the sampling scan; the
    * exact truth join is quadratic only WITHIN the sample (shared-
    * shingle equi-join, df=1 pruned, shuffled-hash so no hot-shingle
    * single-task sort) — [[AuditMod]] is the knob. */
  val d16LshRecallAudit: Op = Op(
    "d16_lsh_recall_audit",
    Some(s"""
      WITH sdocs AS (
        SELECT * FROM documents
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % $AuditMod = 0
      ), ${duckPairCtesFrom("sdocs")},
      occ AS (
        SELECT doc_id, UNNEST(sh) AS h FROM sh
      ), shocc AS (
        SELECT doc_id, h FROM occ
        WHERE h IN (SELECT h FROM occ GROUP BY h HAVING COUNT(*) > 1)
      ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shocc a JOIN shocc b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), truth AS (
        SELECT doc_a, doc_b,
               CAST(i.inter AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh) - i.inter) AS jac
        FROM inter i
        JOIN sh sa ON sa.doc_id = i.doc_a
        JOIN sh sb ON sb.doc_id = i.doc_b
      )
      SELECT t.doc_a, t.doc_b, t.jac AS jaccard,
             (c.doc_a IS NOT NULL) AS lsh_found
      FROM truth t
      LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
      WHERE t.jac >= $JACCARD_T
      ORDER BY t.doc_a, t.doc_b
    """))((spark, dir) => lshRecallAudit(spark, dir))

  /** d16's audit body parameterized by the sample modulus — the entry
    * point a production tuner calls with its own modulus (or sets via
    * `GRAFT_AUDIT_MOD`); the registered Op passes [[AuditMod]], which
    * its DuckDB oracle interpolates, so the gate always grades the
    * sample the Spark side actually drew. */
  private[graft] def lshRecallAudit(spark: SparkSession, dir: String,
      mod: Long = AuditMod): DataFrame = {
    val sampled = Tables.spread(Tables.documents(spark, dir))
      .filter(auditSampled(col("doc_id"), mod))
    val sh = shingled(sampled).cache()
    // Exact truth via the shingle-level equi-join (the d4/d13 shape):
    // one matched row per shared shingle, count per pair = |A ∩ B|.
    val g = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val good = g.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select("h")
    val shared = g.join(good.hint("shuffle_hash"), Seq("h"), "leftsemi").cache()
    val inter = shared.as("a")
      .join(shared.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
    val truth = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"),
        Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"),
        Seq("doc_b"))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= JACCARD_T)
    val bands = minhashBands(sh).cache()
    val cand = bandedCandidates(bands, Seq("band", "hx", "hy"))
    truth
      .join(cand.withColumn("f", lit(true)), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("f"), lit(false)).as("lsh_found"))
      .orderBy("doc_a", "doc_b")
  }

  /** The capstone: one row per document with the dedup ACTION the
    * pipeline executes — the merge of every dedup decision this module
    * makes, in the priority order a trimmer applies them:
    *
    *   - `drop_exact`: a non-canonical byte-identical copy (d1's
    *     groups; the minimum doc_id keeps the text)
    *   - `drop_near`:  a non-canonical member of a d2 near-dup cluster
    *     (d9's keep-rule: longest text, ties to the lowest doc_id)
    *   - `trim`:       survives whole-document dedup but carries d14
    *     repeated spans to cut (d15's keep-rule: the lower doc_id keeps
    *     its copy, so cuts land on the doc_b side) — restricted to
    *     spans whose KEEPER itself survives: a span whose doc_a is an
    *     exact/near loser must not cut doc_b, or the plan would delete
    *     every copy of the span content (doc_a's with the drop, doc_b's
    *     with the trim)
    *   - `keep`:       untouched
    *
    * The ledger (n_tokens / cut_tokens / kept_tokens) is what an export
    * gate budgets with: dropped docs cut everything, trimmed docs cut
    * their merged span union, kept docs cut nothing.
    *
    * Scale shape: composes the already-scale-shaped subtrees (d2's
    * banded pairs, components, the df-pruned span join, one window over
    * found spans) plus one hash-agg + shuffled-hash join for the exact
    * groups — no new corpus-global window (an md5(text) window would
    * put a 10M-copy boilerplate text in one task; the agg collapses it
    * map-side). */
  /** The shared oracle chain of the plan-consuming ops (d17's census,
    * d19's materialization): pair CTEs → recursive components → near/
    * exact loser sets → the span chain restricted to surviving keepers
    * → merged cut intervals, ending mid-WITH at `mg(doc_id, gid, s, e)`
    * (one row per merged disjoint interval) plus `ntok`. Callers append
    * their own tails so the loser/interval semantics cannot drift
    * between the census and the corpus it claims to describe. */
  private[operators] lazy val duckPlanPrefix: String = {
    // duckPairCtes' `toks` is byte-identical to duckSpanCtes' — reuse
    // the former's and append the SHARED span-chain builder (no
    // substring splice: the chain has exactly one definition).
    val spanTail = duckSpanChain
    s"""
      WITH RECURSIVE $duckPairCtes,
      pairs AS (SELECT doc_a, doc_b FROM scored WHERE jac >= $JACCARD_T),
      ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             UNION SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM ed
        UNION
        SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a WHERE ed.b <> r.a
      ),
      comp AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
      ),
      rr AS (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rnk
        FROM comp c JOIN documents d USING (doc_id)
      ),
      nearloser AS (SELECT doc_id FROM rr WHERE rnk > 1),
      exactloser AS (
        -- text IS NOT NULL: a SQL window groups all NULL hashes into one
        -- partition, but null-text docs are not copies of each other —
        -- and the Spark side's equi-join never matches null keys, so the
        -- filter keeps the two engines on the same semantics.
        SELECT doc_id FROM (
          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS mn
          FROM documents WHERE text IS NOT NULL)
        WHERE doc_id > mn
      ),
      losers AS (
        SELECT doc_id FROM exactloser UNION SELECT doc_id FROM nearloser
      ),
      $spanTail,
      iv AS (
        -- only spans whose keeper (da) survives whole-doc dedup may cut
        SELECT db AS doc_id, sb AS s, sb + span_tokens - 1 AS e
        FROM sp WHERE da NOT IN (SELECT doc_id FROM losers)
      ), swept AS (
        SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM iv
      ), gisl AS (
        SELECT doc_id, s, e,
               SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS gid
        FROM swept
      ), mg AS (
        SELECT doc_id, gid, MIN(s) AS s, MAX(e) AS e FROM gisl GROUP BY doc_id, gid
      ),
      ntok AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks)"""
  }

  val d17DedupActionPlan: Op = Op(
    "d17_dedup_action_plan",
    Some(s"""
      $duckPlanPrefix,
      cuts AS (
        SELECT doc_id, SUM(e - s + 1) AS cut_tokens FROM mg GROUP BY doc_id
      )
      SELECT d.doc_id,
             CASE WHEN ex.doc_id IS NOT NULL THEN 'drop_exact'
                  WHEN nl.doc_id IS NOT NULL THEN 'drop_near'
                  WHEN COALESCE(c.cut_tokens, 0) > 0 THEN 'trim'
                  ELSE 'keep' END AS action,
             nt.n_tokens,
             CAST(CASE WHEN ex.doc_id IS NOT NULL OR nl.doc_id IS NOT NULL
                       THEN nt.n_tokens
                       ELSE COALESCE(c.cut_tokens, 0) END AS BIGINT) AS cut_tokens,
             nt.n_tokens - CAST(CASE WHEN ex.doc_id IS NOT NULL OR nl.doc_id IS NOT NULL
                                     THEN nt.n_tokens
                                     ELSE COALESCE(c.cut_tokens, 0) END AS BIGINT)
               AS kept_tokens
      FROM documents d
      JOIN ntok nt USING (doc_id)
      LEFT JOIN exactloser ex USING (doc_id)
      LEFT JOIN nearloser nl USING (doc_id)
      LEFT JOIN cuts c USING (doc_id)
      ORDER BY d.doc_id
    """))((spark, dir) => assemblePlan(planPartsInline(spark, dir)))

  /** d17's action-plan assembly parameterized by the near-dup pair SET —
    * the seam that lets [[Curation.FromPersisted.actionPlan]] serve the
    * same per-document decisions from a stored pair table (the nightly
    * 100 TB shape) instead of re-deriving the banded self-join per run.
    * Exact groups and the span-cut union always compute inline: exact
    * hashing is one cheap agg, and span tables are not persisted
    * artifacts (yet). */
  /** The plan's building blocks, shared by d17's census and d19's
    * materialization: the hashed document scan, the exact/near loser
    * sets, and the keeper-restricted merged cut intervals. */
  private final case class PlanParts(
      docs: DataFrame, exactLoser: DataFrame, nearLoser: DataFrame,
      liveIntervals: DataFrame)

  /** ONE cached corpus derivation for the whole plan family (r15,
    * guide §1.2 step 1 / §2.4): the plan's three subtrees — exact
    * groups (th), near-dup pairs (3-gram shingles), repeated spans
    * (SpanN-gram positions) — each re-scanned AND re-tokenized the
    * documents table (three spread exchanges, three tokenize passes;
    * tokenize+hash was the dominant stage cost of d17/d19 at 25-30
    * driver jobs each). This frame tokenizes once and carries every
    * derived column the subtrees need. Memory is BELOW the layout it
    * replaces: the old path cached the shingle arrays (d2's toks), the
    * EXPLODED span occurrences (24 B/token rows) and the narrow docs
    * frame separately; this holds the two int64 gram arrays per doc
    * plus four scalars, and the span chain re-derives its occurrence
    * rows by posexplode over the cached arrays. `withShingles = false`
    * for the persisted-pair seam, whose pairs come from storage. */
  private def planCorpus(spark: SparkSession, dir: String,
      withShingles: Boolean): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars"), md5(col("text")).as("th"),
        TextFns.tokens(col("text")).as("w"))
    toks.select(Seq(
        col("doc_id"), col("n_chars"), col("th"),
        size(col("w")).cast("long").as("n_tokens"),
        TextFns.wordShingleHashLong(col("w"), SpanN).as("sg")) ++
      (if (withShingles) Seq(shingleHashCol(col("w")).as("sh")) else Nil): _*)
      .cache()
  }

  /** The plan's shingle frame from a fused corpus cache —
    * definitionally [[shingled]] (same filter, same fused hash) read
    * off the cached arrays instead of a fresh scan. */
  private def pcShingles(pc: DataFrame): DataFrame =
    pc.filter(col("n_tokens") >= 3).select(col("doc_id"), col("sh"))

  /** The span chain's (doc_id, p, gh) occurrence rows from a fused
    * corpus cache — definitionally [[spanTable]]'s occ0. */
  private def pcSpanOcc(pc: DataFrame): DataFrame =
    pc.filter(col("n_tokens") >= SpanN)
      .select(col("doc_id"), posexplode(col("sg")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("gh"))

  /** Inline plan build: pairs derived from the fused corpus frame —
    * ONE scan + tokenize for all three subtrees. */
  private def planPartsInline(spark: SparkSession, dir: String): PlanParts = {
    val pc = planCorpus(spark, dir, withShingles = true)
    planPartsFrom(spark, pc, d2PairsFromShingles(pcShingles(pc)))
  }

  /** Persisted-pair plan build: the stored pair table replaces the
    * shingle subtree; the fused frame skips the shingle column. */
  private def planParts(spark: SparkSession, dir: String,
      pairs: DataFrame): PlanParts =
    // Primed: with the pairs served from storage nothing touches the
    // fused frame until the final job reads it from several leaf stages
    // at once (exact groups, span occ, docs), which would race the
    // tokenize pass. The inline path stays unprimed: its CC count job
    // materializes the frame while the cores are otherwise its own.
    planPartsFrom(spark, Tables.prime(planCorpus(spark, dir, withShingles = false)),
      pairs)

  private def planPartsFrom(spark: SparkSession, pc: DataFrame,
      pairs: DataFrame): PlanParts = {
    import org.apache.spark.sql.expressions.Window
    val docs = pc.select("doc_id", "n_chars", "th", "n_tokens")
    // Exact groups: hash-agg (map-side combine collapses a hot text) +
    // shuffled-hash join back — never an md5(text) window.
    val mins = docs.groupBy("th").agg(min("doc_id").as("mn"))
    val exactLoser = docs.join(mins.hint("shuffle_hash"), Seq("th"))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id"), lit(true).as("ex"))
    // No span-cache prefetch thread during connectedComponents: CC's
    // count job is CPU-saturating, so an overlap would only contend and
    // then barrier construction on its own completion (the
    // [[Tables.prime]] rule). The shared cache materializes inside the
    // final query, concurrently with the loser subtrees' stages.
    val shared = spanSharedFromOcc(pcSpanOcc(pc))
    val comp = connectedComponents(pairs.select("doc_a", "doc_b"))
    val nearLoser = comp
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rnk") > 1)
      .select(col("doc_id"), lit(true).as("nr"))
    // A span may cut doc_b ONLY if its keeper (doc_a) survives
    // whole-document dedup: trimming against a dropped keeper would
    // delete every copy of the span content (doc_a's copy goes with the
    // drop, doc_b's with the trim). The cut set is therefore the spans
    // whose doc_a is in neither loser set — an anti-join against the
    // (tiny relative to spans) drop list.
    // No distinct: an anti-join is duplicate-insensitive on its build side.
    val losers = exactLoser.select("doc_id").union(nearLoser.select("doc_id"))
    val liveSpans = spanPairsFromShared(shared)
      .join(losers.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
    PlanParts(docs, exactLoser, nearLoser, mergedIntervals(liveSpans))
  }

  private[graft] def actionPlanFrom(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame =
    assemblePlan(planParts(spark, dir, pairs))

  /** d17's final assembly over the plan's building blocks — shared by
    * the inline (fused-corpus) and persisted-pair paths. */
  private def assemblePlan(parts: PlanParts): DataFrame = {
    val PlanParts(docs, exactLoser, nearLoser, liveIntervals) = parts
    val cuts = liveIntervals
      .groupBy("doc_id").agg(sum(col("e") - col("s") + 1).as("cut_tokens"))
    val dropped = col("ex").isNotNull || col("nr").isNotNull
    val cut = when(dropped, col("n_tokens"))
      .otherwise(coalesce(col("cut_tokens"), lit(0L)))
    docs
      .join(exactLoser, Seq("doc_id"), "left")
      .join(nearLoser, Seq("doc_id"), "left")
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex").isNotNull, "drop_exact")
          .when(col("nr").isNotNull, "drop_near")
          .when(coalesce(col("cut_tokens"), lit(0L)) > 0, "trim")
          .otherwise("keep").as("action"),
        col("n_tokens"),
        cut.as("cut_tokens"),
        (col("n_tokens") - cut).as("kept_tokens"))
      .orderBy("doc_id")
  }

  /** Materialize the cleaned corpus: EXECUTE d17's plan instead of
    * describing it. Exact/near losers are dropped outright; surviving
    * documents have their keeper-restricted merged cut intervals
    * (d15's union, same [[mergedIntervals]] sweep) excised from the
    * token stream; output is one row per SURVIVING document with the
    * rebuilt text's md5 and exact kept-token count — the artifact a
    * downstream trainer actually reads, hash-matched across engines so
    * the token surgery itself (not just its census) is verified.
    *
    * Scale shape: the surgery is ONE higher-order-function projection —
    * intervals are pre-merged per doc (bounded by found spans), carried
    * as a per-row array through a doc_id equi-join, and the token
    * filter runs inside codegen with no explode/re-aggregate round trip
    * (a posexplode + anti-join + collect_list rebuild would shuffle
    * every token of a 100 TB corpus twice; this shuffles none). */
  val d19CleanedCorpus: Op = Op(
    "d19_cleaned_corpus",
    Some(s"""
      $duckPlanPrefix,
      ivs AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s, e) AS ivs
              FROM mg GROUP BY doc_id)
      SELECT doc_id, action, CAST(len(kt) AS BIGINT) AS kept_tokens,
             md5(array_to_string(kt, ' ')) AS text_md5
      FROM (
        SELECT t.doc_id,
               CASE WHEN i.ivs IS NULL THEN 'keep' ELSE 'trim' END AS action,
               CASE WHEN i.ivs IS NULL THEN t.w
                    ELSE list_filter(t.w, (x, j) ->
                      len(list_filter(i.ivs, iv -> j >= iv.s AND j <= iv.e)) = 0)
               END AS kt
        FROM toks t
        LEFT JOIN exactloser ex USING (doc_id)
        LEFT JOIN nearloser nl USING (doc_id)
        LEFT JOIN ivs i USING (doc_id)
        WHERE ex.doc_id IS NULL AND nl.doc_id IS NULL) z
      ORDER BY doc_id
    """))((spark, dir) =>
    cleanedProjection(cleanedTokens(spark, dir, planPartsInline(spark, dir))))

  /** d19's assembly parameterized by the near-dup pair set — the same
    * persisted-pair seam as [[actionPlanFrom]]. */
  private[graft] def cleanedCorpusFrom(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame =
    cleanedProjection(cleanedTokensFrom(spark, dir, pairs))

  /** d19's census projection over the survivor token arrays. */
  private def cleanedProjection(kt: DataFrame): DataFrame =
    kt.select(col("doc_id"), col("action"),
        size(col("kt")).cast("long").as("kept_tokens"),
        md5(array_join(col("kt"), " ")).as("text_md5"))
      .orderBy("doc_id")

  /** d19's surgery with the rebuilt TEXT materialized — one row per
    * SURVIVING document, (doc_id, action keep|trim, text). What an
    * index apply ([[graft.operators.Maintenance.applyPlan]]) feeds back
    * when re-indexing trimmed documents: the rebuilt text is the
    * space-joined kept-token stream, whose tokenization (and therefore
    * shingle set) is exactly what a fresh build on the cleaned corpus
    * would compute. */
  private[graft] def cleanedDocsFrom(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame =
    cleanedTokensFrom(spark, dir, pairs)
      .select(col("doc_id"), col("action"), array_join(col("kt"), " ").as("text"))

  /** Shared core of d19's two projections: survivors with their
    * kept-token arrays, (doc_id, action, kt). */
  private def cleanedTokensFrom(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame =
    cleanedTokens(spark, dir, planParts(spark, dir, pairs))

  private def cleanedTokens(spark: SparkSession, dir: String,
      parts: PlanParts): DataFrame = {
    val ivs = parts.liveIntervals.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    Tables.spread(Tables.documents(spark, dir)).select("doc_id", "text")
      .join(parts.exactLoser, Seq("doc_id"), "left_anti")
      .join(parts.nearLoser, Seq("doc_id"), "left_anti")
      .join(ivs, Seq("doc_id"), "left")
      .withColumn("w", TextFns.tokens(col("text")))
      // Spark lambda indexes are 0-based; span positions (and DuckDB's
      // list_filter index) are 1-based.
      .withColumn("kt", when(col("ivs").isNull, col("w")).otherwise(
        filter(col("w"), (_, j) => not(exists(col("ivs"),
          iv => (j + 1) >= iv("s") && (j + 1) <= iv("e"))))))
      .select(col("doc_id"),
        when(col("ivs").isNull, lit("keep")).otherwise(lit("trim")).as("action"),
        col("kt"))
  }

  /** SemDeDup threshold: within-cell pairs at or above this cosine are
    * semantic duplicates (0.4 sits just under this corpus's within-
    * label cosine ceiling ~0.45, so the op is live but selective; a
    * production run on real embeddings would use 0.95+). */
  private[graft] val SemTau = 0.4

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup via
    * k-means cells. Embeddings are clustered with the SAME deterministic
    * Lloyd trainer as s5 ([[Similarity.trainIvf]], integer centroids);
    * within each cell, a member is REMOVED iff some other member of its
    * cell is at cosine ≥ [[SemTau]] AND precedes it in the cell's
    * diversity order — distance-to-own-centroid DESCENDING, ties to the
    * lower vec_id. That pairwise dominance rule is exactly the released
    * SemDeDup implementation's upper-triangular matrix test (sort by
    * centroid distance, drop anything too close to an earlier point),
    * keeping the member farthest from the centroid in each near-
    * duplicate group. One row per vector: cell, exact integer centroid
    * distance, kept flag, and how many cell-mates dominated it.
    *
    * Scale shape: the pair join is a cid equi-join — candidates are
    * bounded per cell, never corpus-quadratic — PROVIDED the cell count
    * grows with the corpus (the paper used 50k cells for LAION-440M):
    * at a constant cell count the join is O(n²/cells), with cells ∝ n
    * it is O(n · cell_size). [[semDeDup]]'s default derives the count
    * from the corpus via [[semCellCount]]; the registered Op pins
    * Similarity.KC because its DuckDB oracle unrolls the Lloyd mirror
    * at that constant (sf0.01's 500 vectors ÷ [[SemCellSize]] lands on
    * the same 8, so the pinned and derived geometries agree at the
    * gate SF). Dominance is a join-side predicate, not a window — no
    * per-cell sort or single-task buffering anywhere; centroid distance
    * is computed against a cells-row broadcast codebook in exact int64
    * arithmetic. */
  /** d18's dominance CTE chain over the Lloyd-assigned vectors
    * (requires [[Similarity.duckVecs]] + [[Similarity.duckLloydChain]]
    * upstream): `cd` attaches each vector's exact integer centroid
    * distance, `dom(vec_id, n_dom)` counts the cell-mates that
    * dominate it. ONE builder shared by the d18 oracle and c5's
    * semantic-curation composition so the dominance mirror cannot
    * drift between the two (the duckPqScoredCtes rule). */
  private[operators] lazy val duckSemDomCtes: String = s"""
      cd AS (
        SELECT a.vec_id, a.qv, a.nrm, a.cid,
               a.nrm + ${VectorFns.duckNorm2("c.cv")}
                 - 2 * (${VectorFns.duckDot("a.qv", "c.cv")}) AS cdist
        FROM af a JOIN ${Similarity.duckLloydCentTbl} c ON a.cid = c.cid
      ),
      dom AS (
        SELECT b.vec_id AS vec_id, COUNT(*) AS n_dom
        FROM cd a JOIN cd b ON a.cid = b.cid AND a.vec_id <> b.vec_id
          AND (a.cdist > b.cdist OR (a.cdist = b.cdist AND a.vec_id < b.vec_id))
        WHERE CAST(${VectorFns.duckDot("a.qv", "b.qv")} AS DOUBLE)
                / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
              >= $SemTau
        GROUP BY b.vec_id
      )"""

  val d18SemDedup: Op = Op(
    "d18_semdedup",
    Some(s"""
      WITH ${Similarity.duckVecs()},
      ${Similarity.duckLloydChain()},
      $duckSemDomCtes
      SELECT cd.vec_id, CAST(cd.cid AS BIGINT) AS cell, cd.cdist AS cent_dist,
             d.vec_id IS NULL AS kept,
             CAST(COALESCE(d.n_dom, 0) AS BIGINT) AS n_dom
      FROM cd LEFT JOIN dom d ON d.vec_id = cd.vec_id
      ORDER BY cd.vec_id
    """))((spark, dir) => semDeDup(spark, dir, Similarity.KC))

  /** Target within-cell population for [[semCellCount]]: small enough
    * that the O(cell_size) dominance fan-out per vector stays cheap,
    * large enough that cells still hold near-duplicate groups. The
    * SemDeDup paper's LAION-440M/50k-cells regime is ~9k per cell;
    * 64 here keeps multi-member cells live at test SFs. */
  private[graft] val SemCellSize = 64L

  /** Corpus-scaled cell count: ~[[SemCellSize]] vectors per cell, never
    * fewer than s5's KC. THE 100 TB knob — at a constant cell count the
    * within-cell dominance join is O(n²/cells); with cells ∝ n it is
    * O(n · SemCellSize). (The Lloyd assignment argmin is O(n · cells),
    * so with cells ∝ n a production run swaps the flat argmin for a
    * two-level coarse-then-fine assignment; at probe scales the flat
    * form is measured sub-linear per probe because the dominance join,
    * not assignment, dominates.) */
  private[graft] def semCellCount(n: Long): Int =
    math.max(Similarity.KC.toLong, (n + SemCellSize - 1) / SemCellSize).toInt

  /** d18's body parameterized by the cell count; `kc ≤ 0` derives it
    * from the corpus via [[semCellCount]] (the production default —
    * one cached count() buys a bounded join). The registered Op passes
    * Similarity.KC so the static DuckDB Lloyd mirror grades identical
    * geometry. */
  private[graft] def semDeDup(spark: SparkSession, dir: String,
      kc: Int = 0): DataFrame =
    semDominance(semCellsFor(spark, dir, kc))

  /** Train + assign + attach centroid distances: the shared front of
    * the inline semantic-dedup family (d18's full verdict table, c5's
    * dominated-id set). */
  private[graft] def semCellsFor(spark: SparkSession, dir: String,
      kc: Int = 0): DataFrame = {
    // Cached: Lloyd scans it once per round, then assignment + the
    // dominance self-join read it twice more (fresh-expression-id rule).
    val vecs = Similarity.vectorFrame(spark, dir).cache()
    val cells0 = if (kc > 0) kc else semCellCount(vecs.count())
    val cent = Similarity.trainIvf(spark, dir, vecs, cells0)
    // Corpus-scaled cell counts (cells ∝ n) would make the flat argmin
    // O(n·cells) = quadratic — above TwoLevelMin both the final
    // assignment here and Lloyd's training rounds (inside trainIvf)
    // switch to the IVF-style two-level form, O(n·√cells). The
    // oracle-pinned KC=8 geometry (and every gate SF) stays on the
    // exact flat path; the approximate path is measured at the 8×
    // probe and replay-checked by SemDedupSpec.
    val assigned =
      if (cent.size > Similarity.TwoLevelMin)
        Similarity.withTwoLevelCid(vecs, col("qv"), "cid", cent)
      else vecs.withColumn("cid", Similarity.nearestId(col("qv"), cent))
    semCells(assigned, cent)
  }

  /** The UNSORTED dominated-id set (vec_id of every member some
    * cell-mate dominates) — what an internal consumer (c5's curation
    * drop set) actually needs. d18's full output additionally re-attaches
    * the verdict to every row and pays a presentation ORDER BY; a
    * consumer that anti-joins the SET must not pay either (the d2Pairs
    * rule: pair/id SETS for composition, sorted tables for
    * presentation). */
  private[graft] def semDroppedIds(spark: SparkSession, dir: String,
      kc: Int = 0): DataFrame =
    semDominators(semCellsFor(spark, dir, kc)).select("vec_id")

  /** d18's cell head over any cell-assigned (vec_id, qv, nrm, cid, …)
    * relation: broadcast the centroid table with its exact integer
    * squared norms and attach each row's exact centroid distance.
    * Cached — the dominance tail reads it three times (both self-join
    * sides + the verdict re-attach). ONE implementation shared by the
    * inline [[d18SemDedup]] and the index-served probe ([[AnnIndex
    * .probeSemDedup]]): the probe ≡ inline guarantee (d20 shares d18's
    * oracle) rests on bit-identical cdist on both paths, so the
    * arithmetic must not exist twice. */
  private[graft] def semCells(assigned: DataFrame,
      cent: Seq[(Long, Array[Long])], extra: Seq[String] = Nil): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centDf = broadcast(cent.map { case (cid, cv) =>
      (cid, cv.toSeq, cv.map(x => x * x).sum) }.toDF("cid", "cv", "cnrm"))
    assigned
      .join(centDf, Seq("cid"))
      .withColumn("cdist",
        col("nrm") + col("cnrm") - lit(2L) * VectorFns.dot(col("qv"), col("cv")))
      .select((Seq("vec_id", "qv", "nrm", "cid", "cdist") ++ extra).map(col): _*)
      .cache()
  }

  /** d18's dominance tail over any cell-assigned, centroid-distance-
    * carrying relation (vec_id, qv, nrm, cid, cdist): the within-cell
    * dominance join (earlier-in-diversity-order AND cosine ≥ SemTau),
    * then one row per vector with the kept verdict. Shared by the
    * inline [[d18SemDedup]] and the persisted-index probe
    * ([[AnnIndex.probeSemDedup]]) so the dominance semantics cannot
    * drift between the retraining and the index-served path. */
  private[graft] def semDominance(cells: DataFrame): DataFrame =
    cells.join(semDominators(cells), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cell"), col("cdist").as("cent_dist"),
        col("nd").isNull.as("kept"), coalesce(col("nd"), lit(0L)).as("n_dom"))
      .orderBy("vec_id")

  /** The dominance join itself: (vec_id, nd) for every DOMINATED member
    * — some cell-mate at cosine ≥ [[SemTau]] precedes it in the
    * diversity order. [[semDominance]] re-attaches this to every row
    * for d18's verdict table; set-consumers take it bare. */
  private[graft] def semDominators(cells: DataFrame): DataFrame =
    cells.as("a")
      .join(cells.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id")
          && (col("a.cdist") > col("b.cdist")
            || (col("a.cdist") === col("b.cdist")
              && col("a.vec_id") < col("b.vec_id"))))
      .filter(VectorFns.cosine(VectorFns.dot(col("a.qv"), col("b.qv")),
        col("a.nrm"), col("b.nrm")) >= SemTau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("nd"))

  // ---- d22: multi-assignment SemDeDup (the cross-cell blind-spot fix) --

  /** The MULTI-ASSIGNED cell relation: TWO rows per vector — its
    * nearest cell (rk=1, d18's assignment) and its second-nearest
    * (rk=2) — each row carrying the exact centroid distance TO THAT
    * CELL (the shared [[semCells]] arithmetic). The standard answer to
    * SemDeDup's cross-cell blind spot: a near-dup pair straddling a
    * cell boundary meets in whichever cell both assignments cover.
    * Assignment order is [[Similarity.nearest2Ids]]' (distance, id) —
    * bit-identical to the single-assignment path's argmin at rank 1,
    * so d22's primary cells equal d18's. */
  private[graft] def semCellsMulti(vecs: DataFrame,
      cent: Seq[(Long, Array[Long])]): DataFrame = {
    val two = vecs
      .withColumn("cids", Similarity.nearest2Ids(col("qv"), cent))
      .select(col("vec_id"), col("qv"), col("nrm"),
        posexplode(col("cids")).as(Seq("pos", "cid")))
      .withColumn("rk", col("pos") + 1)
    semCells(two, cent, extra = Seq("rk"))
  }

  /** Dominance over the multi-assignment: candidates are pairs sharing
    * ANY assigned cell, but the diversity order is GLOBAL — each
    * vector's distance to its OWN primary centroid, descending, ties to
    * the lower vec_id (the paper's order, computed once per vector).
    * Within a single cell of primary members this reduces EXACTLY to
    * d18's rule (both pcdist are distances to the same centroid), so
    * d22's verdicts are a superset of d18's; and because (pcdist,
    * vec_id) is a strict total order, domination is antisymmetric — the
    * rejected per-cell-order form let a boundary pair dominate EACH
    * OTHER through their two shared cells (v2 farther in cell A, v3
    * farther in cell B) and deleted every copy of the near-dup group,
    * which the forged-pair spec caught. `n_dom` counts DISTINCT
    * dominators (one sharing both of a victim's cells must not count
    * twice). One row per VECTOR: primary cell/centroid distance, the
    * second cell, and the merged verdict. */
  private[graft] def semDominanceMulti(cells: DataFrame): DataFrame = {
    val withP = cells.join(
      cells.filter(col("rk") === 1).select(col("vec_id"), col("cdist").as("pcd")),
      Seq("vec_id"))
    val dom = withP.as("a")
      .join(withP.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id")
          && (col("a.pcd") > col("b.pcd")
            || (col("a.pcd") === col("b.pcd")
              && col("a.vec_id") < col("b.vec_id"))))
      .filter(VectorFns.cosine(VectorFns.dot(col("a.qv"), col("b.qv")),
        col("a.nrm"), col("b.nrm")) >= SemTau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(countDistinct(col("a.vec_id")).as("nd"))
    cells.filter(col("rk") === 1)
      .join(cells.filter(col("rk") === 2)
        .select(col("vec_id"), col("cid").as("cell2")), Seq("vec_id"))
      .join(dom, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cell"), col("cell2"),
        col("cdist").as("cent_dist"),
        col("nd").isNull.as("kept"), coalesce(col("nd"), lit(0L)).as("n_dom"))
      .orderBy("vec_id")
  }

  /** d22's body parameterized by the cell count (the d18 twin: kc ≤ 0
    * derives from the corpus, the registered Op pins Similarity.KC for
    * its unrolled oracle). */
  private[graft] def semDeDupMulti(spark: SparkSession, dir: String,
      kc: Int = 0): DataFrame = {
    val vecs = Similarity.vectorFrame(spark, dir).cache()
    val cells0 = if (kc > 0) kc else semCellCount(vecs.count())
    val cent = Similarity.trainIvf(spark, dir, vecs, cells0)
    semDominanceMulti(semCellsMulti(vecs, cent))
  }

  /** Multi-assignment SemDeDup — the cross-cell blind-spot fix d18
    * documents (standard in practice: FAISS-style multi-probe applied
    * to the dedup side). Each vector joins the dominance pass in its
    * TOP-2 cells; near-dups Lloyd separates across a cell boundary now
    * meet wherever their assignment sets overlap, while d18's verdicts
    * are preserved in the primary cells (adding members to a cell only
    * ADDS dominance opportunities — drops(d22) ⊇ drops(d18),
    * SemDedupSpec pins both the superset and the caught boundary
    * pair). The oracle re-derives the 2-cell assignment with a ranked
    * all-distances CTE over the same Lloyd centroids and mirrors the
    * distinct-dominator count. */
  val d22SemDedupMulti: Op = Op(
    "d22_semdedup_multicell",
    Some(s"""
      WITH ${Similarity.duckVecs()},
      ${Similarity.duckLloydChain()},
      alldist AS (
        SELECT a.vec_id, a.qv, a.nrm, c.cid,
               a.nrm + ${VectorFns.duckNorm2("c.cv")}
                 - 2 * (${VectorFns.duckDot("a.qv", "c.cv")}) AS cdist
        FROM af a CROSS JOIN ${Similarity.duckLloydCentTbl} c
      ),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cdist, cid) AS rk
        FROM alldist
      ),
      asg AS (
        SELECT r.*, p.cdist AS pcd
        FROM ranked r JOIN ranked p ON p.vec_id = r.vec_id AND p.rk = 1
        WHERE r.rk <= 2
      ),
      mdom AS (
        SELECT b.vec_id AS vec_id, COUNT(DISTINCT a.vec_id) AS n_dom
        FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
          AND (a.pcd > b.pcd OR (a.pcd = b.pcd AND a.vec_id < b.vec_id))
        WHERE CAST(${VectorFns.duckDot("a.qv", "b.qv")} AS DOUBLE)
                / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
              >= $SemTau
        GROUP BY b.vec_id
      )
      SELECT p.vec_id, CAST(p.cid AS BIGINT) AS cell,
             CAST(s.cid AS BIGINT) AS cell2, p.cdist AS cent_dist,
             d.vec_id IS NULL AS kept,
             CAST(COALESCE(d.n_dom, 0) AS BIGINT) AS n_dom
      FROM asg p
      JOIN asg s ON s.vec_id = p.vec_id AND s.rk = 2
      LEFT JOIN mdom d ON d.vec_id = p.vec_id
      WHERE p.rk = 1
      ORDER BY p.vec_id
    """))((spark, dir) => semDeDupMulti(spark, dir, Similarity.KC))

  override def ops: Seq[Op] =
    Seq(d1Exact, d2MinHashLsh, d3SimHash, d4NgramJaccard, d5EmbeddingNearDup,
      d6Clusters, d7SimHashPairs, d8EmbeddingMultiProbe, d9CanonicalDocs,
      d10DupGramFraction, d11EmbeddingClusters, d12CanonicalVectors,
      d13ContainmentPairs, d14RepeatedSpans, d15SpanTrimCensus,
      d16LshRecallAudit, d17DedupActionPlan, d18SemDedup, d19CleanedCorpus,
      d22SemDedupMulti)
}
