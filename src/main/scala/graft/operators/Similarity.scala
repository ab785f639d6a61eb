package graft.operators

import graft.functions.VectorFns
import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * s1 is the exact baseline: brute-force cosine top-k for a fixed query
  * set. The query side is tiny (10 vectors) and broadcast, so the scan of
  * the candidate side is a single pass — at 100 TB this is the right plan
  * when the query set is small (broadcast-probe, no shuffle of the big
  * side).
  *
  * s2 is the scale path: sign-random-projection LSH buckets (8 bits); a
  * query only probes its own bucket, cutting candidates ~256×. Bucketing
  * is a deterministic per-row projection, so the bucketed table can be
  * written once, bucketed/partitioned by (bucket), and probed with
  * partition pruning. Cosines use exact integer arithmetic
  * ([[VectorFns]]) so both engines rank identically.
  *
  * The training / encode / scoring stages of the IVF and PQ family are
  * factored as package-private helpers so the per-query operators
  * (s3/s5/s7/s8) and the persisted build/probe split ([[AnnIndex]])
  * share ONE definition of each stage — the probe path is equal to the
  * inline path by construction, not by re-implementation.
  */
object Similarity extends OpModule {

  private[operators] val K = 5
  private[graft] val NQ = 10 // query set: vec_id < 10

  /** Per-query top-k as a rank-filtered window. The NQ-partition funnel
    * this APPEARS to create is not one: Spark's InferWindowGroupLimit
    * rewrites `row_number() ≤ k` into a WindowGroupLimit(Partial) BELOW
    * the exchange — every input partition forwards at most k rows per
    * query, so the per-query partitions only ever see k × #partitions
    * survivors regardless of data size. (An explicit two-level window
    * funnel computes the same thing with one extra shuffle;
    * PlanAuditSpec pins the partial group-limit so a conf/regression
    * that loses it fails loudly.) */
  private[operators] def topKPerQuery(pairs: DataFrame,
      order: Seq[Column], k: Int = K): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(order: _*)
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  // ---- driver-side codebook machinery ---------------------------------
  //
  // IVF/PQ codebooks are BOUNDED-tiny by construction (K ≤ 16 cells,
  // M·K ≤ 32 codes) — the standard distributed-k-means shape is to hold
  // them on the driver (as MLlib does for its centroids) and push each
  // assignment into the row expression as literals. Assignment then
  // costs one literal dot product per candidate inside whole-stage
  // codegen — no join, no shuffle, no aggregate — and the only cluster
  // work per training round is one map-side-combinable (cell, dim) sum.
  // All arithmetic stays in Long, so driver and executor (and DuckDB
  // oracle) math are bit-identical.

  private[operators] def dotL(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private[operators] def d2L(a: Array[Long], b: Array[Long]): Long =
    dotL(a, a) + dotL(b, b) - 2 * dotL(a, b)

  /** Half-away-from-zero rounding on the driver, matching Spark's
    * `round()` (BigDecimal.valueOf + HALF_UP) and DuckDB's `round()` for
    * the k-means mean update. */
  private[operators] def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Codegen'd inline nearest-entry id against a driver-side codebook:
    * argmin over entries of (‖c‖² − 2·v·c, id). The ‖v‖² term is
    * constant per row and dropped (order-preserving), so each candidate
    * costs one [[VectorFns.dot]] against a literal; ties break to the
    * lowest id, matching the oracles' ORDER BY (d2, id). */
  private[operators] def nearestId(v: Column,
      entries: Seq[(Long, Array[Long])]): Column = {
    require(entries.nonEmpty, "empty codebook")
    val cands = entries.map { case (id, c) =>
      struct((lit(dotL(c, c)) - lit(2L) * VectorFns.dot(v, typedLit(c))).as("pd"),
        lit(id).as("id"))
    }
    (if (cands.sizeIs == 1) cands.head else least(cands: _*)).getField("id")
  }

  /** Driver-side mirror of [[nearestId]] (same full-d2 ordering). */
  private[operators] def nearestIdL(v: Array[Long], entries: Seq[(Long, Array[Long])]): Long =
    entries.map { case (id, c) => (d2L(v, c), id) }.min._2

  /** Top-2 nearest entry ids as a 2-element array column, by the SAME
    * (distance, id) ordering as [[nearestId]] (one array_sort over the
    * literal candidate structs instead of a least()). The multi-
    * assignment semantic-dedup family's front door: like [[nearestId]]
    * this is the flat literal form, exact and codegen'd at the
    * oracle-pinned small-K geometries (KC=8) every registered caller
    * uses; a corpus-scaled K would need the two-level treatment. */
  private[operators] def nearest2Ids(v: Column,
      entries: Seq[(Long, Array[Long])]): Column = {
    require(entries.sizeIs >= 2, "top-2 assignment needs >= 2 entries")
    val cands = entries.map { case (id, c) =>
      struct((lit(dotL(c, c)) - lit(2L) * VectorFns.dot(v, typedLit(c))).as("pd"),
        lit(id).as("id"))
    }
    val sorted = array_sort(array(cands: _*))
    array(element_at(sorted, 1).getField("id"),
      element_at(sorted, 2).getField("id"))
  }

  /** Two-level (coarse → fine) nearest-entry assignment for LARGE
    * codebooks: the flat [[nearestId]] argmin costs O(K) literal dots
    * per row, which turns quadratic when the cell count scales with the
    * corpus (K ∝ n) — the exact regime SemDeDup's corpus-scaled cells
    * and a production IVF build live in. Standard IVF-style two-level
    * assignment instead: ⌈√K⌉ coarse anchors (a deterministic stride
    * sample of the entries themselves — every anchor is an entry, so
    * its bucket always contains at least itself), entries bucketed
    * driver-side by nearest anchor, and per row an argmin over the
    * anchors followed by an argmin over the winning bucket's members —
    * O(2√K) dots per row instead of O(K).
    *
    * APPROXIMATE by design (the true nearest entry may live in another
    * anchor's bucket — the IVF trade); ties break to the lowest id at
    * both levels, so the assignment is deterministic. A duplicate-
    * coordinate anchor can never win the coarse argmin (ties go to the
    * lower id, which is also an anchor), so the raise_error arm is
    * genuinely unreachable — kept loud per the t31 rule.
    *
    * DataFrame-level on purpose, with only the ANCHORS as plan
    * literals: the K bucket members ride a BROADCAST table (one array
    * of (id, nrm, cv) structs per anchor) and the fine argmin is a
    * codegen'd aggregate() HOF over the joined member array. Two
    * rejected forms, both measured: inlining the coarse argmin into
    * every CASE branch defeats codegen CSE (conditionally-evaluated
    * subexpressions are never eliminated — 9.6 s vs flat's 4.5 s at
    * the kc=250 probe), and even the materialized-coarse CASE keeps
    * all K entries as plan literals, so flat and two-level alike fall
    * out of whole-stage codegen and the driver pays O(K) literal-tree
    * analysis per pass (at kc=625 planning noise dominated wall time
    * entirely). The broadcast form keeps the plan O(√K): literals for
    * the anchors, data for the members. */
  private[graft] def withTwoLevelCid(df: DataFrame, v: Column, out: String,
      entries: Seq[(Long, Array[Long])]): DataFrame = {
    require(entries.nonEmpty, "empty codebook")
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = entries.sortBy(_._1)
    val b = math.max(1, math.round(math.sqrt(sorted.size.toDouble)).toInt)
    val stride = math.max(1, sorted.size / b)
    val anchors = sorted.indices.by(stride).map(sorted(_)).toSeq
    val buckets = broadcast(
      sorted.groupBy(e => nearestIdL(e._2, anchors)).toSeq
        .map { case (aid, members) =>
          (aid, members.map { case (id, c) => (id, dotL(c, c), c.toSeq) })
        }
        .toDF("_tl_coarse", "_tl_members"))
    // Fine argmin: project each member to (pd, id) — pd = ‖c‖² − 2·v·c,
    // the ‖v‖² term is constant per row — and take array_min, whose
    // struct ordering (pd, then id) IS the tie-to-lowest-id rule. One
    // dot per member (a fold's when-condition would evaluate pd twice).
    val best = array_min(transform(col("_tl_members"), m =>
      struct((m.getField("_2") - lit(2L) * VectorFns.dot(v, m.getField("_3"))).as("pd"),
        m.getField("_1").as("id"))))
    // LEFT join + loud coalesce: a winning anchor always owns a bucket
    // (anchors are entries and coarse ties go to the lower id, itself an
    // anchor), so the arm is unreachable — but an inner join would turn
    // that reasoning error into silently DROPPED rows, and a bare left
    // join into null cells (the t31 loudness rule).
    df.withColumn("_tl_coarse", nearestId(v, anchors))
      .join(buckets, Seq("_tl_coarse"), "left")
      .withColumn(out, coalesce(best.getField("id"),
        raise_error(format_string(
          "two-level assignment: anchor %s won coarse argmin but owns no bucket",
          col("_tl_coarse")))))
      .drop("_tl_coarse", "_tl_members")
  }

  /** Cell counts above this use [[withTwoLevelCid]] where the caller
    * opts in (semDeDup's corpus-scaled path); at or below it the flat
    * argmin is both cheaper and exact, and every oracle-pinned geometry
    * (KC=8, the scale probes' kc≤64 builds) stays on the exact path. */
  private[graft] val TwoLevelMin: Int = 64

  /** Collect (vec_id, qv) for vec_id < n — the bounded seed/query head
    * of the table. Reads the RAW scan (not the spread/repartitioned
    * branch) so the vec_id predicate pushes down to parquet row groups
    * instead of scanning-and-shuffling the whole table for ≤16 rows. */
  private[operators] def collectHead(spark: SparkSession, dir: String,
      n: Long): Map[Long, Array[Long]] =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < n)
      .select(col("vec_id"), VectorFns.quantize(col("embedding")).as("qv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap

  /** The shared scan front of every ANN operator: (vec_id, qv). */
  private[operators] def quantizedQv(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), VectorFns.quantize(col("embedding")).as("qv"))

  /** (vec_id, qv, nrm) — the front for cosine-scoring operators. */
  private[operators] def quantizedQvNrm(spark: SparkSession, dir: String): DataFrame =
    quantizedQv(spark, dir).withColumn("nrm", VectorFns.norm2(col("qv")))

  /** Shared IVF probe: exact cosine top-k within the query's cell, over
    * any cell-assigned (vec_id, qv, nrm, cid) relation — s3 (seeded
    * centroids), s5 (trained centroids) and the persisted-index probe
    * all end in exactly this block, so their semantics can't drift. */
  private[operators] def ivfCosineTopK(cells: DataFrame): DataFrame = {
    val q = cells.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"), col("cid").as("q_cid"))
    val pairs = cells
      .join(broadcast(q), col("cid") === col("q_cid") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorFns.cosine(
        VectorFns.dot(col("q_qv"), col("qv")), col("q_nrm"), col("nrm")))
    topKPerQuery(pairs, Seq(col("cos").desc, col("vec_id")))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"), col("cid").as("cell"),
        col("rnk"), col("cos").as("cosine"))
      .orderBy("query_id", "rnk")
  }

  /** [[ivfCosineTopK]] with a metadata predicate: candidates must share
    * the query's label as well as its cell — s14's PRE-filter semantics
    * (the predicate is part of the join condition, so ranking happens
    * after filtering) composed with the inverted-list read. Input must
    * carry a `label` column; the s15 probe supplies it from the index
    * codes table, never the raw corpus. */
  private[operators] def ivfCosineTopKFiltered(cells: DataFrame): DataFrame = {
    val q = cells.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("qv").as("q_qv"), col("nrm").as("q_nrm"), col("cid").as("q_cid"))
    val pairs = cells
      .join(broadcast(q), col("cid") === col("q_cid") &&
        col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorFns.cosine(
        VectorFns.dot(col("q_qv"), col("qv")), col("q_nrm"), col("nrm")))
    topKPerQuery(pairs, Seq(col("cos").desc, col("vec_id")))
      .select(
        col("query_id"), col("label"), col("vec_id").as("neighbor_id"),
        col("cid").as("cell"), col("rnk"), col("cos").as("cosine"))
      .orderBy("query_id", "rnk")
  }

  private[operators] def duckVecs(extra: String = ""): String =
    s"""v AS (SELECT vec_id, label, ${VectorFns.duckQuantize("embedding")} AS qv
       |      FROM embeddings$extra),
       |n AS (SELECT vec_id, label, qv, ${VectorFns.duckNorm2("qv")} AS nrm FROM v)""".stripMargin

  /** Brute-force exact cosine top-k. */
  val s1BruteTopK: Op = Op(
    "s1_ann_brute_topk",
    Some(s"""
      WITH ${duckVecs()},
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM n q JOIN n c ON q.vec_id < $NQ AND c.vec_id <> q.vec_id
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk,
             cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val vecs = quantizedQvNrm(spark, dir)
    val q = vecs.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val pairs = vecs.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", VectorFns.dot(col("q_qv"), col("qv")))
      .withColumn("cos", VectorFns.cosine(col("dot"), col("q_nrm"), col("nrm")))
    topKPerQuery(pairs, Seq(col("cos").desc, col("vec_id")))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("cos").as("cosine"))
      .orderBy("query_id", "rnk")
  })

  /** LSH-bucketed ANN: candidates restricted to the query's 8-bit
    * sign-projection bucket. */
  val s2LshTopK: Op = Op(
    "s2_ann_lsh_topk",
    Some(s"""
      WITH ${duckVecs()},
      b AS (SELECT vec_id, qv, nrm, ${VectorFns.duckLshBucket8("qv")} AS bucket FROM n),
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < $NQ AND c.vec_id <> q.vec_id
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, neighbor_id, bucket, CAST(rnk AS INTEGER) AS rnk,
             cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val vecs = quantizedQvNrm(spark, dir)
      .withColumn("bucket", VectorFns.lshBucket8("qv"))
    val q = vecs.filter(col("vec_id") < NQ)
      .select(
        col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val pairs = vecs
      .join(broadcast(q), col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("dot", VectorFns.dot(col("q_qv"), col("qv")))
      .withColumn("cos", VectorFns.cosine(col("dot"), col("q_nrm"), col("nrm")))
    topKPerQuery(pairs, Seq(col("cos").desc, col("vec_id")))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"), col("rnk"),
        col("cos").as("cosine"))
      .orderBy("query_id", "rnk")
  })

  /** Multi-probe LSH ANN: recall falls off a cliff when a true neighbor
    * lands one sign-flip away from the query's bucket, so the QUERY side
    * (tiny) explodes into its own bucket plus all 8 Hamming-1 buckets
    * and equi-joins on the probe value — the candidate side keeps its
    * single bucket column and the join stays a bucket-pruned hash probe
    * (never a distance predicate against the whole table). 9× more probe
    * rows on a 10-row query set; the big side is untouched. */
  val s6MultiProbe: Op = Op(
    "s6_ann_lsh_multiprobe", {
      val bInt = VectorFns.duckLshBucketInt("qv", 8)
      Some(s"""
      WITH ${duckVecs()},
      b AS (SELECT vec_id, qv, nrm, $bInt AS bucket FROM n),
      qp AS (
        SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm,
               UNNEST([bucket] || [CAST(xor(bucket, CAST(1 << j AS BIGINT)) AS BIGINT)
                                   FOR j IN generate_series(0, 7)]) AS probe
        FROM b WHERE vec_id < $NQ
      ), pairs AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(${VectorFns.duckDot("q.q_qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM qp q JOIN b c ON c.bucket = q.probe AND c.vec_id <> q.query_id
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """)
    })((spark, dir) => {
    val vecs = quantizedQvNrm(spark, dir)
      .withColumn("bucket", VectorFns.lshBucketInt(col("qv"), 8))
    val q = vecs.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"),
        explode(array(col("bucket") +: (0 until 8).map(j =>
          expr(s"bucket ^ ${1L << j}")): _*)).as("probe"))
    val pairs = vecs
      .join(broadcast(q), col("bucket") === col("probe") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorFns.cosine(
        VectorFns.dot(col("q_qv"), col("qv")), col("q_nrm"), col("nrm")))
    topKPerQuery(pairs, Seq(col("cos").desc, col("vec_id")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("cos").as("cosine"))
      .orderBy("query_id", "rnk")
  })

  private[graft] val NC = 16 // IVF cells: first NC vectors act as centroids

  /** IVF-style ANN: vectors are assigned to their nearest "centroid"
    * (deterministic stand-in for k-means output: the first NC vectors —
    * a trained codebook would slot in identically) by exact integer
    * squared-L2 (na + nc − 2·dot); a query probes only its own cell.
    * At scale the assignment is a broadcast argmin over the codebook and
    * the probe prunes to 1/NC of the data — the standard IVF trade. */
  val s3IvfTopK: Op = Op(
    "s3_ann_ivf_topk",
    Some(s"""
      WITH ${duckVecs()},
      cent AS (SELECT vec_id AS cid, qv AS cv, nrm AS cnrm FROM n WHERE vec_id < $NC),
      assign AS (
        SELECT vec_id, qv, nrm, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY n.nrm + cent.cnrm - 2 * (${VectorFns.duckDot("n.qv", "cent.cv")}), cid) AS rk
        FROM n CROSS JOIN cent
      ), cells AS (
        SELECT vec_id, qv, nrm, cid FROM assign WHERE rk = 1
      ), pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cid,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM cells q JOIN cells c ON q.cid = c.cid AND q.vec_id < $NQ AND c.vec_id <> q.vec_id
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(cid AS BIGINT) AS cell,
             CAST(rnk AS INTEGER) AS rnk, cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    // Served from the persisted index (seeded family): the per-query
    // corpus re-encode the inline path pays is a build-time cost there.
    val root = AnnIndex.defaultRoot(dir)
    AnnIndex.ensureBuilt(spark, dir, root)
    AnnIndex.probeIvfSeeded(spark, root)
  })

  /** s3's inline one-shot pipeline (scan + codegen'd argmin assignment +
    * cell top-k) — the definitional form the persisted seeded family is
    * spec'd equal to, and the path a caller without an index would run. */
  private[operators] def s3Inline(spark: SparkSession, dir: String): DataFrame = {
    // The NC-row codebook lives on the driver; assignment is an inline
    // codegen'd argmin — one narrow scan, no join, no shuffle.
    val cent = collectHead(spark, dir, NC).toSeq.sortBy(_._1)
    val cells = quantizedQvNrm(spark, dir)
      .withColumn("cid", nearestId(col("qv"), cent))
    ivfCosineTopK(cells)
  }

  private[graft] val KC = 8       // trained-codebook cells
  private[operators] val KM_ITERS = 2 // fixed Lloyd iterations (determinism + an
                                      // exactly-unrollable DuckDB mirror)

  /** One k-means assignment round as a DuckDB CTE: nearest centroid by
    * exact integer squared-L2, ties to the lowest cid. */
  private def duckAssign(name: String, centTbl: String): String =
    s"""$name AS (
       |  SELECT vec_id, qv, nrm, cid FROM (
       |    SELECT n.vec_id, n.qv, n.nrm, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |             n.nrm + ${VectorFns.duckNorm2("c.cv")}
       |               - 2 * (${VectorFns.duckDot("n.qv", "c.cv")}), c.cid) AS rk
       |    FROM n CROSS JOIN $centTbl c) WHERE rk = 1
       |)""".stripMargin

  /** The unrolled Lloyd-mirror CTE chain (seeds `c0` = table head →
    * KM_ITERS assign/update rounds → final assignment `af(vec_id, qv,
    * nrm, cid)` with centroids in `c$KM_ITERS`). ONE builder for every
    * oracle that must land on bit-identical cells — s5, the s15
    * filtered probe, and d18's SemDeDup — so the mirror cannot drift
    * per-oracle. */
  private[operators] def duckLloydChain(kc: Int = KC): String =
    (Seq(s"c0 AS (SELECT vec_id AS cid, qv AS cv FROM v WHERE vec_id < $kc)") ++
      (1 to KM_ITERS).flatMap(i => Seq(
        duckAssign(s"a$i", s"c${i - 1}"), duckUpdate(s"c$i", s"a$i"))) ++
      Seq(duckAssign("af", s"c$KM_ITERS"))).mkString(",\n      ")

  /** Name of the final-centroid CTE emitted by [[duckLloydChain]]. */
  private[operators] def duckLloydCentTbl: String = s"c$KM_ITERS"

  /** One k-means update round as a DuckDB CTE: per-(cell, dim) integer
    * mean, rounded identically to the Spark side (round() is
    * half-away-from-zero on both engines). */
  private def duckUpdate(name: String, assignTbl: String): String =
    s"""$name AS (
       |  SELECT cid, list(comp ORDER BY dim) AS cv FROM (
       |    SELECT cid, dim,
       |           CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
       |    FROM (SELECT cid, generate_subscripts(qv, 1) AS dim, UNNEST(qv) AS q
       |          FROM $assignTbl)
       |    GROUP BY cid, dim) GROUP BY cid
       |)""".stripMargin

  /** Deterministic Lloyd k-means over (vec_id, qv) — MLlib shape: the
    * KC-row codebook lives on the driver (seeds = the table head), each
    * round is ONE pass over `vecs` (inline codegen'd assignment into a
    * map-side-combinable per-(cell, dim) integer-sum aggregate), and the
    * rounded mean update runs on the driver with arithmetic identical to
    * the executors' (and DuckDB's). Used by s5 per-query and by
    * [[AnnIndex.build]] — one trainer, two lifecycles. */
  private[operators] def trainIvf(spark: SparkSession, dir: String,
      vecs: DataFrame, kc: Int = KC): Seq[(Long, Array[Long])] = {
    var cent: Seq[(Long, Array[Long])] = collectHead(spark, dir, kc.toLong).toSeq.sortBy(_._1)
    val dims = cent.head._2.length
    // Above TwoLevelMin the per-round assignment switches to the
    // two-level form (approximate Lloyd — the standard big-k trade;
    // FAISS trains coarse quantizers the same way): with cells ∝ n the
    // flat argmin would make every round O(n·kc) = quadratic. Every
    // oracle-pinned geometry (KC=8, the probes' kc≤64 builds) stays on
    // the exact flat path, so gate results are untouched.
    def assigned: DataFrame =
      if (cent.size > TwoLevelMin) withTwoLevelCid(vecs, col("qv"), "cid", cent)
      else vecs.withColumn("cid", nearestId(col("qv"), cent))
    for (_ <- 1 to KM_ITERS) {
      // n rows stay n rows: `dims` element-wise sums per cell instead of
      // a dims×n posexplode — map-side combines to kc × (dims + 1) longs.
      val aggs = (0 until dims).map(i => sum(element_at(col("qv"), i + 1)).as(s"s$i")) :+
        count(lit(1)).as("n")
      val rows = assigned
        .groupBy("cid").agg(aggs.head, aggs.tail: _*)
        .collect()
      cent = rows.map { r =>
        val n = r.getLong(dims + 1)
        r.getLong(0) -> Array.tabulate(dims)(i => roundHalfUp(r.getLong(i + 1).toDouble / n))
      }.toSeq.sortBy(_._1)
    }
    cent
  }

  /** IVF with a TRAINED codebook: deterministic Lloyd k-means (seeds =
    * the first KC vectors, KM_ITERS fixed rounds) via [[trainIvf]];
    * centroid components round to integers so every distance stays in
    * exact integer arithmetic and the DuckDB oracle (same rounds
    * unrolled as CTEs) lands on bit-identical cells. */
  val s5IvfTrained: Op = Op(
    "s5_ann_ivf_trained", {
      Some(s"""
      WITH ${duckVecs()},
      ${duckLloydChain()},
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cid,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM af q JOIN af c ON q.cid = c.cid AND q.vec_id < $NQ AND c.vec_id <> q.vec_id
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, neighbor_id, CAST(cid AS BIGINT) AS cell,
             CAST(rnk AS INTEGER) AS rnk, cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """)
    })((spark, dir) => {
    val vecs = quantizedQvNrm(spark, dir)
      .cache() // scanned once per training round + the final probe
    val cent = trainIvf(spark, dir, vecs)
    val cells = vecs.withColumn("cid", nearestId(col("qv"), cent))
    ivfCosineTopK(cells)
  })

  /** Oracle for the s15 filtered-index probe (defined here because the
    * Lloyd-mirror CTE helpers are file-private): s5's trained-IVF chain
    * with the label predicate joined into the pair condition — the
    * DuckDB mirror of cell ∩ label candidate generation. `af` carries no
    * label, so both sides re-join `n` (which does) on vec_id. */
  private[operators] val filteredIvfOracleSql: Option[String] = {
    Some(s"""
      WITH ${duckVecs()},
      ${duckLloydChain()},
      pairs AS (
        SELECT q.vec_id AS query_id, nq.label, c.vec_id AS neighbor_id, q.cid,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM af q
        JOIN n nq ON nq.vec_id = q.vec_id
        JOIN af c ON q.cid = c.cid AND q.vec_id < $NQ AND c.vec_id <> q.vec_id
        JOIN n nc ON nc.vec_id = c.vec_id AND nc.label = nq.label
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, label, neighbor_id, CAST(cid AS BIGINT) AS cell,
             CAST(rnk AS INTEGER) AS rnk, cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """)
  }

  private[operators] val PQ_M = 4    // sub-vector blocks
  private[operators] val PQ_SUB = 16 // dims per block (4 × 16 = the 64-dim testdata)
  private[graft] val PQ_K = 8    // codes per block (seeded: first PQ_K vectors); also the DEFAULT ivfpq coarse cell count — builds size it to the corpus

  private[operators] def pqSubCol(m: Int): Column =
    expr(s"slice(qv, ${m * PQ_SUB + 1}, $PQ_SUB)")

  private[operators] def sliceL(a: Array[Long], m: Int): Array[Long] =
    a.slice(m * PQ_SUB, m * PQ_SUB + PQ_SUB)

  private[operators] def subL(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) - b(i); i += 1 }
    out
  }

  /** PQ codebook training over (vec_id, qv): per-block seeds from the
    * table head's sub-blocks, refined with ONE Lloyd round — inline seed
    * encode (PQ_M rows per vector) into a map-side-combinable
    * (block, code) aggregate of PQ_SUB element-wise sums, rounded means
    * on the driver. Shared by s7 and [[AnnIndex.build]]. */
  private[operators] def trainPq(vecs: DataFrame,
      head: Map[Long, Array[Long]]): Map[Int, Seq[(Long, Array[Long])]] = {
    val cb0: Map[Int, Seq[(Long, Array[Long])]] = (0 until PQ_M).map { m =>
      m -> (0L until PQ_K.toLong).flatMap(k => head.get(k).map(a => k -> sliceL(a, m)))
    }.toMap
    // Per-row (block, code, sub) triples with the code assigned INLINE
    // against the driver-side codebook — encode is expression-only.
    val blocks = posexplode(array((0 until PQ_M).map { m =>
      struct(lit(m).as("m"), nearestId(pqSubCol(m), cb0(m)).as("code"),
        pqSubCol(m).as("sub"))
    }: _*))
    val subAggs = (0 until PQ_SUB).map(i =>
      sum(element_at(col("blk.sub"), i + 1)).as(s"s$i")) :+ count(lit(1)).as("n")
    val sums = vecs
      .select(blocks.as(Seq("i", "blk")))
      .groupBy(col("blk.m").as("m"), col("blk.code").as("code"))
      .agg(subAggs.head, subAggs.tail: _*)
      .collect()
    sums
      .map { r =>
        val n = r.getLong(PQ_SUB + 2)
        (r.getInt(0), r.getLong(1),
          Array.tabulate(PQ_SUB)(i => roundHalfUp(r.getLong(i + 2).toDouble / n)))
      }
      .groupBy(_._1)
      .map { case (m, es) => m -> es.sortBy(_._2).map(e => (e._2, e._3)).toSeq }
  }

  /** Adds `code0..code{M−1}` to (…, qv) — the PQ encode, inline codegen'd
    * argmin per block against the driver-side codebook. */
  private[operators] def pqEncode(vecs: DataFrame,
      cb: Map[Int, Seq[(Long, Array[Long])]]): DataFrame =
    // One select, not a withColumn per block (r15): each withColumn is
    // a full Catalyst analysis pass over the literal-heavy tree, and
    // the PQ family's driver build time was dominated by exactly that.
    vecs.select(col("*") +:
      (0 until PQ_M).map(m => nearestId(pqSubCol(m), cb(m)).as(s"code$m")): _*)

  /** ADC scoring + top-k over PQ-coded rows (vec_id, code0..code{M−1}):
    * per-query lookup tables are literal MAPS keyed by the observed code
    * values (code → partial distance, same Long arithmetic), so each row
    * sums M map lookups per query inline — no join, no aggregation; the
    * only shuffled rows are the top-k funnel survivors. Keying by
    * observed codes (not a dense 0..K−1 array) keeps duplicate seed
    * sub-blocks benign: ties encode to the lowest code, the higher code
    * is simply never observed, and the LUT still covers exactly the
    * codes `nearestId` can emit. Shared by s7 and the index probe. */
  private[operators] def pqAdcTopK(tag: String, coded: DataFrame,
      head: Map[Long, Array[Long]],
      cb: Map[Int, Seq[(Long, Array[Long])]], pool: Int = K,
      passthrough: Seq[String] = Nil): DataFrame = {
    val lut: Map[Long, Array[Map[Long, Long]]] = (0L until NQ.toLong).toSeq
      .filter(head.contains).map { q =>
        q -> Array.tabulate(PQ_M) { m =>
          cb(m).map { case (code, csub) =>
            code -> d2L(sliceL(head(q), m), csub)
          }.toMap
        }
      }.toMap
    // Merged LUT (r15): ONE literal map per block keyed
    // (query_id << 32 | code) instead of NQ separate per-query maps —
    // the plan carries PQ_M map literals and PQ_M guard towers rather
    // than NQ × PQ_M (10× smaller expression tree at NQ=10; codes and
    // query ids are both far below 2³², so the packed key is exact and
    // collision-free by construction). Values are the identical Long
    // distances — only the lookup key changed shape.
    val merged: IndexedSeq[Map[Long, Long]] = (0 until PQ_M).map { m =>
      (for ((q, tables) <- lut.toSeq; (code, pd) <- tables(m))
        yield ((q << 32) | code) -> pd).toMap
    }
    val qids = lut.keys.toSeq.sorted
    // A code outside the LUT would make element_at NULL, and a NULL
    // adc_d2 sorts FIRST under the ascending top-k window — silent
    // corruption instead of a crash. Unreachable today (nearestId and
    // the LUT draw from the same codebook entries), so keep the loud
    // guard explicit (the t31 coalesce+raise_error pattern).
    val adc = (0 until PQ_M).map(m =>
      coalesce(
        element_at(typedLit(merged(m)),
          shiftleft(col("query_id"), 32).bitwiseOR(col(s"code$m"))),
        raise_error(format_string(
          s"$tag ADC: code$m=%s not in query-%s LUT",
          col(s"code$m"), col("query_id"))))).reduce(_ + _)
    val scored = coded
      .withColumn("query_id", explode(typedLit(qids)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc_d2")) ++ passthrough.map(col): _*)
    topKPerQuery(scored, Seq(col("adc_d2").asc, col("neighbor_id").asc), pool)
      .select(Seq(col("query_id"), col("neighbor_id"), col("rnk"),
        col("adc_d2")) ++ passthrough.map(col): _*)
      .orderBy("query_id", "rnk")
  }

  /** Product-quantization ANN (s7): the memory-scaling path — each
    * vector is stored as M small codes instead of d floats (here 4
    * bytes vs 64 floats, a 64× compression), and query scoring is
    * asymmetric distance computation against per-query lookup tables.
    * Every arithmetic step stays in exact integers (sub-block squared-L2
    * via the codegen'd dot), so the approximate distances — and
    * therefore the ranking — are bit-identical in the DuckDB mirror. */
  /** The s7 oracle's CTE chain, ending at `scored(query_id, neighbor_id,
    * adc_d2)` (every corpus vector ADC-scored against every query) with
    * the quantized vectors still reachable as `v`. ONE builder shared by
    * s7 and s17's rerank oracle so the PQ training/encode mirror cannot
    * drift between the two. */
  private lazy val duckPqScoredCtes: String = {
      def nrm(x: String) = VectorFns.duckNorm2(x)
      def dot(a: String, b: String) = VectorFns.duckDot(a, b)
      s"""v AS (
        SELECT vec_id, ${VectorFns.duckQuantize("embedding")} AS qv FROM embeddings
      ), subs AS (
        SELECT vec_id, m, qv[(m * $PQ_SUB + 1):(m * $PQ_SUB + $PQ_SUB)] AS sub
        FROM v, UNNEST([${(0 until PQ_M).mkString(", ")}]) AS t(m)
      ), cb0 AS (
        SELECT m, vec_id AS cid, sub AS csub FROM subs WHERE vec_id < $PQ_K
      ), a0 AS (
        SELECT vec_id, m, cid AS code FROM (
          SELECT s.vec_id, s.m, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   ${nrm("s.sub")} + ${nrm("c.csub")} - 2 * (${dot("s.sub", "c.csub")}), c.cid) AS rk
          FROM subs s JOIN cb0 c USING (m)) WHERE rk = 1
      ), enc0 AS (
        SELECT a.m, a.code, generate_subscripts(s.sub, 1) AS dim, UNNEST(s.sub) AS q
        FROM a0 a JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m
      ), cb AS (
        SELECT m, code AS cid, list(comp ORDER BY dim) AS csub FROM (
          SELECT m, code, dim,
                 CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
          FROM enc0 GROUP BY m, code, dim) GROUP BY m, code
      ), codes AS (
        SELECT vec_id, m, cid AS code FROM (
          SELECT s.vec_id, s.m, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   ${nrm("s.sub")} + ${nrm("c.csub")} - 2 * (${dot("s.sub", "c.csub")}), c.cid) AS rk
          FROM subs s JOIN cb c USING (m)) WHERE rk = 1
      ), qdist AS (
        SELECT q.vec_id AS query_id, c.m, c.cid,
               ${nrm("q.sub")} + ${nrm("c.csub")} - 2 * (${dot("q.sub", "c.csub")}) AS pd
        FROM subs q JOIN cb c USING (m) WHERE q.vec_id < $NQ
      ), scored AS (
        SELECT d.query_id, x.vec_id AS neighbor_id, CAST(SUM(pd) AS BIGINT) AS adc_d2
        FROM codes x JOIN qdist d ON d.m = x.m AND d.cid = x.code AND x.vec_id <> d.query_id
        GROUP BY d.query_id, x.vec_id
      )"""
  }

  val s7PqTopK: Op = Op(
    "s7_ann_pq_topk",
    Some(s"""
      WITH $duckPqScoredCtes, ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rnk
        FROM scored
      )
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, adc_d2
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val vecs = quantizedQv(spark, dir)
    // Seeds + the query set: the table's bounded head, collected once.
    val head = collectHead(spark, dir, math.max(NQ, PQ_K).toLong)
    val cb = trainPq(vecs, head)
    pqAdcTopK("s7", pqEncode(vecs, cb), head, cb)
  })

  /** Stage-1 ADC candidates per query that s17 exactly reranks —
    * production rerankers fetch 2-10× the final k; 4× here keeps the
    * pool live (reorderings visible) while the fetch stays bounded. */
  private[graft] val RerankPool = 4 * K

  /** Two-stage retrieval (s17): the compressed scan SELECTS, the full
    * vectors only RERANK — the standard production ANN shape (FAISS's
    * IVFPQ + refine stage; every vector DB's "rerank" knob). Stage 1 is
    * s7's joinless ADC scan over the M-codes-per-vector table, kept to
    * the top-[[RerankPool]] per query; stage 2 fetches full vectors for
    * those NQ × pool candidate ids only and re-scores them with EXACT
    * integer cosine, emitting the exact top-[[K]] with both ranks (rnk
    * vs adc_rnk shows what the approximation got wrong — the measurable
    * payoff of the second stage).
    *
    * Scale shape: the only corpus-wide work is the compressed scan
    * (M map lookups per row inline, no join) plus ONE narrow pass over
    * the full-width table filtered through a BROADCAST of the bounded
    * candidate keys — the corpus is never shuffled and full vectors
    * never leave their scan except for the ≤ NQ·pool survivors. On the
    * persisted index the fetch becomes a key-pruned read of ivf/codes
    * (the s9/s10 partition story); inline, the broadcast-probe filter
    * is the same plan s1 uses. Oracle: s7's PQ chain (shared builder)
    * + the exact-cosine rerank unrolled. */
  val s17PqRerank: Op = Op(
    "s17_ann_pq_rerank", {
      def dot(a: String, b: String) = VectorFns.duckDot(a, b)
      Some(s"""
      WITH $duckPqScoredCtes, ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rnk
        FROM scored
      ), cands AS (
        SELECT query_id, neighbor_id, rnk AS adc_rnk FROM ranked
        WHERE rnk <= $RerankPool
      ), nn AS (
        SELECT vec_id, qv, ${VectorFns.duckNorm2("qv")} AS nrm FROM v
      ), exact AS (
        SELECT c.query_id, c.neighbor_id, c.adc_rnk,
               CAST(${dot("q.qv", "x.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(x.nrm AS DOUBLE))) AS cosine
        FROM cands c
        JOIN nn q ON q.vec_id = c.query_id
        JOIN nn x ON x.vec_id = c.neighbor_id
      ), rr AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM exact
      )
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine,
             CAST(adc_rnk AS INTEGER) AS adc_rnk
      FROM rr WHERE rnk <= $K
      ORDER BY query_id, rnk
    """)
    })((spark, dir) => {
    // Cached: trainPq's aggregates, the encode+ADC scan, the rerank
    // fetch and the query head all read this projection (the
    // fresh-expression-id rule).
    val vecs = quantizedQvNrm(spark, dir).cache()
    val head = collectHead(spark, dir, math.max(NQ, PQ_K).toLong)
    val cb = trainPq(vecs, head)
    val cands = pqAdcTopK("s17", pqEncode(vecs, cb), head, cb, RerankPool)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("adc_rnk"))
    val q = vecs.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"),
        col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val exact = vecs.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", VectorFns.cosine(
        VectorFns.dot(col("q_qv"), col("qv")), col("q_nrm"), col("nrm")))
      .select("query_id", "neighbor_id", "adc_rnk", "cosine")
    topKPerQuery(exact, Seq(col("cosine").desc, col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cosine"),
        col("adc_rnk"))
      .orderBy("query_id", "rnk")
  })

  /** The IVF+PQ coarse codebook: the first `pc` raw vectors. `pc` is a
    * BUILD parameter (default PQ_K — the inline s8 definition): at
    * 100 TB a fixed 8-cell coarse quantizer means ~1/8th of the corpus
    * per probed cell, so the persisted build sizes `pc` to the corpus
    * (cells ≈ rows / target_cell_size) exactly like the IVF families'
    * nc/kc. */
  private[operators] def ivfpqCoarse(head: Map[Long, Array[Long]],
      pc: Int = PQ_K): Seq[(Long, Array[Long])] =
    (0L until pc.toLong).flatMap(k => head.get(k).map(k -> _))

  /** Residual codebook (driver): the PQ_K vectors AFTER the coarse
    * seeds (ids coarse.size..coarse.size+PQ_K−1), each a residual
    * against its own nearest coarse centroid. NEVER the centroids
    * themselves — a centroid's residual is the zero vector, which would
    * collapse every codebook entry to zeros and every ADC distance to a
    * per-query constant (no ranking signal). The codebook stays PQ_K
    * entries regardless of the coarse cell count (codebook size is the
    * per-sub-block code space, not a cell-geometry knob). */
  private[operators] def ivfpqResidualCb(head: Map[Long, Array[Long]],
      coarse: Seq[(Long, Array[Long])]): Map[Int, Seq[(Long, Array[Long])]] = {
    val coarseMap = coarse.toMap
    val cs = coarse.size.toLong
    (0 until PQ_M).map { m =>
      m -> (cs until cs + PQ_K).flatMap { k =>
        head.get(k).map { a =>
          val rv = subL(a, coarseMap(nearestIdL(a, coarse)))
          (k - cs) -> sliceL(rv, m)
        }
      }
    }.toMap
  }

  /** Adds `cid` (coarse cell) and residual codes `code0..code{M−1}` to
    * (…, qv). Inline cell assignment; the centroid vector is attached by
    * a tiny literal when-chain so assignment + residual + encode all
    * stay in ONE codegen stage — no join, no shuffle. The residual
    * subtraction is the codegen'd [[VectorFns.subtract]] expression — it
    * runs once per row of the full scan, so like the dot product it
    * stays inside whole-stage codegen rather than an interpreted
    * zip_with lambda. */
  private[operators] def ivfpqEncode(vecs: DataFrame,
      coarse: Seq[(Long, Array[Long])],
      cbEntries: Map[Int, Seq[(Long, Array[Long])]]): DataFrame = {
    val cvCol = coarse.foldLeft(lit(null).cast("array<bigint>")) {
      case (acc, (cid, cv)) => when(col("cid") === cid, typedLit(cv)).otherwise(acc)
    }
    def rsubCol(m: Int) = expr(s"slice(rv, ${m * PQ_SUB + 1}, $PQ_SUB)")
    val cells = vecs
      .withColumn("cid", nearestId(col("qv"), coarse))
      .withColumn("rv", VectorFns.subtract(col("qv"), cvCol))
    // One select for all blocks (the pqEncode r15 rule): one analysis
    // pass instead of PQ_M over the literal codebook tree.
    cells.select(col("*") +:
      (0 until PQ_M).map(m => nearestId(rsubCol(m), cbEntries(m)).as(s"code$m")): _*)
  }

  /** Cell-gated ADC scoring + top-k over IVF+PQ-coded rows
    * (vec_id, cid, code0..code{M−1}): per-query LUTs over the residual
    * codebook as literal maps, the query's own cell + residual computed
    * on the driver in the identical Long arithmetic — no join, no
    * aggregation. Shared by s8 and the index probe. */
  private[operators] def ivfpqAdcTopK(tag: String, coded: DataFrame,
      head: Map[Long, Array[Long]],
      coarse: Seq[(Long, Array[Long])],
      cbEntries: Map[Int, Seq[(Long, Array[Long])]],
      pool: Int = K, passthrough: Seq[String] = Nil): DataFrame = {
    val coarseMap = coarse.toMap
    val lut: Seq[(Long, Long, Array[Map[Long, Long]])] = (0L until NQ.toLong).toSeq
      .filter(head.contains).map { q =>
        val qcid = nearestIdL(head(q), coarse)
        val qrv = subL(head(q), coarseMap(qcid))
        // Keyed by observed code values (as s7): duplicate seed residual
        // sub-blocks leave a code unobserved, never crash the query.
        val tables = Array.tabulate(PQ_M) { m =>
          cbEntries(m).map { case (code, csub) =>
            code -> d2L(sliceL(qrv, m), csub)
          }.toMap
        }
        (q, qcid, tables)
      }
    // Merged LUT (r15, the pqAdcTopK shape): PQ_M maps keyed
    // (query_id << 32 | code) + one literal (query_id, q_cid) array
    // replace the NQ × PQ_M per-query map towers. Same Long distances,
    // same cell gate, 10× smaller expression tree at NQ=10.
    val merged: IndexedSeq[Map[Long, Long]] = (0 until PQ_M).map { m =>
      (for ((q, _, tables) <- lut; (code, pd) <- tables(m))
        yield ((q << 32) | code) -> pd).toMap
    }
    val qcells = lut.map { case (q, qcid, _) => (q, qcid) }
    // Same loud-NULL guard as s7: an unmapped code must crash, not
    // sort-first into the top-k.
    val adc = (0 until PQ_M).map(m =>
      coalesce(
        element_at(typedLit(merged(m)),
          shiftleft(col("qs._1"), 32).bitwiseOR(col(s"code$m"))),
        raise_error(format_string(
          s"$tag ADC: code$m=%s not in query-%s LUT",
          col(s"code$m"), col("qs._1"))))).reduce(_ + _)
    val scored = coded
      .withColumn("qs", explode(typedLit(qcells)))
      .filter(col("cid") === col("qs._2") && col("vec_id") =!= col("qs._1"))
      .select(Seq(col("qs._1").as("query_id"), col("vec_id").as("neighbor_id"),
        col("cid").as("cell"), adc.as("adc_d2")) ++ passthrough.map(col): _*)
    topKPerQuery(scored, Seq(col("adc_d2").asc, col("neighbor_id").asc), pool)
      .select(Seq(col("query_id"), col("neighbor_id"), col("cell"), col("rnk"),
        col("adc_d2")) ++ passthrough.map(col): _*)
      .orderBy("query_id", "rnk")
  }

  /** IVF+PQ composition (s8): the full FAISS-style index shape —
    * vectors are assigned to a coarse cell (broadcast-argmin, as s3),
    * the RESIDUAL x − c is product-quantized against a shared codebook,
    * and a query scans only its own cell with ADC lookups over the
    * residual codes. Cell pruning cuts the scan to 1/NC of the data and
    * residual encoding keeps PQ error small where it matters (residual
    * norms ≪ vector norms). Residuals are elementwise differences of
    * quantized longs, so every distance remains exact integer
    * arithmetic and the DuckDB mirror ranks identically. The residual
    * codebook is seeded from vectors PQ_K..2·PQ_K−1 — never the coarse
    * centroids themselves, whose residuals are all-zero and would
    * collapse ADC to a constant (SimilaritySpec pins the
    * non-degeneracy). */
  /** The s8 oracle's CTE chain, ending at `scored(query_id, neighbor_id,
    * cell, adc_d2)` — every corpus vector in a query's coarse cell
    * ADC-scored against that query over the residual codebook — with the
    * full quantized vectors still reachable as `n(vec_id, qv, nrm)`. ONE
    * builder shared by s8 and s19's cell-pruned rerank oracle so the
    * IVF+PQ training/encode mirror cannot drift between the two (the
    * duckPqScoredCtes rule). */
  private lazy val duckIvfPqScoredCtes: String = {
      def nrm(x: String) = VectorFns.duckNorm2(x)
      def dot(a: String, b: String) = VectorFns.duckDot(a, b)
      s"""v AS (
        SELECT vec_id, ${VectorFns.duckQuantize("embedding")} AS qv FROM embeddings
      ), n AS (
        SELECT vec_id, qv, ${nrm("qv")} AS nrm FROM v
      ), coarse AS (
        SELECT vec_id AS cid, qv AS cv FROM v WHERE vec_id < $PQ_K
      ), cells AS (
        SELECT vec_id, qv, cid, cv FROM (
          SELECT n.vec_id, n.qv, c.cid, c.cv,
                 ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                   n.nrm + ${nrm("c.cv")} - 2 * (${dot("n.qv", "c.cv")}), c.cid) AS rk
          FROM n CROSS JOIN coarse c) WHERE rk = 1
      ), rsubs AS (
        SELECT vec_id, cid, m,
               ([qv[i] - cv[i] FOR i IN generate_series(1, len(qv))])
                 [(m * $PQ_SUB + 1):(m * $PQ_SUB + $PQ_SUB)] AS rsub
        FROM cells, UNNEST([${(0 until PQ_M).mkString(", ")}]) AS t(m)
      ), cb AS (
        SELECT m, vec_id - $PQ_K AS code, rsub AS csub
        FROM rsubs WHERE vec_id >= $PQ_K AND vec_id < ${2 * PQ_K}
      ), codes AS (
        SELECT vec_id, cid, m, code FROM (
          SELECT r.vec_id, r.cid, r.m, c.code,
                 ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.m ORDER BY
                   ${nrm("r.rsub")} + ${nrm("c.csub")} - 2 * (${dot("r.rsub", "c.csub")}), c.code) AS rk
          FROM rsubs r JOIN cb c USING (m)) WHERE rk = 1
      ), qdist AS (
        SELECT q.vec_id AS query_id, q.cid AS q_cid, c.m, c.code,
               ${nrm("q.rsub")} + ${nrm("c.csub")} - 2 * (${dot("q.rsub", "c.csub")}) AS pd
        FROM rsubs q JOIN cb c USING (m) WHERE q.vec_id < $NQ
      ), scored AS (
        SELECT d.query_id, x.vec_id AS neighbor_id, CAST(x.cid AS BIGINT) AS cell,
               CAST(SUM(pd) AS BIGINT) AS adc_d2
        FROM codes x JOIN qdist d
          ON d.m = x.m AND d.code = x.code AND d.q_cid = x.cid
             AND x.vec_id <> d.query_id
        GROUP BY d.query_id, x.vec_id, x.cid
      )"""
  }

  val s8IvfPqTopK: Op = Op(
    "s8_ann_ivfpq_topk",
    Some(s"""
      WITH $duckIvfPqScoredCtes, ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rnk
        FROM scored
      )
      SELECT query_id, neighbor_id, cell, CAST(rnk AS INTEGER) AS rnk, adc_d2
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val vecs = quantizedQv(spark, dir)
    val head = collectHead(spark, dir, math.max(NQ, 2 * PQ_K).toLong)
    val coarse = ivfpqCoarse(head)
    val cbEntries = ivfpqResidualCb(head, coarse)
    val coded = ivfpqEncode(vecs, coarse, cbEntries)
    ivfpqAdcTopK("s8", coded, head, coarse, cbEntries)
  })

  /** Oracle for s19 (cell-pruned two-stage retrieval, [[AnnIndex
    * .probeIvfPqRerank]]): s8's cell-gated ADC chain kept to the
    * rerank pool, then the exact-cosine rerank unrolled — the s17
    * rerank tail over s8's candidate generator. Its OWN oracle (not
    * s17's) because the coarse cell gate changes the candidate pool:
    * stage 1 only ever scores a query against its own coarse cell (the
    * s15 precedent). Defined here beside the s8 builder it composes
    * (the filteredIvfOracleSql pattern — AnnIndex owns the probe, the
    * oracle chain lives with its training mirror). */
  private[graft] lazy val ivfpqRerankOracleSql: Option[String] = {
    def dot(a: String, b: String) = VectorFns.duckDot(a, b)
    Some(s"""
      WITH $duckIvfPqScoredCtes, ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rnk
        FROM scored
      ), cands AS (
        SELECT query_id, neighbor_id, rnk AS adc_rnk FROM ranked
        WHERE rnk <= $RerankPool
      ), exact AS (
        SELECT c.query_id, c.neighbor_id, c.adc_rnk,
               CAST(${dot("q.qv", "x.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(x.nrm AS DOUBLE))) AS cosine
        FROM cands c
        JOIN n q ON q.vec_id = c.query_id
        JOIN n x ON x.vec_id = c.neighbor_id
      ), rr AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM exact
      )
      SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine,
             CAST(adc_rnk AS INTEGER) AS adc_rnk
      FROM rr WHERE rnk <= $K
      ORDER BY query_id, rnk
    """)
  }

  /** Per-label centroid statistics over the quantized embedding space —
    * the "aggregate a vector column" primitive (cluster profiling,
    * codebook training input). Exact integer sums per (label, dim), so
    * the centroid means are bit-identical across engines. */
  val s4Centroids: Op = Op(
    "s4_label_centroids",
    Some("""
      WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM embeddings
      ), e AS (
        SELECT vec_id, label, generate_subscripts(qv, 1) AS dim, UNNEST(qv) AS q
        FROM v
      )
      SELECT label, CAST(dim AS INTEGER) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sum_q,
             CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000 AS mean
      FROM e
      GROUP BY label, dim
      ORDER BY label, dim
    """))((spark, dir) => {
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        posexplode(VectorFns.quantize(col("embedding"))).as(Seq("dim0", "q")))
      .groupBy(col("label"), (col("dim0") + 1).as("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"))
      .withColumn("mean", col("sum_q").cast("double") / col("n") / 1000000)
      .orderBy("label", "dim")
  })

  /** Int8 scalar quantization of the embedding column — the storage-
    * compression step that shrinks a float corpus 4× before ANN serving
    * (symmetric per-dimension scaling, the FAISS `SQ8`/ScaNN int8
    * shape). Each dimension's scale is its corpus max |x|; codes are
    * round(x·127/mx) ∈ [−127, 127]; the report is the per-label
    * reconstruction-error census plus the code-range invariant.
    *
    * All arithmetic is exact cross-engine: quantized Long inputs,
    * integer products (≤ 2^27, exact in double), one IEEE double
    * division + half-up round per element — identical bit patterns in
    * both engines, so even the summed squared errors hash-match.
    *
    * Scale shape: a map-side-combinable (dim, max|x|) aggregate whose
    * dim-count-bounded result collapses to ONE broadcast row (a
    * dim-sorted array), cross-joined onto the corpus for a pure
    * per-row encode + 10-row label census — the stats never round-trip
    * through the driver, and the encode pass stays inside whole-stage
    * codegen. The broadcast exchange still materializes the stats
    * aggregate before the encode scan (as any stats-then-broadcast
    * shape must), but both passes live in one lazy DAG. */
  val s12Int8Quantize: Op = Op(
    "s12_int8_quantize",
    Some(s"""
      WITH v AS (
        SELECT vec_id, label, ${VectorFns.duckQuantize("embedding")} AS qv
        FROM embeddings
      ), e AS (
        SELECT vec_id, label, generate_subscripts(qv, 1) AS dim, UNNEST(qv) AS x
        FROM v
      ), m AS (
        SELECT dim, MAX(abs(x)) AS mx FROM e GROUP BY dim
      ), enc AS (
        SELECT e.vec_id, e.label, e.x, m.mx,
               CASE WHEN m.mx = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(CAST(e.x * 127 AS DOUBLE) / m.mx) AS BIGINT) END AS code
        FROM e JOIN m USING (dim)
      ), err AS (
        SELECT vec_id, label, code,
               x - (CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(round(CAST(code * mx AS DOUBLE) / 127) AS BIGINT) END) AS r
        FROM enc
      ), pv AS (
        SELECT vec_id, label, SUM(r * r) AS sq, COUNT(*) AS nd, MAX(abs(code)) AS mc
        FROM err GROUP BY vec_id, label
      )
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(sq) AS BIGINT) AS total_sq_err,
             CAST(MAX(mc) AS BIGINT) AS max_abs_code,
             CAST(SUM(sq) AS DOUBLE) / CAST(SUM(nd) AS DOUBLE) AS mse
      FROM pv GROUP BY label ORDER BY label
    """))((spark, dir) => {
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        VectorFns.quantize(col("embedding")).as("qv"))
    // Per-dim max |x| as ONE broadcast 1-row array (dim-sorted struct
    // collect), cross-joined onto every vector — no driver collect:
    // the stats pass and the encode pass are one lazy DAG (the
    // broadcast exchange still materializes the stats first), and the
    // exact integer maxes reach executors without a driver round-trip.
    val mxArr = vecs.select(posexplode(col("qv")).as(Seq("dim0", "x")))
      .groupBy("dim0").agg(max(abs(col("x"))).as("mx"))
      .agg(transform(array_sort(collect_list(struct(col("dim0"), col("mx")))),
        s => s.getField("mx")).as("mxs"))
    def codeOf(x: Column, m: Column): Column =
      when(m === 0L, lit(0L))
        .otherwise(round((x * lit(127L)).cast("double") / m.cast("double")).cast("long"))
    def reconOf(c: Column, m: Column): Column =
      when(m === 0L, lit(0L))
        .otherwise(round((c * m).cast("double") / lit(127.0)).cast("long"))
    val per = vecs.crossJoin(broadcast(mxArr)).select(col("label"),
      aggregate(
        zip_with(col("qv"), col("mxs"), (x, m) => x - reconOf(codeOf(x, m), m)),
        lit(0L), (acc, e) => acc + e * e).as("sq"),
      size(col("qv")).cast("long").as("nd"),
      array_max(zip_with(col("qv"), col("mxs"), (x, m) => abs(codeOf(x, m)))).as("mc"))
    per.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("sq")).as("total_sq_err"),
        max(col("mc")).as("max_abs_code"),
        sum(col("nd")).as("nd_total"))
      .select(col("label"), col("n_vecs"), col("total_sq_err"), col("max_abs_code"),
        (col("total_sq_err").cast("double") / col("nd_total").cast("double")).as("mse"))
      .orderBy("label")
  })

  /** Recall@K census: how much of the EXACT brute-force top-k (s1) each
    * approximate method recovers — single-bucket LSH (s2) vs Hamming-1
    * multi-probe (s6). This is the eval primitive every ANN deployment
    * runs before trusting an index: recall is measured against the
    * operators' own outputs (the Spark side literally joins s2/s6's
    * result to s1's), so the census can never drift from what the
    * engine actually serves. Driven from the query spine (every
    * (method, query) pair appears, hits=0 when a bucket was empty);
    * recall = hits/K is a single exactly-rounded IEEE division of two
    * small ints, identical across engines. At scale the ground-truth
    * side is the expensive leg — it runs once over a fixed query SAMPLE
    * (NQ rows, broadcast) while the approximate sides reuse the served
    * index, so the census costs one extra scan, not a quadratic join. */
  val s13RecallCensus: Op = Op(
    "s13_ann_recall", {
      val bInt = VectorFns.duckLshBucketInt("qv", 8)
      Some(s"""
      WITH ${duckVecs()},
      b AS (SELECT vec_id, qv, nrm, $bInt AS bucket FROM n),
      bruteranked AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) DESC,
                 c.vec_id) AS rnk
        FROM n q JOIN n c ON q.vec_id < $NQ AND c.vec_id <> q.vec_id
      ), brute AS (SELECT query_id, neighbor_id FROM bruteranked WHERE rnk <= $K),
      lshranked AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) DESC,
                 c.vec_id) AS rnk
        FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < $NQ AND c.vec_id <> q.vec_id
      ), lsh AS (SELECT query_id, neighbor_id FROM lshranked WHERE rnk <= $K),
      qp AS (
        SELECT vec_id AS query_id, qv, nrm,
               UNNEST([bucket] || [CAST(xor(bucket, CAST(1 << j AS BIGINT)) AS BIGINT)
                                   FOR j IN generate_series(0, 7)]) AS probe
        FROM b WHERE vec_id < $NQ
      ), mpranked AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) DESC,
                 c.vec_id) AS rnk
        FROM qp q JOIN b c ON c.bucket = q.probe AND c.vec_id <> q.query_id
      ), mp AS (SELECT query_id, neighbor_id FROM mpranked WHERE rnk <= $K),
      m AS (
        SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
        UNION ALL
        SELECT 'multiprobe' AS method, query_id, neighbor_id FROM mp
      ), hits AS (
        SELECT m.method, m.query_id, COUNT(*) AS hits
        FROM m JOIN brute USING (query_id, neighbor_id)
        GROUP BY m.method, m.query_id
      ), spine AS (
        SELECT mt.method, e.vec_id AS query_id
        FROM embeddings e, (SELECT UNNEST(['lsh', 'multiprobe']) AS method) mt
        WHERE e.vec_id < $NQ
      )
      SELECT s.method, s.query_id,
             CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
             CAST(COALESCE(h.hits, 0) AS DOUBLE) / $K AS recall
      FROM spine s LEFT JOIN hits h ON h.method = s.method AND h.query_id = s.query_id
      ORDER BY s.method, s.query_id
    """)
    })((spark, dir) => {
    def ids(op: Op) = op.run(spark, dir).select("query_id", "neighbor_id")
    val brute = ids(s1BruteTopK)
    val m = ids(s2LshTopK).withColumn("method", lit("lsh"))
      .unionByName(ids(s6MultiProbe).withColumn("method", lit("multiprobe")))
    // Every relation here is bounded (NQ queries × K ranks) — broadcast
    // them so the census never sorts-and-shuffles for a ≤100-row join.
    val hits = m.join(broadcast(brute), Seq("query_id", "neighbor_id"))
      .groupBy("method", "query_id").agg(count(lit(1)).as("hits"))
    val spine = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"),
        explode(array(lit("lsh"), lit("multiprobe"))).as("method"))
    spine.join(broadcast(hits), Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(K)).as("recall"))
      .orderBy("method", "query_id")
  })

  /** Filtered ANN: exact cosine top-k restricted by a metadata
    * predicate — each query retrieves only among candidates sharing ITS
    * label, the tenant-isolation / category-restricted retrieval every
    * vector store names "filtered search". PRE-filter semantics by
    * construction: the predicate is the join key, so filtering happens
    * BEFORE ranking (post-filtering an unfiltered top-k under-returns
    * whenever the filter is selective — the classic filtered-search
    * recall bug this op's shape cannot exhibit).
    *
    * Scale shape: s1's broadcast-probe scan with the label equality
    * replacing the cross product — candidates cut by label selectivity
    * inside one codegen'd pass, no shuffle of the big side; a
    * label-partitioned table turns the same plan into partition pruning
    * (the lever the persisted IVF probe uses for cells). */
  val s14FilteredTopK: Op = Op(
    "s14_ann_filtered_topk",
    Some(s"""
      WITH ${duckVecs()},
      pairs AS (
        SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM n q JOIN n c
          ON q.vec_id < $NQ AND c.label = q.label AND c.vec_id <> q.vec_id
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM pairs
      )
      SELECT query_id, label, neighbor_id, CAST(rnk AS INTEGER) AS rnk,
             cos AS cosine
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), VectorFns.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", VectorFns.norm2(col("qv")))
    val q = vecs.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("label"),
        col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val pairs = vecs.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorFns.cosine(
        VectorFns.dot(col("q_qv"), col("qv")), col("q_nrm"), col("nrm")))
    topKPerQuery(pairs, Seq(col("cos").desc, col("vec_id")))
      .select(col("query_id"), col("label"), col("vec_id").as("neighbor_id"),
        col("rnk"), col("cos").as("cosine"))
      .orderBy("query_id", "rnk")
  })

  private[operators] val RrfK = 60     // the standard RRF dampening constant
  private[operators] val HybridPool = 20 // per-modality candidate pool fused

  /** Hybrid retrieval: lexical matching and vector similarity fused by
    * reciprocal-rank fusion — the "hybrid search" every search stack
    * ships (keyword recall catches what embeddings miss and vice
    * versa). Queries are the first [[NQ]] documents (doc_id ≡ vec_id in
    * the corpus).
    *
    * Lexical side: candidates share a distinct word with the query,
    * scored by an integer idf surrogate Σ (N − df(term)) over the shared
    * distinct terms — rarer terms dominate, ubiquitous terms contribute
    * ~0, and the score stays in exact integer arithmetic (no log; the
    * ordering is what matters and both engines must rank identically).
    * Vector side: exact cosine ranks, s1's broadcast-probe shape. Each
    * side keeps its top-[[HybridPool]] per query (rank-filtered windows,
    * WindowGroupLimit-planned), then rrf = 1/(K+r_lex) + 1/(K+r_vec)
    * over the full-outer-joined pools (a missing side contributes 0 —
    * the standard convention). The doubles come from identical small
    * integers via IEEE division/addition only, so cross-engine hashes
    * agree.
    *
    * Scale shape: document frequencies first — one linear map-side-
    * combinable count over the (per-doc-distinct) token stream — then
    * the df's ride the tiny query-vocabulary broadcast into a SINGLE
    * corpus token pass that aggregates pair scores directly. Nothing
    * query-term-bounded is ever cached or re-read (stopword-bearing
    * queries make that set unbounded); the only non-broadcast state is
    * the vocab-sized df aggregate, which streams straight into the
    * broadcast join. No corpus-keyed window anywhere; both rank windows
    * partition by query_id (≤ NQ groups, group-limit bounded). The
    * vector side is one codegen'd pass. */
  val s16HybridRrf: Op = Op(
    "s16_hybrid_rrf_search",
    Some(s"""
      WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
                 FROM documents),
      tok AS (SELECT doc_id,
                     UNNEST(list_distinct(list_transform(w, x ->
                       CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)))) AS term
              FROM d),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      qt AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id < $NQ),
      tdf AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
      lexs AS (
        SELECT q.query_id, t.doc_id, SUM(nn.n - f.df) AS score_lex
        FROM qt q
        JOIN tok t ON t.term = q.term AND t.doc_id <> q.query_id
        JOIN tdf f ON f.term = q.term
        CROSS JOIN nn
        GROUP BY 1, 2),
      lex AS (
        SELECT query_id, doc_id, r_lex FROM (
          SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score_lex DESC, doc_id) AS r_lex
          FROM lexs) WHERE r_lex <= $HybridPool),
      ${duckVecs()},
      vp AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               CAST(${VectorFns.duckDot("q.qv", "c.qv")} AS DOUBLE)
                 / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
        FROM n q JOIN n c ON q.vec_id < $NQ AND c.vec_id <> q.vec_id),
      vec AS (
        SELECT query_id, doc_id, r_vec FROM (
          SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, doc_id) AS r_vec
          FROM vp) WHERE r_vec <= $HybridPool),
      fused AS (
        SELECT query_id, doc_id, r_lex, r_vec,
               COALESCE(1.0 / ($RrfK + r_lex), 0.0)
                 + COALESCE(1.0 / ($RrfK + r_vec), 0.0) AS rrf
        FROM lex FULL OUTER JOIN vec USING (query_id, doc_id)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, doc_id) AS rnk
        FROM fused)
      SELECT query_id, doc_id, CAST(rnk AS INTEGER) AS rnk, rrf,
             CAST(r_lex AS INTEGER) AS r_lex, CAST(r_vec AS INTEGER) AS r_vec
      FROM ranked WHERE rnk <= $K
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    import graft.functions.TextFns
    val docs = Tables.spread(Tables.documents(spark, dir))
    // The explicit isNotNull (vacuous: doc_id is the PK) keeps the df
    // branch's scan canonically IDENTICAL to the scoring branch's —
    // whose self-pair filter infers IsNotNull(doc_id) — so ReuseExchange
    // serves both token passes from ONE parquet read + spread shuffle.
    // Terms ride as md5-prefix int64 HASHES from the scan on (r14):
    // the term value never reaches the output (scores are Σ(n − df)
    // over shared terms), only equality matters, and both engines hash
    // identically (hash-then-distinct on both sides), so df counts and
    // scores are unchanged while the two corpus token passes explode,
    // shuffle and aggregate 8-byte longs instead of term strings — the
    // d2 hashed-shingle-key rule applied to the lexical side.
    // Collision bound (r15, recorded where the convention is applied):
    // the key is the 60-bit md5 prefix (15 hex chars — the widest value
    // the oracle's signed-BIGINT '0x…' parse admits; 16 would overflow
    // DuckDB's cast), so by the birthday bound distinct-term collisions
    // reach ~1% odds at ~1.5×10⁸ distinct terms and even odds around
    // 1.3×10⁹. BOTH engines collide identically (same digest, same
    // prefix), so the cross-engine gate holds at any vocabulary size;
    // what a collision costs is two true terms sharing one df — a
    // bounded score perturbation on the affected pairs only,
    // acceptable for a ranking surrogate. A deployment needing exact
    // df at >10⁹-term vocabularies should widen the key to two longs
    // (md5 hi/lo), mirrored in the oracle as a struct key.
    val toks = docs.filter(col("doc_id").isNotNull).select(col("doc_id"),
      explode(array_distinct(
        TextFns.wordShingleHashLong(TextFns.tokens(col("text")), 1))).as("term"))
    // Broadcast 1-row corpus count (never a global window — q31 rule).
    val nRow = broadcast(docs.agg(count(lit(1)).as("n")))
    val qterms = toks.filter(col("doc_id") < NQ)
      .select(col("doc_id").as("query_id"), col("term"))
    // df FIRST: toks is distinct per doc, so one map-side-combinable
    // count per term IS document frequency — computed only for QUERY
    // terms (a semi-join against the broadcast query vocabulary drops
    // every other token at the scan stage, so the agg's exchange
    // carries query-term occurrences, not the corpus vocabulary). The
    // df's then ride the (tiny, query-bounded) qtd broadcast into a
    // SINGLE scoring pass that aggregates pairs directly. The r11 shape
    // instead CACHED the query-term occurrence rows (unbounded on
    // stopword-bearing queries — a memory liability at 100 TB) and
    // re-read them for a distinct + a second wide join; df-first
    // measured ~2x faster on the lexical side at sf0.1 (0.81 s vs
    // 1.83 s warm) and leaves nothing to evict. Net: two corpus token
    // passes (df, score) and zero corpus-sized state.
    val qset = qterms.select("term").distinct()
    val tdf = toks.join(broadcast(qset), Seq("term"), "leftsemi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val qtd = qterms.join(tdf, Seq("term")).crossJoin(nRow)
    val lexScore = toks.join(broadcast(qtd), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("n") - col("df")).as("score_lex"))
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score_lex").desc, col("doc_id"))
    val lex = lexScore.withColumn("r_lex", row_number().over(wLex))
      .filter(col("r_lex") <= HybridPool).select("query_id", "doc_id", "r_lex")

    val vecs = quantizedQvNrm(spark, dir)
    val q = vecs.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"))
    val wVec = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))
    val vec = vecs.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorFns.cosine(
        VectorFns.dot(col("q_qv"), col("qv")), col("q_nrm"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cos"))
      .withColumn("r_vec", row_number().over(wVec))
      .filter(col("r_vec") <= HybridPool).select("query_id", "doc_id", "r_vec")

    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0)))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(wR)).filter(col("rnk") <= K)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("rrf"),
        col("r_lex"), col("r_vec"))
      .orderBy("query_id", "rnk")
  })

  override def ops: Seq[Op] =
    Seq(s1BruteTopK, s2LshTopK, s3IvfTopK, s4Centroids, s5IvfTrained,
      s6MultiProbe, s7PqTopK, s8IvfPqTopK, s12Int8Quantize, s13RecallCensus,
      s14FilteredTopK, s16HybridRrf, s17PqRerank)
}
