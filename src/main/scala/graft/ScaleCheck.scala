package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-nonlinearity probe: every 100 TB claim in this repo
  * rests on plan shape; this main checks the claim cheaply by running
  * the heaviest operators on the base corpus and on a K×-replicated
  * copy, and reporting wall-clock growth vs the data ratio.
  *
  * Replication keeps the workload's DUPLICATE STRUCTURE linear — each
  * replica is made lexically/geometrically distinct (a per-replica
  * alphabet bijection for text plus a replica-local `source`; a
  * disjoint label space for vectors), so within-replica near-dup
  * structure mirrors the original EXACTLY while replicas don't
  * cross-match. Without that, replicating a doc K times would fabricate
  * K²/2 new near-dup pairs per doc and the probe would measure the
  * forged data's quadratic pair growth, not the engine.
  * ScaleSchemeSpec pins the premise (pair/join counts grow exactly K×).
  *
  * Usage: runMain graft.ScaleCheck [sfDir] [factor] [deepFactor]
  * Output: one JSON line per op {op, base_s, scaled_s, ratio, data_ratio,
  * linear} plus a summary; also written to SCALECHECK.json.
  *
  * deepFactor (0 = off): a second, much larger replication (documents
  * only) for the worst document-side ops — K× validates the plan shape,
  * but a hidden driver-side cliff or skew wall shows up only when the
  * corpus is millions of rows, so the heaviest three get one deep point
  * each (single timed run; the code paths are already JIT'd by the K×
  * probes, and at this size the job is minutes, not noise-bound).
  */
object ScaleCheck {

  /** Replica id offset derived from the table's ACTUAL max key, never a
    * fixed constant: a constant (say 1e8) collides once base keys reach
    * it — TPC-H order keys do around sf≈17 — and colliding ranges forge
    * cross-replica join matches, making the probe measure fabricated
    * data growth instead of the engine. */
  private[graft] def offsetFor(df: DataFrame, keys: Seq[String]): Long = {
    val maxes = df.agg(max(keys.head), keys.tail.map(max): _*)
      .collect()(0).toSeq.map {
      case null => 0L
      case n: Number => n.longValue()
    }
    math.max(100000000L, maxes.max + 1L)
  }

  /** Per-replica alphabet bijection: ONE affine permutation over the
    * COMBINED 36-symbol alphabet (lowercase + digits), i → (i·stride +
    * r) mod 36 with stride a unit of Z36. Same-stride maps with
    * different shifts are rows of a Latin square — they agree NOWHERE —
    * so the first 36 replicas (stride 1, shifts 0..35) are pairwise
    * collision-free on every symbol, and an everywhere-distinct family
    * cannot exceed 36 members (for fixed c, the 37th map must repeat
    * some π(c)), so that is the achievable optimum. Across stride
    * groups, two maps agree on exactly gcd(Δstride, 36) symbols when
    * the shift difference is divisible by that gcd (else nowhere); all
    * units are odd so gcd ≥ 2, and the stride ORDER below puts the
    * gcd-2 neighbors (1, 11, 23, 35) first — cross-group pairs up to
    * K=72 share at most 2 symbols, so a cross-replica token collision
    * needs a token composed ONLY of those ≤2 symbols, and a shingle
    * needs a run of such tokens (mod-4 pigeonhole makes ≥4 shared
    * symbols unavoidable once three stride groups are in play, i.e.
    * K>72 — raise the deep factor past that and this analysis must be
    * redone). Letters may map to digits and vice versa; the map stays
    * a bijection on the combined alphabet, which is what preserves
    * gram/shingle structure exactly. Uppercase gets its own
    * affine-over-26 cycle (stride order likewise gcd-2-first) so case
    * classes never merge. Non-ASCII symbols pass through untouched —
    * fine for the ASCII synthetic corpus, and ScaleSchemeSpec checks
    * the replica-locality OUTCOME against the actual data — including
    * across the stride-group boundary — rather than trusting this
    * reasoning. Replica 0 is the IDENTITY: replica 0 IS the base
    * corpus. */
  private def replicaAlphabet(r: Int): (String, String) = {
    val combined = "abcdefghijklmnopqrstuvwxyz0123456789"
    val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val s36 = Seq(1, 11, 23, 35, 5, 17, 29, 7, 19, 31, 13, 25)((r / 36) % 12)
    val cTo = combined.indices.map(i => combined((i * s36 + r) % 36)).mkString
    val s26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)((r / 26) % 12)
    val uTo = upper.indices.map(i => upper((i * s26 + r) % 26)).mkString
    (combined + upper, cTo + uTo)
  }

  /** K distinct replicas of documents: ids offset into disjoint ranges,
    * text mapped through a per-replica ALPHABET BIJECTION, and `source`
    * suffixed per replica so blocked ops block replica-locally.
    *
    * Why a bijection and not a per-token replica prefix (the earlier
    * scheme): the probe's premise is that each replica MIRRORS the base
    * corpus's duplicate structure while replicas never cross-match, and
    * a prefix breaks both halves for character grams. Token-body
    * 5-grams stay identical ACROSS replicas (fabricating ~K²
    * cross-replica pairs — d4 hit ratio ~700 at 64× before blocks went
    * replica-local), while WITHIN a replica the shared prefix on every
    * token manufactures common grams between unrelated documents
    * (sf0.001: 1 base d4 pair became 184 per prefixed replica — the
    * probe then measures a corpus ~100× denser in near-dup pairs than
    * the one it claims to scale). A character bijection preserves gram
    * and shingle structure EXACTLY — same set sizes, same true Jaccard,
    * text length and the n_chars column stay consistent — so
    * exact-scoring ops (d4) produce the SAME pairs per replica as base,
    * while hash-based candidate generation (d2's minhash banding) sees
    * re-randomized hashes per replica and its banding RECALL may differ
    * on borderline pairs; replica 0 is the identity, so its pairs equal
    * base exactly for every op. Distinct per-replica maps keep every
    * token (hence every word-shingle space) replica-distinct. The `source` suffix keeps d4's (lang, source,
    * lenb) blocks replica-local regardless, mirroring the real 100 TB
    * shape: a bigger corpus has proportionally more sources, not
    * deeper per-block cohorts. ScaleSchemeSpec machine-checks the
    * premise: pair/join counts must grow EXACTLY K×. */
  private[graft] def scaleDocuments(spark: SparkSession, dir: String, out: String,
      k: Int): Unit = {
    val base = Tables.documents(spark, dir)
    val idOffset = offsetFor(base, Seq("doc_id"))
    val reps = (0 until k).map { r =>
      val (from, to) = replicaAlphabet(r)
      base
        .withColumn("doc_id", col("doc_id") + lit(r * idOffset))
        .withColumn("source", concat(col("source"), lit(s"_r$r")))
        .withColumn("text", translate(col("text"), from, to))
    }
    reps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
  }

  /** K replicas of embeddings: ids offset, labels suffixed per replica
    * (d8 blocks on label equality, so replicas never pair), and — the
    * vector analogue of the documents' alphabet bijection — each
    * replica's DIMENSIONS are permuted by a distinct affine map
    * i → (i·stride + r) mod d (stride a unit of Z_d; replica 0 is the
    * identity). A permutation common to a whole replica preserves every
    * within-replica dot product and norm EXACTLY — so each replica
    * mirrors the base corpus's similarity structure bit-for-bit — while
    * replicas stop being geometric CLONES of each other. Without this,
    * every copy of a vector has identical coordinates, lands in the
    * same k-means cell as the original no matter how many cells a
    * scaled build trains (8 clones of a query's whole neighborhood in
    * its cell), and every cell-pruned probe measures fabricated 8×
    * cell growth instead of the engine: r13 measured s9 at 6.5×-for-8×
    * under clone replication vs ~flat with distinct replicas at a
    * cells ∝ n build. Cross-replica dots become arbitrary mid-range
    * values (no forged near-dups: pair ops block on the
    * replica-suffixed label anyway). */
  private[graft] def scaleEmbeddings(spark: SparkSession, dir: String, out: String,
      k: Int): Unit = {
    val base = Tables.embeddings(spark, dir)
    val idOffset = offsetFor(base, Seq("vec_id"))
    val dims = base.select(size(col("embedding"))).head().getInt(0)
    // Strides must be UNITS of Z_dims (gcd 1) or the map is not a
    // bijection — it would duplicate some coordinates and drop others,
    // silently corrupting within-replica geometry, the exact
    // measurement artifact this transform exists to eliminate. Derived
    // from the actual dims, not assumed: a hard-coded odd list is only
    // unit-safe for power-of-two dims (3/5/7 divide 768/1536-style
    // widths).
    val strides = Iterator.from(1, 2)
      .filter(s => BigInt(s).gcd(BigInt(dims)) == 1).take(12).toSeq
    val reps = (0 until k).map { r =>
      val s = strides(r % strides.size)
      val perm = (0 until dims).map(i => (i * s + r) % dims)
      // The map degenerates to the identity whenever s ≡ 1 and r ≡ 0
      // (mod dims) — possible at tiny dims or r a multiple of dims on
      // the stride-1 slot — which would silently re-create the
      // geometric-clone replicas (replica ≡ base, same k-means cell)
      // this transform exists to eliminate. Fail the probe loudly
      // instead of measuring fabricated cell growth.
      require(r == 0 || perm.zipWithIndex.exists { case (p, i) => p != i },
        s"scaleEmbeddings: replica $r's dimension permutation (stride $s, " +
          s"dims $dims) is the identity — it would clone the base geometry; " +
          "use a replication factor below the dims or add stride groups")
      val permuted =
        if (r == 0) col("embedding")
        else array(perm.map(p => element_at(col("embedding"), p + 1)): _*)
      base
        .withColumn("vec_id", col("vec_id") + lit(r * idOffset))
        .withColumn("label", concat(col("label"), lit(s"_r$r")))
        .withColumn("embedding", permuted)
    }
    reps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
  }

  /** K replicas of the relational facts: order keys offset into disjoint
    * ranges ON BOTH SIDES of the lineitem⋈orders join (replicas join
    * within themselves), while the DIM foreign keys (custkey, partkey)
    * stay as-is — the realistic 100 TB shape, where facts grow and
    * conformed dimensions don't. The dims themselves are copied through
    * unchanged. */
  private[graft] def scaleRelational(spark: SparkSession, dir: String, out: String,
      k: Int): Unit = {
    def reps(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        idOffset: Long): org.apache.spark.sql.DataFrame =
      (0 until k).map { r =>
        keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * idOffset)))
      }.reduce(_ unionByName _)
    // ONE offset for the shared o_orderkey/l_orderkey space — replicas
    // must join within themselves on both sides.
    val orderOffset = offsetFor(Tables.orders(spark, dir), Seq("o_orderkey"))
    reps(Tables.orders(spark, dir), Seq("o_orderkey"), orderOffset)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    reps(Tables.lineitem(spark, dir), Seq("l_orderkey"), orderOffset)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // Events: per-replica user/event id spaces, so sessions (and any
    // per-user window) stay replica-local. Read RAW — Tables.events
    // rewrites ts to TIMESTAMP, which would change the scaled table's
    // schema vs the base layout the loaders expect.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsRaw = spark.read.parquet(s"$dir/events.parquet")
    reps(eventsRaw, Seq("event_id", "user_id"),
      offsetFor(eventsRaw, Seq("event_id", "user_id")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // Dims pass through byte-identical (a broadcast side that does not
    // grow is the point being measured).
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("customer", "nation", "region", "part", "supplier").foreach { t =>
      val src = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val dst = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      org.apache.hadoop.fs.FileUtil.copy(
        src.getFileSystem(conf), src, dst.getFileSystem(conf), dst, false, conf)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val factor = args.lift(1).map(_.toInt).getOrElse(8)
    val deepFactor = args.lift(2).map(_.toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-scalecheck", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scaled = Files.createTempDirectory("graft-scalecheck").toString
    try {
    scaleDocuments(spark, sfDir, scaled, factor)
    scaleEmbeddings(spark, sfDir, scaled, factor)
    scaleRelational(spark, sfDir, scaled, factor)

    // The heaviest ops by BENCH_DETAIL: full near-dup pipelines (pairs,
    // clustering, canonical, curation), gram joins, the vector twin, and
    // the relational heavies (star join, pivot, grouped top-k,
    // sessionize) over the scaled facts.
    val heavy = Seq(
      "c4_group_split", "c1_corpus_curation",
      // Two-signal curation: c1's funnel + d18's dominance composed.
      "c5_semantic_curation",
      "d9_canonical_docs",
      "d10_dup_gram_fraction", "d4_dedup_ngram_jaccard",
      "d13_containment_pairs", "d14_repeated_spans",
      "d16_lsh_recall_audit", "d17_dedup_action_plan",
      "d2_dedup_minhash_lsh", "d8_dedup_embedding_multiprobe",
      // Hybrid search: the fixed query set probes a K× corpus — the
      // token scan and the cosine scan grow, the fused pools don't.
      "s16_hybrid_rrf_search",
      // Cleaned-corpus materialization: d17's plan subtrees + the HOF
      // surgery pass — the heaviest composite op in the suite.
      "d19_cleaned_corpus",
      // Two-stage rerank: the compressed scan grows with the corpus,
      // the rerank fetch stays NQ x pool.
      "s17_ann_pq_rerank",
      // Perceptual-hash media pairs: hash projection is linear, the
      // nibble-band join's cohorts grow with the corpus (d7's family).
      // The per-replica alphabet bijection re-randomizes cell averages,
      // so banding recall on borderline pairs differs per replica (the
      // d2 minhash caveat) — the probe grades wall growth, not recall.
      "m7_media_phash_pairs",
      // Applied-index census: ensureApplied amortizes the one-time
      // apply (index build + plan + purge + re-index) into the warm-up
      // run; the timed runs measure the steady-state census read —
      // shingles + pairs of the applied index, linear by design.
      "d21_apply_action_plan",
      "q3_star_join", "q8_pivot", "q10_topk_per_group", "q18_sessionize")
    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def probeLine(name: String, base: Double, big: Double,
        expectFlat: Boolean): String = {
      val ratio = big / math.max(base, 1e-9)
      // `flat` means what a reader assumes it means: the wall moved by
      // at most ~noise (≤2×) for factor× data — i.e. NOTHING in the
      // probe grows with the corpus. The old bound (factor/2) let a
      // 3.9×-for-8× probe print flat:true (r12's s9/s15 listing
      // regression wore that tag), which is linear-ish growth, not
      // flatness. Probes whose cost grows BY DESIGN carry no flat
      // field at all (expectFlat=false) — the `linear` gate is theirs.
      val flat = if (expectFlat) s""","flat":${ratio <= 2.0}""" else ""
      s"""{"op":"$name","base_s":${fmt(base)},"scaled_s":${fmt(big)},""" +
        s""""ratio":${fmt(ratio)},"data_ratio":$factor,""" +
        s""""linear":${ratio <= 1.5 * factor}$flat}"""
    }
    // Base (1×) times are measured ONCE here, early, under controlled
    // conditions, and REUSED by the deep tier below: re-measuring the
    // base after the deep replication write would grade deep ratios
    // against a denominator distorted by post-write JVM/page-cache
    // pressure (observed 4× base swings either way).
    val baseTimes = scala.collection.mutable.Map.empty[String, Double]
    val lines = heavy.map { name =>
      val fn = SparkEntry.queries(name)
      time(fn, sfDir) // warm (codegen/JIT)
      val base = (1 to 2).map(_ => time(fn, sfDir)).min
      baseTimes(name) = base
      time(fn, scaled) // warm scaled file listing
      val big = (1 to 2).map(_ => time(fn, scaled)).min
      val line = probeLine(name, base, big, expectFlat = false)
      println(line)
      line
    }
    // Persisted-index probes: the entire point of the index is that the
    // PROBE does not grow with the corpus. The scaled index is built
    // with ALL THREE cell counts scaled by the same factor — nc, kc,
    // and the IVF+PQ coarse pc (cells ∝ rows, the sizing rule the build
    // parameters exist for) — so per-cell size is constant and the
    // partition-pruned probes (s9 ivf, s11 ivfpq) should stay ~flat;
    // the PQ probe (s10) scans the compressed codes table, which is
    // linear BY DESIGN — it is reported without the flat expectation.
    // Build time is excluded: it amortizes over every query ever asked.
    import graft.operators.{AnnIndex, Similarity}
    val baseRoot = AnnIndex.defaultRoot(sfDir)
    AnnIndex.ensureBuilt(spark, sfDir, baseRoot)
    val scaledRoot = s"$scaled/ann_index"
    AnnIndex.build(spark, scaled, scaledRoot,
      nc = Similarity.NC * factor, kc = Similarity.KC * factor,
      pc = Similarity.PQ_K * factor)
    def timeDf(df: => DataFrame): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      df.count()
      (System.nanoTime() - t0) / 1e9
    }
    val probes: Seq[(String, String => DataFrame, Boolean)] = Seq(
      ("s9_ann_ivf_probe", root => AnnIndex.probeIvf(spark, root), true),
      ("s10_ann_pq_probe",
        root => AnnIndex.probePq(spark,
          if (root == baseRoot) sfDir else scaled, root), false),
      ("s11_ann_ivfpq_probe",
        root => AnnIndex.probeIvfPq(spark,
          if (root == baseRoot) sfDir else scaled, root), true),
      // Filtered search: label equality inside the cell-pruned probe.
      // The per-replica label suffix keeps filter spaces replica-local,
      // so the scaled probe answers the same-sized question K times —
      // expect ~flat like the other index probes.
      ("s15_ann_filtered_probe",
        root => AnnIndex.probeIvfFiltered(spark, root), true),
      // Index-served rerank: stage 1 scans the compressed codes table
      // (linear BY DESIGN, like s10); the rerank fetch is bounded.
      ("s18_ann_pq_rerank_probe",
        root => AnnIndex.probePqRerank(spark,
          if (root == baseRoot) sfDir else scaled, root), false),
      // Cell-pruned two-stage retrieval: stage 1 reads the query cells'
      // directories, stage 2 the candidates' — with cells ∝ corpus
      // (this build), NOTHING read grows, so flat is the expectation.
      ("s19_ann_ivfpq_rerank_probe",
        root => AnnIndex.probeIvfPqRerank(spark,
          if (root == baseRoot) sfDir else scaled, root), true),
      // Index-served semantic dedup: the dominance join at constant
      // cell size is O(n · cell_size) and every vector gets a verdict
      // row — linear BY DESIGN (the d18 training cost is what the
      // probe deletes), so no flat expectation.
      ("d20_semdedup_probe",
        root => AnnIndex.probeSemDedup(spark, root), false),
      // Multi-assignment semantic dedup from the index: same linear-by-
      // design shape as d20 (every vector gets a verdict row) plus the
      // top-2 literal assignment — the scaled build's kc grows with the
      // corpus, so this also probes nearest2Ids at factor× entries.
      ("d23_semdedup_multicell_probe",
        root => AnnIndex.probeSemDedupMulti(spark, root), false),
      // External-query search: a fixed request batch against a K×
      // corpus under cells ∝ n — the serving read is cell-pruned, so
      // flat is the expectation (the vector-store latency contract).
      ("s20_ann_external_query_search", root => {
        val dir = if (root == baseRoot) sfDir else scaled
        val q = graft.Tables.embeddings(spark, dir)
          .filter(org.apache.spark.sql.functions.col("vec_id") < Similarity.NQ)
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.reverse(
              org.apache.spark.sql.functions.col("embedding")).as("embedding"))
        AnnIndex.searchIvf(spark, root, q)
      }, true),
      // Filtered external search: the same fixed batch with labels —
      // cells × bucket dirs pruned, flat expected like s20/s15.
      ("s21_ann_external_filtered_search", root => {
        val dir = if (root == baseRoot) sfDir else scaled
        val q = graft.Tables.embeddings(spark, dir)
          .filter(org.apache.spark.sql.functions.col("vec_id") < Similarity.NQ)
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.reverse(
              org.apache.spark.sql.functions.col("embedding")).as("embedding"),
            org.apache.spark.sql.functions.col("label"))
        AnnIndex.searchIvfFiltered(spark, root, q)
      }, true))
    val probeLines = probes.map { case (name, mk, expectFlat) =>
      timeDf(mk(baseRoot))
      val base = (1 to 2).map(_ => timeDf(mk(baseRoot))).min
      timeDf(mk(scaledRoot))
      val big = (1 to 2).map(_ => timeDf(mk(scaledRoot))).min
      val line = probeLine(name, base, big, expectFlat)
      println(line)
      line
    }
    // c6 at its production shape: BOTH storage artifacts — the persisted
    // d2 pair table and the ANN index — built once per corpus (the
    // amortized cost every index probe excludes), timed runs measuring
    // the census read path. The scaled side reuses the scaled-cells
    // index above, so the semantic stage rides cells ∝ n.
    val c6Line = {
      import graft.operators.Curation
      def pairsFor(dir: String): String = {
        val out = s"$scaled/pairs_${new java.io.File(dir).getName}"
        Curation.persistNearDupPairs(spark, dir, out)
        out
      }
      val basePairs = pairsFor(sfDir)
      val scaledPairs = pairsFor(scaled)
      def run(dir: String, pairs: String, root: String): Double =
        timeDf(Curation.fromPersisted(spark, dir, pairs).semanticCensus(root))
      run(sfDir, basePairs, baseRoot)
      val base = (1 to 2).map(_ => run(sfDir, basePairs, baseRoot)).min
      run(scaled, scaledPairs, scaledRoot)
      val big = (1 to 2).map(_ => run(scaled, scaledPairs, scaledRoot)).min
      val line = probeLine("c6_semantic_curation_served", base, big,
        expectFlat = false)
      println(line)
      line
    }
    // d18 at its production shape: the corpus-scaled cell count (kc=0 →
    // semCellCount, ~SemCellSize vectors per cell). The REGISTERED Op
    // pins KC=8 to match its unrolled DuckDB Lloyd mirror, which at a
    // fixed cell count is O(n²/KC) BY CONSTRUCTION — probing it would
    // grade a knob the op only carries for the oracle. With kc ∝ n the
    // dominance join is O(n · cell_size); the flat argmin assignment is
    // O(n · kc) and is the term a 100 TB run replaces with a two-level
    // coarse-then-fine assignment (see semCellCount's doc) — at probe
    // scales it stays below the scan+shuffle floor.
    val d18Line = {
      def run(dir: String): Double =
        timeDf(graft.operators.Dedup.semDeDup(spark, dir, 0))
      run(sfDir)
      val base = (1 to 2).map(_ => run(sfDir)).min
      run(scaled)
      val big = (1 to 2).map(_ => run(scaled)).min
      val line = probeLine("d18_semdedup_scaledkc", base, big, expectFlat = false)
      println(line)
      line
    }
    // Deep tier: replication at deepFactor for the heaviest document
    // ops (documents-only table) and the relational heavies (facts
    // replicated, dims copied through — the realistic big-corpus
    // shape). Each probe runs in a FRESH CHILD JVM (both its base and
    // its deep wall): the r12 artifact measured the deep tier LAST, in
    // a parent JVM that had just run ten K× probes and two index
    // builds, and shipped d4 at 113 s where an isolated fresh-JVM
    // re-run landed 43 s — exactly the same-process degradation the
    // bench's isolated_fresh escalation exists to escape, so the deep
    // tier escapes it unconditionally. The child measures base as
    // min-of-2 after one JIT warm-up, then min-of-2 deep runs (r13's
    // single-sample walls swung ~3× between same-code runs) and its own
    // calib_s — base and deep share one controlled process, so the
    // ratio is self-consistent and the wall carries its window's speed.
    // A crashed/hung child falls back to the in-parent measure, tagged
    // "fresh_jvm":false.
    val deepLines =
      if (deepFactor <= 0) Seq.empty[String]
      else {
        val deepDir = s"$scaled/deep"
        def deepLine(name: String, base: Double, big: Double,
            fresh: Boolean, childCalib: Double = -1.0): String = {
          val ratio = big / math.max(base, 1e-9)
          val calibField =
            if (childCalib > 0) s""","child_calib_s":${fmt(childCalib)}"""
            else ""
          val line =
            s"""{"op":"$name","base_s":${fmt(base)},"scaled_s":${fmt(big)},""" +
              s""""ratio":${fmt(ratio)},"data_ratio":$deepFactor,""" +
              s""""linear":${ratio <= 1.5 * deepFactor},"fresh_jvm":$fresh$calibField}"""
          println(line)
          line
        }
        def deepProbeFresh(name: String): Option[(Double, Double, Double)] =
          ChildJvm.run("graft.DeepProbe", Seq(sfDir, deepDir, name),
              Map("SPARK_GRAFT_CPUS" -> cpus), timeoutMinutes = 30)
            .flatMap(out =>
              """DEEPPROBE \S+ base=([0-9.]+) deep=([0-9.]+)(?: calib=([0-9.]+))?""".r
                .findFirstMatchIn(out)
                .map(m => (m.group(1).toDouble, m.group(2).toDouble,
                  Option(m.group(3)).map(_.toDouble).getOrElse(-1.0))))
        def deepProbe(name: String): String =
          deepProbeFresh(name) match {
            case Some((base, big, cc)) =>
              deepLine(name, base, big, fresh = true, childCalib = cc)
            case None =>
              val fn = SparkEntry.queries(name)
              val base = baseTimes.getOrElse(name,
                (1 to 2).map(_ => time(fn, sfDir)).min)
              deepLine(name, base, time(fn, deepDir), fresh = false)
          }
        scaleDocuments(spark, sfDir, deepDir, deepFactor)
        val docLines = Seq(
          "d4_dedup_ngram_jaccard", "d13_containment_pairs",
          "d14_repeated_spans", "d9_canonical_docs", "c1_corpus_curation",
          "m7_media_phash_pairs")
          .map(deepProbe)
        scaleRelational(spark, sfDir, deepDir, deepFactor)
        val relLines = Seq(
          "q3_star_join", "q10_topk_per_group", "q18_sessionize")
          .map(deepProbe)
        docLines ++ relLines
      }
    val json = (lines ++ probeLines ++ Seq(c6Line, d18Line) ++ deepLines)
      .mkString("[", ",\n", "]")
    Files.write(Paths.get("SCALECHECK.json"), json.getBytes(StandardCharsets.UTF_8))
    } finally {
      // The scaled corpus is factor× the input — don't leak it in tmp,
      // ESPECIALLY when a heavy op crashed the probe (the case where the
      // leak matters most).
      val sp = new org.apache.hadoop.fs.Path(scaled)
      sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
      spark.stop()
    }
  }
}

/** Dev utility: materialize a K×-replicated documents table to a KEPT
  * directory (ScaleCheck's own scaled corpus is a temp dir deleted on
  * exit), so per-op iteration (QBench against the scaled dir) doesn't
  * pay the replication write on every measurement.
  *
  *   runMain graft.ScaleGen <sfDir> <outDir> <k>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, k) = args
    val spark =
      GraftSession.builder("graft-scalegen", GraftSession.envCpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ScaleCheck.scaleDocuments(spark, sfDir, outDir, k.toInt)
    spark.stop()
  }
}

/** ScaleCheck's deep-tier child: one op measured in a process of its
  * own — warm-up + min-of-2 base runs, then ONE deep run — so neither
  * number carries the parent sweep's JVM history (GC/allocator/codegen-
  * cache state; the r12 pollution). Parses from the parent via the
  * DEEPPROBE line; Locale.ROOT so a comma-decimal locale can't tear it.
  *
  *   runMain graft.DeepProbe <baseDir> <deepDir> <query>
  */
object DeepProbe {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, deepDir, name) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-deepprobe", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    def time(dir: String): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    time(baseDir) // codegen/JIT warm-up
    val base = (1 to 2).map(_ => time(baseDir)).min
    // min-of-2 for the deep wall too (single-sample walls swing ~3×
    // between same-code runs): ambient contention only ever ADDS time,
    // so of two same-code runs the faster is the more representative.
    // Marginal cost ≈ one extra deep wall per probe; the corpus is
    // already built.
    val deep = (1 to 2).map(_ => time(deepDir)).min
    // The child's own machine-speed calibration (Bench's fixed
    // CPU-bound probe), so a cross-session wall comparison has a
    // denominator measured in the SAME process and window as the wall.
    val ct0 = System.nanoTime()
    spark.range(0L, 500000000L, 1L, cpus.toInt)
      .selectExpr("bit_xor(xxhash64(id)) as s").collect()
    val calib = (System.nanoTime() - ct0) / 1e9
    println(s"DEEPPROBE $name base=${fmt(base)} deep=${fmt(deep)} calib=${fmt(calib)}")
    spark.stop()
  }
}
