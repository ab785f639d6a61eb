package graft

import org.apache.spark.sql.functions.{lit, lpad, when}

/** Physical-plan regression guards for the scale properties the engine
  * depends on: predicate pushdown + column pruning at the parquet scan,
  * broadcast joins for dimensions, and partial (map-side) aggregation.
  * If a refactor silently turns a broadcast join into an all-pairs
  * nested loop or loses pushdown, these fail before any benchmark
  * would notice. */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("q2: filter reaches the parquet scan; unused columns pruned") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_discount,0.05)"), p.take(800))
    assert(!p.contains("l_shipdate"), "unused column not pruned from scan")
  }

  test("q3: all dimension joins are broadcast hash joins") {
    val p = plan("q3_star_join")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin"), "star join degraded to nested loop")
    assert(!p.contains("CartesianProduct"))
  }

  test("q1: aggregation has a partial (map-side) phase") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), "no partial aggregation before shuffle")
  }

  test("q4: band join is a broadcast nested loop, never a cartesian shuffle") {
    val p = plan("q4_band_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
  }

  test("q13/q14: existence checks plan as semi/anti joins") {
    assert(plan("q13_semi_join").contains("LeftSemi"))
    assert(plan("q14_anti_join").contains("LeftAnti"))
  }

  test("q21: global id assignment is two-phase, no data-wide single-partition window") {
    // A window with no PARTITION BY plans as one task that sorts every
    // row; Ranks.globalRowNumber must number rows without one.
    val plan = SparkEntry.queries("q21_group_signature_ids")(spark, sf()).queryExecution.optimizedPlan
    val global = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "unpartitioned window:\n" + global.mkString("\n"))
  }

  test("d4: gram generation is a generator, not a nested-loop range join") {
    val p = plan("d4_dedup_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "d4 gram rows degraded to an O(docs x max_len) nested loop")
    assert(p.contains("Generate"), "expected explode(sequence) generator")
  }

  test("d13: containment shares d4's gram-join shape — windowed df prune, no nested loop") {
    val p = plan("d13_containment_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "d13 degraded to an all-pairs comparison:\n" + p.take(1500))
    // The df=1 prune must ride a window over the join's own bg
    // partitioning (a separate aggregate+join re-derivation measured
    // 2.5x worse at 64x).
    assert(p.contains("Window"), "expected the df-prune window over bg")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      "expected a hash-based join on the gram key:\n" + p.take(1500))
  }

  test("gram/span/audit family: no BROADCAST hints — every join side is per-document-cardinality") {
    // A broadcast HINT is unconditional: at 100 TB a per-document build
    // side (gram-set sizes, span cut/count tables, exact-group minima)
    // is billions of rows and would blow the broadcast limit outright.
    // These plans must carry no broadcast hint — AQE may still broadcast
    // from the RUNTIME size when a side is actually small, which is the
    // wanted behavior. SHUFFLE_HASH hints are allowed (and used on the
    // df/semi-join build sides): a shuffled hash join never collects to
    // the driver, streams its hot probe partitions without sorting, and
    // stays AQE-skew-splittable.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
    for (name <- Seq("d4_dedup_ngram_jaccard", "d13_containment_pairs",
        "d14_repeated_spans", "d15_span_trim_census", "d16_lsh_recall_audit",
        "d17_dedup_action_plan", "d19_cleaned_corpus")) {
      val hints = SparkEntry.queries(name)(spark, sf()).queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h.hints.toString
      }
      assert(hints.isEmpty, s"$name carries broadcast hints: ${hints.mkString(", ")}")
    }
  }

  test("d14: df prune is an aggregate + shuffled-hash semi-join, never a gram-partitioned window") {
    // d14's join key is corpus-GLOBAL (no lang/source block), so a
    // count().over(Window.partitionBy("gh")) would sort/buffer every
    // occurrence of one boilerplate gram in ONE task — and the SpanMaxDf
    // cap only prunes AFTER that window has materialized its partition.
    // The shipped shape: partial-agg count (hot keys collapse map-side)
    // + a SHUFFLE_HASH semi-join (stream side never sorts; AQE can
    // split a skewed probe partition — a window partition cannot be
    // split).
    val p = plan("d14_repeated_spans")
    val dfWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("gh")).toSeq
    assert(dfWindows.isEmpty,
      "d14 regressed to the gram-partitioned count window:\n" + dfWindows.mkString("\n"))
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      "expected the df semi-join to plan as a shuffled hash join:\n" + p.take(1500))
    assert(p.contains("partial_count") || p.contains("partial_"),
      "df count lost its map-side partial phase:\n" + p.take(1500))
  }

  test("d18: dominance is a join predicate — no window keyed by cell or vector") {
    // SemDeDup's released implementation sorts each cell and tests an
    // upper-triangular matrix; a faithful-but-naive port would plan a
    // per-cell window (rank by centroid distance), putting a 100 TB
    // corpus's biggest cell in ONE unsplittable sort task. The shipped
    // shape keeps dominance inside the cid equi-join's ON/WHERE clause:
    // no Window operator anywhere, and the self-join must stay
    // hash-based (its only broadcast is the bounded kc-row codebook).
    val p = plan("d18_semdedup")
    val w = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(w.isEmpty, "d18 grew a window:\n" + w.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "d18's within-cell join degraded to all-pairs:\n" + p.take(1500))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findFirstIn(p).isDefined,
      "expected a hash-based cid equi-join:\n" + p.take(1500))
  }

  test("d19: token surgery is one codegen'd HOF filter — no token posexplode round trip") {
    // The naive materialization posexplodes every token, anti-joins the
    // cut positions, and collect_list-rebuilds the text — shuffling
    // every token of a 100 TB corpus twice. The shipped shape carries
    // the merged intervals as a per-row array through one doc_id
    // equi-join and excises tokens inside a codegen'd filter() lambda;
    // the only collect_list in the plan aggregates INTERVALS (bounded by
    // found spans), never tokens.
    val p = plan("d19_cleaned_corpus")
    // The span-DETECTION subtree legitimately posexplodes the 8-gram
    // shingles (rows for the gram equi-join — d14's adjudicated shape):
    // since r15 that is a posexplode over the fused corpus frame's
    // cached `sg` hash-array column (planCorpus), before that the
    // inline word_shingle_hash_long generator (r14) / transform(
    // sequence(...)) (pre-r14). The surgery itself must never explode
    // the bare token array (a string-array posexplode).
    def legitSpanExplode(l: String): Boolean =
      l.contains("word_shingle_hash_long") || l.contains("transform(sequence") ||
        l.matches(".*posexplode\\(sg#\\d+.*")
    val pe = p.linesIterator.filter(_.contains("posexplode")).toSeq
    assert(pe.forall(legitSpanExplode),
      "d19 regressed to a per-token explode:\n" +
        pe.filterNot(legitSpanExplode).mkString("\n"))
    assert(p.contains("lambdafunction"),
      "interval-filter HOF missing from the physical plan:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("t37: Bloom probe prunes the train side in the scan stage before the exact join") {
    val p = plan("t37_bloom_decontamination")
    // The sketch membership test must sit in a Filter ABOVE the
    // train-side scan (below the join), not be optimized away — it is
    // what keeps the 100 TB side from reaching the shuffle wholesale.
    assert(p.contains("might_contain"),
      "Bloom probe missing from the physical plan:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "expected the confirming eval join to broadcast:\n" + p.take(1500))
  }

  test("s5: k-means assignment is inline — no join, no cartesian, no assignment window") {
    val p = plan("s5_ann_ivf_trained")
    assert(!p.contains("CartesianProduct"), "assignment degraded to a shuffled cartesian")
    // Every row_number window in the ANN family must be the per-query
    // top-k funnel (partitioned by query_id), never a per-vector argmin
    // over the n × K assignment rows.
    val windows = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(windows.forall(_.contains("query_id")),
      "found a non-top-k window (argmin-by-window crept back):\n" + windows.mkString("\n"))
  }

  test("s7: PQ encode + ADC scoring are expression-only — no joins at all") {
    val p = plan("s7_ann_pq_topk")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "s7 should fuse codes + ADC lookups into the scan:\n" + p.take(1500))
    val windows = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("query_id")))
    // The per-query top-k must pre-reduce below its exchange: at most k
    // rows per query leave each input partition.
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k lost its partial group limit:\n" + p.take(1500))
  }

  test("s8: cell-gated ADC scoring plans without joins") {
    val p = plan("s8_ann_ivfpq_topk")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "s8 should fuse assignment + encode + ADC into the scan:\n" + p.take(1500))
  }

  test("s9 probe: index-only — no raw-corpus scan, no Lloyd aggregate, cell-pruned") {
    val p = plan("s9_ann_ivf_probe")
    assert(!p.contains("embeddings.parquet"),
      "probe re-scanned the raw corpus:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "probe plan contains an aggregate (Lloyd training crept back in):\n" + p.take(1500))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      "inverted-list read lost its cell partition filter:\n" + p.take(1500))
  }

  test("s3: seeded IVF is served index-only — no per-query corpus re-encode") {
    val p = plan("s3_ann_ivf_topk")
    assert(!p.contains("embeddings.parquet"),
      "s3 re-scanned (and so re-encoded) the raw corpus:\n" + p.take(1500))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      "seeded inverted-list read lost its cell partition filter:\n" + p.take(1500))
  }

  test("s15 probe: filtered search is index-only — label from codes, cell-pruned") {
    val p = plan("s15_ann_filtered_probe")
    assert(!p.contains("embeddings.parquet"),
      "filtered probe read the raw corpus for labels instead of the codes table:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "probe plan contains an aggregate (Lloyd training crept back in):\n" + p.take(1500))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      "inverted-list read lost its cell partition filter:\n" + p.take(1500))
    // v9 layout: the label's HASH BUCKET is the partition directory (so
    // files-per-cell stay bounded however many labels a cell holds) —
    // the candidate read must prune to the query buckets' dirs AND push
    // the exact label equality into the parquet scan, not filter labels
    // above the join.
    assert("PartitionFilters: \\[[^\\]]*lb".r.findFirstIn(p).isDefined,
      "filtered probe lost its label-bucket partition prune:\n" + p.take(1500))
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(p).isDefined,
      "label equality is not pushed into the parquet scan:\n" + p.take(1500))
    assert(p.contains("label"),
      "label predicate vanished from the probe plan:\n" + p.take(1500))
  }

  test("s16: hybrid fusion windows partition by query_id only, group-limited") {
    val p = plan("s16_hybrid_rrf_search")
    // Every window must be a per-query top-k (bounded groups, partial
    // group limit) — a window keyed by term or doc would be the d14
    // corpus-global hot-key bug.
    assert(!"Window \\[[^\\]]*partitionBy.*term".r.findFirstIn(p).isDefined
      && !p.contains("windowspecdefinition(term"),
      "a window partitions by the corpus-global term key:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "per-query rank filters lost their group limit:\n" + p.take(1500))
    // The corpus token stream must meet the query vocabulary through a
    // broadcast hash join (the bounded side), not a shuffle of the
    // corpus onto term.
    assert(p.contains("BroadcastHashJoin"),
      "query-vocabulary join is not broadcast:\n" + p.take(1500))
  }

  test("s17: the rerank fetch is broadcast-only — the corpus is never shuffled") {
    // Stage 1 is s7's joinless compressed scan; stage 2 may touch the
    // full-width vectors only through a broadcast of the bounded
    // candidate keys riding one narrow scan. Any shuffled join here
    // means full vectors entered an exchange — the exact cost the
    // two-stage shape exists to avoid.
    val p = plan("s17_ann_pq_rerank")
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "s17's candidate fetch degraded to a shuffled or all-pairs join:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "rank filters lost their group limit:\n" + p.take(1500))
  }

  test("s18 probe: index-served rerank — no training, no raw scan, broadcast-only fetch") {
    // The production answer to s17's retrain-by-design cost: stage 1 is
    // s10's joinless ADC over the stored codes, stage 2 a broadcast of
    // the bounded candidates over the ivf codes table. No Lloyd/PQ
    // aggregate, no embeddings scan, and the corpus must never enter a
    // shuffled join.
    val p = plan("s18_ann_pq_rerank_probe")
    assert(!p.contains("embeddings.parquet"),
      "rerank probe read the raw corpus:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "probe plan contains an aggregate (training crept back in):\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
      && !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"),
      "candidate fetch degraded to a shuffled or all-pairs join:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "rank filters lost their group limit:\n" + p.take(1500))
  }

  test("s10 probe: joinless ADC over the codes table only") {
    val p = plan("s10_ann_pq_probe")
    assert(!p.contains("embeddings.parquet"),
      "probe re-scanned the raw corpus:\n" + p.take(1500))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "PQ probe should stay expression-only:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "probe plan contains an aggregate (training crept back in):\n" + p.take(1500))
  }

  test("s11 probe: joinless, cell-pruned, index-only") {
    val p = plan("s11_ann_ivfpq_probe")
    assert(!p.contains("embeddings.parquet"),
      "probe re-scanned the raw corpus:\n" + p.take(1500))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "IVF+PQ probe should stay expression-only:\n" + p.take(1500))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      "inverted-list read lost its cell partition filter:\n" + p.take(1500))
  }

  test("s19 probe: cell-pruned stage 1; pruned, broadcast-only rerank fetch") {
    // Stage 1 must be the s11 probe's shape: joinless residual ADC over
    // a cell-pruned read of ivfpq/codes — no raw-corpus scan, no
    // training aggregate, the cell prune visible as a PartitionFilter.
    val root = graft.operators.AnnIndex.defaultRoot(sf())
    graft.operators.AnnIndex.ensureBuilt(spark, sf(), root)
    val p1 = graft.operators.AnnIndex.ivfpqRerankCands(spark, sf(), root)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("embeddings.parquet"),
      "stage 1 re-scanned the raw corpus:\n" + p1.take(1500))
    assert(!p1.contains("Join") && !p1.contains("CartesianProduct"),
      "stage 1 should stay expression-only:\n" + p1.take(1500))
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p1).isDefined,
      "stage 1 lost its cell partition filter:\n" + p1.take(1500))
    // The returned plan is stage 2: the fetch joins only through
    // broadcasts of the bounded candidate/query sides — the corpus
    // never enters a shuffle — and carries no aggregate (no training).
    val p = plan("s19_ann_ivfpq_rerank_probe")
    assert(!p.contains("embeddings.parquet"),
      "rerank fetch read the raw corpus:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "probe plan contains an aggregate (training crept back in):\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
      && !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"),
      "candidate fetch degraded to a shuffled or all-pairs join:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "rank filters lost their group limit:\n" + p.take(1500))
  }

  test("d20 probe: dominance-only — no Lloyd training, no raw scan, no window") {
    // The probe's entire point is deleting d18's per-run training: the
    // plan must read only index tables (centroids ride a broadcast
    // built from a driver read) and run the dominance equi-join — no
    // embeddings scan, no all-pairs join, and dominance stays a join
    // predicate, never a per-cell sort/window (the d18 pin).
    val p = plan("d20_semdedup_probe")
    assert(!p.contains("embeddings.parquet"),
      "probe re-scanned the raw corpus (training crept back in):\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dominance degraded to an all-pairs comparison:\n" + p.take(1500))
    assert(!p.contains("row_number"),
      "dominance became a window (per-cell sort buffering):\n" + p.take(1500))
  }

  test("c6: storage-served curation — no banded self-join, no Lloyd, no raw embeddings") {
    // c6 is c5 with BOTH expensive subtrees replaced by storage reads:
    // the lexical drop set from the persisted pair table (no minhash,
    // no band self-join — the band keys hx/hy must be absent from the
    // whole plan) and the semantic verdicts from the ANN index's
    // dominance join (no embeddings scan, no training aggregates).
    val p = plan("c6_semantic_curation_served")
    assert(!p.contains("embeddings.parquet"),
      "semantic stage re-scanned the raw corpus (Lloyd crept back in):\n" + p.take(1500))
    assert(!p.contains("hx"),
      "lexical stage re-ran the banded self-join:\n" + p.take(1500))
    assert(p.contains("graft_pairs_tbl"),
      "lexical drop set not served from the persisted pair table:\n" + p.take(1500))
    assert(p.contains("ivf"),
      "semantic verdicts not served from the ANN index:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "curation degraded to an all-pairs comparison:\n" + p.take(1500))
  }

  test("d21: the applied-index census reads only index tables") {
    // The apply itself (ensureApplied) runs once per corpus; the CENSUS
    // — the steady-state read path — must serve from the purged index's
    // shingles and pairs tables alone: no corpus re-scan, no re-derived
    // pair chain (band keys absent), no all-pairs shape.
    val p = plan("d21_apply_action_plan")
    assert(!p.contains("documents.parquet"),
      "census re-scanned the corpus:\n" + p.take(1500))
    assert(!p.contains("hx"),
      "census re-ran the banded self-join:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "census degraded to an all-pairs comparison:\n" + p.take(1500))
  }

  test("s20: external-query search — broadcast probe join over pruned cells, group-limited") {
    // The candidate side joins ONLY through the broadcast query batch
    // (no corpus shuffle), the top-k window carries its group limit,
    // and nothing trains (the query side's bounded head read is a
    // collect at plan build, not part of this plan).
    val p = plan("s20_ann_external_query_search")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
        && !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"),
      "external search degraded to a shuffled or all-pairs join:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "top-k lost its group limit:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "search plan contains an aggregate (training crept in):\n" + p.take(1500))
  }

  test("s21: filtered external search — pruned, pushed label, broadcast-only") {
    // s20's plan contract plus the s15 filter contract: the candidate
    // read carries the cell partition prune, the lb bucket prune, AND
    // the pushed exact label equality; candidates join only through
    // the broadcast query batch.
    val p = plan("s21_ann_external_filtered_search")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
      "candidate read lost its cell partition filter:\n" + p.take(1500))
    assert("PartitionFilters: \\[[^\\]]*lb".r.findFirstIn(p).isDefined,
      "candidate read lost its label-bucket partition prune:\n" + p.take(1500))
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(p).isDefined,
      "label equality is not pushed into the parquet scan:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin")
        && !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"),
      "filtered search degraded to a shuffled or all-pairs join:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "top-k lost its group limit:\n" + p.take(1500))
    assert(!p.contains("HashAggregate"),
      "search plan contains an aggregate (training crept in):\n" + p.take(1500))
  }

  test("d23 probe: dominance-only multi-assignment — no Lloyd, no raw scan, no window") {
    // The d20 contract extended to the multi-assignment variant: the
    // second cell comes from one codegen'd projection over the STORED
    // vectors (never a training aggregate or a per-vector rank window —
    // rk is a generator ordinal), and dominance stays a join predicate.
    val p = plan("d23_semdedup_multicell_probe")
    assert(!p.contains("embeddings.parquet"),
      "probe re-scanned the raw corpus (training crept back in):\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dominance degraded to an all-pairs comparison:\n" + p.take(1500))
    assert(!p.contains("row_number"),
      "assignment/dominance became a window:\n" + p.take(1500))
  }

  test("m7: the phash projection is scan-local; banding is a hash join, never all-pairs") {
    // Payloads must never shuffle: the 56-bit hash is computed inside
    // the scan projection, only (doc_id, media_type, ph) reaches the
    // banded self-join, and that join is hash-based on (type, band,
    // value) — an all-pairs nested loop here is the O(n²) the banding
    // exists to avoid.
    val p = plan("m7_media_phash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "phash pairing degraded to an all-pairs comparison:\n" + p.take(1500))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      "expected a hash-based band join:\n" + p.take(1500))
    assert(!p.contains("row_number"),
      "m7 has no ranking — a window here is corpus-global state:\n" + p.take(1500))
    // The bucket cap is a partial-agg count + semi join, never a window
    // partitioned by the corpus-global bucket key (the d14 hot-key rule).
    assert(p.contains("partial_count"),
      "bucket-size census lost its partial phase:\n" + p.take(1500))
    assert(p.contains("LeftSemi"),
      "the band cap must filter through a semi join:\n" + p.take(1500))
  }

  test("t32: the gram-overlap join is hash-based with partial aggregation") {
    val p = plan("t32_decontamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decontamination degraded to an all-pairs comparison:\n" + p.take(1500))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      "expected a hash-based join on the gram key:\n" + p.take(1500))
    assert(p.contains("partial_"), "count-distinct lost its partial phase")
  }

  test("t26: the vocabulary join is hash-based, never a cartesian") {
    // The df side is NOT hint-broadcast (unbounded token spaces would
    // hit the broadcast limit); the optimizer may still pick broadcast
    // from stats when the vocabulary is actually small. The single-row
    // count crossJoin legitimately plans as a 1-row BNLJ; the guard is
    // on the word join and the catastrophic shapes.
    val p = plan("t26_tfidf_top_terms")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[word".r
      .findFirstIn(p).isDefined,
      "expected a hash-based join on word:\n" + p.take(1500))
  }

  test("t26: tf aggregation has a partial (map-side) phase") {
    assert(plan("t26_tfidf_top_terms").contains("partial_"))
  }

  test("q30/t35: both windows share ONE hash exchange; t35 never reads text") {
    // The latest-wins snapshot and the stratified sample each stack a
    // row_number and a count window over the same key — the scale
    // contract is that they plan onto a SINGLE hash partitioning (plus
    // only the presentation sort's range exchange), not one shuffle per
    // window.
    for ((name, key) <- Seq(("q30_latest_snapshot", "user_id"),
        ("t35_stratified_sample", "lang"))) {
      val p = plan(name)
      val hashEx = p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning")).toSeq
      assert(hashEx.size == 1, s"$name: expected one hash exchange:\n${hashEx.mkString("\n")}")
      assert(hashEx.head.contains(key), s"$name shuffles on the wrong key: ${hashEx.head}")
      val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(windows.size == 2 && windows.forall(_.contains(key)),
        s"$name: both windows must partition by $key:\n${windows.mkString("\n")}")
    }
    assert(!plan("t35_stratified_sample").contains("text"),
      "t35 must prune the text column from the documents scan")
  }

  test("s13: approximate-vs-exact comparison joins stay broadcast, never shuffled") {
    // Every join in the recall census carries a bounded side (the NQ-row
    // query head, the 50-row top-k sets) — a SortMergeJoin here means a
    // full shuffle of the candidate table sneaked in.
    val p = plan("s13_ann_recall")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("whole suite: no query plans a shuffled cartesian product") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty,
      s"queries planning CartesianProduct: ${offenders.mkString(", ")}")
  }

  test("whole suite: single-partition exchanges only below aggregates") {
    // A SinglePartition exchange fed by an aggregate carries
    // partition-count-sized (or group-count-sized) data — global
    // min/max/count finals and Ranks' per-partition offset table. A
    // SinglePartition exchange fed by anything else is sort-the-world:
    // a scale bug this guard exists to catch.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val root = SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition
              && !e.child.nodeName.contains("Aggregate") =>
          s"$name (above ${e.child.nodeName})"
      }
    }
    assert(offenders.isEmpty,
      s"non-aggregate SinglePartition exchanges: ${offenders.mkString(", ")}")
  }

  test("AQE splits a runtime-skewed join partition") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of left rows share one key; payload widens the skewed
      // partition past the threshold so AQE must split it.
      val left = spark.range(0, 60000)
        .select(
          when($"id" % 10 =!= 0, 0L).otherwise($"id").as("k"),
          lpad($"id".cast("string"), 64, "x").as("pad"))
      val right = spark.range(0, 500).select($"id".as("k"), lit(1).as("m"))
      val joined = left.join(right, Seq("k"))
      // Execute THIS DataFrame's own queryExecution (count() would build
      // a separate aggregate plan and leave this one un-finalized).
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE did not mark/split the skewed partition:\n" + p.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
