package graft.operators

import graft.functions.TextFns
import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the capstone composition showing the
  * dedup/quality/split primitives assemble into the actual
  * training-data pipeline a user would run:
  *
  *   1. quality gate: ≥ 20 whitespace tokens (t23's signal family);
  *   2. exact dedup: keep the smallest doc_id per md5(text) (d1);
  *   3. near-dup drop: any document appearing as the LARGER id of a
  *      MinHash-LSH near-dup pair (d2's pair generation, reused
  *      verbatim) is dropped — the deterministic keep-smaller rule;
  *   4. split: md5-bucket 80/10/10 train/valid/test (t27);
  *   5. census: surviving docs + token volume per (lang, split).
  *
  * Every stage is the oracle-checked operator itself (not a re-
  * implementation), and each is partition-parallel: two hash
  * aggregates, one banded self-join, one broadcast-able anti-join.
  */
object Curation extends OpModule {

  /** d2's pair CTE chain lifted out of its oracle — ONE extraction
    * shared by c1 and c5 (a second hand-spliced copy is how the
    * duckPlanPrefix drift of r11 happened). Ends at `scored(doc_a,
    * doc_b, jac)`. */
  private lazy val lexPairCtes: String = {
    val d2Oracle = Dedup.d2MinHashLsh.oracle.get
    d2Oracle.substring(
      d2Oracle.indexOf("WITH ") + 5, d2Oracle.lastIndexOf("SELECT doc_a"))
      .trim.stripSuffix(",")
  }

  val c1Curation: Op = Op(
    "c1_corpus_curation", {
      Some(s"""
      WITH $lexPairCtes,
      base AS (
        SELECT doc_id, lang, text,
               len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 20
      ), exact AS (
        SELECT * FROM base
        WHERE doc_id IN (SELECT MIN(doc_id) FROM base GROUP BY md5(text))
      ), neardrop AS (
        SELECT * FROM exact
        WHERE doc_id NOT IN (SELECT doc_b FROM scored WHERE jac >= 0.5)
      ), split AS (
        SELECT lang, n_tokens, ${HashSplit.duckSplit("doc_id")} AS split
        FROM neardrop
      )
      SELECT lang, split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM split
      GROUP BY lang, split
      ORDER BY lang, split
    """)
    })((spark, dir) =>
    // d2's pair SET (unsorted): the anti-join needs membership, not order.
    curate(spark, dir,
      Dedup.d2Pairs(spark, dir).select(col("doc_b").as("doc_id")).distinct()))

  /** Semantic curation census (c5): c1's curation DAG with a SEMANTIC
    * dedup stage composed in — the two-signal pipeline every real
    * training-data curation runs (SemDeDup's own evaluation stacks it
    * on top of exact/lexical dedup). The embeddings table keys 1:1
    * with documents (vec_id ≡ doc_id), so the drop set is the UNION of
    * c1's lexical near-dup losers (d2's doc_b side) and d18's
    * semantically dominated members (kept = false) — the census then
    * aggregates the same survivor definition as c1 over the widened
    * drop set, so quality gate, exact-dedup winner rule and split
    * assignment CANNOT drift between the two ops (one `curate`).
    * Anti-join drops compose order-independently: survivors = exact ∖
    * lex ∖ sem however staged, which is why a drop-set union and the
    * oracle's chained NOT IN stages agree. Scale shape: both subtrees
    * are the pinned c1/d18 plans; at 100 TB the semantic side is
    * served from the persisted index (d20's probeSemDedup — no
    * retraining) exactly as c1's lexical side anti-joins the persisted
    * pair table (curateAgainstPairs). */
  val c5SemanticCuration: Op = Op(
    "c5_semantic_curation",
    Some(s"""
      WITH $lexPairCtes,
      ${Similarity.duckVecs()},
      ${Similarity.duckLloydChain()},
      ${Dedup.duckSemDomCtes},
      base AS (
        SELECT doc_id, lang, text,
               len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 20
      ), exact AS (
        SELECT * FROM base
        WHERE doc_id IN (SELECT MIN(doc_id) FROM base GROUP BY md5(text))
      ), neardrop AS (
        SELECT * FROM exact
        WHERE doc_id NOT IN (SELECT doc_b FROM scored WHERE jac >= 0.5)
      ), semdrop AS (
        SELECT * FROM neardrop
        WHERE doc_id NOT IN (SELECT vec_id FROM dom)
      ), split AS (
        SELECT lang, n_tokens, ${HashSplit.duckSplit("doc_id")} AS split
        FROM semdrop
      )
      SELECT lang, split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM split
      GROUP BY lang, split
      ORDER BY lang, split
    """))((spark, dir) => {
    // Both drop sides are SET forms (the d2Pairs rule): d18's verdict
    // table would re-attach kept to every row and pay a presentation
    // sort the anti-join never reads.
    //
    // Overlap: semDroppedIds' construction BLOCKS the driver on Lloyd's
    // synchronous collect rounds while the cores sit mostly idle; the
    // lexical subtree is completely independent of the embedding side,
    // so a second driver thread materializes its cached drop set during
    // that window (FIFO scheduling back-fills the idle cores with the
    // shingle/band stages). The join below means the final query always
    // reads a fully-built cache — same frames, same result.
    def buildLex() = {
      val l = Dedup.d2Pairs(spark, dir)
        .select(col("doc_b").as("doc_id")).distinct().cache()
      l.count() // fully materialized: the final query reads, never rebuilds
      l
    }
    // Construction AND materialization both live on the second thread:
    // buildLex's count() is eager, so an inline call would run the whole
    // lexical chain before training ever starts. A thread created per
    // call (not a pooled one) inherits this thread's Spark local
    // properties (job group, scheduler pool, ...).
    val lexF = java.util.concurrent.CompletableFuture.supplyAsync(() => buildLex(),
      (r: Runnable) => {
        val t = new Thread(r, "c5-lex-prefetch")
        t.setDaemon(true)
        t.start()
      })
    val semBase =
      try Dedup.semDroppedIds(spark, dir, Similarity.KC)
      catch { case t: Throwable =>
        // Don't leak running lex jobs into a caller's next attempt.
        try lexF.join() catch { case _: Throwable => () }
        throw t
      }
    // A lex-side failure rethrows with its own type, as inline would.
    val lex =
      try lexF.join()
      catch { case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause }
    val sem = semBase.select(col("vec_id").as("doc_id"))
    curate(spark, dir, lex.unionByName(sem).distinct())
  })

  /** Row-level SURVIVORS of the curation DAG (quality gate → exact
    * dedup → near-dup drop): (doc_id, lang, text, n_tokens). THE one
    * definition of "what the curated corpus contains" — the c1 census
    * aggregates it and the terminal export ships it, so the two can
    * never diverge (a hand-copied stage list in the export is exactly
    * how the census and the shipped corpus drift apart). */
  private[graft] def survivors(spark: org.apache.spark.sql.SparkSession, dir: String,
      nearDupDocs: org.apache.spark.sql.DataFrame,
      keep: Seq[String] = Seq("doc_id", "lang", "text", "n_tokens"))
      : org.apache.spark.sql.DataFrame = {
    val base = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"),
        size(TextFns.tokens(col("text"))).as("n_tokens"))
      .filter(col("n_tokens") >= 20)
    // Exact dedup as ONE min_by aggregate (not groupBy-min + semi-join
    // back): the join shape reads and tokenizes the corpus twice and
    // shuffles it twice; min_by keeps the winning row in a single
    // map-side-combinable pass, so each hash group ships at most one
    // candidate row per input partition. doc_id is unique, so the
    // winner is deterministic. `keep` narrows the carried payload —
    // the md5 group key is computed BEFORE the exchange, so a caller
    // that doesn't need `text` downstream (c1's census) never ships
    // document bodies through the shuffle; the STAGE LIST stays this
    // one definition either way.
    base.groupBy(md5(col("text")).as("h"))
      .agg(min_by(struct(keep.map(col): _*), col("doc_id")).as("r"))
      .select(keep.map(k => col(s"r.$k").as(k)): _*)
      .join(nearDupDocs, Seq("doc_id"), "anti")
  }

  /** The curation DAG with the near-dup drop set injected — shared by
    * the inline oracle query (c1) and the persisted-pair-table path. */
  private def curate(spark: org.apache.spark.sql.SparkSession, dir: String,
      nearDupDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    survivors(spark, dir, nearDupDocs, keep = Seq("doc_id", "lang", "n_tokens"))
      .select(col("lang"), col("n_tokens"), HashSplit.splitOf(col("doc_id")).as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy("lang", "split")

  /** Build the near-dup pair table ONCE and persist it. c1 recomputes
    * d2's banded self-join inside its own DAG — correct, but at 100 TB
    * the pair table is the expensive nightly artifact: build it here,
    * write it to the warehouse, and let every curation run (and any
    * incremental re-curation) anti-join against the stored table via
    * [[curateAgainstPairs]] instead of re-deriving it per query. */
  def persistNearDupPairs(spark: org.apache.spark.sql.SparkSession, dir: String,
      tablePath: String): Long = {
    // Unsorted pair SET: parquet has no meaningful row order and every
    // reader treats the table as a set — d2's ORDER BY would be a
    // table-wide sort paid for nothing.
    Dedup.d2Pairs(spark, dir)
      .write.mode("overwrite").parquet(tablePath)
    // Stamp the hash family AFTER the overwrite (which clears the dir):
    // a pair table persisted under an older minhash family would
    // otherwise be consumed silently by curateAgainstPairs.
    NearDupIndex.writeFamilyStamp(spark, tablePath)
    spark.read.parquet(tablePath).count()
  }

  /** c1's curation census computed against a persisted pair table —
    * byte-identical output to the inline pipeline (CurationSpec pins
    * the equivalence). Refuses a table stamped with a different minhash
    * family (or none) — re-run [[persistNearDupPairs]] instead of
    * curating against stale pairs. */
  def curateAgainstPairs(spark: org.apache.spark.sql.SparkSession, dir: String,
      tablePath: String): org.apache.spark.sql.DataFrame =
    curate(spark, dir, pairDropSet(spark, tablePath))

  /** The row-level curated corpus against a persisted pair table —
    * what [[curateAgainstPairs]] censuses and what an export ships. */
  def survivorsAgainstPairs(spark: org.apache.spark.sql.SparkSession, dir: String,
      tablePath: String): org.apache.spark.sql.DataFrame =
    survivors(spark, dir, pairDropSet(spark, tablePath))

  /** Distinct doc_bs of a stamped pair table — projected BEFORE the one
    * distinct (a row-level distinct of the full (a,b,jaccard) set first
    * would shuffle the whole pair table twice for nothing). */
  private def pairDropSet(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): org.apache.spark.sql.DataFrame = {
    NearDupIndex.requireFamily(spark, tablePath, "near-dup pair table")
    NearDupIndex.pairsTableRaw(spark, tablePath)
      .select(col("doc_b").as("doc_id")).distinct()
  }

  /** Funnel census: how many documents each curation stage keeps, per
    * language — raw → quality gate → exact dedup → near-dup drop, the
    * same stages (and the same oracle-checked building blocks) as c1,
    * but reported as per-stage attrition instead of only the final
    * survivors. This is the accounting view every pipeline run ships
    * with: a stage suddenly dropping 40% of one language is the
    * regression signal, and it's invisible in c1's end-state census.
    * n_dropped is a lag window over the stage axis (4 rows per lang —
    * the window is over a BOUNDED key, not the corpus). All four stage
    * memberships come out of ONE corpus pass as per-row flags (the
    * exact-dedup winner is a min-window over the text hash, computed on
    * pre-projected (id, lang, flag, hash) rows so document text never
    * enters a shuffle), then a single per-lang aggregate unpivots into
    * the funnel — the staged-UNION shape would re-read and re-tokenize
    * the corpus once per stage. */
  val c2CurationFunnel: Op = Op(
    "c2_curation_funnel",
    Some(s"""
      WITH ${Dedup.duckPairCtes},
      raw AS (SELECT doc_id, lang FROM documents),
      base AS (
        SELECT doc_id, lang
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 20
      ), exact AS (
        SELECT doc_id, lang FROM base
        WHERE doc_id IN (
          SELECT MIN(doc_id) FROM documents
          WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 20
          GROUP BY md5(text))
      ), neardrop AS (
        SELECT doc_id, lang FROM exact
        WHERE doc_id NOT IN (SELECT doc_b FROM scored WHERE jac >= ${Dedup.jaccardThreshold})
      ), staged AS (
        SELECT 1 AS stage_idx, 'raw' AS stage, lang FROM raw
        UNION ALL SELECT 2, 'quality', lang FROM base
        UNION ALL SELECT 3, 'exact_dedup', lang FROM exact
        UNION ALL SELECT 4, 'near_dedup', lang FROM neardrop
      ), census AS (
        SELECT lang, stage_idx, stage, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM staged GROUP BY lang, stage_idx, stage
      )
      SELECT lang, CAST(stage_idx AS INTEGER) AS stage_idx, stage, n_docs,
             CAST(COALESCE(LAG(n_docs) OVER (PARTITION BY lang ORDER BY stage_idx)
                           - n_docs, 0) AS BIGINT) AS n_dropped
      FROM census
      ORDER BY lang, stage_idx
    """))((spark, dir) => {
    // Fused corpus frame: the funnel's flag frame and d2's shingle chain
    // would each scan + tokenize the corpus in their own cached pass.
    // One pass computes flags AND the shingle hash array; the pair chain
    // feeds from the same cache through the d2PairsFromShingles seam, so
    // the shingle definition cannot drift. (c1/c5's curate base is a
    // pipelined uncached min_by, so fusing does not pay there.) Two-step
    // select: CollapseProject would otherwise inline `w` into each
    // consumer and tokenize three times per row.
    val fused = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"),
        TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("lang"),
        (size(col("w")) >= 20).as("q"), md5(col("text")).as("h"),
        when(size(col("w")) >= 3, Dedup.shingleHashCol(col("w"))).as("sh"))
      .cache()
    // Not primed: the racing readers pipeline rather than saturate (the
    // [[Tables.prime]] rule).
    val pairs = Dedup.d2PairsFromShingles(
      fused.filter(col("sh").isNotNull).select(col("doc_id"), col("sh")))
    funnelFrom(fused.select("doc_id", "lang", "q", "h"),
      pairs.select(col("doc_b").as("doc_id")).distinct())
  })

  /** c2's per-stage attrition census with the near-dup drop set
    * injected — shared by the inline oracle query and
    * [[fromPersisted]]. */
  private def funnel(spark: org.apache.spark.sql.SparkSession, dir: String,
      nearDupDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    funnelFrom(
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"),
          (size(TextFns.tokens(col("text"))) >= 20).as("q"),
          md5(col("text")).as("h"))
        .cache(),
      nearDupDocs)

  /** The funnel body over a pre-derived (cached) per-document flag frame
    * (doc_id, lang, q, h) — the seam that lets the inline c2 share ONE
    * corpus pass with the shingle chain while the persisted path keeps
    * its plain frame. */
  private def funnelFrom(docs: org.apache.spark.sql.DataFrame,
      nearDupDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact-dedup winner per text hash AMONG quality docs; rows with a
    // false/null quality flag never win (when() maps them to null, and
    // min ignores nulls). Hash-agg + SHUFFLE_HASH join back, never an
    // md5(text) window: a 10M-copy boilerplate text would sort/buffer
    // in ONE unsplittable window task, while the agg collapses it
    // map-side and the join streams (the d14/d17 hot-key rule).
    val mins = docs.groupBy("h").agg(min(when(col("q"), col("doc_id"))).as("mn"))
    // LEFT join: h = md5(text) is null for null-text documents, and an
    // equi-join key never matches null — an inner join would erase those
    // rows from EVERY stage count including n_raw, while the oracle's
    // raw CTE counts all documents. `exact` stays null-safe (q is null
    // for null text, so the conjunction is falsy either way).
    val flagged = docs
      .join(mins.hint("shuffle_hash"), Seq("h"), "left")
      .withColumn("exact", col("q") && col("doc_id") === col("mn"))
      // distinct BEFORE the left join: survivors() tolerates duplicate
      // doc_ids in the drop set (anti join is membership), so the funnel
      // must too — a duplicated id would fan out its flagged row and
      // inflate EVERY stage count, not just near_dedup.
      .join(nearDupDocs.select("doc_id").distinct().withColumn("neardup", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("near", col("exact") && col("neardup").isNull)
    val perLang = flagged.groupBy("lang").agg(
      count(lit(1)).as("n_raw"),
      sum(col("q").cast("long")).as("n_quality"),
      sum(col("exact").cast("long")).as("n_exact"),
      sum(col("near").cast("long")).as("n_near"))
    // Unpivot to the funnel rows; a stage a language never reaches has
    // no census row in the staged-UNION formulation (GROUP BY emits no
    // empty groups), so drop the zero rows to match.
    val census = perLang
      .select(col("lang"), expr(
        "stack(4, 1, 'raw', n_raw, 2, 'quality', n_quality, " +
          "3, 'exact_dedup', n_exact, 4, 'near_dedup', n_near) " +
          "AS (stage_idx, stage, n_docs)"))
      .filter(col("n_docs") > 0)
    census
      .withColumn("n_dropped", coalesce(
        lag(col("n_docs"), 1).over(
          Window.partitionBy("lang").orderBy("stage_idx")) - col("n_docs"),
        lit(0L)))
      .orderBy("lang", "stage_idx")
  }

  /** Split-leakage audit: MinHash-LSH near-dup pairs that STRADDLE the
    * t27 train/valid/test boundary — each such pair is evaluation data
    * the model effectively trained on. This is the decontamination
    * check run WITHIN a corpus (t32 checks against an external
    * benchmark): hash-splitting by doc_id guarantees uniformity but
    * not independence of near-duplicates, so the leakage table is the
    * artifact that tells you whether to move to group-aware splitting
    * (split by cluster/domain, not document). Split labels derive from
    * doc_id arithmetic directly — auditing the pair table needs NO join
    * back to the corpus, so at 100 TB it costs one pass over the
    * (LSH-small) pair set. Pairs are reported under (split_a, split_b)
    * ordered lexically so (train,test) and (test,train) collapse. */
  val c3SplitLeakage: Op = Op(
    "c3_split_leakage",
    Some(s"""
      WITH ${Dedup.duckPairCtes},
      pairs AS (SELECT doc_a, doc_b FROM scored WHERE jac >= ${Dedup.jaccardThreshold}),
      lab AS (
        SELECT doc_a, doc_b,
               ${HashSplit.duckSplit("doc_a")} AS sa,
               ${HashSplit.duckSplit("doc_b")} AS sb
        FROM pairs
      )
      SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MIN(doc_a) AS BIGINT) AS min_doc_a
      FROM lab WHERE sa <> sb
      GROUP BY 1, 2
      ORDER BY split_a, split_b
    """))((spark, dir) => leakage(Dedup.d2Pairs(spark, dir)))

  /** c3's straddle census over an arbitrary pair SET — needs no corpus
    * join (split labels are doc_id arithmetic), so the persisted path
    * costs one pass over the stored table. */
  private def leakage(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pairs
      .select(col("doc_a"), col("doc_b"),
        HashSplit.splitOf(col("doc_a")).as("sa"), HashSplit.splitOf(col("doc_b")).as("sb"))
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"), min(col("doc_a")).as("min_doc_a"))
      .orderBy("split_a", "split_b")

  /** Group-aware splitting — the remedy c3's leakage audit motivates:
    * every member of a near-dup cluster (d6's connected components)
    * inherits the split of its cluster MINIMUM doc_id, so near-duplicate
    * pairs can never straddle train/valid/test; singletons keep their
    * own hash split. Output is the per-split census plus how many
    * documents were REASSIGNED relative to naive per-doc hashing — the
    * cost of leakage-freedom, which is the number a pipeline owner
    * reviews before adopting group splits. At scale: split labels are
    * doc_id arithmetic, the only join is corpus ⟕ (tiny) cluster map,
    * broadcast-able by LSH design. CurationSpec pins the zero-leakage
    * property c3 can then verify. */
  val c4GroupSplit: Op = Op(
    "c4_group_split",
    Some(s"""
      WITH RECURSIVE ${Dedup.duckPairCtes},
      pairs AS (SELECT doc_a, doc_b FROM scored WHERE jac >= ${Dedup.jaccardThreshold}),
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
      ), lab AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS group_key
        FROM documents d LEFT JOIN comp c USING (doc_id)
      ), split AS (
        SELECT doc_id,
               ${HashSplit.duckSplit("group_key")} AS split,
               ${HashSplit.duckSplit("doc_id")} AS own_split
        FROM lab
      )
      SELECT split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN split <> own_split THEN 1 ELSE 0 END) AS BIGINT) AS n_reassigned
      FROM split
      GROUP BY split
      ORDER BY split
    """))((spark, dir) =>
    groupSplitCensus(groupSplitLabels(spark, dir, Dedup.d2Pairs(spark, dir))))

  private def groupSplitCensus(
      labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    labels
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") =!= col("own_split"), 1L).otherwise(0L)).as("n_reassigned"))
      .orderBy("split")

  /** Per-document group-aware split labels (split = the cluster-min
    * doc's hash split, own_split = the doc's naive hash split) — the
    * assignment c4 censuses and the spec audits for zero leakage. */
  private[operators] def groupSplitLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String, pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val comp = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(comp), Seq("doc_id"), "left")
      .select(col("doc_id"),
        HashSplit.splitOf(coalesce(col("cluster_id"), col("doc_id"))).as("split"),
        HashSplit.splitOf(col("doc_id")).as("own_split"))
  }

  /** Test-only accessor for the per-doc label assignment. */
  def c4GroupSplitLabelsForTest(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    groupSplitLabels(spark, dir, Dedup.d2Pairs(spark, dir))

  /** Persist d8's embedding near-dup pair table, stamped with the
    * EMBEDDING family id ([[Dedup.embFamilyId]]) — the vector twin of
    * [[persistNearDupPairs]], consumed by [[fromPersisted]] for d12's
    * canonical-vector selection. */
  def persistEmbeddingPairs(spark: org.apache.spark.sql.SparkSession, dir: String,
      tablePath: String): Long = {
    Dedup.d8Pairs(spark, dir)
      .write.mode("overwrite").parquet(tablePath)
    NearDupIndex.writeFamilyStamp(spark, tablePath, Dedup.embFamilyId)
    spark.read.parquet(tablePath).count()
  }

  /** Every pair-consuming curation artifact served from PERSISTED pair
    * tables — the production shape at 100 TB, where the pair tables are
    * the expensive nightly artifacts maintained incrementally by
    * [[NearDupIndex]] (text) and rebuilt by [[persistEmbeddingPairs]]
    * (vectors), and each downstream decision is a cheap join against
    * storage instead of a banded self-join re-derivation per run.
    * Family stamps are checked on EVERY accessor (the underlying tables
    * can be rebuilt between calls); outputs are pinned byte-identical to
    * the inline operators by CurationSpec. `textPairs` is a stamped d2
    * pair table (e.g. `<indexRoot>/pairs`); `embPairs` a stamped d8
    * table, or None when only the text side exists. d10 is NOT here by
    * design: it consumes gram statistics, not the pair table. */
  final class FromPersisted private[Curation] (
      spark: org.apache.spark.sql.SparkSession, dir: String,
      textPairsPath: String, embPairsPath: Option[String]) {

    private def textPairs: org.apache.spark.sql.DataFrame = {
      NearDupIndex.requireFamily(spark, textPairsPath, "near-dup pair table")
      NearDupIndex.pairsTableRaw(spark, textPairsPath)
    }

    private def embPairs: org.apache.spark.sql.DataFrame = {
      val p = embPairsPath.getOrElse(throw new IllegalStateException(
        "this FromPersisted was built without an embedding pair table — " +
          "persist one with Curation.persistEmbeddingPairs and pass its path"))
      NearDupIndex.requireFamily(spark, p, "embedding pair table", Dedup.embFamilyId)
      spark.read.parquet(p)
    }

    private def dropSet: org.apache.spark.sql.DataFrame =
      textPairs.select(col("doc_b").as("doc_id")).distinct()

    /** c1: final curation census. */
    def census: org.apache.spark.sql.DataFrame = curate(spark, dir, dropSet)
    /** The row-level curated corpus the census counts and exports ship. */
    def survivors: org.apache.spark.sql.DataFrame =
      Curation.survivors(spark, dir, dropSet)
    /** c2: per-stage attrition funnel. */
    def funnel: org.apache.spark.sql.DataFrame = Curation.funnel(spark, dir, dropSet)
    /** c3: split-leakage audit over the stored pair set. The count is
      * multiplicity-sensitive, so the raw read's tolerated
      * exact-duplicate rows (replayed crash appends) must be collapsed
      * first — projected to the two id columns BEFORE the distinct
      * (jaccard is family-deterministic per pair, so the projection
      * loses nothing). */
    def leakage: org.apache.spark.sql.DataFrame =
      Curation.leakage(textPairs.select(col("doc_a"), col("doc_b")).distinct())
    /** c4: group-aware split census. */
    def groupSplit: org.apache.spark.sql.DataFrame =
      groupSplitCensus(groupSplitLabels(spark, dir, textPairs))
    /** d9: canonical-doc selection over the stored text pairs. */
    def canonicalDocs: org.apache.spark.sql.DataFrame =
      Dedup.canonicalDocsFrom(spark, dir, textPairs)
    /** d12: canonical-vector selection over the stored embedding pairs. */
    def canonicalVectors: org.apache.spark.sql.DataFrame =
      Dedup.canonicalVectorsFrom(spark, dir, embPairs)
    /** d17: the per-document action plan (drop_exact > drop_near > trim
      * > keep + token ledger) with the near-dup decisions served from
      * the stored text pairs; exact groups and span cuts compute inline
      * (one cheap agg / the df-pruned span join — neither is a persisted
      * artifact). */
    def actionPlan: org.apache.spark.sql.DataFrame =
      Dedup.actionPlanFrom(spark, dir, textPairs)
    /** c5: the semantic curation census with BOTH dedup signals served
      * from storage — lexical drops from the stored pair table, the
      * semantic dominance verdicts from the persisted ANN index
      * ([[AnnIndex.probeSemDedup]]: dominance join only, no Lloyd
      * retraining). The 100 TB shape of [[c5SemanticCuration]]; the
      * index must be built on the SAME corpus at the default kc (its
      * commit marker enforces corpus identity, [[AnnIndex.ensureBuilt]]
      * the geometry). */
    def semanticCensus(annRoot: String): org.apache.spark.sql.DataFrame = {
      val sem = AnnIndex.probeSemDroppedIds(spark, annRoot)
        .select(col("vec_id").as("doc_id"))
      curate(spark, dir, dropSet.unionByName(sem).distinct())
    }
  }

  /** Index-backed curation over stored pair tables — see
    * [[FromPersisted]]. */
  def fromPersisted(spark: org.apache.spark.sql.SparkSession, dir: String,
      textPairsPath: String, embPairsPath: Option[String] = None): FromPersisted =
    new FromPersisted(spark, dir, textPairsPath, embPairsPath)

  override def ops: Seq[Op] =
    Seq(c1Curation, c2CurationFunnel, c3SplitLeakage, c4GroupSplit,
      c5SemanticCuration)
}
