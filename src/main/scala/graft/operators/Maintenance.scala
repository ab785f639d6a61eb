package graft.operators

import graft.{Op, OpModule, Persist, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index lifecycle composition: EXECUTING the curation action plan
  * against the persisted indexes, instead of only describing it.
  *
  * d17 computes per-document decisions (drop_exact / drop_near / trim /
  * keep) and d19 materializes the cleaned corpus; neither removes those
  * documents from the persisted [[NearDupIndex]]/[[AnnIndex]] state, whose
  * stored bands/shingles/codes would keep serving ghosts of dropped
  * documents after every curation pass. [[applyPlan]] closes the loop
  * with the standard delete-vector lifecycle: tombstone the dropped AND
  * trimmed ids (cheap logical
  * remove), purge (physical rewrite of only the touched state), then
  * re-index the trimmed documents under their d19-rebuilt text — after
  * which the index is EQUAL to a fresh build over the cleaned corpus
  * (MaintenanceSpec pins the equality exactly; the d21 oracle pins it
  * cross-engine, DuckDB re-deriving the pair set from the cleaned
  * corpus it mirrors out of d19's own chain).
  *
  * Scale shape: the plan and the rebuilt text are d17/d19's own
  * partition-parallel plans; remove is O(plan) appends; the purge
  * rewrites each flat index table once (compaction-class, the nightly
  * cadence this composition runs at); the re-add is one incremental
  * [[NearDupIndex.addDocuments]] batch — candidates probe colliding
  * buckets only, never the whole index. */
object Maintenance extends OpModule {

  /** Execute the dedup action plan against a populated near-dup index
    * (and optionally the ANN index for the embedding side): compute
    * d17's plan FROM THE INDEX'S OWN pair table, stage the decisions,
    * tombstone every dropped and trimmed document, purge, and re-index
    * the trimmed documents under their rebuilt (span-excised) text.
    * The decisions are STAGED to parquet (marker-committed) before any
    * mutation, and a replay RESUMES from the staged plan rather than
    * recomputing it: the plan derives from the pair table the mutations
    * rewrite, so a post-crash recompute would see the tombstone-filtered
    * pairs, re-derive a smaller plan, and silently never re-add the
    * trimmed documents. With the staged plan pinned, every mutation
    * replays idempotently — remove skips existing tombstones, purge
    * replays as no-op rewrites, the re-add's anti-join skips docs that
    * already committed — and the staging directory is deleted only at
    * the end (the apply's commit point).
    *
    * The embedding side applies DROPS only: a trimmed document keeps
    * its stored vector (re-embedding edited text is an upstream model
    * call, not an index operation — the seam is [[AnnIndex.remove]] +
    * re-[[AnnIndex.append]] once new embeddings exist).
    *
    * Returns the apply census: documents dropped, trimmed, pairs found
    * by the re-index pass, and per-table purge drop counts. */
  def applyPlan(spark: SparkSession, dir: String, root: String,
      annRoot: Option[String] = None): Map[String, Long] = {
    val staging = s"$root/_apply_staging"
    if (!Persist.readMarker(spark, s"$staging/_staged").contains(StagedMarker))
      stagePlan(spark, dir, root)
    val plan = spark.read.parquet(s"$staging/plan")
    val drops = plan.filter(col("action") =!= "trim").select("doc_id")
    val nDrop = drops.count()
    val nTrim = plan.filter(col("action") === "trim").count()
    // Text index: drops AND trims leave (the trim re-add below restores
    // the trimmed docs under their new shingles).
    NearDupIndex.remove(spark, root, plan.select("doc_id"))
    val purged = NearDupIndex.purgeTombstones(spark, root)
    val rebuilt = spark.read.parquet(s"$staging/rebuilt")
    val nNew = NearDupIndex.addDocuments(spark, rebuilt, root)
    // Embedding index: vec_id ≡ doc_id for this corpus; drops only.
    annRoot.foreach { ar =>
      AnnIndex.remove(spark, ar, drops)
      AnnIndex.purgeTombstones(spark, ar)
    }
    Persist.delete(spark, staging)
    Map("dropped_docs" -> nDrop, "trimmed_docs" -> nTrim,
      "reindex_pairs" -> nNew) ++
      purged.map { case (t, n) => s"purged_$t" -> n }
  }

  private val StagedMarker = "staged v1\n"

  /** Derive and stage the apply decisions from the index's CURRENT pair
    * table: the non-keep plan rows and the trimmed docs' rebuilt text,
    * marker-committed so [[applyPlan]] (and its crash replays) read one
    * pinned plan however the mutations below it progress. Exposed
    * package-private so MaintenanceSpec can forge a mid-apply crash
    * (staged, partially mutated) without duplicating the staging. */
  private[operators] def stagePlan(spark: SparkSession, dir: String,
      root: String): Unit = {
    val staging = s"$root/_apply_staging"
    val pairs = NearDupIndex.pairs(spark, root)
    Dedup.actionPlanFrom(spark, dir, pairs)
      .filter(col("action") =!= "keep")
      .select("doc_id", "action")
      .write.mode("overwrite").parquet(s"$staging/plan")
    Dedup.cleanedDocsFrom(spark, dir, pairs)
      .filter(col("action") === "trim")
      .select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$staging/rebuilt")
    Persist.writeMarker(spark, s"$staging/_staged", StagedMarker)
  }

  /** A per-corpus `root` that `fill` populates once per corpus: wiped
    * and refilled whenever its `marker` does not carry the current
    * documents fingerprint, so the artifact amortizes over every query
    * asked of it and timed repetitions measure the read path. */
  private def corpusArtifact(spark: SparkSession, dir: String, root: String,
      marker: String)(fill: String => Unit): String = {
    Persist.buildOnce(spark, dir, "documents.parquet", s"$root/$marker", "v1 ") { want =>
      Persist.delete(spark, root)
      fill(root)
      Persist.writeMarker(spark, s"$root/$marker", want)
    }
    root
  }

  /** Deterministic per-corpus root for the APPLIED index (the d21
    * gate artifact — test/bench convenience, production callers manage
    * their own roots). */
  def appliedRoot(dir: String): String = Persist.corpusRoot("applied_idx_v1", dir)

  /** Build-index-then-apply once per corpus. */
  private def ensureApplied(spark: SparkSession, dir: String): String =
    corpusArtifact(spark, dir, appliedRoot(dir), "_applied") { root =>
      NearDupIndex.addDocuments(spark, Tables.documents(spark, dir), root)
      applyPlan(spark, dir, root)
    }

  /** d21: the per-document index census AFTER the action plan ran —
    * "curation actually executed" as an oracle-checked fact. One row
    * per LIVE indexed document: its stored (post-surgery) shingle-set
    * size and its degree in the purged-and-reindexed pair table. The
    * DuckDB mirror re-derives the cleaned corpus with d19's own chain
    * (loser sets + span surgery + space-joined kept tokens) and runs
    * d2's full minhash chain OVER IT (prefixed CTEs — the raw-corpus
    * chain is still in scope feeding the loser sets), so every piece
    * of the lifecycle — which docs left, which survived, how trimming
    * changed their shingle sets, which pairs the purge dropped and the
    * re-index found — must agree bit-for-bit across engines. Equality
    * holds by construction: unchanged survivors keep their original
    * rows (tokenization collapses whitespace, so shingles of original
    * and space-joined text are identical), trimmed docs are re-indexed
    * from the same rebuilt token stream the oracle joins, and every
    * pair touching a removed doc was purged (MaintenanceSpec pins the
    * full state against a fresh build on the cleaned corpus). */
  val d21AppliedCensus: Op = Op(
    "d21_apply_action_plan",
    Some(s"""
      ${Dedup.duckPlanPrefix},
      ivs AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s, e) AS ivs
              FROM mg GROUP BY doc_id),
      cleaned AS (
        SELECT t.doc_id,
               array_to_string(
                 CASE WHEN i.ivs IS NULL THEN t.w
                      ELSE list_filter(t.w, (x, j) ->
                        len(list_filter(i.ivs, iv -> j >= iv.s AND j <= iv.e)) = 0)
                 END, ' ') AS text
        FROM toks t
        LEFT JOIN exactloser ex USING (doc_id)
        LEFT JOIN nearloser nl USING (doc_id)
        LEFT JOIN ivs i USING (doc_id)
        WHERE ex.doc_id IS NULL AND nl.doc_id IS NULL
      ),
      ${Dedup.duckPairCtesFrom("cleaned", "ap_")},
      appairs AS (
        SELECT doc_a, doc_b FROM ap_scored
        WHERE jac >= ${Dedup.jaccardThreshold}
      ),
      apdeg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (
          SELECT doc_a AS doc_id FROM appairs
          UNION ALL SELECT doc_b FROM appairs) z
        GROUP BY doc_id
      )
      SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_shingles,
             COALESCE(d.n_pairs, 0) AS n_pairs
      FROM ap_sh s LEFT JOIN apdeg d USING (doc_id)
      ORDER BY s.doc_id
    """))((spark, dir) => {
    val root = ensureApplied(spark, dir)
    val deg = NearDupIndex.pairs(spark, root)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))
    NearDupIndex.docStats(spark, root)
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("doc_id")
  })

  /** Deterministic per-corpus root for the persisted d2 pair table
    * (c6's lexical side). */
  def pairsRoot(dir: String): String = Persist.corpusRoot("pairs_tbl_v1", dir)

  /** Persist the d2 pair table once per corpus — the c6 probe's lexical
    * storage artifact. */
  private def ensurePairsTable(spark: SparkSession, dir: String): String =
    corpusArtifact(spark, dir, pairsRoot(dir), "_built_pairs")(root =>
      Curation.persistNearDupPairs(spark, dir, s"$root/pairs")) + "/pairs"

  /** c6: c5's two-signal semantic curation census served ENTIRELY from
    * storage — the 100 TB path, driver-graded (it shares c5's oracle
    * exactly as d20 shares d18's: same trainer, same corpus, same
    * geometry, so the census is equal by construction). The lexical
    * drop set comes from the persisted pair table; the semantic
    * dominance verdicts from the persisted ANN index (dominance join
    * only — no banded self-join, no Lloyd retraining anywhere in the
    * plan; PlanAuditSpec pins both absences). */
  val c6SemanticCurationServed: Op = Op(
    "c6_semantic_curation_served",
    Curation.c5SemanticCuration.oracle)((spark, dir) => {
    val pairsPath = ensurePairsTable(spark, dir)
    val annRoot = AnnIndex.defaultRoot(dir)
    AnnIndex.ensureBuilt(spark, dir, annRoot)
    Curation.fromPersisted(spark, dir, pairsPath).semanticCensus(annRoot)
  })

  override def ops: Seq[Op] = Seq(d21AppliedCensus, c6SemanticCurationServed)
}
