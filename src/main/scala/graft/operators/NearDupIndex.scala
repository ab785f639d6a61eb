package graft.operators

import graft.Persist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MinHash-LSH near-duplicate index.
  *
  * [[Curation.persistNearDupPairs]] rebuilds the pair table wholesale;
  * at corpus scale the nightly reality is "N new documents against an
  * indexed corpus of billions". This index keeps three append-only
  * parquet tables under one root — `bands` (doc_id, band, hx, hy),
  * `shingles` (doc_id, sh), `pairs` (doc_a, doc_b, jaccard) — and
  * [[addDocuments]] indexes a batch in O(new docs × bucket size):
  *
  *  1. new docs' shingles + band keys via d2's OWN stages
  *     ([[Dedup.shingled]] / [[Dedup.minhashBands]] — definitionally
  *     consistent with the batch operator);
  *  2. candidates = (old ∪ new) bands ⋈ NEW bands on the band key —
  *     the indexed corpus is only ever probed on colliding buckets,
  *     never rescanned;
  *  3. exact-Jaccard rescoring of candidates, threshold filter,
  *     append to `pairs`; new docs' bands/shingles appended.
  *
  * Already-indexed doc_ids are skipped (anti-join on the shingle
  * table), so re-feeding a batch is a no-op — the same idempotency
  * contract as the warehouse ingest manifest. Like the bridge merge,
  * appends assume a single writer per index. */
object NearDupIndex {

  private def path(root: String, t: String) = s"$root/$t"

  /** Hash-family stamp (`<dir>/_family`): band keys from two different
    * minhash families never collide, so mixing them in one index silently
    * loses every new-vs-old pair. The stamp is written when the index is
    * first populated and checked on every subsequent append. Shared with
    * [[Curation.persistNearDupPairs]]'s pair tables. */
  private[operators] def familyMarker(dir: String) = s"$dir/_family"

  /** Fails fast when `dir` holds data stamped with a different (or no)
    * hash family than `expected` (default: the text-side
    * [[Dedup.hashFamilyId]]; embedding pair tables pass
    * [[Dedup.embFamilyId]]). */
  private[operators] def requireFamily(spark: SparkSession, dir: String, what: String,
      expected: String = Dedup.hashFamilyId): Unit = {
    val stamp = Persist.readMarker(spark, familyMarker(dir))
    if (!stamp.contains(expected))
      throw new IllegalStateException(
        s"$what at $dir was built with hash family " +
          s"${stamp.getOrElse("<unstamped — predates family stamping>")} but the " +
          s"running code uses $expected; keys are incompatible " +
          "(appends would silently lose all new-vs-old pairs) — rebuild it.")
  }

  private def readOrEmpty(spark: SparkSession, p: String, template: DataFrame): DataFrame =
    if (Persist.hasData(spark, p)) spark.read.parquet(p)
    else template.limit(0)

  /** The index's delete-vector, keyed by doc_id ([[graft.Persist
    * .Tombstones]]): every read path (pair probes, append candidate
    * generation) anti-joins it; [[purgeTombstones]] applies it. */
  private def tombs(root: String) = Persist.Tombstones(root, "doc_id")

  /** Logically delete documents from the index: O(batch) I/O however
    * large the index is. Ids not present in the index are ignored;
    * already-tombstoned ids are skipped, so crashed removes replay to
    * the same state. Returns the count of newly tombstoned ids. */
  def remove(spark: SparkSession, root: String, ids: DataFrame): Long =
    Persist.leased(spark, root, "neardup-remove") {
      if (!Persist.hasData(spark, path(root, "shingles"))) 0L
      else {
        requireFamily(spark, root, "near-dup index")
        tombs(root).remove(spark, ids, spark.read.parquet(path(root, "shingles")))
      }
    }

  /** Physically apply the tombstone set: rewrite each subtable without
    * the deleted rows (shingles/bands key on doc_id; pairs on BOTH
    * sides), then delete the tombstones — the [[Persist.Tombstones
    * .purge]] commit. These subtables are flat (unpartitioned), so a
    * purge is a full rewrite of each — the same cost class as
    * [[compact]], which is why deletion is split into the cheap logical
    * remove and this compaction-cadence physical pass. Returns rows
    * dropped per table. */
  def purgeTombstones(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Long] =
    Persist.leased(spark, root, "neardup-purge") {
      tombs(root).purge(spark) { t =>
        Seq("shingles" -> Seq("doc_id"), "bands" -> Seq("doc_id"),
          "pairs" -> Seq("doc_a", "doc_b"))
          .filter { case (tb, _) => Persist.hasData(spark, path(root, tb)) }
          .map { case (tb, keys) =>
            tb -> tombs(root).rewriteFlat(spark, t, path(root, tb), targetFileBytes, keys)
          }.toMap
      }
    }

  /** Index a batch of documents (doc_id, text, …). Returns the number
    * of NEW pairs found (new×new and new×old). */
  def addDocuments(spark: SparkSession, docs: DataFrame, root: String): Long =
    // The three-table commit order only replays safely under ONE writer;
    // a second concurrent appender interleaving between the pairs and
    // shingles appends corrupts silently — fail it fast instead. A
    // crashed writer's lease expires and the replay converges (the
    // commit-order contract below).
    Persist.leased(spark, root, "neardup-add") {
      addDocumentsLeased(spark, docs, root)
    }

  private def addDocumentsLeased(spark: SparkSession, docs: DataFrame,
      root: String): Long = {
    // Family gate: an index with data must match the running hash family;
    // an empty root gets stamped (re-stamping an empty root is safe — no
    // band keys exist yet to be incompatible with). The pairs subtable is
    // stamped too: it is consumed standalone by Curation.curateAgainstPairs.
    if (Persist.exists(spark, path(root, "shingles")))
      requireFamily(spark, root, "near-dup index")
    else Seq(root, path(root, "pairs")).foreach(d =>
      Persist.writeMarker(spark, familyMarker(d), Dedup.hashFamilyId))
    val newShAll = Dedup.shingled(docs)
    // Tombstoned ids must not be silently re-adopted NOR silently
    // skipped: a remove-then-add is an UPDATE — run purgeTombstones,
    // then re-add.
    val tomb = tombs(root).read(spark)
    tombs(root).refuse(tomb, newShAll, "addDocuments")
    def live(df: DataFrame): DataFrame = tomb.fold(df)(tombs(root).minus(df, _))
    val oldSh = live(
      readOrEmpty(spark, path(root, "shingles"), newShAll.select("doc_id", "sh")))
    // Idempotency: drop docs already in the index.
    val newSh = newShAll
      .join(oldSh.select("doc_id"), Seq("doc_id"), "anti")
      .cache()
    val newBands = Dedup.minhashBands(newSh)
      .cache() // three uses: union side, probe side, final append
    val oldBands = live(readOrEmpty(spark, path(root, "bands"), newBands))
    // Probe: every candidate has at least one NEW side, so old×old work
    // is never repeated. least/greatest normalizes the pair (old ids are
    // not always smaller than new ones) and distinct collapses the
    // new×new double-match.
    val cand = oldBands.union(newBands).as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.hx") === col("b.hx")
          && col("a.hy") === col("b.hy") && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val allSh = oldSh.union(newSh.select("doc_id", "sh"))
    val newPairs = Dedup.exactJaccard(cand, allSh)
      .filter(col("jac") >= Dedup.jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jac").as("jaccard"))
      .cache()
    val n = newPairs.count()
    // Commit order: pairs, then bands, then shingles — the SHINGLES
    // append is the commit point, because the idempotency anti-join keys
    // on the shingle table. Parquet appends can't be made atomic across
    // tables, so a crash anywhere before the shingles append must leave
    // the batch replayable: the anti-join still re-admits its docs, and
    // the retry re-appends the same pair/band rows as exact duplicates,
    // collapsed by the distinct() in [[pairs]] and on the candidate set.
    // Writing shingles before bands would instead mark the docs indexed
    // while their bands are missing — every future pair involving them
    // silently lost. Losing the pairs-first order has the same failure
    // through the pairs table, hence pairs strictly first.
    if (n > 0)
      newPairs.write.mode("append").parquet(path(root, "pairs"))
    if (!newSh.isEmpty) {
      newBands.write.mode("append").parquet(path(root, "bands"))
      newSh.select("doc_id", "sh").write.mode("append").parquet(path(root, "shingles"))
    }
    newPairs.unpersist()
    newBands.unpersist()
    newSh.unpersist()
    n
  }

  /** Merge each subtable's accumulated per-batch append files (one
    * parquet file per batch — a nightly streaming-maintenance run
    * degrades probe latency until they're merged). Metadata markers
    * (`_family`) survive the rewrite; same crash-safe rename protocol as
    * warehouse compaction. Returns the per-table new file counts. */
  def compact(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Int] =
    Persist.compact(spark, root, "neardup-compact", Seq("pairs", "bands", "shingles"),
      targetFileBytes, requireFamily(spark, root, "near-dup index"))

  /** The accumulated pair table (doc_a, doc_b, jaccard). Read through
    * distinct(): a batch that crashed between its pairs append and its
    * shingles/bands append re-appends the same rows on retry (see the
    * commit-order note in [[addDocuments]]), and exact-duplicate
    * collapse on read is what makes that retry safe for counts and
    * joins alike. Tombstoned documents' pairs are filtered out — a
    * [[remove]] is visible immediately, before any [[purgeTombstones]]
    * pass physically drops the rows. */
  def pairs(spark: SparkSession, root: String): DataFrame =
    tombs(root).live(spark, pairsTable(spark, path(root, "pairs")), Seq("doc_a", "doc_b"))

  /** Read a standalone pair table (the index's `pairs` dir or a
    * [[Curation.persistNearDupPairs]] output) tolerating the data-less
    * marker-only state. */
  private[operators] def pairsTable(spark: SparkSession, p: String): DataFrame =
    pairsTableRaw(spark, p).distinct()

  /** Per-document index membership census: one row per LIVE indexed
    * document with its stored shingle-set size — the d21 gate's view of
    * "what the index holds now" (tombstoned docs excluded, exactly as
    * every other read). */
  def docStats(spark: SparkSession, root: String): DataFrame =
    tombs(root).live(spark, readOrEmpty(spark, path(root, "shingles"),
      spark.range(0).select(col("id").as("doc_id"),
        array(col("id")).as("sh")))
      .select(col("doc_id"), size(col("sh")).as("n_shingles")))

  /** As [[pairsTable]] but WITHOUT the exact-duplicate collapse —
    * consumers that project + distinct a single column (the curation
    * drop set) must not pay a row-level distinct of the full table
    * first. Only safe for set-semantics consumers: replayed crash
    * appends can leave exact-duplicate rows in the raw read. */
  private[operators] def pairsTableRaw(spark: SparkSession, p: String): DataFrame =
    if (Persist.hasData(spark, p)) spark.read.parquet(p)
    else spark.range(0).select(
      col("id").as("doc_a"), col("id").as("doc_b"),
      col("id").cast("double").as("jaccard"))
}
