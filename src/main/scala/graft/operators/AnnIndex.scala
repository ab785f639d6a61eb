package graft.operators

import graft.functions.VectorFns
import graft.{Op, OpModule, Persist}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted ANN index: the build/probe split of the IVF/PQ family.
  *
  * [[Similarity]]'s s5/s7/s8 train their codebooks and encode the corpus
  * inside every query run — correct and self-contained, but at 100 TB
  * that is three extra full scans per question asked. This object gives
  * the family the same lifecycle [[NearDupIndex]] gave near-dup
  * detection: [[build]] trains once and writes codebooks + per-vector
  * codes as warehouse tables; the probe queries read ONLY those tables
  * (plus the bounded raw query vectors — the stand-in for a
  * user-supplied query) — no Lloyd aggregates, no corpus re-encode, no
  * full raw-vector scan. [[append]] extends the corpus under FROZEN
  * codebooks (re-training is an explicit [[build]]), the standard
  * index-maintenance contract (FAISS `add` after `train`).
  *
  * Tables under `root` (all parquet):
  *   - `ivf/centroids` (cid, cv)             — s5's Lloyd-trained codebook
  *   - `ivf/codes`     (vec_id, label, qv, nrm) / cid=…/lb=… — full
  *     vectors PARTITIONED BY (coarse cell, label hash-bucket): a plain
  *     probe reads only the query cells' directories (partition pruning
  *     — the IVF "inverted list"), and a FILTERED probe (s15)
  *     additionally prunes to the query labels' bucket subdirectories
  *     with the exact label equality pushed into the parquet scan, so
  *     tenant-restricted search reads only (query cells × query label
  *     buckets) — never the raw corpus. The bucket (not the raw label)
  *     is the partition key so a cell's file count is bounded by
  *     [[LabelBuckets]], not by the corpus's label cardinality
  *   - `pq/codebook`   (m, code, csub)       — s7's refined codebook
  *   - `pq/codes`      (vec_id, code0..3)    — 4 longs per vector (the
  *     compressed corpus; at scale this is the only full-width table)
  *   - `ivfpq/coarse`  (cid, cv), `ivfpq/codebook` (m, code, csub)
  *   - `ivfpq/codes`   (vec_id, code0..3) / cid=… — cell-partitioned
  *
  * Every training / encode / scoring stage is [[Similarity]]'s own
  * (trainIvf / trainPq / ivfpqResidualCb / *Encode / *TopK), so probe
  * results are equal to s5/s7/s8 BY CONSTRUCTION — the CORRECTNESS gate
  * pins all three against the same DuckDB oracles.
  *
  * Like the warehouse ingest and [[NearDupIndex]], appends assume a
  * single writer per index; each family's append is independently
  * idempotent (anti-join on its own codes table), so a crash between
  * family writes is healed by replaying the batch.
  */
object AnnIndex extends OpModule {

  /** Bump when the layout or training logic changes: a probe against a
    * root built by another version refuses loudly instead of silently
    * serving stale geometry. v2: added the `ivf_seeded` family (s3).
    * v3: the commit marker records the cell geometry (`nc`/`kc`) the
    * root was built with. v4: the IVF+PQ coarse cell count (`pc`) is a
    * build parameter too, recorded in the marker alongside nc/kc.
    * v5: the inverted-list code tables (`ivf/codes`, `ivf_seeded/codes`)
    * carry the row's metadata `label`, so filtered search (s15) is
    * served index-only — an old root would silently return zero rows
    * for every filtered probe. v6: `ivf/codes` is partitioned by
    * (cid, label) instead of cid alone, so filtered probes prune label
    * DIRECTORIES the way plain probes prune cells. v7: adds `ivf/qhead`
    * — the bounded vec_id < NQ query rows as their own tiny table — so
    * the probes' plan-build step (collect the query cells/labels to
    * prune to) reads one small file, never a vec_id filter over every
    * codes file footer. v8: probes read ONLY the pruned partition
    * DIRECTORIES (explicit cid= paths under a basePath), so listing
    * cost is bounded by the query cells' subtrees, never the table's
    * file count; and `ivfpq/codes` carries `fid` — the row's ivf-family
    * (full-vector store) cell id — so a rerank fetch after an IVFPQ
    * stage 1 partition-prunes `ivf/codes` to the candidates' cells
    * (s19) instead of scanning the table behind a broadcast filter.
    * v9: `ivf/codes` partitions by (cid, lb) — lb a FIXED-width hash
    * bucket of the label — instead of (cid, label). Partitioning by the
    * raw label bounds nothing: a cell's directory/file count would equal
    * its label cardinality, unbounded in the corpus, while its row
    * count stays constant. With [[LabelBuckets]] buckets a cell is at
    * most 16 files however many labels it holds; the label itself stays a DATA column, so
    * filtered probes prune (cid, bucket-of-label) directories and push
    * the exact label equality into the parquet scan (row-group stats /
    * dictionary pruning) — the standard bucketed-partitioning answer to
    * partition-cardinality explosion. */
  private val BuildVersion = 9

  /** Label hash-bucket count for the (cid, lb) inverted-list layout:
    * bounds files-per-cell at 16 however many labels a cell holds; a
    * filtered probe reads ~1/16th of a cell's rows to find one label
    * (the pushed label equality skips the rest at row-group
    * granularity). */
  private val LabelBuckets = 16

  /** The label's storage bucket — Spark's murmur3 `hash`, applied
    * identically at build, append and probe time (the bucket never
    * crosses an engine boundary, so cross-engine mirroring is not
    * required). */
  private def labelBucket(label: org.apache.spark.sql.Column) =
    pmod(hash(label), lit(LabelBuckets))

  /** Default rows-per-cell ceiling for the skew salting in
    * [[writeCells]] — sized so one writer task's slice of a hot cell
    * stays a few hundred MB of parquet, far below executor memory. */
  val DefaultMaxCellRows: Long = 4000000L

  /** Schema memo for the index's own parquet tables: a schemaless
    * `spark.read.parquet` pays a footer-inference DRIVER JOB per call,
    * and every probe rep issues 2-4 such reads. Index
    * table schemas are structurally fixed per layout version (appends,
    * tombstones, purges and rewrites preserve columns; a rebuild
    * publishes a NEW versioned root, i.e. a new key), so the first
    * read's inferred schema is reusable METADATA — no data or result is
    * memoized. [[build]] drops a root's entries before overwriting it
    * wholesale. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def invalidateSchemas(root: String): Unit = {
    schemaMemo.keySet.removeIf(
      new java.util.function.Predicate[String] {
        override def test(k: String): Boolean = k.startsWith(root)
      })
    ()
  }

  /** `spark.read.parquet(p)` with the table's memoized schema — no
    * footer-inference job after the first read of a path. */
  private def readTable(spark: SparkSession, p: String): DataFrame = {
    val sch = schemaMemo.computeIfAbsent(p,
      new java.util.function.Function[String, StructType] {
        override def apply(k: String): StructType = spark.read.parquet(k).schema
      })
    spark.read.schema(sch).parquet(p)
  }

  /** Read ONLY the named partition subdirectories of a partitioned codes
    * table. `spark.read.parquet(tableRoot)` lists the WHOLE table to
    * build its file index — linear in the file count even when partition
    * filters later prune the actual read, so a probe over a
    * whole-table read costs time linear in the table's file count, not
    * in the cells it reads. Passing the pruned directories as explicit roots bounds the listing
    * to the query cells' subtrees; `basePath` keeps the partition
    * columns (e.g. cid, lb) in the schema exactly as a whole-table read
    * would. Existence-checked per directory (bounded: ≤ the probe's
    * prune-set size) — a cell that lost all rows to compaction or was
    * never written must not fail the read. */
  private def readPruned(spark: SparkSession, base: String,
      subdirs: Seq[String]): DataFrame = {
    val paths = subdirs.map(d => s"$base/$d").filter(Persist.exists(spark, _))
    require(paths.nonEmpty,
      s"none of ${subdirs.size} pruned partition dirs exist under $base — " +
        "index missing or geometry drift (probe prune set vs stored cells)")
    // Schema memo keyed by the table base: partition columns parse from
    // the pruned dir names identically under an explicit schema, and the
    // column set is the same for every prune set of one table.
    val sch = schemaMemo.computeIfAbsent(base,
      new java.util.function.Function[String, StructType] {
        override def apply(k: String): StructType =
          spark.read.option("basePath", k).parquet(paths: _*).schema
      })
    spark.read.option("basePath", base).schema(sch).parquet(paths: _*)
  }

  /** The live rows of a cell-partitioned codes table in `cells` only,
    * read through [[readPruned]] so even the listing stays bounded by
    * the prune set. partitionBy wrote `cid` as a directory key, which
    * reads back as a down-inferred integer: it is cast back to the
    * BIGINT the scoring contract (and the oracles' CAST(cid AS BIGINT))
    * expects. The `cid` isin filter, with the caller's further
    * predicates, is vacuous over the pruned read but keeps the cell
    * prune visible as a PartitionFilter in the plan (the audited
    * property) and guards a caller passing wider paths. */
  private def readCells(spark: SparkSession, root: String, table: String,
      cells: Seq[Long], also: Column*): DataFrame =
    tombs(root).live(spark,
      readPruned(spark, s"$root/$table", cells.map(c => s"cid=$c"))
        .withColumn("cid", col("cid").cast("long")))
      .filter((col("cid").isin(cells: _*) +: also).reduce(_ && _))

  /** Deterministic per-corpus default root (test/bench convenience;
    * production callers pass their own warehouse path). */
  def defaultRoot(dir: String): String =
    Persist.corpusRoot(s"ann_index_v$BuildVersion", dir)

  /** The corpus the index is built from, fingerprinted in `_built`. */
  private val Corpus = "embeddings.parquet"

  // ---- codebook (de)serialization: bounded ≤ 32-row tables ------------

  private val cbSchema = StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("code", LongType, nullable = false),
    StructField("csub", ArrayType(LongType, containsNull = false), nullable = false)))

  private val centSchema = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("cv", ArrayType(LongType, containsNull = false), nullable = false)))

  private def writeCentroids(spark: SparkSession,
      entries: Seq[(Long, Array[Long])], p: String): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(entries.map { case (cid, cv) => Row(cid, cv.toSeq) }: _*),
      centSchema).coalesce(1).write.mode("overwrite").parquet(p)

  private def readCentroids(spark: SparkSession, p: String): Seq[(Long, Array[Long])] =
    spark.read.schema(centSchema).parquet(p).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq.sortBy(_._1)

  private def writeCodebook(spark: SparkSession,
      cb: Map[Int, Seq[(Long, Array[Long])]], p: String): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(cb.toSeq.sortBy(_._1).flatMap { case (m, es) =>
        es.map { case (code, csub) => Row(m, code, csub.toSeq) }
      }: _*), cbSchema).coalesce(1).write.mode("overwrite").parquet(p)

  private def readCodebook(spark: SparkSession, p: String): Map[Int, Seq[(Long, Array[Long])]] =
    spark.read.schema(cbSchema).parquet(p).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .groupBy(_._1)
      .map { case (m, es) => m -> es.sortBy(_._2).map(e => (e._2, e._3)).toSeq }

  // ---- build ----------------------------------------------------------

  /** Cell-partitioned codes write with skew salting: a cell whose row
    * count exceeds `maxCellRows` is spread across
    * ceil(rows / maxCellRows) writer tasks (salt = hash(vec_id) mod
    * fan-out, used ONLY to drive the repartition — it never reaches
    * storage). Without this, a 32-cell IVF over a 100 TB corpus funnels
    * ~3 TB per inverted list through whichever task owns the cell —
    * the write hot-spots and the cell lands as one oversized file
    * chain. The per-cell count pass is bounded: the aggregate output is
    * one row per CELL (the geometry, ≤ a few hundred), not per vector.
    * Below the ceiling the write is byte-identical to the unsalted
    * form, so default-geometry results never change. */
  private def writeCells(df: DataFrame, p: String, maxCellRows: Long,
      mode: String = "overwrite", partCols: Seq[String] = Seq("cid")): Unit = {
    // Persist the assigned/encoded rows across the two actions: the
    // count pass and the write would otherwise each evaluate the full
    // cell-assignment (and, for ivfpq, the residual-encode chain) —
    // doubling the most expensive build stages. Disk-spillable: at
    // index-build corpus sizes the encoded columns don't fit in memory.
    val assigned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeCellsPersisted(assigned, p, maxCellRows, mode, partCols)
    finally assigned.unpersist()
  }

  private def writeCellsPersisted(df: DataFrame, p: String, maxCellRows: Long,
      mode: String, partCols: Seq[String]): Unit = {
    val counts = df.groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fanOut = counts.collect { case (cid, n) if n > maxCellRows =>
      cid -> ((n + maxCellRows - 1) / maxCellRows).toInt
    }
    // ALWAYS repartition to one writer task per cell-slice (the counts
    // are already in hand): without it, partitionBy fans every incoming
    // task across every cell, so the file count is writer-parallelism ×
    // cells — a 32-thread build of a small corpus leaves 32 tiny files
    // PER CELL, and every later probe pays the per-file open cost (this
    // exact layout regressed the r9 index probes ~2× until rebuilt).
    // One slice per cell below the ceiling, ceil(rows/ceiling) above it
    // — the same expression serves small-corpus tidiness and hot-cell
    // salting.
    val fanExpr = fanOut.foldLeft(lit(1)) { case (acc, (cid, s)) =>
      when(col("cid") === cid, lit(s)).otherwise(acc)
    }
    // Explicit partition count (every cell's fan-out summed): an
    // expression-only repartition is fair game for AQE coalescing,
    // which would quietly re-merge the salted slices.
    val slices = counts.keysIterator
      .map(cid => fanOut.getOrElse(cid, 1)).sum.max(1)
    // The salt drives fan-out per CELL (the skew unit); deeper partition
    // columns (label) ride the same clustering — a task holding several
    // (cid, lb) groups writes one file per directory, which is the
    // partitionBy contract.
    df.withColumn("_salt", pmod(hash(col("vec_id")), fanExpr))
      .repartition(slices, partCols.map(col) :+ col("_salt"): _*)
      .drop("_salt")
      .write.partitionBy(partCols: _*).mode(mode).parquet(p)
  }

  /** Train all three sub-indexes on the corpus at `dir` and write them
    * under `root` (replacing whatever was there). One cached pass
    * provides every training aggregate and every encode.
    *
    * `nc` (seeded-IVF cells), `kc` (Lloyd-trained cells) and `pc`
    * (IVF+PQ coarse cells) are BUILD parameters recorded in the
    * `_built` marker, not compile-time constants: the defaults are
    * sized for the sf0.1 testdata, and at 100 TB a 16-cell IVF means
    * terabytes per inverted list — a production build passes cell
    * counts sized to the corpus (cells ≈ rows / target_cell_size) and
    * probes keep pruning to the query cells, so probe cost tracks CELL
    * size, not corpus size. Probes take their geometry from the
    * persisted centroid tables, whose cardinality the marker pins
    * ([[buildParams]] reads it back). */
  def build(spark: SparkSession, dir: String, root: String,
      nc: Int = Similarity.NC, kc: Int = Similarity.KC,
      pc: Int = Similarity.PQ_K,
      maxCellRows: Long = DefaultMaxCellRows): Unit =
    // Single-writer: concurrent build/append against the same root would
    // interleave family writes and commit a marker over mixed geometry.
    Persist.leased(spark, root, "ann-build") {
      buildLeased(spark, dir, root, nc, kc, pc, maxCellRows)
    }

  /** Retrain-and-cutover — the lifecycle answer to the frozen-codebook
    * contract's drift: [[append]]/[[remove]] never retrain, so a
    * corpus that has grown or rotated far past its training snapshot
    * eventually needs fresh codebooks. rebuild() trains a COMPLETE new
    * index (every family, current corpus, fresh Lloyd/PQ codebooks)
    * into a hidden sibling root, then publishes it with the repo's
    * bak-protected atomic-rename protocol (the compactPath swap):
    * readers of `root` serve the old index until the rename and the
    * new one after — there is no window in which a probe sees mixed
    * generations, and a crash leaves either the old root intact (a
    * stale tmp is deleted on the next rebuild) or the new root fully
    * committed (a stale bak likewise). The one crash window both this
    * and compact share — died between the two renames, root missing —
    * is HEALED on the next rebuild entry (bak restores). Lease-guarded
    * on the live root, so builds/appends/purges/compactions serialize
    * against the swap; the lease file itself rides the rename into bak
    * and is discarded with it (the new root is born lease-free, like
    * any fresh build). */
  def rebuild(spark: SparkSession, dir: String, root: String,
      nc: Int = Similarity.NC, kc: Int = Similarity.KC,
      pc: Int = Similarity.PQ_K,
      maxCellRows: Long = DefaultMaxCellRows): Unit = {
    // Heal the between-renames crash window: root gone, bak holding the
    // old generation — restore it before anything else (readers first).
    Persist.heal(spark, root, "rebuild")
    // Rebuilding a root that was never built is just a build — no old
    // generation to keep serving, nothing to swap (and build takes the
    // root lease itself).
    if (!Persist.exists(spark, root)) build(spark, dir, root, nc, kc, pc, maxCellRows)
    else Persist.leased(spark, root, "ann-rebuild") {
      // A full fresh build into the sibling (its own lease, its own
      // commit marker — tmp is a complete, committed index root before
      // the swap is attempted).
      Persist.publish(spark, root, "rebuild")(tmp =>
        build(spark, dir, tmp, nc, kc, pc, maxCellRows))
    }
  }

  private def buildLeased(spark: SparkSession, dir: String, root: String,
      nc: Int, kc: Int, pc: Int, maxCellRows: Long): Unit = {
    // Drop memoized schemas under this root: the build overwrites the
    // tree wholesale (the one writer that could change a table's shape).
    invalidateSchemas(root)
    // Clear the index CONTENTS, not the root: the root also holds the
    // writer lease just acquired.
    // tombstones cleared too: a stale tombstone surviving a re-build
    // would silently mask the fresh rows that share its vec_id.
    Seq("ivf", "ivf_seeded", "pq", "ivfpq", "tombstones", "_has_removes",
      "_built")
      .foreach(t => Persist.delete(spark, s"$root/$t"))
    // The label rides the build scan so the inverted-list tables can
    // serve filtered search (s15) without touching the raw corpus; the
    // PQ family writes below project it away.
    val vecs = Similarity.vectorFrame(spark, dir, label = true).cache()
    try {
      // IVF (s5's geometry): Lloyd-trained centroids, full vectors
      // partitioned by cell — the inverted-list layout.
      val cent = Similarity.trainIvf(spark, dir, vecs, kc)
      writeCentroids(spark, cent, s"$root/ivf/centroids")
      // (cid, lb) directories: filtered probes prune label BUCKETS the
      // way plain probes prune cells (v9 layout — files per cell
      // bounded by LabelBuckets; the label itself rides as data).
      val ivfAssigned = vecs.withColumn("cid", Similarity.nearestId(col("qv"), cent))
      writeCells(ivfAssigned.withColumn("lb", labelBucket(col("label"))),
        s"$root/ivf/codes", maxCellRows, partCols = Seq("cid", "lb"))
      // The query head (vec_id < NQ) as its own tiny table: probes
      // derive their cell/label prune sets from ONE small file instead
      // of sweeping every codes footer for the vec_id predicate (v7).
      // Carries lb (v9) so the filtered probe's bucket prune set needs
      // no driver-side mirror of the hash.
      ivfAssigned.filter(col("vec_id") < Similarity.NQ)
        .withColumn("lb", labelBucket(col("label")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/ivf/qhead")
      // Seeded IVF (s3's geometry): same inverted-list layout under the
      // deterministic first-nc codebook — probing replaces the inline
      // path's per-query full-corpus assignment scan.
      val seeded = Similarity.collectHead(spark, dir, nc.toLong)
        .toSeq.sortBy(_._1)
      writeCentroids(spark, seeded, s"$root/ivf_seeded/centroids")
      writeCells(vecs.withColumn("cid", Similarity.nearestId(col("qv"), seeded)),
        s"$root/ivf_seeded/codes", maxCellRows)
      // PQ (s7's geometry): refined codebook + 4-long codes per vector,
      // plus `fid` (v8) — the row's ivf-family cell, so a rerank stage
      // after the compressed scan partition-prunes the full-vector
      // fetch to the candidates' ivf/codes directories.
      val headPq = Similarity.collectHead(spark, dir,
        math.max(Similarity.NQ, Similarity.PQ_K).toLong)
      val cb = Similarity.trainPq(vecs, headPq)
      writeCodebook(spark, cb, s"$root/pq/codebook")
      Similarity.pqEncode(vecs, cb)
        .withColumn("fid", Similarity.nearestId(col("qv"), cent))
        .select(col("vec_id") +: col("fid") +:
          (0 until Similarity.PQ_M).map(m => col(s"code$m")): _*)
        .write.mode("overwrite").parquet(s"$root/pq/codes")
      // IVF+PQ (s8's geometry): coarse cells + residual codes,
      // cell-partitioned.
      val headR = Similarity.collectHead(spark, dir,
        math.max(Similarity.NQ, pc + Similarity.PQ_K).toLong)
      val coarse = Similarity.ivfpqCoarse(headR, pc)
      val rcb = Similarity.ivfpqResidualCb(headR, coarse)
      writeCentroids(spark, coarse, s"$root/ivfpq/coarse")
      writeCodebook(spark, rcb, s"$root/ivfpq/codebook")
      // `fid` (v8): the row's ivf-family cell — the pointer into the
      // full-vector store's partition. A compressed candidate that
      // surfaces from an IVFPQ stage 1 carries it out, so the exact
      // rerank fetch reads only the candidates' ivf/codes directories.
      // Same Lloyd codebook as the ivf family's own assignment, so the
      // pointer and the storage partition can never disagree.
      writeCells(Similarity.ivfpqEncode(vecs, coarse, rcb)
        .withColumn("fid", Similarity.nearestId(col("qv"), cent))
        .select(col("vec_id") +: col("cid") +: col("fid") +:
          (0 until Similarity.PQ_M).map(m => col(s"code$m")): _*),
        s"$root/ivfpq/codes", maxCellRows)
      // Commit marker LAST: a root without it is a failed build and will
      // be rebuilt, never probed. The marker pins the build version, the
      // CELL GEOMETRY (nc/kc — so a probe/append can read back what the
      // root was built with, and ensureBuilt rebuilds rather than serve
      // a differently-celled index), and a file-metadata fingerprint of
      // the corpus, so a root left behind by an older build or a
      // regenerated corpus (even at identical row count) is rebuilt, not
      // silently served.
      Persist.writeMarker(spark, s"$root/_built",
        Persist.corpusMarker(spark, dir, Corpus, stamp(nc, kc, pc)))
    } finally vecs.unpersist()
  }

  /** The `_built` marker's content ahead of the corpus fingerprint. */
  private def stamp(nc: Int, kc: Int, pc: Int): String =
    s"v$BuildVersion nc=$nc kc=$kc pc=$pc "

  /** The cell geometry a root was built with, read back from its commit
    * marker: (nc seeded cells, kc trained cells, pc IVF+PQ coarse
    * cells). None when the root has no valid current-version marker.
    * The persisted centroid tables carry the same cardinalities — the
    * marker is the cheap, no-Spark-job authority (and the spec pins the
    * two against each other). */
  def buildParams(spark: SparkSession, root: String): Option[(Int, Int, Int)] =
    Persist.readMarker(spark, s"$root/_built")
      .flatMap(m => """^v(\d+) nc=(\d+) kc=(\d+) pc=(\d+) f=.*$""".r.findFirstMatchIn(m.trim))
      .filter(_.group(1).toInt == BuildVersion)
      .map(m => (m.group(2).toInt, m.group(3).toInt, m.group(4).toInt))

  /** Build iff the commit marker is absent or doesn't match this build
    * version + the requested cell geometry + the corpus's current file
    * fingerprint ([[graft.Persist.buildOnce]]). */
  def ensureBuilt(spark: SparkSession, dir: String, root: String,
      nc: Int = Similarity.NC, kc: Int = Similarity.KC,
      pc: Int = Similarity.PQ_K): Unit =
    Persist.buildOnce(spark, dir, Corpus, s"$root/_built", stamp(nc, kc, pc))(_ =>
      build(spark, dir, root, nc, kc, pc))

  // ---- append: extend the corpus under frozen codebooks ---------------

  /** Index a batch of new vectors (vec_id, embedding) without
    * re-training: each family encodes against its persisted codebook and
    * appends. Families are independently idempotent — the anti-join on
    * the family's OWN codes table re-admits a batch a crash kept out of
    * that family while skipping the ones that committed, so replaying a
    * batch after any partial failure converges with no duplicates. */
  def append(spark: SparkSession, root: String, newVecs: DataFrame): Unit =
    Persist.leased(spark, root, "ann-append") {
      appendLeased(spark, root, newVecs)
    }

  private def appendLeased(spark: SparkSession, root: String, newVecs: DataFrame): Unit = {
    // Version gate BEFORE any write: appending to a root built by an
    // older layout would commit a partial (ivf-only) append under
    // incompatible geometry before failing on the families that root
    // lacks — refuse up front instead.
    if (!Persist.readMarker(spark, s"$root/_built").exists(_.startsWith(s"v$BuildVersion ")))
      throw new IllegalStateException(
        s"index at $root has no v$BuildVersion commit marker (unbuilt, crashed " +
          "build, or an older build layout) — run build() before append().")
    // Tombstoned ids must not be re-appended before a purge.
    val ts = tombs(root)
    ts.refuse(ts.read(spark), newVecs, "ann append")
    // label is part of the v5 inverted-list layout — an append without
    // it would write null-labeled rows that silently vanish from every
    // filtered probe, so the batch must carry (vec_id, label, embedding).
    // The null check is ENFORCED, not documented: a null label row
    // would store fine under its hash bucket yet never match any
    // filtered probe's label equality — exactly the silent-wrongness
    // class this layout must fail loudly on (the t31 rule).
    // raise_error inside the projection costs nothing per row and trips
    // during the first family write, before any partial state commits
    // beyond ivf (whose replay the anti-join heals anyway).
    val nv = newVecs
      .select(col("vec_id"),
        coalesce(col("label"), raise_error(format_string(
          "ann append: null label for vec_id=%s — null-labeled rows would " +
            "land in the hive default partition and vanish from filtered " +
            "probes; supply a real label", col("vec_id")))).as("label"),
        VectorFns.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", VectorFns.norm2(col("qv")))
      .cache()
    try {
      def fresh(codesPath: String, df: DataFrame): DataFrame =
        df.join(
          spark.read.parquet(codesPath).select("vec_id"), Seq("vec_id"), "anti")
      // IVF (v9 layout: label hash-bucket partition, label as data)
      val cent = readCentroids(spark, s"$root/ivf/centroids")
      fresh(s"$root/ivf/codes", nv)
        .withColumn("cid", Similarity.nearestId(col("qv"), cent))
        .withColumn("lb", labelBucket(col("label")))
        .write.partitionBy("cid", "lb").mode("append").parquet(s"$root/ivf/codes")
      // Maintain the bounded query-head twin (v7): an appended row in
      // the query range must reach qhead too, or probes would prune to
      // stale cells. Independently idempotent via its own anti-join.
      fresh(s"$root/ivf/qhead", nv)
        .filter(col("vec_id") < Similarity.NQ)
        .withColumn("cid", Similarity.nearestId(col("qv"), cent))
        .withColumn("lb", labelBucket(col("label")))
        .write.mode("append").parquet(s"$root/ivf/qhead")
      // Seeded IVF: frozen first-NC codebook, same append contract.
      val seeded = readCentroids(spark, s"$root/ivf_seeded/centroids")
      fresh(s"$root/ivf_seeded/codes", nv)
        .withColumn("cid", Similarity.nearestId(col("qv"), seeded))
        .write.partitionBy("cid").mode("append").parquet(s"$root/ivf_seeded/codes")
      // PQ (fid rides along, frozen ivf codebook — as the build)
      val cb = readCodebook(spark, s"$root/pq/codebook")
      Similarity.pqEncode(fresh(s"$root/pq/codes", nv), cb)
        .withColumn("fid", Similarity.nearestId(col("qv"), cent))
        .select(col("vec_id") +: col("fid") +:
          (0 until Similarity.PQ_M).map(m => col(s"code$m")): _*)
        .write.mode("append").parquet(s"$root/pq/codes")
      // IVF+PQ (fid rides along — same frozen ivf codebook the ivf
      // family write above used, so pointer and partition stay equal)
      val coarse = readCentroids(spark, s"$root/ivfpq/coarse")
      val rcb = readCodebook(spark, s"$root/ivfpq/codebook")
      Similarity.ivfpqEncode(fresh(s"$root/ivfpq/codes", nv), coarse, rcb)
        .withColumn("fid", Similarity.nearestId(col("qv"), cent))
        .select(col("vec_id") +: col("cid") +: col("fid") +:
          (0 until Similarity.PQ_M).map(m => col(s"code$m")): _*)
        .write.partitionBy("cid").mode("append").parquet(s"$root/ivfpq/codes")
    } finally nv.unpersist()
  }

  // ---- remove: logical deletion, physically applied by purge ----------

  /** The index's delete-vector, keyed by vec_id ([[graft.Persist
    * .Tombstones]]): every probe anti-joins it. */
  private def tombs(root: String) = Persist.Tombstones(root, "vec_id")

  /** Permanent "this index has seen deletions" flag — written by the
    * FIRST [[remove]] (before its tombstone append, so a crashed remove
    * can never leave tombstones without it), never deleted by a purge
    * (post-purge the tombstone record is gone and qhead is the only
    * witness of silenced queries), reset only by a fresh [[build]].
    * Lets every read path skip the tombstone/qhead machinery with one
    * FS stat while the index is deletion-free. */
  private def removesMarker(root: String) = s"$root/_has_removes"

  /** Tombstoned ids below `bound` — the driver-side filter for the
    * bounded query heads (a removed vector must stop ASKING queries,
    * not just stop answering them). Bounded collect: ≤ bound rows. */
  private def tombstonedBelow(spark: SparkSession, root: String,
      bound: Long): Set[Long] =
    tombs(root).read(spark).fold(Set.empty[Long])(
      _.filter(col("vec_id") < bound).collect().map(_.getLong(0)).toSet)

  /** A collected query head restricted to what the INDEX still asks:
    * tombstoned members drop out, and the query range (vec_id < NQ) is
    * intersected with `ivf/qhead` membership — after a purge the
    * tombstone record is gone, and qhead (rewritten by the purge) is
    * the index's durable record of who asks. Without the intersection a
    * removed-then-purged query would resume asking from the corpus
    * table. Non-query head rows (codebook seeds ≥ NQ) pass through —
    * codebooks are frozen on disk and never un-trained by a delete. */
  private def liveHead(spark: SparkSession, root: String,
      head: Map[Long, Array[Long]]): Map[Long, Array[Long]] = {
    // Deletion-free indexes (no `_has_removes` marker — one FS stat,
    // no Spark job) skip both reads: the pq-family probes are
    // job-floor-bound, so the common path must not grow a job.
    if (head.isEmpty || !Persist.exists(spark, removesMarker(root))) return head
    val afterTomb = head -- tombstonedBelow(spark, root, head.keysIterator.max + 1)
    val asking = readTable(spark, s"$root/ivf/qhead")
      .select("vec_id").filter(col("vec_id") < Similarity.NQ)
      .collect().map(_.getLong(0)).toSet // bounded: ≤ NQ rows
    afterTomb.filter { case (id, _) => id >= Similarity.NQ || asking.contains(id) }
  }

  /** Logically delete vectors from every index family: ids land in an
    * append-only `tombstones` table and every probe anti-joins it — a
    * remove costs O(batch) I/O however large the index is (the
    * delete-vector pattern); [[purgeTombstones]] applies it physically.
    * Codebooks stay FROZEN, the same contract as [[append]] — a
    * deletion-heavy corpus eventually re-trains via [[build]]. Ids
    * absent from the index are ignored; already-tombstoned ids are
    * skipped, so crashed removes replay to the same state. Returns the
    * count of newly tombstoned ids. */
  def remove(spark: SparkSession, root: String, ids: DataFrame): Long =
    Persist.leased(spark, root, "ann-remove") {
      require(buildParams(spark, root).isDefined,
        s"index at $root has no v$BuildVersion commit marker — nothing to remove from")
      // Bounded tombstone set: only ids the index holds. pq/codes is the
      // flat, always-written family — one column-pruned scan.
      tombs(root).remove(spark, ids, readTable(spark, s"$root/pq/codes"),
        () => Persist.writeMarker(spark, removesMarker(root), "v1\n"))
    }

  /** Physically apply the tombstone set. Partitioned families rewrite
    * ONLY the cid directories that actually hold tombstoned rows (the
    * touched set comes from one column-pruned (vec_id, cid) scan per
    * family; untouched directories keep their files byte-identical —
    * the bounded-I/O property AnnIndexSpec pins); a directory whose
    * rows are all deleted is dropped outright, exactly what a fresh
    * build of the reduced corpus would (not) write. The flat pq/codes
    * and the tiny qhead rewrite wholesale (pq has no partitions — a
    * purge there is compaction-class, which is why deletion splits
    * into the cheap logical remove and this maintenance pass). The
    * tombstones are deleted last ([[graft.Persist.Tombstones.purge]]).
    * Returns rows dropped per family. */
  def purgeTombstones(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Long] =
    Persist.leased(spark, root, "ann-purge") {
      val ts = tombs(root)
      ts.purge(spark) { t =>
        // Partitioned families: rewrite only the touched cid subtrees.
        val partitioned = Seq("ivf/codes", "ivf_seeded/codes", "ivfpq/codes")
          .filter(fam => Persist.exists(spark, s"$root/$fam"))
          .map { fam =>
            val table = s"$root/$fam"
            val touched = spark.read.parquet(table).select("vec_id", "cid")
              .join(broadcast(t), Seq("vec_id"), "semi")
              .groupBy("cid").count().collect()
              .map(r => r.getAs[Number]("cid").longValue() -> r.getLong(1))
            touched.foreach { case (cid, _) =>
              val dir = s"$table/cid=$cid"
              if (ts.minus(spark.read.option("basePath", table).parquet(dir), t).isEmpty)
                Persist.delete(spark, dir)
              else
                graft.olapsus.Warehouse.rewritePath(spark, dir, targetFileBytes,
                  ts.minus(_, t))
            }
            fam -> touched.map(_._2).sum
          }
        // Flat families: full rewrite (qhead is bounded-tiny; pq/codes
        // is the one unpartitioned full-width table).
        val flat = Seq("pq/codes", "ivf/qhead")
          .filter(fam => Persist.hasData(spark, s"$root/$fam"))
          .map(fam => fam -> ts.rewriteFlat(spark, t, s"$root/$fam", targetFileBytes))
        (partitioned ++ flat).toMap
      }
    }

  /** Merge the per-batch append files each family's codes table
    * accumulates ([[append]] writes one file per batch per cell; a long
    * streaming-maintenance run — [[graft.streaming.DocStream
    * .indexEmbeddings]] — leaves probe latency degrading until they're
    * merged). Cell-partitioned layouts (`cid=`) are preserved, the
    * `_built` marker lives at the root (untouched), and codebooks are
    * single-file by construction (not rewritten). Probe results are
    * unchanged by construction — compaction only re-files rows. */
  def compact(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Int] =
    Persist.compact(spark, root, "ann-compact",
      Seq("ivf/codes", "ivf_seeded/codes", "pq/codes", "ivfpq/codes"), targetFileBytes)

  // ---- probes: read ONLY the persisted tables -------------------------

  /** IVF probe: cosine top-k within the query vectors' cells, served
    * entirely from `ivf/codes`. The query rows are corpus members
    * (vec_id < NQ), so even the query side reads the index — the plan
    * never touches the raw embeddings table, contains no Lloyd
    * aggregate, and the candidate scan carries a partition filter on the
    * ≤ NQ query cells (the inverted-list read; PlanAuditSpec pins all
    * three properties). */
  def probeIvf(spark: SparkSession, root: String): DataFrame = {
    // Prune set from the qhead table (ONE small file): filtering codes
    // itself for vec_id < NQ would open every file footer — linear in
    // the file count, which the (cid, label) layout multiplies. Read
    // without the tombstoned rows: a removed query must stop asking, so
    // its cell leaves the prune set unless another live query shares it.
    val qcells = tombs(root).live(spark, readTable(spark, s"$root/ivf/qhead"))
      .select("cid").distinct().collect().map(_.getLong(0)).toSeq.sorted
    // Read the query cells' DIRECTORIES only (v8): a whole-table read
    // lists every (cid, label) file before pruning anything.
    val cells = readCells(spark, root, "ivf/codes", qcells)
    Similarity.cellRanked(Similarity.cosineTopK(cells,
      Similarity.queryHead(cells, col("cid").as("q_cid")),
      col("cid") === col("q_cid") && Similarity.NotSelf))
  }

  /** Filtered-search probe: exact cosine top-k within the query's cell
    * AND the query's label — the tenant-isolation / category-restricted
    * retrieval of s14 served from the inverted lists. PRE-filter
    * semantics exactly as s14 (the label equality is part of the join
    * condition, so ranking happens after filtering), and the label is
    * read from `ivf/codes` itself, so the plan touches only the index.
    * The v9 layout partitions codes by (cid, lb = 16-way label hash
    * bucket), so the candidate read prunes to the query cells' AND the
    * query labels' BUCKET directories while the exact label equality
    * is pushed into the parquet scan as a data filter — a
    * tenant-restricted probe reads (cells × query-label buckets), not
    * every row of the query cells (the v5 cost), and a cell's file
    * count stays bounded however many labels it holds (the raw-label
    * v6 partitioning put one near-empty file per label per cell). The
    * lb/label isin prunes are sound because the join requires
    * candidate.label = query.label, so rows outside the query-label
    * union can never score; exact per-pair label equality still
    * happens inside the codegen'd join (pre-filter semantics, ranking
    * after filtering). */
  def probeIvfFiltered(spark: SparkSession, root: String): DataFrame = {
    // Bounded collect from qhead (ONE small file): ≤ NQ query rows
    // define the cell, label and label-bucket prune unions (lb is
    // stored in qhead so no driver-side mirror of the bucket hash).
    val q = tombs(root).live(spark, readTable(spark, s"$root/ivf/qhead"))
      .select("cid", "label", "lb").distinct().collect()
    val qcells = q.map(_.getLong(0)).distinct.sorted.toSeq
    val qlabels = q.map(_.get(1)).distinct.toSeq
    val qbuckets = q.map(_.getInt(2)).distinct.sorted.toSeq
    // Pruned to the query cells' DIRECTORIES (v8), each at most
    // LabelBuckets subdirs (v9): both the listing and the file count
    // are bounded by the prune set, never the corpus's label
    // cardinality. The lb isin prunes bucket directories at planning;
    // the exact label equality is a DATA filter the scan pushes into
    // parquet (row-group stats/dictionary), so rows outside the query
    // labels are skipped before they decode.
    val cells = readCells(spark, root, "ivf/codes", qcells,
      col("lb").isin(qbuckets: _*), col("label").isin(qlabels: _*))
    val qs = Similarity.queryHead(cells, col("label").as("q_label"), col("cid").as("q_cid"))
    Similarity.cellRanked(Similarity.cosineTopK(cells, qs, col("cid") === col("q_cid")
      && col("label") === col("q_label") && Similarity.NotSelf), col("label"))
  }

  /** Seeded-IVF probe (s3's geometry): identical plan shape to
    * [[probeIvf]] — partition-pruned cell read, no assignment scan. */
  def probeIvfSeeded(spark: SparkSession, root: String): DataFrame = {
    // Prune set WITHOUT touching the codes table: the bounded qhead rows
    // carry their quantized vectors, and the seeded centroids are a
    // ≤ nc-row driver read — the query rows' stored cells are recomputed
    // driver-side with the same argmin ordering the build used
    // (nearestIdL ≡ nearestId; both order by full d2, ties to the lower
    // cid), so the derived set equals the stored one. The previous form
    // filtered codes for vec_id < NQ, which opened every file footer —
    // the exact listing sweep qhead exists to avoid.
    val seeded = readCentroids(spark, s"$root/ivf_seeded/centroids")
    val qcells = tombs(root).live(spark, readTable(spark, s"$root/ivf/qhead"))
      .select("qv").collect()
      .map(r => Similarity.nearestIdL(r.getSeq[Long](0).toArray, seeded))
      .distinct.sorted.toSeq
    val cells = readCells(spark, root, "ivf_seeded/codes", qcells)
    Similarity.cellRanked(Similarity.cosineTopK(cells,
      Similarity.queryHead(cells, col("cid").as("q_cid")),
      col("cid") === col("q_cid") && Similarity.NotSelf))
  }

  /** PQ probe: ADC top-k over `pq/codes` with the persisted codebook.
    * The only raw-vector access is the bounded query head (the
    * user-supplied-query stand-in), collected at plan-build time — the
    * probe plan itself is a joinless scan of the codes table. */
  def probePq(spark: SparkSession, dir: String, root: String): DataFrame = {
    val cb = readCodebook(spark, s"$root/pq/codebook")
    val head = liveHead(spark, root, Similarity.collectHead(spark, dir,
      math.max(Similarity.NQ, Similarity.PQ_K).toLong))
    Similarity.pqAdcTopK("s10",
      tombs(root).live(spark, readTable(spark, s"$root/pq/codes")), head, cb)
  }

  /** IVF+PQ probe: cell-gated ADC over `ivfpq/codes`; the query cells
    * are computed on the driver against the persisted coarse codebook,
    * so the scan carries a partition filter on those cells. */
  def probeIvfPq(spark: SparkSession, dir: String, root: String): DataFrame = {
    val coarse = readCentroids(spark, s"$root/ivfpq/coarse")
    val rcb = readCodebook(spark, s"$root/ivfpq/codebook")
    val head = liveHead(spark, root, Similarity.collectHead(spark, dir,
      math.max(Similarity.NQ, 2 * Similarity.PQ_K).toLong))
    val qcells = head.filter(_._1 < Similarity.NQ).values
      .map(v => Similarity.nearestIdL(v, coarse)).toSeq.distinct.sorted
    // Query cells' directories only (v8): the listing, not just the
    // read, stays bounded by the prune set.
    Similarity.ivfpqAdcTopK("s11", readCells(spark, root, "ivfpq/codes", qcells),
      head, coarse, rcb)
  }

  // ---- declared operations -------------------------------------------
  //
  // Oracle SQLs are s5/s7/s8's own: an index probe answers the SAME
  // question — the build/probe split must be invisible in the results.
  // The build runs once per corpus (ensureBuilt); timed repetitions of
  // the probes measure the probe path alone, which is the number that
  // matters at 100 TB (build amortizes over every query ever asked).

  val s9IvfProbe: Op = Op(
    "s9_ann_ivf_probe", Similarity.s5IvfTrained.oracle)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probeIvf(spark, root)
  })

  val s10PqProbe: Op = Op(
    "s10_ann_pq_probe", Similarity.s7PqTopK.oracle)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probePq(spark, dir, root)
  })

  val s11IvfPqProbe: Op = Op(
    "s11_ann_ivfpq_probe", Similarity.s8IvfPqTopK.oracle)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probeIvfPq(spark, dir, root)
  })

  /** Two-stage rerank served from the persisted index — s17's question
    * answered the production way (the s9/s10 pattern: the inline op
    * retrains per query BY DESIGN for its oracle; the probe is the
    * scale shape). Stage 1 is the s10 probe's joinless ADC scan over
    * the STORED pq/codes with the STORED codebook (no training, no
    * corpus encode), kept to the rerank pool; stage 2 fetches full
    * vectors from ivf/codes through a broadcast of the bounded
    * candidate keys and re-scores with exact integer cosine. The only
    * raw-corpus access is the bounded query head (the user-supplied-
    * query stand-in, collected at plan-build time, exactly as
    * [[probePq]]); the probe PLAN touches index tables only. Results
    * equal the inline s17 by construction (same codebook-training
    * corpus), so it shares s17's oracle. */
  def probePqRerank(spark: SparkSession, dir: String, root: String): DataFrame = {
    val cb = readCodebook(spark, s"$root/pq/codebook")
    val head = liveHead(spark, root, Similarity.collectHead(spark, dir,
      math.max(Similarity.NQ, Similarity.PQ_K).toLong))
    // Stage 1's output is BOUNDED (≤ NQ × pool rows) — collected at
    // plan build, so the candidates' `fid` pointers can prune the
    // fetch's DIRECTORIES (v8; the previous form scanned all of
    // ivf/codes behind the broadcast filter — no shuffle, but a full
    // listing + scan the pointer column exists to avoid). The stage-1
    // job itself is the s10 probe's joinless ADC scan, re-run per
    // invocation like every stage of every op.
    val cands = Similarity.pqAdcTopK("s18",
        tombs(root).live(spark, readTable(spark, s"$root/pq/codes")), head, cb,
        Similarity.RerankPool, passthrough = Seq("fid"))
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("adc_rnk"),
        col("fid"))
      .collect().toSeq
    rerankFetch(spark, root, head, cands)
  }

  /** Shared stage 2 of the index-served rerank probes (s18/s19): exact
    * integer cosine over the candidates' full vectors, fetched from
    * `ivf/codes` pruned to the candidates' `fid` DIRECTORIES, joined
    * only through broadcasts of the bounded candidate/query sides.
    * `cands` rows are (query_id, neighbor_id, adc_rnk, fid). */
  private def rerankFetch(spark: SparkSession, root: String,
      head: Map[Long, Array[Long]], cands: Seq[Row]): DataFrame = {
    import spark.implicits._
    // Degenerate stage 1 (tiny/empty corpus → no candidates): an empty
    // prune set would trip readPruned's nonEmpty guard — the correct
    // answer is zero rows, not a crash.
    if (cands.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0).as("rnk"), lit(0.0).as("cosine"), lit(0).as("adc_rnk"))
        .limit(0)
    val fids = cands.map(_.getAs[Long]("fid")).distinct.sorted
    val candDf = broadcast(cands
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toDF("cand_of", "vec_id", "adc_rnk"))
    val q = head.toSeq.filter(_._1 < Similarity.NQ).sortBy(_._1)
      .map { case (id, qv) => (id, qv.toSeq, Similarity.dotL(qv, qv)) }
      .toDF("query_id", "q_qv", "q_nrm")
    val codes = readPruned(spark, s"$root/ivf/codes", fids.map(c => s"cid=$c"))
      .select(col("vec_id"), col("qv"), col("nrm"))
    Similarity.rerankRanked(Similarity.cosineTopK(codes.join(candDf, Seq("vec_id")),
      q, col("cand_of") === col("query_id")))
  }

  val s18PqRerankProbe: Op = Op(
    "s18_ann_pq_rerank_probe", Similarity.s17PqRerank.oracle)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probePqRerank(spark, dir, root)
  })

  /** Stage 1 of the cell-pruned two-stage retrieval (s19), exposed for
    * the plan audit: the s11 probe's cell-pruned residual-ADC scan kept
    * to the rerank pool, `fid` riding through as each candidate's
    * full-vector-store partition pointer. */
  private[graft] def ivfpqRerankCands(spark: SparkSession, dir: String,
      root: String): DataFrame =
    ivfpqRerankCandsWithHead(spark, root,
      liveHead(spark, root, Similarity.collectHead(spark, dir,
        math.max(Similarity.NQ, 2 * Similarity.PQ_K).toLong)))

  private def ivfpqRerankCandsWithHead(spark: SparkSession, root: String,
      head: Map[Long, Array[Long]]): DataFrame = {
    val coarse = readCentroids(spark, s"$root/ivfpq/coarse")
    val rcb = readCodebook(spark, s"$root/ivfpq/codebook")
    val qcells = head.filter(_._1 < Similarity.NQ).values
      .map(v => Similarity.nearestIdL(v, coarse)).toSeq.distinct.sorted
    Similarity.ivfpqAdcTopK("s19", readCells(spark, root, "ivfpq/codes", qcells),
      head, coarse, rcb,
      pool = Similarity.RerankPool, passthrough = Seq("fid"))
  }

  /** Cell-pruned two-stage retrieval (s19) — the full FAISS IVFPQ +
    * refine shape, composed from parts that each already exist: stage 1
    * is the s11 probe's cell-pruned residual-ADC scan (coarse cells of
    * the queries only — the stage-1 read prunes ivfpq/codes
    * directories) kept to the rerank pool; stage 2 is s17's exact-
    * cosine rerank, its fetch pruned to the candidates' `fid`
    * directories of ivf/codes. Unlike s18, NOTHING in the plan scans a
    * full table: stage 1 reads the query cells, stage 2 reads the
    * candidate cells — the probe's cost tracks cell size, not corpus
    * size. Its own oracle ([[Similarity.ivfpqRerankOracleSql]]): the
    * coarse cell gate changes the candidate pool, so this is not s17's
    * question (the s15 precedent). */
  def probeIvfPqRerank(spark: SparkSession, dir: String, root: String): DataFrame = {
    // ONE bounded head read feeds both stages (collecting it per stage
    // would add a whole Spark job to a probe whose cost is already
    // job-floor-bound).
    val head = liveHead(spark, root, Similarity.collectHead(spark, dir,
      math.max(Similarity.NQ, 2 * Similarity.PQ_K).toLong))
    val cands = ivfpqRerankCandsWithHead(spark, root, head)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("adc_rnk"),
        col("fid"))
      .collect().toSeq
    rerankFetch(spark, root, head, cands)
  }

  val s19IvfPqRerankProbe: Op = Op(
    "s19_ann_ivfpq_rerank_probe",
    Similarity.ivfpqRerankOracleSql)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probeIvfPqRerank(spark, dir, root)
  })

  /** Semantic dedup served from the persisted index (d20) — d18's
    * question answered the production way (the s5→s9 pattern d18 was
    * the last trained op without): `ivf/codes` already stores every
    * vector as (vec_id, qv, nrm) under its Lloyd-trained cell, so the
    * probe reads cells + centroids and runs ONLY the dominance join —
    * no Lloyd training aggregates, no assignment scan, no raw-corpus
    * read. Shares d18's oracle exactly as s18 shares s17's: the build
    * trains on the same corpus with the same [[Similarity.trainIvf]]
    * at the same default kc, so cell assignments — and therefore the
    * dominance verdicts — are equal by construction (AnnIndexSpec pins
    * probe ≡ inline). The full codes scan is linear BY DESIGN (every
    * vector gets a verdict row — this op's OUTPUT is corpus-sized),
    * but the per-run training cost d18 pays is gone. */
  def probeSemDedup(spark: SparkSession, root: String): DataFrame = {
    val cent = readCentroids(spark, s"$root/ivf/centroids")
    // Whole-table read on purpose: every cell participates in the
    // dominance join (this is the one probe whose question is about the
    // whole corpus, not a query head). The cdist head and the dominance
    // tail are BOTH the inline d18's own implementations
    // (Dedup.semCells/semDominance) — the probe ≡ inline guarantee is
    // structural, not a parallel re-implementation.
    val codes = tombs(root).live(spark, readTable(spark, s"$root/ivf/codes"))
      .withColumn("cid", col("cid").cast("long"))
    Dedup.semDominance(Dedup.semCells(codes, cent))
  }

  val d20SemDedupProbe: Op = Op(
    "d20_semdedup_probe", Dedup.d18SemDedup.oracle)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probeSemDedup(spark, root)
  })

  /** External-query IVF search — the request shape a vector store
    * actually serves: top-k cosine neighbors for ARBITRARY query
    * vectors, not corpus rows (every s-family op so far asks with
    * vec_id < NQ corpus vectors; a real serving layer is handed new
    * embeddings). `queries` = (id, embedding float array), DRIVER-
    * BOUNDED by contract like every probe head — a serving layer
    * answers per-request batches; corpus×corpus questions belong to
    * the s-family probes and the dedup family. Each query is
    * quantized, assigned to its nearest stored centroid driver-side,
    * and the candidate read prunes to the UNION of assigned cell
    * DIRECTORIES (the v8 bounded-listing rule); candidates ride one
    * broadcast probe join — no corpus shuffle, no training, and the
    * tombstone filter applies like every index read. External queries
    * have no corpus identity, so every indexed vector is a legal
    * neighbor (no self-exclusion). */
  def searchIvf(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = Similarity.K): DataFrame = {
    import spark.implicits._
    val cent = readCentroids(spark, s"$root/ivf/centroids")
    val idCol = queries.columns.head
    val vecCol = queries.columns(1)
    val q = queries
      .select(col(idCol).cast("long").as("query_id"),
        graft.functions.VectorFns.quantize(col(vecCol)).as("q_qv"))
      .collect() // bounded by the serving contract: one request batch
      .map { r =>
        val qv = r.getSeq[Long](1).toArray
        (r.getLong(0), qv.toSeq, Similarity.dotL(qv, qv),
          Similarity.nearestIdL(qv, cent))
      }
    // An empty request batch answers zero rows, not a crash (readPruned
    // requires a non-empty prune set — the rerankFetch empty-candidate
    // rule).
    if (q.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](),
        StructType(Seq(
          StructField("query_id", LongType), StructField("neighbor_id", LongType),
          StructField("cell", LongType), StructField("rnk", IntegerType),
          StructField("cosine", DoubleType))))
    val cells = q.map(_._4).distinct.sorted.toSeq
    val qDf = q.toSeq.toDF("query_id", "q_qv", "q_nrm", "q_cid")
    Similarity.cellRanked(Similarity.cosineTopK(readCells(spark, root, "ivf/codes", cells),
      qDf, col("cid") === col("q_cid"), k))
  }

  /** s20: [[searchIvf]] oracle-checked with DERIVED query vectors —
    * each query is the dimension-REVERSED embedding of a head corpus
    * row, so DuckDB can mirror the exact vectors (list_reverse) while
    * the vectors themselves are genuinely foreign to the index (a
    * reversed vector shares only its norm with its source). The oracle
    * assigns each query to its nearest Lloyd centroid with the same
    * (distance, cid) tie rule and ranks exact cosine within the cell. */
  val s20ExternalSearch: Op = Op(
    "s20_ann_external_query_search",
    Some(s"""
      WITH ${Similarity.duckVecs()},
      ${Similarity.duckLloydChain()},
      q AS (
        SELECT vec_id AS query_id, list_reverse(qv) AS q_qv, nrm AS q_nrm
        FROM af WHERE vec_id < ${Similarity.NQ}
      ),
      qd AS (
        SELECT q.query_id, q.q_qv, q.q_nrm, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ${graft.functions.VectorFns.duckNorm2("c.cv")}
                   - 2 * (${graft.functions.VectorFns.duckDot("q.q_qv", "c.cv")}),
                 c.cid) AS rk
        FROM q CROSS JOIN ${Similarity.duckLloydCentTbl} c
      ),
      qa AS (SELECT query_id, q_qv, q_nrm, cid FROM qd WHERE rk = 1),
      pairs AS (
        SELECT qa.query_id, a.vec_id, qa.cid,
               CAST(${graft.functions.VectorFns.duckDot("qa.q_qv", "a.qv")} AS DOUBLE)
                 / (sqrt(CAST(qa.q_nrm AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
        FROM qa JOIN af a ON a.cid = qa.cid
      ),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rnk
        FROM pairs
      )
      SELECT query_id, vec_id AS neighbor_id, CAST(cid AS BIGINT) AS cell,
             CAST(rnk AS INTEGER) AS rnk, cos AS cosine
      FROM ranked WHERE rnk <= ${Similarity.K}
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    val queries = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.NQ)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    searchIvf(spark, root, queries)
  })

  /** [[searchIvf]] under a metadata predicate — the request a vector
    * store serves MOST: top-k among candidates sharing the query's
    * label, for arbitrary query vectors. `queries` = (id, embedding,
    * label), driver-bounded like every request batch. PRE-filter
    * semantics by construction (the label is part of the join
    * condition, so ranking happens after filtering — the s14 rule);
    * the candidate read prunes the query cells' DIRECTORIES, the lb
    * bucket membership prunes bucket subdirectories at planning (the
    * buckets come from ONE tiny local job through the SAME
    * [[labelBucket]] column the build uses — no driver-side mirror to
    * drift), and the exact label equality pushes into the parquet scan
    * as a data filter. */
  def searchIvfFiltered(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = Similarity.K): DataFrame = {
    val cent = readCentroids(spark, s"$root/ivf/centroids")
    val Seq(idCol, vecCol, labCol) = queries.columns.take(3).toSeq
    // The label keeps its INPUT type end-to-end (the index stores it
    // natively; a lossy cast here would change the output schema and
    // break the pushed equality's row-group stats).
    val labType = queries.schema(labCol).dataType
    val collected = queries
      .select(col(idCol).cast("long").as("query_id"),
        graft.functions.VectorFns.quantize(col(vecCol)).as("q_qv"),
        col(labCol).as("q_label"),
        labelBucket(col(labCol)).as("q_lb"))
      .collect() // bounded by the serving contract: one request batch
    val qSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("q_qv", ArrayType(LongType)),
      StructField("q_nrm", LongType), StructField("q_cid", LongType),
      StructField("q_label", labType), StructField("q_lb", IntegerType)))
    val qRows = collected.map { r =>
      val qv = r.getSeq[Long](1).toArray
      Row(r.getLong(0), qv.toSeq, Similarity.dotL(qv, qv),
        Similarity.nearestIdL(qv, cent), r.get(2), r.getInt(3))
    }
    if (qRows.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](),
        StructType(Seq(
          StructField("query_id", LongType), StructField("label", labType),
          StructField("neighbor_id", LongType), StructField("cell", LongType),
          StructField("rnk", IntegerType), StructField("cosine", DoubleType))))
    val cells = qRows.map(_.getLong(3)).distinct.sorted.toSeq
    val buckets = qRows.map(_.getInt(5)).distinct.sorted.toSeq
    val labels = qRows.map(_.get(4)).distinct.toSeq
    val codes = readCells(spark, root, "ivf/codes", cells,
      col("lb").isin(buckets: _*), col("label").isin(labels: _*))
    val qDf = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), qSchema)
    Similarity.cellRanked(Similarity.cosineTopK(codes, qDf,
        col("cid") === col("q_cid") && col("label") === col("q_label"), k),
      col("q_label").as("label"))
  }

  /** s21: [[searchIvfFiltered]] oracle-checked with the s20 derivation
    * — reversed head embeddings as foreign query vectors, each carrying
    * its SOURCE row's label as the filter ("neighbors like this new
    * vector, same category"). The oracle assigns queries to cells like
    * s20's and adds the label equality to the pair join (the s15
    * pre-filter mirror: labels re-joined from `n`, which carries them). */
  val s21ExternalFilteredSearch: Op = Op(
    "s21_ann_external_filtered_search",
    Some(s"""
      WITH ${Similarity.duckVecs()},
      ${Similarity.duckLloydChain()},
      q AS (
        SELECT vec_id AS query_id, list_reverse(qv) AS q_qv, nrm AS q_nrm,
               label AS q_label
        FROM n WHERE vec_id < ${Similarity.NQ}
      ),
      qd AS (
        SELECT q.query_id, q.q_qv, q.q_nrm, q.q_label, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ${graft.functions.VectorFns.duckNorm2("c.cv")}
                   - 2 * (${graft.functions.VectorFns.duckDot("q.q_qv", "c.cv")}),
                 c.cid) AS rk
        FROM q CROSS JOIN ${Similarity.duckLloydCentTbl} c
      ),
      qa AS (SELECT query_id, q_qv, q_nrm, q_label, cid FROM qd WHERE rk = 1),
      pairs AS (
        SELECT qa.query_id, qa.q_label, a.vec_id, qa.cid,
               CAST(${graft.functions.VectorFns.duckDot("qa.q_qv", "a.qv")} AS DOUBLE)
                 / (sqrt(CAST(qa.q_nrm AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS cos
        FROM qa
        JOIN af a ON a.cid = qa.cid
        JOIN n nb ON nb.vec_id = a.vec_id AND nb.label = qa.q_label
      ),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rnk
        FROM pairs
      )
      SELECT query_id, q_label AS label, vec_id AS neighbor_id,
             CAST(cid AS BIGINT) AS cell, CAST(rnk AS INTEGER) AS rnk,
             cos AS cosine
      FROM ranked WHERE rnk <= ${Similarity.K}
      ORDER BY query_id, rnk
    """))((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    val queries = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.NQ)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        col("label"))
    searchIvfFiltered(spark, root, queries)
  })

  /** d22 served from the persisted index (the d18→d20 move applied to
    * the multi-assignment variant): stored vectors + stored centroids,
    * the second assignment computed at probe time by the SAME
    * [[Similarity.nearest2Ids]] expression the inline op uses (the
    * index stores each row under its rank-1 cell; rank 2 is one
    * codegen'd projection over the stored (qv) — still no Lloyd
    * aggregates, no raw-corpus read), then the ONE shared
    * [[Dedup.semCellsMulti]]/[[Dedup.semDominanceMulti]] tail. Shares
    * d22's oracle: same trainer, same corpus, same kc. */
  def probeSemDedupMulti(spark: SparkSession, root: String): DataFrame = {
    val cent = readCentroids(spark, s"$root/ivf/centroids")
    val codes = tombs(root).live(spark, readTable(spark, s"$root/ivf/codes"))
      .select("vec_id", "qv", "nrm")
    Dedup.semDominanceMulti(Dedup.semCellsMulti(codes, cent))
  }

  val d23SemDedupMultiProbe: Op = Op(
    "d23_semdedup_multicell_probe", Dedup.d22SemDedupMulti.oracle)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probeSemDedupMulti(spark, root)
  })

  /** The UNSORTED dominated-id set served from the index — what a
    * composing consumer (the persisted-path c5 census) anti-joins;
    * [[probeSemDedup]]'s full verdict table additionally re-attaches
    * kept/n_dom to every row and pays a presentation sort (the d2Pairs
    * set-vs-table rule). */
  def probeSemDroppedIds(spark: SparkSession, root: String): DataFrame = {
    val cent = readCentroids(spark, s"$root/ivf/centroids")
    val codes = tombs(root).live(spark, readTable(spark, s"$root/ivf/codes"))
      .withColumn("cid", col("cid").cast("long"))
    Dedup.semDominators(Dedup.semCells(codes, cent)).select("vec_id")
  }

  /** Filtered search from the index (s14's question answered the way a
    * vector store answers it at scale): unlike s9-s11 this is not a
    * build/probe split of an existing inline op — the cell gate changes
    * the candidate set, so the oracle is its own Lloyd-mirror chain with
    * the label predicate in the pair join (cell ∩ label). */
  val s15FilteredProbe: Op = Op(
    "s15_ann_filtered_probe", Similarity.filteredIvfOracleSql)((spark, dir) => {
    val root = defaultRoot(dir)
    ensureBuilt(spark, dir, root)
    probeIvfFiltered(spark, root)
  })

  override def ops: Seq[Op] =
    Seq(s9IvfProbe, s10PqProbe, s11IvfPqProbe, s15FilteredProbe,
      s18PqRerankProbe, s19IvfPqRerankProbe, d20SemDedupProbe,
      d23SemDedupMultiProbe, s20ExternalSearch, s21ExternalFilteredSearch)
}
