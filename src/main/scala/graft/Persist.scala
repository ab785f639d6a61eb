package graft

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The on-disk lifecycle of a persisted root — the near-dup index
  * ([[graft.operators.NearDupIndex]]), the ANN index
  * ([[graft.operators.AnnIndex]]), the stamped curation pair tables and
  * the maintenance roots ([[graft.operators.Maintenance]]): files and
  * marker files, corpus-keyed roots built once per corpus, the tombstone
  * delete-vector, and the tmp→live publish that compaction, purges and
  * rebuilds swap through. Nothing here knows which root it serves: what
  * differs between callers (the id column, the membership frame, the
  * tables to rewrite) is passed in.
  *
  * Every path is FileSystem-resolved: a root may be hdfs:// or s3a://,
  * where java.io.File would report every table missing. */
object Persist {

  // ---- files and markers ----------------------------------------------

  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, p: String): Boolean = fs(spark, p).exists(new Path(p))

  def delete(spark: SparkSession, p: String): Unit = {
    fs(spark, p).delete(new Path(p), true)
    ()
  }

  /** True when `p` holds at least one DATA file at any depth (partitioned
    * tables keep theirs under `col=value` dirs). `_`- and `.`-prefixed
    * names are metadata — markers such as `_family`, `_SUCCESS`, checksum
    * sidecars, hidden staging dirs — so a dir holding only a marker reads
    * as the empty table instead of crashing parquet schema inference. The
    * walk stops at the first data file. */
  def hasData(spark: SparkSession, p: String): Boolean = {
    val f = fs(spark, p)
    def under(d: Path): Boolean = f.listStatus(d).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && (s.isFile || under(s.getPath))
    }
    val hp = new Path(p)
    f.exists(hp) && under(hp)
  }

  /** A marker file's UTF-8 content, or None when it is absent. */
  def readMarker(spark: SparkSession, p: String): Option[String] = {
    val f = fs(spark, p)
    val hp = new Path(p)
    if (!f.exists(hp)) None
    else {
      val in = f.open(hp)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  def writeMarker(spark: SparkSession, p: String, content: String): Unit = {
    val out = fs(spark, p).create(new Path(p), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The writer lease on `root` for a mutation tagged `tag` (one writer
    * per root: see [[WriterLease]]). */
  def leased[T](spark: SparkSession, root: String, tag: String)(body: => T): T =
    WriterLease.withLease(spark, root, WriterLease.processOwner(tag))(body)

  // ---- corpus-keyed roots, built once per corpus ----------------------

  /** Deterministic per-corpus root `graft_<kind>_<dir squashed>_<md5>`
    * under java.io.tmpdir (test/bench convenience; production callers
    * pass their own roots). The md5 suffix disambiguates dirs the
    * character squashing would alias (`/a/b` vs `/a_b`). */
  def corpusRoot(kind: String, dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_${key}_$h"
  }

  /** Cheap corpus identity: `dir/table`'s file-level metadata (per-file
    * name, length, mtime), hashed. A FileSystem listing — no Spark job —
    * yet it changes whenever the corpus files are rewritten, so a
    * regenerated corpus with the SAME row count still invalidates what
    * was built from it. */
  def corpusFingerprint(spark: SparkSession, dir: String, table: String): String = {
    val p = new Path(s"$dir/$table")
    val f = fs(spark, p.toString)
    val parts = (if (f.getFileStatus(p).isDirectory) f.listStatus(p).toSeq
                 else Seq(f.getFileStatus(p)))
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted
    val h = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(s => h.update(s.getBytes("UTF-8")))
    h.digest().map("%02x".format(_)).mkString
  }

  /** The build-marker content for a root built from `dir/table`: the
    * caller's `stamp` (version, build parameters) then the corpus
    * fingerprint. */
  def corpusMarker(spark: SparkSession, dir: String, table: String, stamp: String): String =
    s"${stamp}f=${corpusFingerprint(spark, dir, table)}\n"

  /** Markers this JVM has already built or validated. Revalidating (a
    * marker read plus a corpus listing) on every call would put constant
    * overhead inside timed probe paths for no information: under the
    * single-writer contract nothing else rewrites a corpus or a root
    * under a live process. */
  private val validated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: simulate a fresh process (the cache is JVM-local). */
  private[graft] def resetValidationCacheForTest(): Unit = validated.clear()

  /** Runs `build` unless `marker` already holds [[corpusMarker]]`(dir,
    * table, stamp)`. `build` receives that content and must leave it in
    * `marker`, written last, so a root without it is a failed build and
    * is rebuilt, never served. Metadata-only: no Spark job on the
    * validation path, and none at all once this JVM validated the
    * marker. */
  def buildOnce(spark: SparkSession, dir: String, table: String, marker: String,
      stamp: String)(build: String => Unit): Unit = {
    val key = s"$dir|$marker|$stamp"
    if (validated.contains(key)) return
    val want = corpusMarker(spark, dir, table, stamp)
    if (!readMarker(spark, marker).contains(want)) build(want)
    validated.add(key)
    ()
  }

  // ---- publish and compact --------------------------------------------

  private def siblings(live: String, tag: String): (Path, Path, Path) = {
    val lp = new Path(live)
    (lp, new Path(lp.getParent, s".${lp.getName}_${tag}_tmp"),
      new Path(lp.getParent, s".${lp.getName}_${tag}_bak"))
  }

  /** Replaces the directory `live` with a new generation: `write` fills
    * the hidden sibling `.<name>_<tag>_tmp` (same parent, so the renames
    * stay atomic directory moves), then live moves to `.<name>_<tag>_bak`,
    * tmp moves in and bak is deleted. Readers see the old generation up
    * to the second rename and the new one after it. A failed publish
    * rename moves bak back; a crash between the renames leaves live
    * missing and bak whole, which [[heal]] restores. Stale siblings of an
    * earlier crash are deleted before `write` runs. */
  def publish[A](spark: SparkSession, live: String, tag: String)(write: String => A): A = {
    val (lp, tmp, bak) = siblings(live, tag)
    val f = fs(spark, live)
    f.delete(tmp, true)
    f.delete(bak, true)
    val out = write(tmp.toString)
    if (!f.rename(lp, bak))
      throw new IOException(s"$tag: could not move $lp aside")
    if (!f.rename(tmp, lp)) {
      f.rename(bak, lp) // roll back: the old generation keeps serving
      throw new IOException(s"$tag: could not publish $tmp; rolled back")
    }
    f.delete(bak, true)
    out
  }

  /** Restores `live` from its [[publish]] bak when a crash between the
    * two renames left it missing. */
  def heal(spark: SparkSession, live: String, tag: String): Unit = {
    val (lp, _, bak) = siblings(live, tag)
    val f = fs(spark, live)
    if (!f.exists(lp) && f.exists(bak) && !f.rename(bak, lp))
      throw new IOException(s"$tag: could not restore $bak to $lp")
  }

  /** Merges the per-batch append files of each of `root`'s `tables` that
    * holds data, under the root's writer lease ([[graft.olapsus.Warehouse
    * .compactPath]]: partition layout and `_`-prefixed marker files
    * survive). `gate` runs first, inside the lease. Returns the new file
    * count per table. */
  def compact(spark: SparkSession, root: String, tag: String, tables: Seq[String],
      targetFileBytes: Long, gate: => Unit = ()): Map[String, Int] =
    leased(spark, root, tag) {
      gate
      tables.filter(t => hasData(spark, s"$root/$t"))
        .map(t => t -> graft.olapsus.Warehouse.compactPath(spark, s"$root/$t", targetFileBytes))
        .toMap
    }

  // ---- tombstones: logical deletion, physically applied by purge ------

  /** The delete-vector of `root`: removed ids land in the append-only
    * `root/tombstones` table (one `id` BIGINT column) and every read
    * anti-joins it, so a remove costs O(batch) I/O however large the
    * root is; [[purge]] later applies the deletion physically. The set is
    * bounded by what was removed since the last purge, never by the
    * corpus, which is why every join against it broadcasts. */
  final case class Tombstones(root: String, id: String) {
    private val path = s"$root/tombstones"

    private val schema = StructType(Seq(StructField(id, LongType)))

    /** The tombstoned ids, or None when nothing is tombstoned (the common
      * path: one existence check). Read with the declared schema, so no
      * footer-inference job. */
    def read(spark: SparkSession): Option[DataFrame] =
      if (hasData(spark, path)) Some(spark.read.schema(schema).parquet(path).distinct())
      else None

    /** `df` without the rows whose `keys` columns hold an id in `t` (a
      * pair row leaves when either member is tombstoned, exactly as a
      * fresh build on the reduced corpus would never find it). The
      * trailing select restores `df`'s column order: a USING join moves
      * its key to the front, which positional consumers and rewritten
      * files must not see. */
    def minus(df: DataFrame, t: DataFrame, keys: Seq[String] = Seq(id)): DataFrame =
      keys.foldLeft(df)((d, k) => d.join(broadcast(t.select(col(id).as(k))), Seq(k), "anti"))
        .select(df.columns.map(col): _*)

    /** [[minus]] against the current set; `df` itself when none. */
    def live(spark: SparkSession, df: DataFrame, keys: Seq[String] = Seq(id)): DataFrame =
      read(spark).fold(df)(minus(df, _, keys))

    /** Refuses an append `batch` that carries a tombstoned id: readers
      * anti-join tombstones by id, so a re-added row would be masked by
      * its predecessor's tombstone. Remove-then-add is an update and
      * needs a [[purge]] between the two. */
    def refuse(t: Option[DataFrame], batch: DataFrame, what: String): Unit =
      t.foreach { t =>
        val n = batch.select(id).join(broadcast(t), Seq(id), "semi").count()
        if (n > 0) throw new IllegalStateException(
          s"$what: $n batch row(s) are tombstoned at $root — run " +
            "purgeTombstones() before re-adding removed ids (re-added rows " +
            "would be masked by their own tombstones).")
      }

    /** Tombstones the ids in `ids`' first column that `members` holds
      * (bounded: ids the root does not hold are ignored) and that are not
      * tombstoned yet, so a crashed remove replays to the same state.
      * `beforeAppend` runs before the first tombstone is written. Returns
      * the count of newly tombstoned ids. */
    def remove(spark: SparkSession, ids: DataFrame, members: DataFrame,
        beforeAppend: () => Unit = () => ()): Long = {
      val wanted = ids.select(col(ids.columns.head).cast("long").as(id)).distinct()
        .join(members.select(id), Seq(id), "semi")
      val fresh = read(spark).fold(wanted)(minus(wanted, _)).cache()
      try {
        val n = fresh.count()
        if (n > 0) {
          beforeAppend()
          fresh.write.mode("append").parquet(path)
        }
        n
      } finally { fresh.unpersist(); () }
    }

    /** Applies the tombstones physically: pins the set, lets `rewrite`
      * drop the tombstoned rows from the root's tables (returning rows
      * dropped per table), then deletes the tombstone table LAST — the
      * commit point. A crash anywhere earlier replays safely: the
      * rewrites anti-join the still-present tombstones, so re-running
      * them on already-filtered tables drops nothing, and the final
      * delete re-runs. */
    def purge(spark: SparkSession)(rewrite: DataFrame => Map[String, Long]): Map[String, Long] =
      read(spark).fold(Map.empty[String, Long]) { t0 =>
        val t = t0.cache()
        t.count() // pin the set: the rewrites must not re-read a moving table
        val dropped = try rewrite(t) finally { t.unpersist(); () }
        delete(spark, path)
        dropped
      }

    /** The flat table `p` rewritten without `t`'s rows (crash-safe
      * [[graft.olapsus.Warehouse.rewritePath]], markers carried) when it
      * holds any. Returns the rows dropped. */
    def rewriteFlat(spark: SparkSession, t: DataFrame, p: String, targetFileBytes: Long,
        keys: Seq[String] = Seq(id)): Long = {
      val all = spark.read.parquet(p)
      val hit = all.count() - minus(all, t, keys).count()
      if (hit > 0)
        graft.olapsus.Warehouse.rewritePath(spark, p, targetFileBytes, minus(_, t, keys))
      hit
    }
  }
}
