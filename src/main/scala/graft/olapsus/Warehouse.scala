package graft.olapsus

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed star-schema warehouse replacing the reference's Postgres
  * instance (scripts/init.sql DDL; JDBC reads/writes in
  * dags/spark_script_sim.py:27-29,239,402).
  *
  * One directory per table under `root`. Facts are append-only and
  * partitioned by the ingest date (`dt`), giving the same
  * partition-pruned daily layout the reference gets from its
  * `dt=YYYY-MM-DD` landing keys (dags/spark_dag.py:70) — at 100 TB this
  * is what makes per-day reprocessing and time-sliced queries prune.
  */
final class Warehouse(val spark: SparkSession, val root: String) {

  private def path(table: String): String = s"$root/$table"

  /** Full-table overwrite (dim seeds, signature bootstrap). A writer
    * like any other: takes the table's lease scope so a seed re-run
    * cannot race a concurrent compaction of the same table. A declared
    * table must be written in its declared shape ([[table]]). */
  def write(table: String, df: DataFrame): Unit =
    graft.WriterLease.withLease(spark, root,
      graft.WriterLease.processOwner("wh-write"),
      scope = Warehouse.leaseScope(table)) {
      writeUnleased(table, df)
    }

  /** [[write]] without lease acquisition — for callers that already hold
    * the table's scope lease (the SIM ingest bootstraps the signature
    * table inside its own `sim` lease; re-acquiring would self-conflict:
    * the lease is not reentrant). */
  private[olapsus] def writeUnleased(table: String, df: DataFrame): Unit = {
    requireDeclaredShape(table, df)
    df.write.mode("overwrite").parquet(path(table))
  }

  /** [[table]] reads a declared table with its declared schema, and a
    * column the files lack would read as NULL without any error — so a
    * writer that drifts from the declaration fails here, before writing. */
  private def requireDeclaredShape(table: String, df: DataFrame): Unit =
    Warehouse.Declared.get(table).foreach { declared =>
      require(Schemas.shape(df.schema) == Schemas.shape(declared),
        s"$table must be written in its declared shape ${Schemas.shape(declared)}, " +
          s"got ${Schemas.shape(df.schema)}")
    }

  /** Idempotent day write: REPLACES the `dt=$dt` partition with exactly
    * this batch's rows. Dynamic partition overwrite touches only the
    * partitions present in the data — one `lit(dt)` value — so every
    * other day survives untouched. This closes the crash window between
    * the fact write and the manifest log row: a run that died in between
    * left the day written-but-unlogged, and the old `mode("append")`
    * replay would re-append the whole day (permanent duplicate counts
    * in every serving query). With overwrite semantics the replay
    * converges on the same single copy. The reference has the
    * append-only flaw (bare JDBC append, spark_script_sim.py:402); we
    * fix it rather than port it. Caller holds the table's scope lease. */
  def overwriteDay(table: String, df: DataFrame, dt: String): Unit =
    df.withColumn("dt", org.apache.spark.sql.functions.lit(dt))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt").parquet(path(table))

  /** Replayable APPEND into `dt=$dt` for writers whose unit of work is
    * smaller than a day — the streaming backfill, where several
    * micro-batches may legitimately land files in the same day
    * partition, so [[overwriteDay]] would wipe a sibling batch's rows.
    * Every file of this write is prefixed `$unit-`; a replay of the same
    * unit first deletes its own earlier files (a crashed attempt's
    * partial output) and then re-stages, so appends converge per unit
    * while distinct units accumulate. Stage-then-rename: the batch is
    * written to a hidden sibling dir, then each part file moves into the
    * partition under the unit prefix — a crash at any point leaves only
    * unit-prefixed files the next replay removes. Caller holds the
    * table's scope lease (the delete-by-prefix is only safe
    * single-writer). */
  def appendUnit(table: String, df: DataFrame, dt: String, unit: String): Unit = {
    require(unit.matches("[A-Za-z0-9_.-]+"), s"unit must be path-safe: $unit")
    val tableDir = new Path(path(table))
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDir = new Path(tableDir, s"dt=$dt")
    if (fs.exists(partDir))
      fs.listStatus(partDir).filter(_.getPath.getName.startsWith(s"$unit-"))
        .foreach(s => fs.delete(s.getPath, false))
    val tmp = new Path(tableDir, s".unit_${unit}_tmp")
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(partDir)
    fs.listStatus(tmp)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .foreach { s =>
        val target = new Path(partDir, s"$unit-${s.getPath.getName}")
        if (!fs.rename(s.getPath, target))
          throw new java.io.IOException(s"appendUnit: could not move ${s.getPath} to $target")
      }
    fs.delete(tmp, true)
  }

  /** Un-partitioned row append (bridge-table merge): adds only the new
    * rows' files — existing files are never rewritten, so the daily cost
    * is O(new rows), not O(table). The reference does the same
    * (mode("append") to ponteGrupoCausas, spark_script_sim.py:239). */
  def appendRows(table: String, df: DataFrame): Unit = {
    requireDeclaredShape(table, df)
    df.write.mode("append").parquet(path(table))
  }

  /** The unpartitioned tables [[Schemas]] declares (the dims and the
    * bridge) are read with their declared schema, so a
    * read infers nothing from file footers (no Spark job); the writers
    * enforce that declaration ([[write]], [[appendRows]]). Every other
    * table — the dt-partitioned facts, the signature table — is read
    * with its schema inferred from its files. */
  def table(table: String): DataFrame = Warehouse.Declared.get(table) match {
    case Some(schema) => spark.read.schema(schema).parquet(path(table))
    case None => spark.read.parquet(path(table))
  }

  /** Write a table copy bucketed (and sorted) by the given key into the
    * session catalog as `<table>_bucketed`, backed by files under the
    * warehouse root.
    *
    * Bucketing pre-hash-partitions the data ON DISK: a join or
    * aggregation keyed on the bucket columns between two tables with the
    * same bucket count reads co-located buckets and plans with NO
    * shuffle exchange — the 100 TB lever for repeated fact⋈fact /
    * fact⋈big-dim joins when broadcast is off (the reference disables
    * auto-broadcast globally, dags/spark_dag.py:41). Small dims should
    * stay broadcast; bucket the big sides. */
  def writeBucketed(table: String, buckets: Int, bucketCols: Seq[String]): String = {
    val name = s"${table}_bucketed".toLowerCase
    // A bucket rebuild is a writer of `name`'s directory: take the same
    // scope a compaction of that directory takes, so rebuild-vs-compact
    // races fail fast instead of interleaving file rewrites.
    graft.WriterLease.withLease(spark, root,
      graft.WriterLease.processOwner("wh-bucketed"),
      scope = Warehouse.leaseScope(name)) {
      this.table(table).write.mode("overwrite")
        .option("path", path(name))
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(name)
    }
    name
  }

  /** FileSystem-resolved existence — java.io.File is silently false on
    * `hdfs://`/`s3a://` roots, which would make the ingest manifest
    * report "not ingested" on an object-store warehouse and re-append
    * the same day (the exact bug `ingestLogged` exists to prevent). */
  def exists(table: String): Boolean = {
    val p = new Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Optional JDBC table reader — the reference pulls every dimension
    * over JDBC from Postgres (get_jdbc_df, spark_script_sim.py:27-29)
    * and appends facts the same way. The Parquet warehouse replaces
    * both by design, but the seam stays for hybrid deployments where a
    * dim is mastered in an RDBMS: swap `table(name)` for
    * `jdbcTable(url, name)` and the rest of the pipeline is unchanged
    * (both return a lazy DataFrame). */
  def jdbcTable(url: String, table: String,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Has this (dataset, dt) batch already been ingested? The manifest
    * makes per-day batch ingest idempotent: Airflow-style re-runs of a
    * day (the reference would double-append, spark_dag.py:48-78 has no
    * guard) become no-ops. Single-writer, like the bridge merge. */
  def ingestLogged(dataset: String, dt: String): Boolean =
    ingestKeys(dataset)(dt)

  /** Every key the manifest logs for `dataset` — plain days and the
    * streaming backfill's `day#unit` keys — in one directory listing,
    * no Spark job. Loops that would ask [[ingestLogged]] once per key
    * take this snapshot once instead. The manifest is append-only, so a
    * key in the snapshot stays logged; a key missing from it is only
    * current while the caller holds the dataset's lease. */
  def ingestKeys(dataset: String): Set[String] = {
    val (fs, dir) = manifestDir(dataset)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .map(Warehouse.keyOfMarker).toSet
  }

  /** Logs `dt` (a day or a `day#unit` key) for `dataset`: creates its
    * empty marker file. Idempotent, and a crash leaves the key either
    * logged or not, never half-logged. Callers write the batch first and
    * log it second, so a crash in between leaves the batch written but
    * unlogged and its replay converges (CrashReplaySpec).
    *
    * Both datasets' drivers take the manifest-scoped lease here. It
    * BLOCKS with bounded retry rather than failing fast: this runs after
    * the fact write succeeded, and a throw would leave the day
    * written-but-unlogged. */
  def logIngest(dataset: String, dt: String): Unit =
    graft.WriterLease.withLeaseRetry(spark, root,
      graft.WriterLease.processOwner("manifest-append"),
      scope = Warehouse.ManifestScope) {
      val (fs, dir) = manifestDir(dataset)
      fs.create(new Path(dir, Warehouse.markerOfKey(dt)), true).close()
    }

  /** `_ingest_log/<dataset>`: the manifest holds one directory per
    * dataset and one empty file per logged key in it. A file directly
    * under `_ingest_log/` is the Parquet manifest of earlier versions;
    * reading it as "nothing logged" would re-ingest every landed day, so
    * it fails here, before anything is read or written. */
  private def manifestDir(dataset: String): (FileSystem, Path) = {
    val top = new Path(path(Warehouse.IngestLog))
    val fs = top.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(top) && fs.listStatus(top).exists(_.isFile))
      throw new IllegalStateException(s"$top holds a Parquet ingest manifest, " +
        "the format before one marker file per key; it is not read as empty, since " +
        "that would re-ingest every landed day. Convert it: for each (dataset, dt) " +
        s"row create an empty file $top/<dataset>/<dt, URL-encoded>, then delete " +
        "the Parquet files.")
    (fs, new Path(top, dataset))
  }

  /** Rewrite a table's (or one fact `dt=` partition's) accumulated
    * small append files into ceil(bytes / targetFileBytes) files
    * (append-only merges pay one file per batch; compaction is the
    * periodic counterpart). Compacting a single partition touches ONLY
    * that directory — a daily maintenance job compacts yesterday's
    * partition without rewriting history. The rewrite goes through a
    * temp dir and FileSystem renames, so it works on any configured
    * scheme. Returns the new file count.
    *
    * A WHOLE-table compact of a partitioned table must preserve the
    * `col=value` directory layout: partition discovery materializes the
    * partition columns as data columns, so a flat rewrite would drop
    * the directories and leave a mix of `dt=` subdirs (from later
    * appends) and root-level files — unreadable ("conflicting directory
    * structures"). Partition columns are discovered from the directory
    * tree (any nesting depth) and the rewrite restores them with
    * `partitionBy`, salted so the file-size target holds per partition.
    *
    * Commit order is crash-safe: write tmp → rename live aside (.bak) →
    * rename tmp in → delete .bak. Every crash point leaves either the
    * old or the new data recoverable by a rename; the destructive
    * delete happens only after the new files are live. */
  def compact(tableName: String, targetFileBytes: Long = 128L * 1024 * 1024,
      partition: Option[String] = None): Int = {
    require(tableName != Warehouse.IngestLog, s"$tableName is the ingest manifest, " +
      "one empty marker file per logged key: there is nothing to compact")
    val rel = partition.map(p => s"$tableName/$p").getOrElse(tableName)
    // Compaction is a writer too: a Maintain run racing an ingest would
    // rewrite files the ingest is appending around. Scoped to the
    // table's owning ingest so compacting factObitos doesn't block a
    // concurrent SINASC day.
    graft.WriterLease.withLease(spark, root,
      graft.WriterLease.processOwner("wh-compact"),
      scope = Warehouse.leaseScope(tableName)) {
      dropCrashedUnitFiles(tableName, partition)
      Warehouse.compactPath(spark, path(rel), targetFileBytes)
    }
  }

  /** [[appendUnit]]'s replay idempotency is delete-by-unit-prefix, so a
    * crashed (written-but-unlogged) unit's files must NOT be folded into
    * compaction's anonymous `part-*` output: the unit's replay would
    * find nothing to delete and re-append rows the compacted files
    * already carry — permanent duplication. Under the table lease (the
    * crashed writer is gone or its lease would have blocked us), any
    * unit-prefixed file whose `day#unit` manifest key is absent IS a
    * crashed attempt, and deleting it re-creates exactly the state the
    * unit's own replay would: the rows return when the checkpointed
    * micro-batch re-runs. Logged units' files fold in safely — their
    * replay is skipped at the manifest check, never at the prefix
    * delete. The manifest is read once per compaction, and only if a
    * unit-prefixed file exists. */
  private def dropCrashedUnitFiles(tableName: String,
      partition: Option[String]): Unit =
    Warehouse.unitDataset(tableName).foreach { dataset =>
      val tableDir = new Path(path(tableName))
      val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(tableDir)) return
      lazy val logged = ingestKeys(dataset)
      val parts = partition match {
        case Some(p) => Seq(new Path(tableDir, p)).filter(fs.exists(_))
        case None => fs.listStatus(tableDir).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
          .map(_.getPath)
      }
      parts.foreach { partDir =>
        val d = partDir.getName.stripPrefix("dt=")
        fs.listStatus(partDir).filter(_.isFile).foreach { f =>
          val n = f.getPath.getName
          // appendUnit names files `$unit-part-…`; the part-file body
          // never contains another "-part-", so the LAST occurrence is
          // the unit boundary even for units with dashes.
          val i = n.lastIndexOf("-part-")
          if (i > 0 && !n.startsWith("_") && !n.startsWith(".")) {
            val unit = n.substring(0, i)
            if (!logged(s"$d#$unit")) fs.delete(f.getPath, false)
          }
        }
      }
    }

  /** Register every existing table as a lowercase temp view (the serving
    * queries use the reference's lowercase Postgres spellings). */
  def registerViews(): Unit =
    Warehouse.AllTables.filter(exists).foreach { t =>
      table(t).createOrReplaceTempView(t.toLowerCase)
    }
}

object Warehouse {
  val Dims: Seq[String] = Seq(
    "dimData", "dimHorario", "dimMunicipio", "dimOcupacao", "dimCausa",
    "dimDemografia", "dimInfoNascimento")
  val Bridge = "ponteGrupoCausas"
  val Signatures = "ponteAssinaturas"
  /** The ingest manifest's directory ([[Warehouse.logIngest]]). */
  val IngestLog = "_ingest_log"
  val Facts: Seq[String] = Seq("factNascimentos", "factObitos")
  val AllTables: Seq[String] = Dims ++ Seq(Bridge) ++ Facts

  /** The tables read with their declared schema ([[Warehouse.table]]). */
  val Declared: Map[String, org.apache.spark.sql.types.StructType] =
    (Dims :+ Bridge).map(t => t -> Schemas.all(t)).toMap

  /** Scope of the lease both datasets' `logIngest` take. */
  val ManifestScope = "manifest"

  /** Single-writer lease scope per table: tables written by the same
    * ingest share one scope (a compaction can't race its own writer),
    * while the two reference DAGs — SIM and SINASC, disjoint fact sets —
    * stay mutually concurrent, as the reference's Airflow deploys them. */
  def leaseScope(table: String): String = table match {
    case "factNascimentos" => "sinasc"
    case "factObitos" | Bridge | Signatures => "sim"
    case t => t
  }

  /** A manifest key's marker file name: UTF-8 percent-encoding of every
    * byte outside `[A-Za-z0-9-]`, so `day#unit` keys, `/`, `%`, `.` and
    * spaces survive any FileSystem, and no name starts with `.` or `_`
    * (hidden names, checksum sidecars). A plain day stays readable:
    * `2021-07-03`. */
  private def markerOfKey(key: String): String =
    key.getBytes(java.nio.charset.StandardCharsets.UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        || c == '-') c.toString
      else f"%%${b & 0xff}%02X"
    }.mkString

  private def keyOfMarker(name: String): String =
    java.net.URLDecoder.decode(name, java.nio.charset.StandardCharsets.UTF_8)

  /** The manifest dataset whose `day#unit` keys govern a table's
    * unit-prefixed appends — only the fact tables the streaming backfill
    * writes through [[Warehouse.appendUnit]]. */
  def unitDataset(table: String): Option[String] = table match {
    case "factNascimentos" => Some("sinasc")
    case "factObitos" => Some("sim")
    case _ => None
  }

  /** Path-level compaction core — shared by warehouse tables and the
    * persisted index roots ([[graft.operators.NearDupIndex]] /
    * [[graft.operators.AnnIndex]] append one file per batch per family;
    * a long streaming-maintenance run degrades probe latency until the
    * small files are merged). Semantics as documented on
    * [[Warehouse.compact]]; additionally, top-level metadata files
    * (`_family`, custom markers — any `_`-prefixed FILE) survive the
    * rewrite: Spark ignores them as data but the index contracts depend
    * on them. */
  def compactPath(spark: SparkSession, dirPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int =
    rewritePath(spark, dirPath, targetFileBytes, identity)

  /** [[compactPath]] with a row-level rewrite injected between the read
    * and the re-filing — the physical half of index tombstone purging
    * ([[graft.operators.NearDupIndex.purgeTombstones]] /
    * [[graft.operators.AnnIndex.purgeTombstones]] pass an anti-join on
    * the tombstone set). Published through [[graft.Persist.publish]]'s
    * crash-safe tmp/bak swap, markers carried, as compaction; `transform` must be DETERMINISTIC
    * and idempotent on its own output (an anti-join is both), so a
    * crashed rewrite replays to the same state. */
  def rewritePath(spark: SparkSession, dirPath: String,
      targetFileBytes: Long,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Int = {
    val fs = graft.Persist.fs(spark, dirPath)
    val dir = new Path(dirPath)
    // Hive-style partition dirs, walked to ANY nesting depth
    // (year=/month=/...): compacting with only the top level would
    // demote deeper partition columns to data columns and flatten
    // their directories — exactly the mixed-layout corruption this
    // path exists to prevent.
    def partColsOf(p: Path, acc: Seq[String]): Seq[String] = {
      val kids = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filter(k => k.getName.contains("=")
          && !k.getName.startsWith(".") && !k.getName.startsWith("_"))
      if (kids.isEmpty) acc
      else partColsOf(kids.head, acc :+ kids.head.getName.split("=", 2)(0))
    }
    val partCols = partColsOf(dir, Nil)
    def filesUnder(p: Path): Long = {
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) total += f.getLen
      }
      total
    }
    val bytes = filesUnder(dir)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    graft.Persist.publish(spark, dirPath, "compact") { tmp =>
      val df = transform(spark.read.parquet(dirPath))
      // Branch on partCols ALONE (discovered relative to the dir being
      // compacted): compacting a single partition that itself contains
      // nested `col=value` dirs (e.g. `--partition a=g0` on an a=/b=
      // table) must restore the DEEPER layout too, or the rewrite demotes
      // the inner partition column to a data column and flattens its dirs
      // while sibling partitions keep them — conflicting structures.
      if (partCols.nonEmpty) {
        // Cluster by (partition values, bounded hash salt): each partition
        // dir compacts in parallel into ~ceil(nFiles / #partitions) files,
        // so targetFileBytes is honored even when one partition holds most
        // of the table (clustering by partition values ALONE would write
        // each partition as a single arbitrarily-large file).
        import org.apache.spark.sql.functions.{col, hash, lit, pmod}
        val nParts = math.max(1L, df.select(partCols.map(col): _*).distinct().count())
        val filesPerPart = math.max(1, math.ceil(nFiles.toDouble / nParts).toInt)
        val dataCols = df.columns.filterNot(partCols.contains)
        val salt = pmod(hash(dataCols.map(col): _*), lit(filesPerPart))
        df.repartition(math.max(nFiles, 1), partCols.map(col) :+ salt: _*)
          .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
      } else {
        // A partition dir read drops the dt column (it lives in the path);
        // files rewritten into the same dir keep the partitioned layout.
        df.repartition(nFiles).write.mode("overwrite").parquet(tmp)
      }
      val tp = new Path(tmp)
      require(fs.exists(tp), s"compact: tmp write produced nothing at $tmp")
      // Carry index metadata markers (top-level `_`-prefixed FILES, e.g.
      // `_family`) into tmp BEFORE the publish renames, so the new dir is
      // born complete: carrying them after publish would open a
      // reader-visible window in which the live dir has data but no
      // `_family` stamp, making unleased readers (requireFamily, index
      // probes) fail spuriously with the "rebuild it" error. COPY, not
      // rename — the live dir keeps serving readers until the swap. The
      // fresh write's own markers (e.g. `_SUCCESS`) win on name collision.
      fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.startsWith("_"))
        .foreach { s =>
          val target = new Path(tp, s.getPath.getName)
          if (!fs.exists(target))
            org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs, target,
              false, spark.sparkContext.hadoopConfiguration)
        }
    }
    nFiles
  }
}
