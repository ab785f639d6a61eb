package graft.olapsus

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{Dataset, Row}

/** Streaming re-expression of the reference's daily ingest loop
  * (SURVEY.md §1.1 optional stretch): instead of Airflow re-running a
  * batch job per `dt=` partition (dags/spark_dag.py:48-78), the
  * dt-partitioned landing tree IS a file stream — `Trigger.AvailableNow`
  * drains whatever has arrived and checkpoints progress, so each file is
  * ingested exactly once across restarts. Each micro-batch day runs the
  * dataset's one day body ([[Pipeline.RawDataset]]), the same body the
  * batch driver runs, so semantics are identical to `Pipeline.ingest*`.
  *
  * Unlike the batch driver, which reads CSV columns by header name, the
  * stream reads with the declared schema ([[Schemas.sinascHeader]],
  * [[Schemas.simHeader]]) and requires each file's header to be exactly
  * that row: a file whose header differs fails the micro-batch instead of
  * mapping its columns by position.
  */
object StreamingIngest {

  /** Stable token for one checkpoint LIFETIME, stored inside the
    * checkpoint dir itself. Micro-batch ids are unique only within a
    * checkpoint, so the unit ids built from them ([[unitId]]: manifest
    * keys `d#<unit>` and [[Warehouse.appendUnit]] file prefixes) must die
    * with it: without the token, deleting the checkpoint (a routine ops
    * reset) restarts ids at 0, and the new run's `d#sb0` would collide
    * with a logged key — its day-batch would read as already applied and
    * be skipped, and an appendUnit replay would delete the old run's
    * `sb0-` files. Same checkpoint → same token → a crash replay of
    * batch N finds its own keys and files and converges; new checkpoint →
    * fresh token → disjoint keys, the prior run's output untouched.
    *
    * Migration: a checkpoint that already COMMITTED batches but has no
    * token file predates tokens — its `#sb` unit keys and file prefixes are
    * already on disk and in the manifest in the unscoped format, so it
    * adopts the EMPTY token (and [[unitId]] keeps the
    * unscoped format for it). Minting a token here instead would orphan
    * every logged key and file prefix: the next crash replay could not
    * find its own earlier output and would double-append. Spark writes
    * `offsets/N` before running batch N, so a checkpoint with no
    * COMMITTED offset files (digit names, plus the offset log's
    * `N.compact` rewrites — a crash can leave hidden `.….tmp` staging
    * files that mean nothing) has never reached a foreachBatch body and
    * is safely fresh.
    *
    * The file is published by rename, never written in place, so a
    * half-written token is unobservable: a crash leaves either no file
    * (next start decides afresh — offsets still authoritative) or a
    * complete one. `legacy` is an explicit sentinel rather than an
    * empty file so truncation can never masquerade as adoption; any
    * unreadable content fails fast instead of silently picking a key
    * format. */
  private[olapsus] def runToken(wh: Warehouse, checkpoint: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$checkpoint/_graft_run")
    val fs = p.getFileSystem(wh.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val offsets = new Path(s"$checkpoint/offsets")
      val legacy = fs.exists(offsets) && fs.listStatus(offsets).exists(s =>
        s.isFile && s.getPath.getName.matches("\\d+(\\.compact)?"))
      val content =
        if (legacy) "legacy" else java.util.UUID.randomUUID().toString.take(8)
      // Stage-then-rename: the token becomes visible atomically and
      // complete, or not at all. Two starters racing the same (illegal —
      // one checkpoint, one stream) setup at worst lose the rename;
      // the read below is the single authority.
      val tmp = new Path(s"$checkpoint/.graft_run_${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    }
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    raw match {
      case "legacy" => ""
      case t if t.matches("[0-9a-f]{8}") => t
      case bad => sys.error(
        s"unreadable run token '$bad' in $p — refusing to guess the key format. " +
          "Restore the file by hand: its token is recoverable from this " +
          "dataset's manifest keys (`<day>#sb<token>-<n>`) or fact file " +
          "prefixes (`sb<token>-<n>-…`); write `legacy` if those are " +
          "unscoped (`#sb<n>`). Do NOT just delete the file — a committed " +
          "checkpoint would then silently adopt the legacy key format, " +
          "orphaning every scoped key, and replays would double-append.")
    }
  }

  /** Unit id of a backfill micro-batch — BOTH the [[Warehouse.appendUnit]]
    * file prefix and the suffix of the `day#unit` manifest key, so the
    * two stay derivable from each other (compaction's crashed-unit
    * detection relies on that). Token-scoped: a rebuilt checkpoint's
    * batch ids restart at 0, but its fresh token keeps the new keys
    * disjoint from every logged one. Legacy checkpoints keep `sb<id>`. */
  private[olapsus] def unitId(run: String, id: Long): String =
    if (run.isEmpty) s"sb$id" else s"sb$run-$id"

  /** Has THIS RUN of the stream backfill written to day `d`, per the
    * manifest keys `logged`? Its per-(day, micro-batch) manifest keys
    * are `d#<unitId>` — never a calendar date, so the batch driver's
    * equality lookups ignore them. Run-scoped on purpose: a PRIOR run's
    * `#sb` keys (checkpoint since rebuilt) must read as "someone else
    * completed this day", so the day falls into the skip arm below
    * instead of being re-appended. A legacy run (empty token) owns every
    * unscoped `d#sb…` key — there is only ever one legacy lineage per
    * warehouse. */
  private def streamTouched(logged: Set[String], d: String, run: String): Boolean = {
    val prefix = if (run.isEmpty) s"$d#sb" else s"$d#sb$run-"
    logged.exists(_.startsWith(prefix))
  }

  /** Streaming twin of [[Pipeline.backfill]]: the whole dt-partitioned
    * landing tree (`prefix/dataset/dt=…/…`) is ONE file stream. `dt` is
    * recovered as a hive partition column, and each micro-batch splits
    * by day so facts land in the same per-day `dt=` partitions the
    * batch driver writes.
    *
    * Crash safety: the checkpoint guarantees a replayed micro-batch id
    * carries exactly the same files, and every applied (day, batch) is
    * logged to the manifest as `d#<unitId>` BEFORE the day itself — so a
    * replay after a crash skips the day-batches that committed and
    * re-applies only the ones that didn't. A crash between a day's fact
    * write and its `d#sb` log row is ALSO safe: the fact write is a
    * per-unit replayable append ([[Warehouse.appendUnit]] keyed by the
    * micro-batch id) whose replay first removes the crashed attempt's
    * own files — the write-then-log pair converges just like the batch
    * driver's `overwriteDay → logIngest` pair (CrashReplaySpec forges
    * both).
    *
    * Composition with prior completed ingests, both directions:
    * completed days are also logged under their plain date, so the
    * BATCH driver skips days the stream ingested; and a day the
    * manifest knows but THIS RUN has never touched was someone else's
    * completed work — the batch driver's, or a prior stream run whose
    * checkpoint has since been rebuilt — so the stream skips its files
    * rather than double-appending them (late files for such a day are
    * dropped — identical to the batch driver's own day-granular
    * idempotency). Don't run both drivers concurrently.
    *
    * Checkpoint resets are SAFE at day granularity: batch ids restart
    * at 0 with a fresh checkpoint, but the unit keys are scoped by the
    * checkpoint's [[runToken]], so the new run's `d#<unitId>` keys are
    * disjoint from every logged one — stale keys can never swallow a
    * new run's day-batch. Days a prior lineage COMPLETED are skipped
    * (ownership rule above); a day a prior lineage left manifest-
    * unknown — crashed before any log row, or between its unit key and
    * the plain-day row — is CLAIMED on this run's first touch with a
    * whole-partition [[Warehouse.overwriteDay]], which wipes the
    * crashed attempt's files (whatever their unit prefix) instead of
    * appending beside them. The day-granularity caveat: a reset
    * abandons Spark's file-level source tracking, so a day whose
    * slices were only PARTLY ingested by a crashed multi-batch prior
    * lineage (its plain-day row already logged) reads as complete, and
    * the unseen slices are dropped like late files. Resetting a
    * checkpoint mid-backfill trades those in-flight days for the
    * collision-freedom above; completed and untouched days are always
    * exact. Legacy checkpoints (created before tokens) adopt the
    * unscoped format and keep converging — see [[runToken]]. */
  def backfill(wh: Warehouse, prefix: String, dataset: String): StreamingQuery = {
    // UNLEASED day body: the foreachBatch below holds the dataset lease
    // across the manifest checks AND the writes AND the log rows —
    // leasing only the write (and checking/logging outside it) would
    // re-open the read-before-write window the batch path closes by
    // checking the manifest inside its lease.
    val ds = Pipeline.datasetNamed(dataset)
    val schema = StructType((ds.header.split(";") :+ "dt").map(StructField(_, StringType)))
    val cp = s"${wh.root}/.checkpoints/backfill-$dataset"
    val run = runToken(wh, cp)
    wh.spark.readStream
      .option("header", "true").option("sep", ";")
      // Check each file's header against the declared one (`dt` is the
      // partition column): by default a declared schema maps columns by
      // position, so a reordered file would read silently wrong.
      .option("enforceSchema", "false")
      .schema(schema)
      .csv(s"$prefix/$dataset")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        // A micro-batch may span days; the day count is bounded by the
        // backfill window, so the driver-side loop is tiny.
        val days = batch.select("dt").distinct()
          .collect().map(_.getString(0)).sorted
        graft.WriterLease.withLease(wh.spark, wh.root,
          graft.WriterLease.processOwner(s"stream-backfill-$dataset"),
          scope = dataset) {
          // One manifest read per micro-batch, under the lease. The
          // keys this loop logs for day `d` are `d` and `d#…`, which no
          // other day's lookup matches, so the snapshot stays exact for
          // every later day of the batch.
          val logged = wh.ingestKeys(dataset)
          days.foreach { d =>
            val unit = unitId(run, id)
            val dayBatchKey = s"$d#$unit"
            val replayed = logged(dayBatchKey)
            val touched = streamTouched(logged, d, run)
            val dayLogged = logged(d)
            // A day the manifest knows but this run never wrote is a
            // prior writer's COMPLETED work (batch driver or an earlier
            // stream lineage) — skip its files entirely.
            val priorOwns = dayLogged && !touched && !replayed
            if (!priorOwns) {
              if (!replayed) {
                // First touch of a manifest-unknown day CLAIMS it: an
                // overwrite of the whole `dt=` partition replaces
                // whatever a crashed earlier attempt left there (a
                // foreign lineage's unit files, a batch driver's
                // unlogged day) — appending beside such files would
                // double-count them until a compaction ran. Later
                // batches of THIS run accumulate via appendUnit, whose
                // replay removes its own unit's stale files first
                // (CrashReplaySpec forges both).
                val claim = !touched && !dayLogged
                ds.day(wh, batch.filter(col("dt") === d).drop("dt"), d,
                  if (claim) None else Some(unit))
                IngestFaults.afterFactWrite(wh.root, s"$dataset-stream")
                wh.logIngest(dataset, dayBatchKey)
                IngestFaults.afterUnitKeyLog(wh.root, s"$dataset-stream")
              }
              // Outside the write arm: a crash between the unit key and
              // this row leaves the day invisible to the batch driver,
              // and the replay skips the write arm (unit key is
              // logged) — so the plain-day row is repaired on every
              // pass, not only on first write. `dayLogged` is still
              // current: the write arm logs only the `d#unit` key, and
              // the held dataset lease excludes every other writer.
              if (!dayLogged) wh.logIngest(dataset, d)
            }
          }
        }
      }
      .start()
  }
}
