package graft.olapsus

import graft.SparkSpecBase
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Forged-crash replay contract for the write-then-log pairs (VERDICT r8
  * item #1): a fault is injected BETWEEN the fact day write and its
  * manifest log row — the one crash point where the day is on disk but
  * the manifest doesn't know — and the replay must converge to exactly
  * one clean run's rows, for batch SINASC, batch SIM, and a streaming
  * backfill micro-batch. Before round 9 the fact write was a bare
  * `mode("append")`, so this exact crash double-appended the day on
  * replay, silently doubling every serving query's counts forever. */
class CrashReplaySpec extends SparkSpecBase {

  private lazy val dir = Files.createTempDirectory("crash-replay")
  private lazy val municipioCsv = Fixtures.write(dir, "municipio.csv", Fixtures.municipio)
  private lazy val cboCsv = Fixtures.write(dir, "cbo.csv", Fixtures.cbo)
  private lazy val cidCsv = Fixtures.write(dir, "cid.csv", Fixtures.cid)
  private lazy val simCsv = Fixtures.write(dir, "sim.csv", Fixtures.sim)
  private lazy val sinascCsv = Fixtures.write(dir, "sinasc.csv", Fixtures.sinasc)

  private def seeded(name: String): Warehouse = {
    val w = new Warehouse(spark, dir.resolve(name).toString)
    Dims.seedAll(w, municipioCsv, cboCsv, cidCsv)
    w
  }

  /** The warehouse a single, never-crashed run produces — the target
    * state every replay must land on. */
  private lazy val whClean = seeded("wh-clean")
  private lazy val whCrash = seeded("wh-crash")

  private def rowsOf(wh: Warehouse, table: String, dt: String): Set[String] = {
    val df = wh.table(table).where(s"dt = '$dt'")
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.mkString("|")).toSet
  }

  private def crashOn(root: String, dataset: String): Unit =
    IngestFaults.afterFactWrite = (r, d) =>
      if (r == root && d == dataset) sys.error(s"forged crash after $d fact write")

  private def clearFault(): Unit =
    IngestFaults.afterFactWrite = (_, _) => ()

  test("batch SINASC: crash between day write and manifest log; replay equals one clean run") {
    val dt = "2020-02-01"
    assert(Pipeline.ingestSinasc(whClean, sinascCsv, dt) == 4L)
    val want = rowsOf(whClean, "factNascimentos", dt)

    // A pre-existing day that the replay's partition overwrite must NOT
    // touch (dynamic mode rewrites only the replayed day).
    assert(Pipeline.ingestSinasc(whCrash, sinascCsv, "2020-01-31") == 4L)
    val otherDay = rowsOf(whCrash, "factNascimentos", "2020-01-31")

    crashOn(whCrash.root, "sinasc")
    try intercept[RuntimeException] { Pipeline.ingestSinasc(whCrash, sinascCsv, dt) }
    finally clearFault()
    // The forged state: day on disk, manifest ignorant — exactly what a
    // real crash leaves.
    assert(whCrash.table("factNascimentos").where(s"dt = '$dt'").count() == 4L)
    assert(!whCrash.ingestLogged("sinasc", dt))

    // Replay (what a scheduled backfill would do): must REPLACE, not
    // double, the crashed day's rows.
    assert(Pipeline.ingestSinasc(whCrash, sinascCsv, dt) == 4L)
    assert(rowsOf(whCrash, "factNascimentos", dt) == want,
      "replayed day diverged from a single clean run")
    assert(rowsOf(whCrash, "factNascimentos", "2020-01-31") == otherDay,
      "partition overwrite leaked outside the replayed day")
    // And now the manifest knows: a third run is a pure no-op.
    assert(Pipeline.ingestSinasc(whCrash, sinascCsv, dt) == 0L)
  }

  test("batch SIM: crash between day write and manifest log; replay equals one clean run") {
    val dt = "2020-01-15"
    assert(Pipeline.ingestSim(whClean, simCsv, dt) == 4L)
    val want = rowsOf(whClean, "factObitos", dt)
    val cleanBridge = whClean.table(Warehouse.Bridge).count()

    crashOn(whCrash.root, "sim")
    try intercept[RuntimeException] { Pipeline.ingestSim(whCrash, simCsv, dt) }
    finally clearFault()
    assert(!whCrash.ingestLogged("sim", dt))

    assert(Pipeline.ingestSim(whCrash, simCsv, dt) == 4L)
    assert(rowsOf(whCrash, "factObitos", dt) == want,
      "replayed SIM day diverged from a single clean run")
    // The bridge merge (which ran twice) stayed idempotent alongside.
    assert(whCrash.table(Warehouse.Bridge).count() == cleanBridge,
      "bridge rows duplicated across the crash replay")
    assert(Pipeline.ingestSim(whCrash, simCsv, dt) == 0L)
  }

  test("streaming backfill: crash between a day's unit write and its d#sb log; replay converges") {
    val dt = "2021-06-01"
    def landingFor(wh: Warehouse): String = {
      val landing = Files.createTempDirectory(s"crash-landing")
      val day = landing.resolve(s"sinasc/dt=$dt")
      Files.createDirectories(day)
      Fixtures.write(day, "part.csv", Fixtures.sinasc)
      landing.toString
    }
    StreamingIngest.backfill(whClean, landingFor(whClean), "sinasc").awaitTermination()
    val want = rowsOf(whClean, "factNascimentos", dt)
    assert(want.nonEmpty)

    val landing = landingFor(whCrash)
    crashOn(whCrash.root, "sinasc-stream")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIngest.backfill(whCrash, landing, "sinasc").awaitTermination()
    } finally clearFault()
    // Forged state: the unit's files are in the day partition, but
    // neither the d#sb key nor the day reached the manifest.
    assert(whCrash.table("factNascimentos").where(s"dt = '$dt'").count() == 4L)
    assert(!whCrash.ingestLogged("sinasc", dt))

    // Restart: the checkpoint re-delivers the SAME micro-batch (same id,
    // same files); appendUnit drops the crashed attempt's files first.
    StreamingIngest.backfill(whCrash, landing, "sinasc").awaitTermination()
    assert(rowsOf(whCrash, "factNascimentos", dt) == want,
      "crash-replayed micro-batch day diverged from a single clean run")
    assert(whCrash.ingestLogged("sinasc", dt))
    // And an idle re-run changes nothing.
    StreamingIngest.backfill(whCrash, landing, "sinasc").awaitTermination()
    assert(rowsOf(whCrash, "factNascimentos", dt) == want)
  }

  test("runToken: fresh checkpoints mint; pre-token checkpoints with commits adopt the unscoped format") {
    val wh = new Warehouse(spark, dir.resolve("wh-token").toString)
    val fresh = dir.resolve("cp-fresh").toString
    val t = StreamingIngest.runToken(wh, fresh)
    assert(t.length == 8 && t.forall(c => c.isDigit || ('a' to 'f').contains(c)))
    assert(StreamingIngest.runToken(wh, fresh) == t, "token not stable across calls")
    // Forge a checkpoint created by pre-token code: a committed offset
    // file, no _graft_run. Its unit keys are already logged unscoped, so
    // the adopter must return the empty (legacy) token — and persist it.
    val legacyCp = dir.resolve("cp-legacy").toString
    val off = new org.apache.hadoop.fs.Path(s"$legacyCp/offsets/0")
    val fs = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(off, false)
    try out.write("v1".getBytes("UTF-8")) finally out.close()
    assert(StreamingIngest.runToken(wh, legacyCp) == "")
    assert(StreamingIngest.runToken(wh, legacyCp) == "")
    // The two formats the token feeds: legacy spellings are unchanged,
    // scoped ones embed the token between the kind tag and the batch id.
    assert(StreamingIngest.unitId("", 3) == "sb3")
    assert(StreamingIngest.unitId("ab12cd34", 3) == "sbab12cd34-3")
  }

  test("runToken: torn files fail fast; offset-log temp files never read as legacy commits") {
    val wh = new Warehouse(spark, dir.resolve("wh-token2").toString)
    def forge(name: String, file: String, content: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"${dir.resolve(name)}/$file")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      dir.resolve(name).toString
    }
    // A token file holding neither 'legacy' nor 8 hex chars (torn write,
    // hand edit) must refuse to pick a key format: guessing 'fresh'
    // orphans logged keys, guessing 'legacy' invites collisions.
    intercept[RuntimeException] {
      StreamingIngest.runToken(wh, forge("cp-torn", "_graft_run", "ab12"))
    }
    // Zero bytes is the classic torn-create shape — also refused.
    intercept[RuntimeException] {
      StreamingIngest.runToken(wh, forge("cp-empty", "_graft_run", ""))
    }
    // A crash during the offset log's own staged write leaves hidden
    // `.N.<uuid>.tmp` files; no batch ever ran, so this checkpoint must
    // mint fresh, not adopt the collision-prone unscoped format.
    val cpTmp = forge("cp-tmponly", "offsets/.0.deadbeef.tmp", "v1")
    assert(StreamingIngest.runToken(wh, cpTmp).length == 8)
    // The offset log COMPACTS old entries into `N.compact` — still a
    // committed batch, still legacy.
    val cpCompact = forge("cp-compact", "offsets/9.compact", "v1")
    assert(StreamingIngest.runToken(wh, cpCompact) == "")
  }

  test("checkpoint reset after a crashed day: the new lineage claims the day instead of doubling it") {
    def forgeReset(name: String,
        crash: (String, String) => Unit): (Warehouse, String) = {
      val wh = seeded(name)
      val landing = Files.createTempDirectory(s"$name-landing")
      val day = landing.resolve("sinasc/dt=2021-08-01")
      Files.createDirectories(day)
      Fixtures.write(day, "part.csv", Fixtures.sinasc)
      IngestFaults.afterFactWrite = (_, _) => ()
      IngestFaults.afterUnitKeyLog = (_, _) => ()
      crash(wh.root, "sinasc-stream")
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
      } finally { clearFault(); IngestFaults.afterUnitKeyLog = (_, _) => () }
      // Ops response to the corrupted run: rebuild the checkpoint.
      val cp = new org.apache.hadoop.fs.Path(s"${wh.root}/.checkpoints/backfill-sinasc")
      val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(cp, true))
      (wh, landing.toString)
    }
    def crashAt(set: ((String, String) => Unit) => Unit): (String, String) => Unit =
      (root, ds) =>
        set((r, d) => if (r == root && d == ds) sys.error(s"forged crash in $d"))

    // Crash BEFORE the unit key was logged: the day partition holds a
    // foreign lineage's files the manifest never heard of. Appending
    // beside them would double-count until a compaction; the claim
    // overwrite replaces them.
    val (whA, landA) = forgeReset("wh-reset-prelog",
      crashAt(f => IngestFaults.afterFactWrite = f))
    StreamingIngest.backfill(whA, landA, "sinasc").awaitTermination()
    assert(whA.table("factNascimentos").where("dt = '2021-08-01'").count() == 4,
      "crashed foreign unit files were double-counted after a reset")
    assert(whA.ingestLogged("sinasc", "2021-08-01"))

    // Crash BETWEEN the unit key and the plain-day row: the day is
    // unit-logged but batch-driver-invisible. Both units ending up
    // logged (old lineage's and the new one's) would be permanent
    // duplication — the claim overwrite must land exactly one copy.
    val (whB, landB) = forgeReset("wh-reset-midlog",
      crashAt(f => IngestFaults.afterUnitKeyLog = f))
    StreamingIngest.backfill(whB, landB, "sinasc").awaitTermination()
    assert(whB.table("factNascimentos").where("dt = '2021-08-01'").count() == 4,
      "unit-logged but day-unlogged crash state was double-counted after a reset")
    assert(whB.ingestLogged("sinasc", "2021-08-01"))
  }

  test("same-checkpoint replay repairs a missing plain-day row without rewriting the day") {
    val wh = seeded("wh-repair")
    val landing = Files.createTempDirectory("repair-landing")
    val day = landing.resolve("sinasc/dt=2021-09-01")
    Files.createDirectories(day)
    Fixtures.write(day, "part.csv", Fixtures.sinasc)
    IngestFaults.afterUnitKeyLog = (r, d) =>
      if (r == wh.root && d == "sinasc-stream") sys.error("forged crash after key log")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    } finally IngestFaults.afterUnitKeyLog = (_, _) => ()
    // Forged state: rows written, unit key logged, plain day missing —
    // the batch driver would re-ingest this day if left unrepaired.
    assert(wh.table("factNascimentos").where("dt = '2021-09-01'").count() == 4)
    assert(!wh.ingestLogged("sinasc", "2021-09-01"))
    // Replay with the SAME checkpoint: the write arm is skipped (unit
    // key logged) but the plain-day row must still be repaired.
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(wh.table("factNascimentos").where("dt = '2021-09-01'").count() == 4)
    assert(wh.ingestLogged("sinasc", "2021-09-01"),
      "replay left the day invisible to the batch driver")
    // And the batch driver now agrees there is nothing to do.
    assert(Pipeline.backfill(wh, landing.toString, "sinasc") == Seq("2021-09-01" -> 0L))
  }

  test("backfill checkpoint reset: prior-run days are skipped, new days ingested, no key collisions") {
    val wh = seeded("wh-reset")
    val landing = Files.createTempDirectory("reset-landing")
    def addDay(d: String): Unit = {
      val day = landing.resolve(s"sinasc/dt=$d")
      Files.createDirectories(day)
      Fixtures.write(day, "part.csv", Fixtures.sinasc)
    }
    def dayCount(d: String): Long =
      wh.table("factNascimentos").where(s"dt = '$d'").count()
    // First checkpoint lifetime: day A in micro-batch 0, day B in 1.
    addDay("2021-07-01")
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    addDay("2021-07-02")
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(dayCount("2021-07-01") == 4 && dayCount("2021-07-02") == 4)

    // Routine ops reset: the checkpoint dir is rebuilt from nothing. The
    // new run re-lists EVERY landing file into batch 0 — so day B now
    // arrives under an id (0) it was never logged with. Unscoped keys
    // made that a re-append (day B re-ingested as unit sb0, doubling
    // its rows); run-scoped keys classify both old days as completed
    // prior work and skip them.
    val cp = new org.apache.hadoop.fs.Path(s"${wh.root}/.checkpoints/backfill-sinasc")
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(cp, true))
    addDay("2021-07-03")
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(dayCount("2021-07-01") == 4, "prior-run day re-appended after checkpoint reset")
    assert(dayCount("2021-07-02") == 4, "prior-run day re-appended after checkpoint reset")
    assert(dayCount("2021-07-03") == 4, "new day swallowed by a stale manifest key")
    // The new lifetime's keys are token-scoped: disjoint from every
    // logged unscoped-or-other-token key by construction.
    assert(wh.ingestLogged("sinasc", "2021-07-03"))
    assert(!wh.ingestLogged("sinasc", "2021-07-03#sb0"),
      "rebuilt checkpoint wrote an unscoped (collision-prone) unit key")
    // And the rebuilt run's own crash-replay story still holds: an idle
    // re-run with the SAME new checkpoint changes nothing.
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(dayCount("2021-07-01") == 4 && dayCount("2021-07-02") == 4
      && dayCount("2021-07-03") == 4)
  }

  test("appendUnit: distinct units accumulate; a unit's replay supersedes its own files only") {
    import spark.implicits._
    val wh = new Warehouse(spark, dir.resolve("wh-unit").toString)
    val dt = "2022-01-01"
    wh.appendUnit("tbl", Seq(1, 2).toDF("v"), dt, "sb0")
    wh.appendUnit("tbl", Seq(3).toDF("v"), dt, "sb1")
    def vals(): Seq[Int] =
      wh.table("tbl").where(s"dt = '$dt'").select("v").collect().map(_.getInt(0)).toSeq.sorted
    assert(vals() == Seq(1, 2, 3))
    // Replaying sb0 with different content replaces ONLY sb0's files.
    wh.appendUnit("tbl", Seq(9).toDF("v"), dt, "sb0")
    assert(vals() == Seq(3, 9))
  }

  test("compaction drops a crashed unit's unlogged files instead of folding them past the replay") {
    import spark.implicits._
    val wh = new Warehouse(spark, dir.resolve("wh-unit-compact").toString)
    val dt = "2022-03-01"
    def vals(): Seq[Int] =
      wh.table("factNascimentos").where(s"dt = '$dt'")
        .select("v").collect().map(_.getInt(0)).toSeq.sorted
    // sb0 committed its write-then-log pair; sb1 crashed in between —
    // its files are in the partition but the manifest never heard of it.
    wh.appendUnit("factNascimentos", Seq(1, 2).toDF("v"), dt, "sb0")
    wh.logIngest("sinasc", s"$dt#sb0")
    wh.appendUnit("factNascimentos", Seq(7).toDF("v"), dt, "sb1")
    assert(vals() == Seq(1, 2, 7))

    // Compaction must fold ONLY the logged unit: anonymizing sb1's files
    // would blind its replay's delete-by-prefix and double the rows.
    wh.compact("factNascimentos", partition = Some(s"dt=$dt"))
    assert(vals() == Seq(1, 2),
      "compaction folded a crashed (unlogged) unit's rows into anonymous files")

    // The crashed micro-batch replays (same unit, same content): the
    // final state is exactly one clean copy of both units…
    wh.appendUnit("factNascimentos", Seq(7).toDF("v"), dt, "sb1")
    wh.logIngest("sinasc", s"$dt#sb1")
    assert(vals() == Seq(1, 2, 7))
    // …and once logged, a later compaction folds sb1 in and keeps it.
    wh.compact("factNascimentos", partition = Some(s"dt=$dt"))
    assert(vals() == Seq(1, 2, 7))
  }
}
