package graft.olapsus

import graft.SparkSpecBase
import java.nio.file.Files

/** End-to-end golden test of the olap-sus parity pipeline (SURVEY.md §5):
  * seed dims → ingest SIM + SINASC fixture CSVs (edge rows per
  * FIXTURES.md) → check fact grain, null policies, bridge semantics →
  * run all six serving queries.
  */
class OlapSusSpec extends SparkSpecBase {

  private lazy val dir = Files.createTempDirectory("olapsus")
  private lazy val municipioCsv = Fixtures.write(dir, "municipio.csv", Fixtures.municipio)
  private lazy val cboCsv = Fixtures.write(dir, "cbo.csv", Fixtures.cbo)
  private lazy val cidCsv = Fixtures.write(dir, "cid.csv", Fixtures.cid)
  private lazy val simCsv = Fixtures.write(dir, "sim.csv", Fixtures.sim)
  private lazy val sinascCsv = Fixtures.write(dir, "sinasc.csv", Fixtures.sinasc)

  private lazy val wh: Warehouse = {
    val w = new Warehouse(spark, dir.resolve("wh").toString)
    Dims.seedAll(w, municipioCsv, cboCsv, cidCsv)
    w
  }

  test("dim cardinalities match the reference generators") {
    assert(wh.table("dimData").count() == 47847L)      // 1900-01-01..2030-12-31
    assert(wh.table("dimHorario").count() == 86401L)   // 86400 + sentinel -1
    assert(wh.table("dimDemografia").count() == 14257L)  // 6*6*6*3*22 + sentinel
    assert(wh.table("dimInfoNascimento").count() == 9073L) // 3*6*6*3*7*4 + sentinel
    assert(wh.table("dimMunicipio").count() == 6L)
    assert(wh.table("dimCausa").count() == 6L)
    assert(wh.table(Warehouse.Bridge).count() == 1L)
  }

  test("dimData attributes for a known date (leap day 2020-02-29)") {
    val r = wh.table("dimData").where("data = DATE'2020-02-29'").head()
    val m = r.getValuesMap[Any](Seq(
      "numero_dia_semana", "dia_semana", "numero_dia", "dia_ano", "numero_mes",
      "mes", "ano", "bimestre", "trimestre", "semestre"))
    assert(m("numero_dia_semana") == 6 && m("dia_semana") == "Sábado")
    assert(m("numero_dia") == 29 && m("dia_ano") == 60)
    assert(m("numero_mes") == 2 && m("mes") == "Fevereiro" && m("ano") == 2020)
    assert(m("bimestre") == 1 && m("trimestre") == 1 && m("semestre") == 1)
  }

  test("SINASC ingest: null policies, band boundaries, dropped rows") {
    val n = Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01")
    assert(n == 4L) // b3 dropped (missing DTNASC)
    wh.registerViews()
    val fact = spark.table("factnascimentos")
    assert(fact.count() == 4L)
    // weight 2500 lands exactly on the 'Normal' band lower bound
    val bands = spark.sql("""
      SELECT i.faixa_peso, count(*) n FROM factnascimentos f
      JOIN diminfonascimento i ON i.chave_info_nascimento = f.chave_info_nascimento
      GROUP BY 1""").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bands("Normal") == 1)             // b1: 2500g
    assert(bands("Extremo Baixo Peso") == 1) // b2: 999g
    assert(bands("Macrossômico") == 1)       // b4: 4000g
    assert(bands("Baixo Peso") == 1)         // b5: 1500g
    // b2: null mother age → the null-bounds 'Ignorado' band (not key 0)
    val idadeIgn = spark.sql("""
      SELECT count(*) FROM factnascimentos f JOIN dimdemografia d
      ON d.chave_demografia = f.chave_demografia
      WHERE d.faixa_etaria = 'Ignorado' AND d.chave_demografia != 0""").head().getLong(0)
    assert(idadeIgn == 1)
    // b5: unknown birth municipality → sentinel key 0
    val mun0 = fact.where("chave_municipio_nascimento = 0").count()
    assert(mun0 == 1)
  }

  test("SIM ingest: bridge semantics, fills, and drops") {
    Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01") // idempotent setup if run alone
    val n = Pipeline.ingestSim(wh, simCsv, "2020-01-15")
    // r4 (missing CODMUNRES) and r5 (unknown age) dropped
    assert(n == 4L)
    wh.registerViews()
    val bridge = wh.table(Warehouse.Bridge)
    // seed group 0 + three new groups: r1/r2 shared; r3 permuted order is
    // distinct; r5's J189 registers a group even though the row is later
    // dropped (bridge runs before dim resolution, as in the reference);
    // r4's unknown-ICD signature "0:1" matches seeded group 0.
    val groups = bridge.select("chave_grupo_causa").distinct().count()
    assert(groups == 4L, s"expected 4 groups, got ${bridge.collect().mkString(",")}")
    val fact = spark.table("factobitos")
    // r1+r2 share a cause group but differ in other keys → separate grains
    assert(fact.count() == 4L)
    // r3: occurrence municipality 999999 present-but-unknown → key 0
    assert(fact.where("chave_municipio_obito = 0").count() == 1L)
    // r6: no causes at all → group 0
    assert(fact.where("chave_grupo_causa = 0").count() == 1L)
    // re-ingest: same cause lists must create NO new groups (idempotent ids)
    val before = bridge.count()
    Pipeline.ingestSim(wh, simCsv, "2020-01-16")
    assert(wh.table(Warehouse.Bridge).count() == before)
  }

  // A warehouse of its own: the shared one's tests pin exact row counts.
  private lazy val malformedWh: Warehouse = {
    val w = new Warehouse(spark, dir.resolve("wh-malformed").toString)
    Dims.seedAll(w, municipioCsv, cboCsv, cidCsv)
    w
  }

  test("SINASC ingest: an impossible date or a non-numeric code is NULL, not a failed batch") {
    val csv = Fixtures.write(dir, "sinasc_malformed.csv", Seq(Fixtures.sinasc.head,
      "01022020;0830;3548906;3503208;25;1;4;2;1;4;2500;1;5;1",
      "31022020;0830;3548906;3503208;25;1;4;2;1;4;2500;1;5;1", // no 31 Feb: dropped
      "02022020;0900;3548906;3503208;ab;1;4;2;1;4;3000;1;5;1")) // age 'ab': Ignorado
    assert(Pipeline.ingestSinasc(malformedWh, csv, "2020-02-01") == 2L)
    val ages = malformedWh.table("factNascimentos")
      .join(malformedWh.table("dimDemografia"), "chave_demografia")
      .select("faixa_etaria").collect().map(_.getString(0)).sorted.toSeq
    assert(ages.size == 2 && ages.count(_ == "Ignorado") == 1, ages.toString)
  }

  test("SIM ingest: an impossible date or a non-numeric code is NULL, not a failed batch") {
    val csv = Fixtures.write(dir, "sim_malformed.csv", Seq(Fixtures.sim.head,
      "15012020;01011950;1430;1;1;2;3;470;I219;;;;;354890;354890;123456",
      "30022020;01011950;1430;1;1;2;3;470;I219;;;;;354890;354890;123456", // no 30 Feb
      "15012020;01011950;1430;1;1;2;3;4ab;I219;;;;;354890;354890;123456", // age '4ab'
      "15012020;01011950;1430;1;1;2;3;470;I219;;;;;35A890;354890;123456")) // code '35A890'
    // Each malformed value becomes NULL and na.drop removes its row.
    assert(Pipeline.ingestSim(malformedWh, csv, "2020-01-15") == 1L)
  }

  test("bridge merge appends only new-group files; existing files untouched") {
    Pipeline.ingestSim(wh, simCsv, "2020-01-15") // idempotent setup if run alone
    val bridgeDir = new java.io.File(dir.resolve("wh").resolve(Warehouse.Bridge).toString)
    def snap(): Map[String, (Long, Long)] =
      bridgeDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    val filesBefore = snap()
    assert(filesBefore.nonEmpty)
    val groupsBefore = wh.table(Warehouse.Bridge).select("chave_grupo_causa").distinct().count()
    // One row with an unseen cause list (N40 at ordem 1, X999 at 2).
    val extraCsv = Fixtures.write(dir, "sim_extra.csv", Seq(Fixtures.sim.head,
      "20012020;07071955;1000;1;1;2;3;460;N40;X999;;;;354890;354890;123456"))
    Pipeline.ingestSim(wh, extraCsv, "2020-01-17")
    val filesAfter = snap()
    filesBefore.foreach { case (name, meta) =>
      assert(filesAfter.get(name).contains(meta),
        s"pre-existing bridge file $name was rewritten by the merge")
    }
    assert(filesAfter.size > filesBefore.size, "append added no new files")
    assert(wh.table(Warehouse.Bridge).select("chave_grupo_causa").distinct().count()
      == groupsBefore + 1)
  }

  test("incremental signature table stays consistent with the bridge") {
    Pipeline.ingestSim(wh, simCsv, "2020-01-15") // setup if run alone
    val fromTable = wh.table(Warehouse.Signatures)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val recomputed = CauseBridge.signatures(wh.table(Warehouse.Bridge))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fromTable == recomputed,
      "incrementally-maintained signatures diverged from the bridge-derived ones")
    assert(fromTable.nonEmpty)
  }

  test("streaming ingest (AvailableNow) drains landing dir through the batch resolvers") {
    val landing = Files.createTempDirectory("sinasc-landing")
    Fixtures.write(landing, "batch1.csv", Fixtures.sinasc)
    val before =
      if (wh.exists("factNascimentos")) wh.table("factNascimentos").count() else 0L
    StreamingIngest.sinasc(wh, landing.toString).awaitTermination()
    assert(wh.table("factNascimentos").count() == before + 4) // b3 dropped, as in batch
    // Restart with no new files: checkpoint prevents re-ingest.
    StreamingIngest.sinasc(wh, landing.toString).awaitTermination()
    assert(wh.table("factNascimentos").count() == before + 4)

    // Checkpoint reset (a routine ops action): batch ids restart at 0,
    // but the per-checkpoint run token keeps the new run's labels
    // disjoint — everything is visibly RE-ingested into new partitions,
    // and the old run's partitions are never overwritten with unrelated
    // data.
    val facts = () => wh.table("factNascimentos").where("dt LIKE 'stream-%'")
    val oldDts = facts().select("dt").distinct().collect().map(_.getString(0)).toSet
    assert(oldDts.nonEmpty)
    val cp = new org.apache.hadoop.fs.Path(s"${wh.root}/.checkpoints/sinasc")
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, true)
    Fixtures.write(landing, "batch2.csv", Fixtures.sinasc)
    StreamingIngest.sinasc(wh, landing.toString).awaitTermination()
    val newDts = facts().select("dt").distinct().collect().map(_.getString(0)).toSet
    assert(oldDts.subsetOf(newDts), "checkpoint reset destroyed a prior run's partitions")
    assert((newDts -- oldDts).nonEmpty, "reset run produced no fresh labels")
    oldDts.foreach { d =>
      assert(wh.table("factNascimentos").where(s"dt = '$d'").count() == 4,
        s"prior run's partition $d was rewritten after the checkpoint reset")
    }
    // Both landing files reprocessed under the fresh checkpoint into one
    // AvailableNow micro-batch; their identical rows collapse on the
    // fact GRAIN (groupBy-count), so the new partition carries 4 grain
    // rows beside the old run's 4.
    assert(wh.table("factNascimentos").count() == before + 8)
  }

  test("streaming backfill: dt-partitioned tree, crash-resume, batch-driver composition") {
    val landing = Files.createTempDirectory("backfill-landing")
    val day1 = landing.resolve("sinasc/dt=2021-04-01")
    Files.createDirectories(day1)
    Fixtures.write(day1, "part.csv", Fixtures.sinasc)
    val before =
      if (wh.exists("factNascimentos")) wh.table("factNascimentos").count() else 0L
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    // Facts landed in the REAL day partition (not a stream-batch label).
    assert(wh.table("factNascimentos").where("dt = '2021-04-01'").count() == 4)
    // The day reached the manifest, so the BATCH driver skips it — the
    // two backfill engines compose instead of double-appending.
    assert(Pipeline.backfill(wh, landing.toString, "sinasc") == Seq("2021-04-01" -> 0L))
    // "Crash" between days: the second day arrives after the first run
    // ended; restarting with the same checkpoint ingests ONLY the new
    // day — 2021-04-01's files are never re-read.
    val day2 = landing.resolve("sinasc/dt=2021-04-02")
    Files.createDirectories(day2)
    Fixtures.write(day2, "part.csv", Fixtures.sinasc)
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(wh.table("factNascimentos").where("dt = '2021-04-01'").count() == 4)
    assert(wh.table("factNascimentos").where("dt = '2021-04-02'").count() == 4)
    // Replay with nothing new: a checkpointed no-op.
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(wh.table("factNascimentos").count() == before + 8)
    // TRUE crash replay: delete the newest checkpoint commit marker, so
    // the restart re-delivers that exact micro-batch (same id, same
    // files — Spark's crash contract). The day#batch manifest key must
    // make the re-delivery a no-op instead of a double append.
    val commits = new java.io.File(
      dir.resolve("wh").resolve(".checkpoints/backfill-sinasc/commits").toString)
    val newest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    assert(newest.delete())
    // The local FS keeps a checksum sidecar next to the marker; a real
    // crash loses both, so the forge must too or the replay's commit
    // rename trips over the stale .crc.
    val crc = new java.io.File(commits, s".${newest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(wh.table("factNascimentos").where("dt = '2021-04-02'").count() == 4,
      "crash-replayed micro-batch was double-appended")
    assert(wh.table("factNascimentos").count() == before + 8)
    // Composition, batch-driver-first direction: a day the BATCH driver
    // ingested must not be re-appended when the stream later drains the
    // same tree.
    val day3 = landing.resolve("sinasc/dt=2021-04-03")
    Files.createDirectories(day3)
    Fixtures.write(day3, "part.csv", Fixtures.sinasc)
    Pipeline.ingestSinascFiles(wh,
      Landing.listDay(spark, landing.toString, "sinasc", "2021-04-03"), "2021-04-03")
    assert(wh.table("factNascimentos").where("dt = '2021-04-03'").count() == 4)
    StreamingIngest.backfill(wh, landing.toString, "sinasc").awaitTermination()
    assert(wh.table("factNascimentos").where("dt = '2021-04-03'").count() == 4,
      "stream re-appended a batch-driver-owned day")
  }

  test("bucketed warehouse: fact-dim join and agg on the bucket key plan shuffle-free") {
    Pipeline.ingestSim(wh, simCsv, "2020-01-15") // idempotent setup if run alone
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Mirror the reference's auto-broadcast-off posture (spark_dag.py:41)
    // so the co-located bucketed join is what actually gets planned.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = wh.writeBucketed("factObitos", 8, Seq("chave_demografia"))
      val dim = wh.writeBucketed("dimDemografia", 8, Seq("chave_demografia"))
      val joined = spark.table(fact)
        .join(spark.table(dim), Seq("chave_demografia"))
        .groupBy("chave_demografia")
        .agg(org.apache.spark.sql.functions.sum("quantidade_obitos"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed join/agg still shuffles:\n" + p.take(2000))
      assert(joined.count() >= 3)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("star-schema scans: dt partitions prune; dim predicates push into parquet") {
    // The §2.10 scan-audit pin for the warehouse side (the twin of the
    // index probes' pruned-directory pins): the dt-partitioned facts
    // must answer day-scoped reads through PARTITION pruning, and the
    // serving pack's dimension predicates must reach the parquet scans
    // as PushedFilters — a star join that filters post-scan re-reads
    // the full dimension at every query, which at warehouse scale is
    // the difference between an index lookup and a table sweep.
    import org.apache.spark.sql.functions.col
    Pipeline.ingestSim(wh, simCsv, "2020-01-15") // idempotent if run alone
    Pipeline.ingestSim(wh, simCsv, "2020-01-16") // second day: pruning observable
    val day = wh.table("factObitos").where(col("dt") === "2020-01-15")
    val dayPlan = day.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(dayPlan).isDefined,
      "dt filter did not become a partition filter:\n" + dayPlan.take(1200))
    // The pruning is real: the day read scans strictly fewer files than
    // the whole fact table (two ingested days on disk).
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.totalNumberOfFiles
      }.sum
    val allFiles = filesScanned(wh.table("factObitos"))
    assert(filesScanned(day) < allFiles,
      s"day read scanned all $allFiles fact files — no partition pruning")
    // Serving pack: the city/year and familia predicates reach the dim
    // scans as pushed filters, and every dim join stays hash-based.
    val slice = ServingQueries.sliceAndDice(wh, "São Carlos", 2019, 2021)
    val slicePlan = slice.queryExecution.executedPlan.toString
    assert(slicePlan.contains("PushedFilters:")
        && "PushedFilters: \\[[^\\]]*nome_municipio".r.findFirstIn(slicePlan).isDefined,
      "city equality not pushed into the municipio dim scan:\n" + slicePlan.take(1500))
    assert("PushedFilters: \\[[^\\]]*ano".r.findFirstIn(slicePlan).isDefined,
      "year bounds not pushed into the date dim scan:\n" + slicePlan.take(1500))
    val top10 = ServingQueries.top10CausesByOccupation(wh, "TRABALHADORES")
    val topPlan = top10.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*descricao_familia".r.findFirstIn(topPlan).isDefined,
      "familia equality not pushed into the CBO dim scan:\n" + topPlan.take(1500))
    for ((name, p) <- Seq(("slice", slicePlan), ("top10", topPlan))) {
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
      assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
          || p.contains("SortMergeJoin"), s"$name lost its hash joins")
    }
  }

  test("landing listing + ingest work through a non-local FileSystem scheme") {
    // Register a distinct URI scheme whose FileSystem is resolved via
    // Hadoop's fs.<scheme>.impl mechanism — the same resolution path an
    // s3a:// prefix takes with hadoop-aws on the classpath.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val landing = Files.createTempDirectory("landing-objstore")
    Files.createDirectories(landing.resolve("sinasc/dt=2020-02-01"))
    Fixtures.write(landing.resolve("sinasc/dt=2020-02-01"), "drop1.csv", Fixtures.sinasc)
    val prefix = "graftfs://" + landing.toString

    val files = Landing.listDay(spark, prefix, "sinasc", "2020-02-01")
    assert(files.nonEmpty, "globStatus found no files through the custom scheme")
    assert(files.forall(_.startsWith("graftfs:")), files.mkString(","))
    assert(Landing.listDay(spark, prefix, "sinasc", "2099-01-01").isEmpty)

    val before =
      if (wh.exists("factNascimentos")) wh.table("factNascimentos").count() else 0L
    val n = Pipeline.ingestSinascFiles(wh, files, "2020-02-09")
    assert(n == 4L) // same rows/drops as the local-path ingest
    assert(wh.table("factNascimentos").count() == before + 4)
  }

  test("all six serving queries answer over the warehouse") {
    Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01")
    Pipeline.ingestSim(wh, simCsv, "2020-01-15")
    wh.registerViews()

    val roll1 = ServingQueries.firstRollUp(wh).collect()
    assert(roll1.map(_.getLong(2)).sum >= 4L)

    val roll2 = ServingQueries.secondRollUp(wh).collect()
    assert(roll2.map(_.getLong(2)).sum >= 4L)
    assert(roll2.map(_.getString(0)).toSet.subsetOf(Set("São Paulo", "Ignorado"))) // b5 lands on the Ignorado member

    val sd = ServingQueries.sliceAndDice(wh, "São Carlos", 2020, 2020).collect()
    assert(sd.map(_.getLong(2)).sum >= 2L) // r1 + r2 died in São Carlos in Jan 2020

    val piv = ServingQueries.pivotYearUf(wh)
    assert(piv.columns.contains("SP") && piv.columns.contains("IG"))
    val y2020 = piv.where("ANO = 2020").head()
    assert(y2020.getLong(piv.columns.indexOf("IG")) >= 1L) // r3's unknown municipality

    val da = ServingQueries.drillAcross(wh).collect()
    // São Carlos 2020 has both births (b2) and deaths (r1/r2)
    assert(da.exists(r => r.getString(1) == "São Carlos" && r.getInt(0) == 2020))

    val top = ServingQueries.top10CausesByOccupation(wh, "Engenheiros").collect()
    assert(top.nonEmpty && top.head.getString(1) == "Infarto agudo do miocárdio")
  }

  test("re-ingesting an already-logged day is a no-op (manifest idempotency)") {
    Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01") // logs if run alone
    val before = wh.table("factNascimentos").count()
    val n = Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01")
    assert(n == 0L, "re-run of a logged day re-ingested")
    assert(wh.table("factNascimentos").count() == before)
    assert(wh.ingestLogged("sinasc", "2020-02-01"))
    assert(!wh.ingestLogged("sinasc", "2099-12-31"))
  }

  test("compaction rewrites accumulated bridge files without changing rows") {
    Pipeline.ingestSim(wh, simCsv, "2020-01-15") // ensure bridge populated
    val bridgeDir = new java.io.File(dir.resolve("wh").resolve(Warehouse.Bridge).toString)
    def nFiles() = bridgeDir.listFiles().count(_.getName.endsWith(".parquet"))
    val rowsBefore = wh.table(Warehouse.Bridge)
      .collect().map(_.toString).sorted.toSeq
    assert(nFiles() >= 2, "expected accumulated append files to compact")
    val target = wh.compact(Warehouse.Bridge)
    assert(target == 1 && nFiles() == 1, "tiny bridge should compact to one file")
    val rowsAfter = wh.table(Warehouse.Bridge)
      .collect().map(_.toString).sorted.toSeq
    assert(rowsAfter == rowsBefore)
  }

  test("backfill ingests every pending day once; re-runs are no-ops") {
    val landing = Files.createTempDirectory("landing-backfill")
    Files.createDirectories(landing.resolve("sinasc/dt=2021-03-01"))
    Files.createDirectories(landing.resolve("sinasc/dt=2021-03-02"))
    Fixtures.write(landing.resolve("sinasc/dt=2021-03-01"), "a.csv", Fixtures.sinasc)
    Fixtures.write(landing.resolve("sinasc/dt=2021-03-02"), "b.csv", Fixtures.sinasc)
    val first = Pipeline.backfill(wh, landing.toString, "sinasc")
    assert(first == Seq("2021-03-01" -> 4L, "2021-03-02" -> 4L), first.toString)
    val second = Pipeline.backfill(wh, landing.toString, "sinasc")
    assert(second == Seq("2021-03-01" -> 0L, "2021-03-02" -> 0L), second.toString)
  }

  test("JDBC seam: a dim written to and read from an RDBMS matches the warehouse copy") {
    // Embedded Derby stands in for the reference's Postgres: the same
    // spark.read.jdbc/write.jdbc path, an in-process database.
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties
    wh.table("dimMunicipio").write.mode("overwrite").jdbc(url, "dimmunicipio", props)
    val viaJdbc = wh.jdbcTable(url, "dimmunicipio")
      .collect().map(_.toString).sorted.toSeq
    val direct = wh.table("dimMunicipio")
      .collect().map(_.toString).sorted.toSeq
    assert(viaJdbc == direct)
    assert(viaJdbc.nonEmpty)
  }

  test("per-partition fact compaction leaves sibling partitions untouched") {
    Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01") // setup if run alone
    // A second day, so the fact table has two dt= partitions.
    val day2 = Fixtures.write(dir, "sinasc_day2.csv", Fixtures.sinasc)
    Pipeline.ingestSinascFiles(wh, Seq(day2), "2020-02-02")
    val factDir = new java.io.File(dir.resolve("wh").resolve("factNascimentos").toString)
    def files(p: String): Map[String, Long] = {
      val d = new java.io.File(factDir, p)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val day1Before = files("dt=2020-02-01")
    val rowsBefore = wh.table("factNascimentos").count()
    wh.compact("factNascimentos", partition = Some("dt=2020-02-02"))
    assert(files("dt=2020-02-01") == day1Before, "sibling partition was rewritten")
    assert(files("dt=2020-02-02").size == 1)
    assert(wh.table("factNascimentos").count() == rowsBefore)
    assert(wh.table("factNascimentos").where("dt = '2020-02-02'").count() == 4L)
  }

  test("whole-table compaction of a dt-partitioned fact keeps the partition layout") {
    // No --partition arg on a partitioned table: the rewrite must come
    // back as dt= directories (partition discovery materializes dt as a
    // data column; a flat rewrite would drop the dirs and a later
    // append would then mix layouts — unreadable).
    Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01") // setup if run alone
    val day3 = Fixtures.write(dir, "sinasc_day3.csv", Fixtures.sinasc)
    Pipeline.ingestSinascFiles(wh, Seq(day3), "2020-02-03")
    val rowsBefore = wh.table("factNascimentos")
      .collect().map(_.toString).sorted.toSeq
    wh.compact("factNascimentos")
    val factDir = new java.io.File(dir.resolve("wh").resolve("factNascimentos").toString)
    val kids = factDir.listFiles().toSeq
    assert(kids.exists(f => f.isDirectory && f.getName.startsWith("dt=")),
      "partition directories were dropped by compaction")
    assert(!kids.exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "compaction left root-level data files beside dt= partitions")
    assert(kids.forall(f => !f.getName.contains("_compact_")),
      "compaction left tmp/bak directories behind")
    val rowsAfter = wh.table("factNascimentos")
      .collect().map(_.toString).sorted.toSeq
    assert(rowsAfter == rowsBefore)
    // The table must still accept partitioned appends and read cleanly.
    val day4 = Fixtures.write(dir, "sinasc_day4.csv", Fixtures.sinasc)
    Pipeline.ingestSinascFiles(wh, Seq(day4), "2020-02-04")
    assert(wh.table("factNascimentos").where("dt = '2020-02-04'").count() == 4L)
  }

  test("compaction preserves MULTI-LEVEL partition layouts") {
    import spark.implicits._
    val t = "nested_part"
    (1 to 40).map(i => (i.toLong, s"g${i % 2}", s"m${i % 3}"))
      .toDF("v", "a", "b")
      .write.mode("overwrite").partitionBy("a", "b")
      .parquet(dir.resolve("wh").resolve(t).toString)
    val before = wh.table(t).collect().map(_.toString).sorted.toSeq
    wh.compact(t)
    val root = new java.io.File(dir.resolve("wh").resolve(t).toString)
    val level1 = root.listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(level1.nonEmpty && level1.forall(_.startsWith("a=")), level1.mkString(","))
    val level2 = root.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSeq
    assert(level2.nonEmpty && level2.forall(_.startsWith("b=")),
      "second partition level was flattened: " + level2.mkString(","))
    assert(wh.table(t).collect().map(_.toString).sorted.toSeq == before)

    // The file-size target must hold WITHIN partitions: a tiny target
    // forces each partition dir to split into multiple files instead of
    // one arbitrarily-large file per partition.
    def leafParquetCount(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).count(_.getName.endsWith(".parquet"))
    }
    val nPartDirs = level2.size
    wh.compact(t, targetFileBytes = 1L)
    assert(leafParquetCount() > nPartDirs,
      s"size target ignored: ${leafParquetCount()} files across $nPartDirs partitions")
    assert(wh.table(t).collect().map(_.toString).sorted.toSeq == before)
  }
}
