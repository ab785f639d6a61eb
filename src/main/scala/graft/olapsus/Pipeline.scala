package graft.olapsus

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation}

/** Test-only fault injection for the crash-replay specs: invoked between
  * a fact day write and its manifest log row — the exact crash point the
  * idempotent day write ([[Warehouse.overwriteDay]] /
  * [[Warehouse.appendUnit]]) must survive. A no-op in production. */
private[olapsus] object IngestFaults {
  /** (warehouse root, dataset) — root-scoped so a spec's injected fault
    * can never fire inside another suite's concurrently-running ingest. */
  @volatile var afterFactWrite: (String, String) => Unit = (_, _) => ()
  /** Fires between a backfill day-batch's `d#<unit>` manifest row and
    * its plain-day row — the window where the day is written and
    * unit-logged but invisible to the batch driver. */
  @volatile var afterUnitKeyLog: (String, String) => Unit = (_, _) => ()
}

/** The two ETLs (SIM: dags/spark_script_sim.py; SINASC:
  * dags/spark_script_sinasc.py) with a Parquet warehouse instead of JDBC.
  * Each dataset has ONE day body ([[Pipeline.RawDataset]]): raw rows →
  * [[Transforms]] → (SIM: the cause-bridge merge) → key resolution →
  * one fact write. The batch driver ([[Pipeline.ingestFiles]], reading
  * CSV columns by header name) and the stream backfill
  * ([[StreamingIngest.backfill]], which requires the exact declared
  * header) each add their own lease, manifest and fault-hook steps
  * around it.
  *
  * Key resolution is the join/null-policy/aggregate stage (SIM:
  * sim.py:330-402; SINASC: sinasc.py:196-274).
  * All dim joins are broadcast left joins (the reference disables
  * auto-broadcast and hints every dim, spark_dag.py:41 + sim.py:294-304;
  * we hint identically). The demografia/info-nascimento joins are band
  * joins (equality columns + age/weight range) — Catalyst extracts the
  * equi part as hash keys and evaluates the range residually, so they
  * stay broadcast-hash, not nested-loop.
  *
  * Null policies ported exactly — they differ per fact and decide which
  * rows land on the 'Ignorado' members (SURVEY.md §7 risks):
  *  - SINASC: flat fill 0 (municipios, demografia, info), −1 for
  *    chave_tempo; rows with unmatched birth date DROPPED
  *    (sinasc.py:251-259).
  *  - SIM: municipio keys → 0 only when the source code was present but
  *    unmatched; fill 0 for ocupacao/grupo-causa; then `na.drop` over
  *    ALL grain keys (sim.py:384-399).
  */
object Pipeline {

  /** The dimension lookups both facts key against: date →
    * `chave_data`, `HH:mm:ss` → `chave_tempo` (dimHorario's stored
    * `tempo`; the sentinel's is NULL and matches nothing), and 6-digit
    * IBGE code (`cod_mun_6`) → `chave_municipio`. */
  private def keyLookups(wh: Warehouse): (DataFrame, DataFrame, DataFrame) = (
    broadcast(wh.table("dimData").select("data", "chave_data")),
    broadcast(wh.table("dimHorario").select("tempo", "chave_tempo")),
    broadcast(wh.table("dimMunicipio").select(
      floor(col("codigo_ibge") / 10).cast("int").as("cod_mun_6"), col("chave_municipio"))))

  /** SINASC clean rows → factNascimentos grain. */
  def resolveSinasc(clean: DataFrame, wh: Warehouse): DataFrame = {
    val (dimData, dimHorario, munLookup) = keyLookups(wh)
    val dimDem = broadcast(wh.table("dimDemografia"))
    val dimInfo = broadcast(wh.table("dimInfoNascimento"))

    val joined = clean
      .join(dimData.select(col("data").as("data_nascimento"), col("chave_data")),
        Seq("data_nascimento"), "left")
      .join(dimHorario, col("tempo_nascimento") === col("tempo"), "left").drop("tempo")
      .join(munLookup.withColumnRenamed("chave_municipio", "chave_municipio_nascimento"),
        col("cod_mun_nasc") === col("cod_mun_6"), "left").drop("cod_mun_6")
      .join(munLookup.withColumnRenamed("chave_municipio", "chave_municipio_residencia"),
        col("cod_mun_res") === col("cod_mun_6"), "left").drop("cod_mun_6")
      .join(dimDem.withColumnRenamed("sexo", "sexo_dim"),
        (lit("F") === col("sexo_dim")) &&
          (col("raca_mae_desc") === col("raca")) &&
          (col("estciv_mae_desc") === col("estado_civil")) &&
          (col("esc_mae_desc") === col("escolaridade")) &&
          // Null-tolerant age arm (sinasc.py:224-227): unknown mother age
          // matches the band with NULL bounds.
          ((col("idade_mae").isNotNull && col("idade_mae") >= col("idade_minima")) ||
            (col("idade_mae").isNull && col("idade_minima").isNull)) &&
          (col("idade_maxima").isNull || col("idade_mae") <= col("idade_maxima")),
        "left")
      .join(dimInfo.withColumnRenamed("sexo", "sexo_rn_dim"),
        (col("sexo_rn_desc") === col("sexo_rn_dim")) &&
          (col("raca_rn_desc") === col("raca_cor")) &&
          (col("parto_desc") === col("tipo_parto")) &&
          (col("gestacao_desc") === col("tempo_gestacao")) &&
          (col("gravidez_desc") === col("tipo_gravidez")) &&
          ((col("peso_gramas").isNotNull && col("peso_gramas") >= col("peso_min_gramas")) ||
            (col("peso_gramas").isNull && col("peso_min_gramas").isNull)) &&
          (col("peso_max_gramas").isNull || col("peso_gramas") <= col("peso_max_gramas")),
        "left")

    val keys = Seq("chave_data", "chave_tempo", "chave_municipio_nascimento",
      "chave_municipio_residencia", "chave_demografia", "chave_info_nascimento")

    joined
      .na.fill(Map(
        "chave_municipio_nascimento" -> 0,
        "chave_municipio_residencia" -> 0,
        "chave_demografia" -> 0,
        "chave_info_nascimento" -> 0,
        "chave_tempo" -> -1))
      .filter(col("chave_data").isNotNull)
      .groupBy(keys.map(col): _*)
      .count()
      .withColumnRenamed("count", "quantidade_nascimentos")
  }

  /** SIM clean rows (with chave_grupo_causa attached) → factObitos grain. */
  def resolveSim(withGroups: DataFrame, wh: Warehouse): DataFrame = {
    val (dimData, dimHorario, dimMun) = keyLookups(wh)
    val dimOcup = broadcast(wh.table("dimOcupacao"))
    val dimDem = broadcast(wh.table("dimDemografia"))

    val joined = withGroups
      .join(dimData.select(col("data").as("data_nascimento"), col("chave_data").as("chave_data_nascimento")),
        Seq("data_nascimento"), "left")
      .join(dimData.select(col("data").as("data_obito"), col("chave_data").as("chave_data_obito")),
        Seq("data_obito"), "left")
      .join(dimHorario, col("tempo_obito") === col("tempo"), "left")
      .withColumnRenamed("chave_tempo", "chave_tempo_obito").drop("tempo")
      .join(dimMun.select(col("cod_mun_6").as("cod_mun_res"), col("chave_municipio").as("chave_municipio_residencia")),
        Seq("cod_mun_res"), "left")
      .join(dimMun.select(col("cod_mun_6").as("cod_mun_ocor"), col("chave_municipio").as("chave_municipio_obito")),
        Seq("cod_mun_ocor"), "left")
      .join(dimOcup.select(col("cbo_2002").as("ocupacao_cbo"), col("chave_ocupacao")),
        Seq("ocupacao_cbo"), "left")
      .join(dimDem,
        (col("sexo_desc") === col("descricao_sexo")) &&
          (col("raca_desc") === col("raca")) &&
          (col("estciv_desc") === col("estado_civil")) &&
          (col("esc_desc") === col("escolaridade")) &&
          // NOTE: unlike SINASC there is no null-age arm (sim.py:367) —
          // unknown age falls off every band and na.drop removes the row.
          (col("idade_anos") >= col("idade_minima")) &&
          (col("idade_maxima").isNull || col("idade_anos") <= col("idade_maxima")),
        "left")

    val keys = Seq("chave_data_nascimento", "chave_data_obito", "chave_tempo_obito",
      "chave_municipio_residencia", "chave_municipio_obito", "chave_demografia",
      "chave_grupo_causa", "chave_ocupacao")

    joined
      // Municipio → 0 only when a code was present but unmatched
      // (sim.py:384-394); absent codes stay NULL and the row drops.
      .withColumn("chave_municipio_residencia",
        when(col("chave_municipio_residencia").isNull && col("cod_mun_res").isNotNull, 0)
          .otherwise(col("chave_municipio_residencia")))
      .withColumn("chave_municipio_obito",
        when(col("chave_municipio_obito").isNull && col("cod_mun_ocor").isNotNull, 0)
          .otherwise(col("chave_municipio_obito")))
      .na.fill(0, Seq("chave_ocupacao", "chave_grupo_causa"))
      .groupBy(keys.map(col): _*)
      .count()
      .withColumnRenamed("count", "quantidade_obitos")
      .na.drop(keys)
  }

  /** One raw dataset: the CSV header its landing files carry and its day
    * body. The body is the dataset's whole ETL for one batch of raw rows
    * — decode ([[Transforms]]), for SIM the cause-bridge merge, key
    * resolution, one fact write — and returns the rows it wrote. With
    * `unit = None` the write replaces the `dt=` partition
    * ([[Warehouse.overwriteDay]]); with `Some(u)` it is the replayable
    * per-unit append [[Warehouse.appendUnit]]. The caller holds the
    * dataset's lease and owns the manifest: the batch driver
    * ([[ingestFiles]]) and the stream backfill
    * ([[StreamingIngest.backfill]]) both run this body. */
  private[olapsus] final case class RawDataset(name: String, header: String,
      day: (Warehouse, DataFrame, String, Option[String]) => Long)

  private val Sinasc = RawDataset("sinasc", Schemas.sinascHeader, sinascDay)
  private val Sim = RawDataset("sim", Schemas.simHeader, simDay)

  /** The one place a dataset name picks its header and body. */
  private[olapsus] def datasetNamed(name: String): RawDataset =
    Seq(Sinasc, Sim).find(_.name == name)
      .getOrElse(sys.error(s"unknown dataset $name (sim|sinasc)"))

  private def sinascDay(wh: Warehouse, raw: DataFrame, dt: String, unit: Option[String]): Long =
    writeDay(wh, "factNascimentos", resolveSinasc(Transforms.sinasc(raw), wh), dt, unit)

  private def simDay(wh: Warehouse, raw: DataFrame, dt: String, unit: Option[String]): Long = {
    val clean = Transforms.sim(raw.withColumn("row_id", monotonically_increasing_id()))
    // Incremental signature lookup: bootstrapped from the bridge once,
    // then maintained by appending each batch's new groups — the merge
    // never re-derives existing groups' signatures again.
    if (!wh.exists(Warehouse.Signatures))
      // Unleased variant: the caller already holds the `sim` scope
      // lease, which also guards the signature table.
      wh.writeUnleased(Warehouse.Signatures, CauseBridge.signatures(wh.table(Warehouse.Bridge)))
    val bridge = CauseBridge.resolve(clean, wh.table("dimCausa"),
      wh.table(Warehouse.Bridge), wh.table(Warehouse.Signatures))
    // Read-before-write single-writer merge (no ON CONFLICT in Parquet;
    // same assumption as the reference's max+1 id scheme, sim.py:214).
    // count() fully materializes the new rows into the cache BEFORE the
    // append below adds files to the directory the lazy plan reads. Only
    // new groups' rows are appended, and a replay appends none: the
    // signature anti-join makes the merge replay-idempotent.
    val newRows = bridge.newBridgeRows.cache()
    try {
      if (newRows.count() > 0) {
        wh.appendRows(Warehouse.Bridge, newRows)
        wh.appendRows(Warehouse.Signatures, bridge.newSignatureRows)
      }
      writeDay(wh, "factObitos", resolveSim(bridge.resolved, wh), dt, unit)
    } finally newRows.unpersist()
  }

  /** Writes `fact` as day `dt` (see [[RawDataset]]) and returns the rows
    * written, observed on the write itself: no second evaluation of the
    * plan (scan, decode, dim joins, aggregate) is needed to count them. */
  private def writeDay(wh: Warehouse, table: String, fact: DataFrame, dt: String,
      unit: Option[String]): Long = {
    val rows = new Observation()
    val observed = fact.observe(rows, count(lit(1)).as("rows"))
    unit match {
      case None => wh.overwriteDay(table, observed, dt)
      case Some(u) => wh.appendUnit(table, observed, dt, u)
    }
    rows.get("rows").asInstanceOf[Long]
  }

  /** One batch's raw rows, every column a string and named by the files'
    * header ([[Landing.batchSchema]], read on the driver); None when no
    * file has a data row. */
  private def readRaw(wh: Warehouse, paths: Seq[String]): Option[DataFrame] =
    Landing.batchSchema(wh.spark, paths).map(wh.spark.read.schema(_)
      .option("header", "true").option("sep", ";")
      .csv(paths: _*))

  /** Full SINASC ingest of one `dt=` batch of raw CSVs (header, `;`,
    * no inference — sinasc.py:192). Paths may be globs or concrete
    * files in any configured FileSystem scheme (see [[Landing]]). */
  def ingestSinasc(wh: Warehouse, csvGlob: String, dt: String): Long =
    ingestSinascFiles(wh, Seq(csvGlob), dt)

  /** Returns the number of fact rows this call wrote; 0 for a day
    * already logged and for a batch without data rows (which stays
    * unlogged). */
  def ingestSinascFiles(wh: Warehouse, paths: Seq[String], dt: String): Long =
    ingestFiles(wh, Sinasc, paths, dt)

  /** Full SIM ingest: transform → bridge merge (append new groups) →
    * resolve → day write. */
  def ingestSim(wh: Warehouse, csvGlob: String, dt: String): Long =
    ingestSimFiles(wh, Seq(csvGlob), dt)

  /** Returns the number of fact rows written, as [[ingestSinascFiles]]
    * does. */
  def ingestSimFiles(wh: Warehouse, paths: Seq[String], dt: String): Long =
    ingestFiles(wh, Sim, paths, dt)

  /** The batch driver: one `dt=` day of raw CSVs, read by header name
    * (extra or reordered columns are fine), through the dataset's day
    * body. The manifest check, the header and the emptiness check are
    * driver-side file reads, so the only Spark jobs a batch runs are
    * its day body's. */
  private[olapsus] def ingestFiles(wh: Warehouse, ds: RawDataset, paths: Seq[String],
      dt: String): Long = {
    if (paths.isEmpty) return 0L
    // Lease first, manifest check inside it: the manifest-then-write
    // sequence is the exact read-before-write window a second concurrent
    // ingest corrupts (a double-written day; on SIM, duplicate cause-group
    // ids, silent and permanent). A crashed run's lease expires and the
    // replay converges through the manifest.
    graft.WriterLease.withLease(wh.spark, wh.root,
      graft.WriterLease.processOwner(s"ingest-${ds.name}"), scope = ds.name) {
      if (wh.ingestLogged(ds.name, dt)) 0L
      else readRaw(wh, paths).fold(0L) { raw =>
        // A whole-day overwrite, not an append: a crash between this
        // write and the logIngest marker below leaves the day
        // written-but-unlogged, and the replay must REPLACE it, not
        // double it (see the crash-replay contract on
        // Warehouse.overwriteDay; forged in CrashReplaySpec).
        val written = ds.day(wh, raw, dt, None)
        IngestFaults.afterFactWrite(wh.root, ds.name)
        wh.logIngest(ds.name, dt)
        written
      }
    }
  }

  /** Backfill every pending `dt=` day partition under the landing
    * prefix, oldest first — the engine-side equivalent of the
    * reference's daily Airflow loop (dags/spark_dag.py:48-78), driven
    * by the landing listing plus the ingest manifest, so re-running
    * backfill after a crash or on a schedule is safe. Returns
    * (dt, rows) per landed day.
    *
    * The manifest is read once, before the loop: a day it already logs
    * is reported as `dt -> 0` without a lease or a day listing (the
    * manifest is append-only, so a logged day stays logged),
    * and only pending days go through [[ingestFiles]], which re-checks
    * the manifest inside its lease. The cost of a run is therefore
    * O(pending days), not O(days ever landed). */
  def backfill(wh: Warehouse, prefix: String, dataset: String): Seq[(String, Long)] = {
    val ds = datasetNamed(dataset)
    val days = Landing.listGlob(wh.spark, s"$prefix/$dataset/dt=*")
      .map(p => p.substring(p.lastIndexOf("dt=") + 3).stripSuffix("/"))
      .distinct.sorted
    val logged = if (days.isEmpty) Set.empty[String] else wh.ingestKeys(dataset)
    days.map { dt =>
      if (logged(dt)) dt -> 0L
      else dt -> ingestFiles(wh, ds, Landing.listDay(wh.spark, prefix, dataset, dt), dt)
    }
  }
}
