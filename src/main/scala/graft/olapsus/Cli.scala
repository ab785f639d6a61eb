package graft.olapsus

import org.apache.spark.sql.SparkSession

/** CLI surface mirroring the reference's entry points (SURVEY.md §7):
  * the init.sql bootstrap becomes `Seed`, the spark-submit'd per-dataset
  * ingest (dags/spark_script_{sim,sinasc}.py main(), argparse
  * `--dataset --date --prefix`) becomes `Ingest`. Postgres connection
  * flags are gone — the warehouse is a Parquet root.
  */
object Cli {
  private[olapsus] def session(): SparkSession = {
    val s = graft.GraftSession.builder("olapsus",
      graft.GraftSession.envCpus("4")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private[olapsus] def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}

/** `runMain graft.olapsus.Seed --warehouse DIR --municipio-csv F
  * --cbo-csv F --cid-csv F` — generates/loads all dimensions + the
  * bridge seed (scripts/init.sql equivalent). With `--synthetic full`
  * instead of the three CSV flags, seeds from [[SeedGen]]'s generated
  * CSVs at the reference's dimension cardinality (5,571 / 2,812 /
  * 12,477 rows) — a self-contained bootstrap when the real directory
  * CSVs aren't at hand. */
object Seed {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session()
    val wh = new Warehouse(spark, a("warehouse"))
    if (a.get("synthetic").contains("full")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-seed")
      Dims.seedAll(wh,
        Fixtures.write(tmp, "municipio.csv", SeedGen.municipio),
        Fixtures.write(tmp, "cbo.csv", SeedGen.cbo),
        Fixtures.write(tmp, "cid.csv", SeedGen.cid))
    } else {
      Dims.seedAll(wh, a("municipio-csv"), a("cbo-csv"), a("cid-csv"))
    }
    Warehouse.Dims.foreach(t => println(f"$t%-20s ${wh.table(t).count()}%,d rows"))
    spark.stop()
  }
}

/** `runMain graft.olapsus.Ingest --dataset sim|sinasc --date YYYY-MM-DD
  * --prefix LANDING_DIR --warehouse DIR` — ingests
  * `LANDING_DIR/<dataset>/dt=<date>/` CSVs into the matching fact,
  * exactly the reference's per-day batch
  * (dags/spark_script_sim.py:258-299). */
object Ingest {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session()
    val wh = new Warehouse(spark, a("warehouse"))
    // FileSystem-resolved listing: --prefix may be s3a://, hdfs://, or a
    // local dir — same code path either way (Landing).
    val ds = Pipeline.datasetNamed(a("dataset"))
    val files = Landing.listDay(spark, a("prefix"), ds.name, a("date"))
    val n = Pipeline.ingestFiles(wh, ds, files, a("date"))
    println(s"ingested $n fact rows from ${files.size} files under ${a("prefix")}")
    spark.stop()
  }
}

/** `runMain graft.olapsus.Backfill --dataset sim|sinasc --prefix
  * LANDING_DIR --warehouse DIR [--engine batch|stream]` — ingest every
  * pending `dt=` partition, oldest first. Both engines run the
  * dataset's one day body. The default batch engine skips
  * manifest-logged days (re-runs are no-ops) and reads CSV columns by
  * header name; `--engine stream` drives the same days through
  * [[StreamingIngest.backfill]], where the stream checkpoint gives
  * file-granular exactly-once across crashes, completed days land in the
  * manifest too, and every file must carry exactly the declared header. */
object Backfill {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session()
    val wh = new Warehouse(spark, a("warehouse"))
    a.getOrElse("engine", "batch") match {
      case "stream" =>
        StreamingIngest.backfill(wh, a("prefix"), a("dataset")).awaitTermination()
        println(s"stream backfill drained ${a("prefix")}/${a("dataset")}")
      case "batch" =>
        Pipeline.backfill(wh, a("prefix"), a("dataset")).foreach { case (dt, n) =>
          println(s"dt=$dt: ${if (n == 0) "skipped (logged or empty)" else s"$n fact rows"}")
        }
      // Fail loudly (like an unknown --dataset): silently falling back to
      // batch would hand the user day-granular semantics they didn't ask
      // for.
      case other => sys.error(s"unknown --engine $other (batch|stream)")
    }
    spark.stop()
  }
}

/** `runMain graft.olapsus.Maintain --warehouse DIR
  *   [--compact TABLE] [--partition dt=YYYY-MM-DD] [--target-mb N]` —
  * periodic warehouse maintenance: compacts the named table (or one
  * fact `dt=` partition) and prints the ingest manifest. The daily
  * companion of the append-only ingest path. */
object Maintain {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = Cli.session()
    val wh = new Warehouse(spark, a("warehouse"))
    a.get("compact").foreach { table =>
      val target = a.get("target-mb").map(_.toLong * 1024 * 1024)
        .getOrElse(128L * 1024 * 1024)
      val n = wh.compact(table, target, a.get("partition"))
      println(s"compacted $table${a.get("partition").fold("")(p => s"/$p")} -> $n file(s)")
    }
    val logged = Seq("sim", "sinasc").flatMap(d => wh.ingestKeys(d).toSeq.sorted.map(d -> _))
    if (logged.nonEmpty) {
      println("ingest manifest:")
      logged.foreach { case (d, dt) => println(s"  $d dt=$dt") }
    }
    spark.stop()
  }
}
