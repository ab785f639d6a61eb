package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.olapsus.{Dims, Landing, Pipeline, Warehouse}

/** The ingest phases of the ingest and lifecycle workloads, for the
  * `datasets=` listed, driven only through the program's public entry
  * points:
  *
  *  1. set-up: `Dims.seedAll` from the seed CSVs, `seed_reps=` times,
  *     each into a fresh warehouse; the last one, `wh/`, is ingested into;
  *  2. bulk: one historical file per dataset through
  *     `Landing.listDay` + `Pipeline.ingest*Files`;
  *  3. backlog: each `days=` day is moved from `staged/` into the landing
  *     zone and `Pipeline.backfill` runs per dataset, as a daily job
  *     would; every call lists all landed days and skips logged ones.
  *     With tracing on, every other day runs with the listeners
  *     detached (span `untraced.<dataset>.daily`), so the traced and
  *     untraced days give the tracing overhead.
  *
  * Work dir layout: seeds/, landing/, staged/, wh/. */
object IngestBench {
  def run(spark: SparkSession, tracer: Tracer, kv: Map[String, String]): (Warehouse, Map[String, Any]) = {
    val work = kv("work")
    val datasets = kv("datasets").split(",").toSeq
    val errors = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted = 0
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable => errors += (Main.error(e) + ("op" -> what)); None }
    }
    val seeds = s"$work/seeds"
    val reps = kv("seed_reps").toInt
    val seedS = (1 to reps).map { i =>
      val root = if (i == reps) s"$work/wh" else s"$work/wh-setup$i"
      tracer.span("dims.seed_all") {
        Dims.seedAll(new Warehouse(spark, root), s"$seeds/municipio.csv", s"$seeds/cbo.csv", s"$seeds/cid.csv")
      }._2 / 1e3
    }
    val wh = new Warehouse(spark, s"$work/wh")
    val prefix = s"$work/landing"
    def ingest(ds: String, dt: String, files: Seq[String]): Long = ds match {
      case "sim" => Pipeline.ingestSimFiles(wh, files, dt)
      case _ => Pipeline.ingestSinascFiles(wh, files, dt)
    }
    def groups(): Long =
      if (tracer.on) wh.table(Warehouse.Bridge).select("chave_grupo_causa").distinct().count() else -1L
    val bridgeGroups = mutable.LinkedHashMap[String, Long]("seed" -> groups())

    val bulkDt = kv("bulk_dt")
    val bulk = datasets.map { ds =>
      val r = attempt(s"ingest.$ds.bulk") {
        val files = tracer.span("landing.list")(Landing.listDay(spark, prefix, ds, bulkDt))._1
        val (n, ms) = tracer.span(s"ingest.$ds.bulk")(ingest(ds, bulkDt, files))
        Map("fact_rows" -> n, "wall_ms" -> ms, "files" -> files.size)
      }
      if (ds == "sim") bridgeGroups("bulk") = groups()
      ds -> r.getOrElse(Map.empty)
    }.toMap

    val days = kv("days").split(",").filter(_.nonEmpty).toSeq
    val daily = datasets.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val untracedDaily = datasets.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val listMs = mutable.ArrayBuffer[Double]()
    days.zipWithIndex.foreach { case (dt, i) =>
      datasets.foreach { ds =>
        val from = Paths.get(s"$work/staged/$ds/dt=$dt")
        val to = Paths.get(s"$prefix/$ds/dt=$dt")
        Files.createDirectories(to.getParent)
        Files.move(from, to)
      }
      val traced = !tracer.on || i % 2 == 0
      if (!traced) tracer.detach()
      datasets.foreach { ds =>
        attempt(s"ingest.$ds.daily") {
          val span = if (traced) s"ingest.$ds.daily" else s"untraced.$ds.daily"
          val (_, ms) = tracer.span(span)(Pipeline.backfill(wh, prefix, ds))
          (if (traced) daily(ds) else untracedDaily(ds)) += ms
        }
      }
      if (!traced) tracer.attach()
      listMs += tracer.span("landing.list")(Landing.listDay(spark, prefix, datasets.head, dt))._2
    }
    bridgeGroups("daily") = groups()
    spark.catalog.clearCache()
    wh -> Map(
      "seed_s" -> seedS,
      "bulk" -> bulk,
      "daily_ms" -> daily,
      "untraced_daily_ms" -> untracedDaily,
      "landing_list_ms" -> listMs,
      "bridge_groups" -> bridgeGroups,
      "attempted" -> attempted,
      "errors" -> errors)
  }
}
