package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry

/** The operator sweep over generated testdata-layout tables: the
  * comma-separated `SparkEntry.queries` entries named by `queries=`.
  *
  * Set-up is one warm pass that writes every query's full result as
  * Parquet under `results/` (the outputs run.py checks against DuckDB)
  * plus the declared oracle SQL. Each timed pass then runs every query in
  * name order: construct the DataFrame, then evaluate every output row
  * and column through the `noop` sink (`count()` would let Catalyst
  * prune columns and skip work). The cache manager is cleared before
  * every query, so nothing carries over between timed reps. With
  * trace=1 one more pass runs under the tracer. */
object SweepBench {

  private val modules: Seq[graft.OpModule] = Seq(
    graft.operators.Relational, graft.operators.OlapCube, graft.operators.WindowOps,
    graft.operators.SetOps, graft.operators.Scalars, graft.operators.EventOps,
    graft.operators.TextOps, graft.operators.Dedup, graft.operators.Similarity,
    graft.operators.AnnIndex, graft.operators.Multimodal, graft.operators.Curation,
    graft.operators.Maintenance, graft.operators.Extras)

  def moduleOf: Map[String, String] = modules.flatMap { m =>
    val n = m.getClass.getSimpleName.stripSuffix("$")
    m.ops.map(_.name -> n)
  }.toMap

  def run(kv: Map[String, String]): Map[String, Any] = {
    val data = kv("data")
    val work = kv("work")
    val t0 = System.nanoTime()
    val spark = Main.session("perfbench-sweep", kv("cpus"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Json.value(SparkEntry.oracleSql).getBytes(StandardCharsets.UTF_8))
    val queries = SparkEntry.queries
    val names = kv("queries").split(",").filter(_.nonEmpty).toSeq.sorted
    require(names.forall(queries.contains), s"unknown queries: ${names.filterNot(queries.contains).mkString(",")}")
    val mod = moduleOf
    val errors = mutable.LinkedHashMap[String, Map[String, Any]]()

    val tw = System.nanoTime()
    val warmMs = names.map { n =>
      val t = System.nanoTime()
      try queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
      catch { case e: Throwable => errors(n) = Main.error(e) + ("pass" -> "warm") }
      n -> (System.nanoTime() - t) / 1e6
    }.toMap
    val warmS = (System.nanoTime() - tw) / 1e9

    def pass(tracer: Tracer): Map[String, Map[String, Double]] = names.filterNot(errors.contains).flatMap { n =>
      spark.catalog.clearCache()
      val span = s"sweep.${mod.getOrElse(n, "Other")}.$n"
      try {
        val (df, cMs) = tracer.span(s"$span.construct")(queries(n)(spark, data))
        val (_, eMs) = tracer.span(s"$span.exec")(df.write.format("noop").mode("overwrite").save())
        Some(n -> Map("construct_ms" -> cMs, "exec_ms" -> eMs, "wall_ms" -> (cMs + eMs)))
      } catch { case e: Throwable => errors(n) = Main.error(e) + ("pass" -> "timed"); None }
    }.toMap

    val untraced = new Tracer(spark, false)
    val passes = (1 to kv("passes").toInt).map(_ => pass(untraced))
    val tracer = new Tracer(spark, kv("trace") == "1")
    val traced = if (tracer.on) Some(pass(tracer)) else None
    tracer.detach()
    spark.catalog.clearCache()
    Map(
      "session_s" -> sessionS,
      "warm_s" -> warmS,
      "warm_ms" -> warmMs,
      "cpus" -> kv("cpus"),
      "queries" -> names,
      "module" -> mod,
      "passes" -> passes,
      "traced_pass" -> traced,
      "errors" -> errors,
      "heap_retained_mb" -> Main.heapRetainedMb(),
      "calib_ms" -> Main.calibMs(),
      "layers" -> tracer.dump)
  }
}
