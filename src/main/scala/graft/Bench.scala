package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main: runs every declared query against
  * `$SPARK_GRAFT_SF_DIR` at `$SPARK_GRAFT_CPUS` cores, writes per-query
  * detail to BENCH_DETAIL.json and prints ONE JSON gate line.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=8 sbt "runMain graft.Bench"
  *
  * Measurement rules:
  *   - `spark.sql.codegen.cache.maxEntries` is raised well above the
  *     suite's plan count (the default 100 is below the ~250 distinct
  *     codegen units a sweep compiles), so later queries don't evict
  *     earlier queries' generated classes and re-pay compilation inside
  *     timed reps.
  *   - a few untimed session warm-up queries pay the first-job costs
  *     (shuffle/broadcast infra, codegen bootstrap, file listings) before
  *     anything is timed; then every query gets its own UNTIMED run
  *     (recorded as `cold`), a GC settle, and `runs` timed reps whose
  *     median is its number.
  *   - cached plans are cleared before every run, so each rep pays its
  *     own compute.
  *   - three ambient calibrations (CPU-bound range aggregation,
  *     page-cached parquet scan, fixed groupBy shuffle) are recorded with
  *     `cpus`, so a number can be read against the window it came from.
  *     They normalize nothing.
  *   - the bench reads no file: comparing runs is the job of a paired
  *     same-window harness, not of this main.
  *   - a query that throws is recorded with its exception class and
  *     message, and the main exits with status 1 after the gate line.
  *   - the stdout line is CONSTANT-SIZE (no per-query values), so it
  *     never outgrows a ~2 KB output-capture tail.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus()
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.builder("graft-bench", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Locale.ROOT: a comma-decimal default locale would turn the gate
    // line into invalid JSON.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    def settle(): Unit = { System.gc(); Thread.sleep(50) }
    def once(fn: (SparkSession, String) => DataFrame): Double = {
      spark.sharedState.cacheManager.clearCache()
      secs(fn(spark, sfDir).count())
    }
    /** One warm-up run, then the median of three timed runs. */
    def calibrate(body: => Unit): Double = { body; median(Seq.fill(3)(secs(body))) }

    // XOR of hashes, not SUM of products: the session runs ANSI mode,
    // where a long SUM over 5e8 squares overflows.
    val calib = calibrate(spark.range(0L, 500000000L, 1L, cpus.toInt)
      .selectExpr("bit_xor(xxhash64(id)) as s").collect())
    val calibIo = calibrate(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("bit_xor(xxhash64(l_orderkey, l_shipdate, l_returnflag)) as s").collect())
    val calibSh = calibrate(spark.range(0L, 20000000L, 1L, cpus.toInt)
      .selectExpr("id % 1000000 as k", "xxhash64(id) as v")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("bit_xor(v) as x"))
      .selectExpr("bit_xor(x) as s").collect())

    // Session warm-up: one query per input-table family, plus d2 for the
    // shingle/minhash-band codegen units the table families don't
    // compile. A warm-up failure is recorded when its query is timed.
    Seq("q1_agg", "t20_word_freq", "q17_hourly_window", "s1_ann_brute_topk",
      "d2_dedup_minhash_lsh")
      .foreach(n => SparkEntry.queries.get(n).foreach(fn => Try(once(fn))))
    settle()

    // (name, (cold, warm median)) per query, or the first exception.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try {
        val cold = once(fn)
        settle()
        (cold, median(Seq.fill(runs)(once(fn))))
      }
    }
    val total = results.collect { case (_, Success((_, warm))) => warm }.sum
    val queries = results.map {
      case (name, Success((cold, warm))) =>
        s"""${str(name)}:{"warm_median":$warm,"cold":$cold,"error":null}"""
      case (name, Failure(e)) =>
        s"""${str(name)}:{"warm_median":null,"cold":null,""" +
          s""""error":{"class":${str(e.getClass.getName)},"message":${str(String.valueOf(e.getMessage).take(500))}}}"""
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total_warm","value":$total,"unit":"sec","runs":$runs,"sf":${str(sfDir)},""" +
        s""""cpus":${cpus.toInt},"calib_s":${fmt(calib)},"calib_io_s":${fmt(calibIo)},""" +
        s""""calib_sh_s":${fmt(calibSh)},"queries":$queries}"""
    val written = Try(Files.write(Paths.get("BENCH_DETAIL.json"), detail.getBytes(StandardCharsets.UTF_8)))
    written.failed.foreach(e => System.err.println(s"BENCH_DETAIL.json not written: $e"))
    results.collect { case (name, Failure(e)) => s"FAILED $name: $e" }.foreach(System.err.println)
    println(s"""{"metric":"total_warm","value":${fmt(total)},"unit":"sec","n":${results.size},"runs":$runs,"sf":"$sfDir"}""")
    spark.stop()
    if (results.exists(_._2.isFailure) || written.isFailure) sys.exit(1)
  }
}
