package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM. One mode per invocation:
  *
  *   seedcsv DIR            write SeedGen's CBO, ICD-10 and municipality seed CSVs
  *   ingest    key=value ... seed, then ingest (no serving)
  *   lifecycle key=value ... seed, ingest, then serve the same warehouse
  *   sweep     key=value ... the operator sweep
  *
  * Every mode writes one JSON result file (`out=`) and ends with an
  * explicit `System.exit`: a JVM that served the Dashboard never exits
  * on its own (its request pool is non-daemon and never shut down). */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        args.headOption match {
          case Some("seedcsv") =>
            val dir = Paths.get(args(1))
            Files.createDirectories(dir)
            graft.olapsus.Fixtures.write(dir, "cbo.csv", graft.olapsus.SeedGen.cbo)
            graft.olapsus.Fixtures.write(dir, "cid.csv", graft.olapsus.SeedGen.cid)
            graft.olapsus.Fixtures.write(dir, "municipio.csv", graft.olapsus.SeedGen.municipio)
            0
          case Some(mode) =>
            val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
            val out = Json.obj(mode match {
              case "ingest" => ingest(kv)
              case "lifecycle" => lifecycle(kv)
              case "sweep" => SweepBench.run(kv)
              case other => sys.error(s"unknown mode $other")
            })
            Files.write(Paths.get(kv("out")), out.getBytes(StandardCharsets.UTF_8))
            0
          case None => sys.error("usage: Main seedcsv|ingest|lifecycle|sweep ...")
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  /** The ingest workload: the ingest phases alone, in one JVM and one
    * session. */
  def ingest(kv: Map[String, String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session("perfbench-ingest", kv("cpus"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, kv("trace") == "1")
    val (_, ingest) = IngestBench.run(spark, tracer, kv)
    tracer.detach()
    Map("session_s" -> sessionS, "ingest" -> ingest,
      "heap_retained_mb" -> heapRetainedMb(), "calib_ms" -> calibMs(), "layers" -> tracer.dump)
  }

  /** The lifecycle workload: the ingest phases, then the serve phases over
    * the warehouse they built, in one JVM and one session. */
  def lifecycle(kv: Map[String, String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session("perfbench-lifecycle", kv("cpus"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, kv("trace") == "1")
    val (wh, ingest) = IngestBench.run(spark, tracer, kv)
    // The load phases run untraced; ServeBench re-attaches for its
    // traced pass.
    tracer.detach()
    val serve = ServeBench.run(spark, wh, tracer, kv)
    Map("session_s" -> sessionS, "ingest" -> ingest, "serve" -> serve,
      "heap_retained_mb" -> heapRetainedMb(), "calib_ms" -> calibMs(), "layers" -> tracer.dump)
  }

  def session(app: String, cpus: String): SparkSession = {
    val s = graft.GraftSession.builder(app, cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Used heap after a full collection, in MB. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Ambient CPU calibration: a fixed single-threaded integer loop, ms. */
  def calibMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0L
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42) println(x)
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).sorted.apply(1)
  }

  def error(e: Throwable): Map[String, Any] =
    Map("class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage).take(500))

}

/** Minimal JSON writer for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toMap)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
