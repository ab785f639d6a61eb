package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.olapsus.{Dashboard, ServingQueries, Warehouse}

/** The serve phases of the lifecycle workload, over HTTP against
  * `Dashboard` started on the warehouse the ingest phases just built:
  *
  *  - cold: `Dashboard.start`, then one request per route, in turn;
  *  - light (`light=`, one path per line): one client, one request at a
  *    time, so requests never overlap;
  *  - with trace=1, instead of light: busy (`busy=`, `due_ms<TAB>path`
  *    per line), an open loop: a scheduler thread releases each request
  *    at its due time to `cpus` client threads, and latency runs from
  *    the due time, so a stall is charged to every request queued behind
  *    it; capacity (`cpus` closed-loop clients for `CapacityS`); then
  *    one request per route as a direct `ServingQueries` call, traced and
  *    untraced, and over HTTP, `TraceReps` times.
  *
  * Every request of the cold, light, busy and capacity phases is
  * recorded, and every distinct response body is written under `bodies/`
  * and listed with its path, so each one can be checked against the
  * oracle. */
object ServeBench {

  private val CapacityS = 2.0
  private val TraceReps = 2

  final case class Rec(phase: String, path: String, dueMs: Double, sentMs: Double,
      doneMs: Double, status: Int, body: String, error: Option[Map[String, Any]])

  def run(spark: SparkSession, wh: Warehouse, tracer: Tracer, kv: Map[String, String]): Map[String, Any] = {
    val work = kv("work")
    val threads = kv("cpus").toInt

    val bodiesDir = Paths.get(s"$work/bodies")
    Files.createDirectories(bodiesDir)
    val seen = new ConcurrentHashMap[(String, String), java.lang.Boolean]()
    def keep(path: String, body: String): String = {
      val md = MessageDigest.getInstance("SHA-1")
      val h = md.digest(body.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
      if (seen.putIfAbsent((path, h), true) == null)
        Files.write(bodiesDir.resolve(s"$h.json"), body.getBytes(StandardCharsets.UTF_8))
      h
    }

    val client = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
    var port = 0
    def get(path: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .timeout(Duration.ofSeconds(60)).GET().build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode(), r.body())
    }
    def schedule(name: String): Seq[(Double, String)] =
      Files.readAllLines(Paths.get(kv(name))).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val Array(d, p) = l.split("\t", 2); (d.toDouble, p)
      }
    val light = Files.readAllLines(Paths.get(kv("light"))).asScala.toSeq.filter(_.nonEmpty)
    val busy = schedule("busy")
    // One request per route: the first of each route in the mix, plus
    // the orphaned rollup1 route the page never calls.
    val warmPaths = ("/api/rollup1" +: busy.map(_._2))
      .groupBy(_.takeWhile(_ != '?')).values.map(_.head).toSeq.sorted

    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    def fire(phase: String, path: String, base: Long, due: Double): Unit = {
      val sent = (System.nanoTime() - base) / 1e6
      val r =
        try {
          val (s, b) = get(path)
          Rec(phase, path, due, sent, (System.nanoTime() - base) / 1e6, s,
            if (s == 200) keep(path, b) else b.take(300), None)
        } catch {
          case e: Throwable =>
            Rec(phase, path, due, sent, (System.nanoTime() - base) / 1e6, -1, "", Some(Main.error(e)))
        }
      recs.add(r)
    }
    val ts = System.nanoTime()
    val server = Dashboard.start(wh, 0)
    port = server.getAddress.getPort
    warmPaths.foreach(p => fire("cold", p, ts, (System.nanoTime() - ts) / 1e6))
    val coldS = (System.nanoTime() - ts) / 1e9

    val late = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def openLoop(phase: String, sched: Seq[(Double, String)]): Unit = {
      val pool = Executors.newFixedThreadPool(threads)
      val base = System.nanoTime()
      val lateMs = late.getOrElseUpdate(phase, mutable.ArrayBuffer())
      sched.foreach { case (due, path) =>
        val waitNs = (due * 1e6).toLong - (System.nanoTime() - base)
        if (waitNs > 0) TimeUnit.NANOSECONDS.sleep(waitNs)
        lateMs += (System.nanoTime() - base) / 1e6 - due
        pool.execute(() => fire(phase, path, base, due))
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
    }
    /** `clients` threads, back to back, over `paths` in turn, until the
      * paths run out or `seconds` pass. Returns the wall seconds. */
    def closedLoop(phase: String, paths: Seq[String], clients: Int, seconds: Double, cycle: Boolean): Double = {
      val next = new java.util.concurrent.atomic.AtomicInteger()
      val base = System.nanoTime()
      val pool = Executors.newFixedThreadPool(clients)
      (1 to clients).foreach { _ =>
        pool.execute { () =>
          var i = next.getAndIncrement()
          while ((cycle || i < paths.size) && (System.nanoTime() - base) / 1e9 < seconds) {
            fire(phase, paths(i % paths.size), base, (System.nanoTime() - base) / 1e6)
            i = next.getAndIncrement()
          }
        }
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      (System.nanoTime() - base) / 1e9
    }
    // The light phase gives the end-to-end p50, so it runs untraced; the
    // busy and capacity phases run in the traced run, with the listeners
    // detached, so that every run stays within the time budget.
    val capWallS =
      if (!tracer.on) { closedLoop("light", light, 1, 60, cycle = false); 0.0 }
      else {
        openLoop("busy", busy)
        closedLoop("capacity", busy.map(_._2), threads, CapacityS, cycle = true)
      }

    // Traced pass (trace=1): one request per route, sequentially, as a
    // direct ServingQueries call with the listeners attached, and again
    // detached (the tracing overhead) next to the same request over HTTP
    // (the Dashboard's own overhead).
    val overhead = mutable.Map[String, Double]()
    if (tracer.on) {
      wh.registerViews()
      def direct(p: String, label: String): Double = {
        val route = p.stripPrefix("/api/").takeWhile(_ != '?')
        val q = Option(URI.create(p).getRawQuery).getOrElse("").split("&").filter(_.contains("="))
          .map { s => val Array(k, v) = s.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8") }.toMap
        val (df, c) = tracer.span(s"$label.$route.construct")(route match {
          case "familias" => ServingQueries.familiaOptions(wh)
          case "top_causes" => ServingQueries.top10CausesByOccupation(wh, q("familia"))
          case "rollup1" => ServingQueries.firstRollUp(wh)
          case "rollup2" => ServingQueries.secondRollUp(wh)
          case "slice" => ServingQueries.sliceAndDice(wh, q("city"), q("start").toInt, q("end").toInt)
          case "pivot" => ServingQueries.pivotYearUf(wh)
          case "drill" => ServingQueries.drillAcross(wh)
        })
        c + tracer.span(s"$label.$route.exec")(df.toJSON.collect())._2
      }
      // Each rep runs the traced and the untraced calls in the other order
      // from the previous rep, and so does each HTTP/direct pair: the
      // later of two runs of a query gains from the earlier's JIT work.
      var traced, untraced = 0.0
      (1 to TraceReps).foreach { r =>
        def tracedPass(): Unit = {
          tracer.attach()
          traced += warmPaths.map(direct(_, "serving_queries")).sum
          tracer.detach()
        }
        if (r % 2 == 1) tracedPass()
        untraced += warmPaths.map { p =>
          val http = () => tracer.span(s"dashboard.${p.stripPrefix("/api/").takeWhile(_ != '?')}.http")(get(p))
          if (r % 2 == 0) http()
          val ms = direct(p, "untraced")
          if (r % 2 == 1) http()
          ms
        }.sum
        if (r % 2 == 0) tracedPass()
      }
      overhead("traced_ms") = traced
      overhead("untraced_ms") = untraced
    }
    server.stop(0)

    val rs = recs.asScala.toSeq
    Map(
      "cold_s" -> coldS,
      "requests" -> rs.map(r => Map("phase" -> r.phase, "path" -> r.path, "due_ms" -> r.dueMs,
        "sent_ms" -> r.sentMs, "done_ms" -> r.doneMs, "status" -> r.status, "body" -> r.body,
        "error" -> r.error)),
      "warm_bodies" -> seen.keySet().asScala.toSeq.map { case (p, h) => Map("path" -> p, "body" -> h) },
      "generator_late_ms" -> late,
      "capacity_wall_s" -> capWallS,
      "tracing" -> overhead)
  }
}
