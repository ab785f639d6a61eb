package graft.olapsus

import graft.SparkSpecBase
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** Integration test of the dashboard HTTP server: seeds + ingests a
  * warehouse, starts [[Dashboard]] on an ephemeral port, and drives
  * every API route with a real HTTP client — the five reference tabs'
  * data contract (dashboard/app.py:181-305) plus the parameter /
  * error-handling paths a browser exercises. JSON bodies are compared
  * against the direct in-session query serialized the same way
  * (DataFrame.toJSON), so what's verified is the HTTP plumbing:
  * routing, parameter decoding, status codes, and result fidelity. */
class DashboardSpec extends SparkSpecBase {

  private lazy val dir = Files.createTempDirectory("olapsus-dash")
  private lazy val wh: Warehouse = {
    val w = new Warehouse(spark, dir.resolve("wh").toString)
    Dims.seedAll(w,
      Fixtures.write(dir, "municipio.csv", Fixtures.municipio),
      Fixtures.write(dir, "cbo.csv", Fixtures.cbo),
      Fixtures.write(dir, "cid.csv", Fixtures.cid))
    Pipeline.ingestSim(w, Fixtures.write(dir, "sim.csv", Fixtures.sim), "2020-01-15")
    Pipeline.ingestSinasc(w, Fixtures.write(dir, "sinasc.csv", Fixtures.sinasc), "2020-01-15")
    w
  }

  private lazy val base: String = {
    val port = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    Dashboard.start(wh, port)
    s"http://localhost:$port"
  }

  private val client = HttpClient.newHttpClient()
  private def get(path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** The body a route must produce for a given direct query — same
    * serialization (Spark's toJSON), so equality checks the transport. */
  private def expected(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.map(c => "\"" + c + "\"").mkString(",")
    s"""{"columns":[$cols],"rows":[${df.toJSON.collect().mkString(",")}]}"""
  }

  test("index page serves the five reference tabs") {
    val (status, body) = get("/")
    assert(status == 200)
    assert(body.contains("OLAP Dashboard"))
    // One marker per reference tab (app.py:184-224).
    Seq("Top 10 Causas", "faixa etaria", "Slice", "Pivot", "Drill-across")
      .foreach(m => assert(body.contains(m), s"tab marker '$m' missing"))
  }

  test("unparameterized routes return the direct query results") {
    for ((path, df) <- Seq(
        "/api/familias" -> ServingQueries.familiaOptions(wh),
        "/api/rollup1" -> ServingQueries.firstRollUp(wh),
        "/api/rollup2" -> ServingQueries.secondRollUp(wh),
        "/api/pivot" -> ServingQueries.pivotYearUf(wh),
        "/api/drill" -> ServingQueries.drillAcross(wh))) {
      val (status, body) = get(path)
      assert(status == 200, s"$path -> $status: $body")
      assert(body == expected(df), s"$path body differs from direct query")
      assert(body.contains("\"rows\":["))
    }
    // The fixture warehouse must actually feed the dashboard rows.
    assert(get("/api/rollup2")._2.contains("quantidade_nascimentos"))
  }

  test("parameterized routes decode query params; missing params 400") {
    val familia = ServingQueries.familiaOptions(wh)
      .collect().head.getString(0)
    val enc = java.net.URLEncoder.encode(familia, "UTF-8")
    val (s1, b1) = get(s"/api/top_causes?familia=$enc")
    assert(s1 == 200 && b1 == expected(
      ServingQueries.top10CausesByOccupation(wh, familia)))

    val city = wh.table("dimMunicipio")
      .filter("nome_municipio IS NOT NULL")
      .select("nome_municipio").head().getString(0)
    val cityEnc = java.net.URLEncoder.encode(city, "UTF-8")
    val (s2, b2) = get(s"/api/slice?city=$cityEnc&start=2019&end=2021")
    assert(s2 == 200 && b2 == expected(
      ServingQueries.sliceAndDice(wh, city, 2019, 2021)))

    assert(get("/api/top_causes")._1 == 400)
    assert(get("/api/slice?city=X&start=twenty&end=2021")._1 == 400)
    assert(get("/api/top_causes")._2.contains("\"error\""))
  }

  test("unknown path 404s; concurrent clients get identical bodies") {
    assert(get("/no/such/route")._1 == 404)
    // JDK contexts match by string prefix — the handler must re-check
    // the exact path, or /api/pivotfoo would serve the pivot payload.
    assert(get("/api/pivotfoo")._1 == 404)
    assert(get("/api/familias2")._1 == 404)
    val want = get("/api/rollup2")._2
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val bodies = Await.result(
      Future.sequence((1 to 4).map(_ => Future(get("/api/rollup2")._2))),
      2.minutes)
    pool.shutdown()
    bodies.foreach(b => assert(b == want, "concurrent response diverged"))
  }

  test("a stopped server leaves no non-daemon thread behind") {
    def nonDaemon(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    }
    wh // seed and ingest before the snapshot
    val before = nonDaemon()
    val server = Dashboard.start(wh, 0)
    val port = server.getAddress.getPort
    (1 to 4).foreach { _ =>
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/api/rollup2")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    }
    server.stop(0)
    val deadline = System.nanoTime() + 10L * 1000000000L
    while ((nonDaemon() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    val left = nonDaemon() -- before
    assert(left.isEmpty, s"non-daemon threads outlive the server: ${left.map(_.getName).mkString(", ")}")
  }
}
