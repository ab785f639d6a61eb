package graft.olapsus

import graft.SparkSpecBase
import java.nio.file.Files

/** The warehouse pipeline at the REFERENCE's dimension cardinality
  * (5,571 municípios / 2,812 CBOs / 12,477 CIDs) — 5-row fixture seeds
  * cannot catch cardinality-dependent bugs: duplicate surrogate keys,
  * UF pivot width, ICD lookup behavior in a 12k-row dim, broadcast
  * sizing of full dims. */
class FullCardinalitySpec extends SparkSpecBase {

  private lazy val dir = Files.createTempDirectory("graft-fullcard")
  private lazy val municipioCsv = Fixtures.write(dir, "municipio.csv", SeedGen.municipio)
  private lazy val cboCsv = Fixtures.write(dir, "cbo.csv", SeedGen.cbo)
  private lazy val cidCsv = Fixtures.write(dir, "cid.csv", SeedGen.cid)
  private lazy val simCsv = Fixtures.write(dir, "sim.csv", Fixtures.sim)
  private lazy val sinascCsv = Fixtures.write(dir, "sinasc.csv", Fixtures.sinasc)

  private lazy val wh: Warehouse = {
    val w = new Warehouse(spark, dir.resolve("wh").toString)
    Dims.seedAll(w, municipioCsv, cboCsv, cidCsv)
    w
  }

  test("generated seeds carry reference cardinality with unique codes") {
    assert(SeedGen.municipio.size - 1 == SeedGen.MunicipioRows)
    assert(SeedGen.cbo.size - 1 == SeedGen.CboRows)
    assert(SeedGen.cid.size - 1 == SeedGen.CidRows)
    def codes(lines: Seq[String]) = lines.tail.map(_.takeWhile(_ != ','))
    assert(codes(SeedGen.municipio).distinct.size == SeedGen.MunicipioRows)
    assert(codes(SeedGen.cbo).distinct.size == SeedGen.CboRows)
    assert(codes(SeedGen.cid).distinct.size == SeedGen.CidRows)
    // SIM/SINASC rows carry the 6-digit prefix; each must name one id.
    val prefixes = codes(SeedGen.municipio).map(_.toInt / 10).distinct.size
    assert(prefixes == SeedGen.MunicipioRows)
    assert(codes(SeedGen.municipio).forall { c =>
      val id = c.toInt
      SeedGen.ibgeCheckDigit(id / 10) == id % 10
    })
  }

  test("a municipality CSV whose 6-digit prefixes repeat is refused; nothing is written") {
    val d = Files.createTempDirectory("graft-dupprefix")
    // 3548906 and 3548907 share the prefix 354890.
    val csv = Fixtures.write(d, "municipio.csv",
      Fixtures.municipio :+ "3548907,São Carlos Bis,0,Central do DRS III,,SP,São Paulo,Sudeste")
    val w = new Warehouse(spark, d.resolve("wh").toString)
    val e = intercept[IllegalArgumentException] {
      Dims.seedAll(w, csv, Fixtures.write(d, "cbo.csv", Fixtures.cbo),
        Fixtures.write(d, "cid.csv", Fixtures.cid))
    }
    assert(e.getMessage.contains("354890"), e.getMessage)
    val written = Option(d.resolve("wh").toFile.listFiles).toSeq.flatten
    assert(written.isEmpty, s"tables written before the refusal: ${written.mkString(", ")}")
  }

  test("dims built from full seeds: cardinality, unique surrogate keys, 27 UFs") {
    val dm = wh.table("dimMunicipio")
    assert(dm.count() == SeedGen.MunicipioRows + 1L) // + sentinel
    assert(dm.select("chave_municipio").distinct().count() == SeedGen.MunicipioRows + 1L)
    assert(dm.select("codigo_ibge").distinct().count() == SeedGen.MunicipioRows + 1L)
    assert(dm.where("uf <> 'IG'").select("uf").distinct().count() == 27L)
    val doc = wh.table("dimOcupacao")
    assert(doc.count() == SeedGen.CboRows + 1L)
    assert(doc.select("chave_ocupacao").distinct().count() == SeedGen.CboRows + 1L)
    val dc = wh.table("dimCausa")
    assert(dc.count() == SeedGen.CidRows + 1L)
    assert(dc.select("chave_causa").distinct().count() == SeedGen.CidRows + 1L)
  }

  test("ingest + serving against full dims: same facts, 27-UF pivot width") {
    assert(Pipeline.ingestSim(wh, simCsv, "2020-01-15") == 4L) // r4/r5 drop by design
    assert(Pipeline.ingestSinasc(wh, sinascCsv, "2020-02-01") == 4L)
    wh.registerViews()
    // The fixture rows resolve to the same municipalities/causes as in
    // the 5-row-seed spec — full cardinality must not change joins.
    val byCause = spark.sql("""
      SELECT c.codigo_CID, count(*) n
      FROM factobitos f
      JOIN pontegrupocausas p ON p.chave_grupo_causa = f.chave_grupo_causa
      JOIN dimcausa c ON c.chave_causa = p.chave_causa
      GROUP BY 1""").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCause.contains("I219"), s"expected fixture cause I219 in $byCause")
    // Unknown ICD ZZZ9 still maps to the seeded group 0 at 12k-dim size.
    assert(spark.sql(
      "SELECT count(*) FROM factobitos WHERE chave_grupo_causa = 0").head.getLong(0) >= 1L)
    val pivot = ServingQueries.pivotYearUf(wh)
    // ANO + one column per distinct UF (27 real + IG sentinel).
    assert(pivot.columns.length == 1 + 28, pivot.columns.mkString(","))
    assert(pivot.columns.count(_ == "SP") == 1)
    val top = ServingQueries.top10CausesByOccupation(wh, "Engenheiros")
    assert(top.count() >= 1L)
  }

  test("full dims still broadcast in the star join") {
    wh.registerViews()
    val plan = ServingQueries.firstRollUp(wh).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "full-cardinality dims should still plan as broadcast joins:\n" + plan.take(2000))
  }

  // DashboardSpec drives the HTTP layer against the 5-row demo seeds;
  // this case serves the WIDEST payloads (pivot = one column per UF,
  // drill-across) from the full-cardinality warehouse through a real
  // HTTP round-trip — the response a browser would render at reference
  // dimension size.
  test("dashboard serves pivot + drill from the full-cardinality warehouse over HTTP") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val port = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val server = Dashboard.start(wh, port)
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      val (ps, pivotBody) = get("/api/pivot")
      assert(ps == 200, s"pivot -> $ps: ${pivotBody.take(200)}")
      // All 27 real UFs (plus ANO and the IG sentinel) must survive the
      // HTTP serialization — toJSON drops null fields per row, so the
      // column LIST is what the client renders from.
      val pivot = ServingQueries.pivotYearUf(wh)
      assert(pivot.columns.length == 1 + 28)
      pivot.columns.foreach(c =>
        assert(pivotBody.contains("\"" + c + "\""), s"pivot payload lost column $c"))
      val (ds, drillBody) = get("/api/drill")
      assert(ds == 200 && drillBody.contains("\"rows\":["))
      Seq("quantidade_obitos", "quantidade_nascimentos").foreach(c =>
        assert(drillBody.contains(c), s"drill payload lost column $c"))
    } finally server.stop(0)
  }
}
