package graft.olapsus

import graft.SparkSpecBase
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** Generators and ETL outputs must conform to the declared warehouse DDL
  * (Schemas ≙ scripts/init.sql). Nullability is not part of the
  * contract (parquet round-trips relax it), so names+types compare. */
class SchemaSpec extends SparkSpecBase {

  import Schemas.shape

  private lazy val dir = Files.createTempDirectory("schemas")

  test("generated dimensions match the declared DDL") {
    assert(shape(Dims.dimData(spark).schema) == shape(Schemas.dimData))
    assert(shape(Dims.dimHorario(spark).schema) == shape(Schemas.dimHorario))
    assert(shape(Dims.dimDemografia(spark).schema) == shape(Schemas.dimDemografia))
    assert(shape(Dims.dimInfoNascimento(spark).schema) == shape(Schemas.dimInfoNascimento))
    assert(shape(Dims.bridgeSeed(spark).schema) == shape(Schemas.ponteGrupoCausas))
  }

  test("factInternacoes stays declared (reference never populates it)") {
    assert(Schemas.all.contains("factInternacoes"))
    assert(Schemas.factInternacoes.fieldNames.contains("valor"))
  }

  test("a seeded warehouse's files carry the declared shape of every declared table") {
    val wh = new Warehouse(spark, dir.resolve("wh-seeded").toString)
    Dims.seedAll(wh, Fixtures.write(dir, "municipio.csv", Fixtures.municipio),
      Fixtures.write(dir, "cbo.csv", Fixtures.cbo), Fixtures.write(dir, "cid.csv", Fixtures.cid))
    // Footer schemas, not wh.table: that read applies the declaration.
    // Covers the three dims built from seed CSVs (dimMunicipio,
    // dimOcupacao, dimCausa), whose types come from casts. The ingest
    // manifest is marker files, not a table, and is not declared.
    def onDisk(t: String) = shape(spark.read.parquet(s"${wh.root}/$t").schema)
    Warehouse.Declared.foreach { case (t, s) => assert(onDisk(t) == shape(s), t) }
  }

  test("writers refuse a declared table in any other shape") {
    val wh = new Warehouse(spark, dir.resolve("wh-guard").toString)
    val mun = Dims.dimMunicipio(spark, Fixtures.write(dir, "municipio-guard.csv", Fixtures.municipio))
    val asLong = intercept[IllegalArgumentException] {
      wh.write("dimMunicipio", mun.withColumn("codigo_ibge", col("codigo_ibge").cast("long")))
    }
    assert(asLong.getMessage.contains("dimMunicipio"), asLong.getMessage)
    intercept[IllegalArgumentException] { wh.write("dimMunicipio", mun.drop("regiao_saude")) }
    assert(!wh.exists("dimMunicipio"), "a refused write left files behind")
    intercept[IllegalArgumentException] {
      wh.appendRows(Warehouse.Bridge, Dims.bridgeSeed(spark).drop("ordem_causa"))
    }
    assert(!wh.exists(Warehouse.Bridge))
    // The declared shape passes, whatever the frame's nullability.
    wh.write("dimMunicipio", mun)
    assert(wh.table("dimMunicipio").count() == 6L)
  }
}
