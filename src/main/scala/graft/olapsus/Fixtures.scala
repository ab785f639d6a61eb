package graft.olapsus

import java.nio.file.{Files, Path}

/** Tiny synthetic seed + raw-CSV fixtures (schemas per FIXTURES.md;
  * values invented, nothing copied from the reference's data files).
  * Shared by the Demo entry point and the end-to-end spec. */
object Fixtures {

  def write(p: Path, name: String, lines: Seq[String]): String = {
    val f = p.resolve(name)
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  val municipio: Seq[String] = Seq(
    "id_municipio,nome,capital_uf,nome_regiao_saude,nome_regiao_metropolitana,sigla_uf,nome_uf,nome_regiao",
    "3548906,São Carlos,0,Central do DRS III,,SP,São Paulo,Sudeste",
    "3503208,Araraquara,0,Coração do DRS III,,SP,São Paulo,Sudeste",
    "3543907,Rio Claro,0,Rio Claro,,SP,São Paulo,Sudeste",
    "3550308,São Paulo,1,Grande São Paulo,Região Metropolitana de São Paulo,SP,São Paulo,Sudeste",
    "4106902,Curitiba,1,Curitiba,Região Metropolitana de Curitiba,PR,Paraná,Sul")

  val cbo: Seq[String] = Seq(
    "cbo_2002,descricao,familia,descricao_familia,subgrupo,descricao_subgrupo,subgrupo_principal,descricao_subgrupo_principal,grande_grupo,descricao_grande_grupo,indicador_cbo_2002_ativa",
    "123456,Engenheiro Civil,1234,Engenheiros,123,Engenharias,12,Profissionais,1,Nível Superior,1",
    "223456,Médico Clínico,2234,Médicos,223,Medicina,22,Profissionais Saúde,2,Nível Superior,1")

  val cid: Seq[String] = Seq(
    "subcategoria,descricao_subcategoria,categoria,descricao_categoria,capitulo,descricao_capitulo,causa_violencia,causa_overdose,cid_datasus",
    "I219,Infarto agudo do miocárdio,I21,Infarto,IX,Doenças circulatórias,0,0,0",
    "J189,Pneumonia,J18,Pneumonia,X,Doenças respiratórias,0,0,0",
    "I48,Fibrilação atrial,I48,Fibrilação,IX,Doenças circulatórias,0,0,0",
    "N40,Hiperplasia da próstata,N40,Hiperplasia,XIV,Doenças geniturinárias,0,0,0",
    "X999,Agressão,X99,Agressão,XX,Causas externas,1,0,0")

  /** SIM rows exercising: shared cause group (r1/r2), permuted cause
    * order (r3), unknown ICD → seeded group 0 but missing CODMUNRES →
    * dropped (r4), unknown age → dropped (r5), no causes → group 0 (r6). */
  val sim: Seq[String] = Seq(
    Schemas.simHeader,
    "15012020;01011950;1430;1;1;2;3;470;I219;;;;*I48X*N40X;354890;354890;123456",
    "16012020;02021960;2460;M;2;1;2;430;I219;;;;*I48X*N40X;350320;354890;223456",
    "17012020;03031980;0915;2;4;3;;099;I48;I219;;;;354890;999999;",
    "18012020;04041940;1200;1;3;2;4;501;ZZZ9;;;;;;354890;123456",
    "19012020;05051970;1100;2;5;4;5;;J189;;;;;354890;354890;223456",
    "10032021;06061930;2359;2;4;1;5;450;;;;;;350320;354390;223456")

  /** SINASC rows exercising: weight-band boundaries (2500/999/4000/1500),
    * null mother age (null-tolerant band arm), missing DTNASC → dropped,
    * unknown sex/race, unknown municipality → key 0. */
  val sinasc: Seq[String] = Seq(
    Schemas.sinascHeader,
    "01022020;0830;3548906;3503208;25;1;4;2;1;4;2500;1;5;1",
    "02022020;;3548906;3548906;;2;2;1;2;1;999;2;3;2",
    ";1200;3543907;3543907;30;3;3;2;1;2;3000;1;5;1",
    "29022020;2315;3543907;3550308;41;4;5;5;9;;4000;2;6;3",
    "03022020;0600;9999999;3548906;19;5;1;1;2;5;1500;1;4;1")
}
