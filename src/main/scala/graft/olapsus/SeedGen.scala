package graft.olapsus

/** Deterministic synthetic seed CSVs at the REFERENCE's dimension
  * cardinality — 5,571 municípios, 2,812 CBO occupations, 12,477 ICD-10
  * subcategories (BASELINE.md data volumes; reference
  * `data_files/br_bd_diretorios_brasil_*.csv`, loaded by
  * scripts/init.sql:268-440).
  *
  * Nothing is copied from the reference's data files: the 27 federative
  * units (code/sigla/name/region) are public IBGE facts, and every
  * municipality/occupation/cause row is generated. The hand-written
  * [[Fixtures]] rows are embedded verbatim so the SIM/SINASC fixture
  * facts keep joining when the warehouse is seeded at full size — this
  * is what exercises cardinality-dependent behavior (27-column UF
  * pivots, 12k-row ICD lookups, broadcast sizing) that 5-row seeds
  * cannot. */
object SeedGen {

  /** The 27 federative units: (IBGE code, sigla, name, region). */
  val ufs: Seq[(Int, String, String, String)] = Seq(
    (11, "RO", "Rondônia", "Norte"), (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"), (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"), (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"),
    (21, "MA", "Maranhão", "Nordeste"), (22, "PI", "Piauí", "Nordeste"),
    (23, "CE", "Ceará", "Nordeste"), (24, "RN", "Rio Grande do Norte", "Nordeste"),
    (25, "PB", "Paraíba", "Nordeste"), (26, "PE", "Pernambuco", "Nordeste"),
    (27, "AL", "Alagoas", "Nordeste"), (28, "SE", "Sergipe", "Nordeste"),
    (29, "BA", "Bahia", "Nordeste"),
    (31, "MG", "Minas Gerais", "Sudeste"), (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"), (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"), (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"),
    (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"),
    (52, "GO", "Goiás", "Centro-Oeste"), (53, "DF", "Distrito Federal", "Centro-Oeste"))

  val MunicipioRows = 5571
  val CboRows = 2812
  val CidRows = 12477

  /** IBGE's municipality check digit over a 6-digit base: weights
    * 1,2,1,2,1,2, each product's digits summed. */
  def ibgeCheckDigit(base: Int): Int = {
    val s = f"$base%06d".zipWithIndex.map { case (d, i) =>
      val p = (d - '0') * (if (i % 2 == 0) 1 else 2)
      p / 10 + p % 10
    }.sum
    (10 - s % 10) % 10
  }

  /** 5,571 municípios spread over all 27 UFs. Each generated id is a
    * unique 6-digit base (`uf * 10000 + 9000 + i`, a block the fixture
    * rows' bases never reach) plus its check digit, so the 6-digit
    * prefix SIM/SINASC rows carry names exactly one municipality. */
  lazy val municipio: Seq[String] = {
    val need = MunicipioRows - (Fixtures.municipio.size - 1)
    val perUf = need / ufs.size
    val extra = need % ufs.size
    val generated = ufs.zipWithIndex.flatMap { case ((code, sigla, nome, regiao), u) =>
      val n = perUf + (if (u < extra) 1 else 0)
      (0 until n).map { i =>
        val base = code * 10000 + 9000 + i
        val id = base * 10 + ibgeCheckDigit(base)
        val capital = 0
        val rm = if (i % 10 == 0) s"Região Metropolitana $sigla" else ""
        s"$id,Cidade $sigla ${i + 1},$capital,Regional $sigla ${i % 20 + 1},$rm,$sigla,$nome,$regiao"
      }
    }
    Fixtures.municipio ++ generated
  }

  /** 2,812 CBO-2002 occupation codes with a consistent code hierarchy
    * (familia = code/100, subgrupo = code/1000, …). */
  lazy val cbo: Seq[String] = {
    val need = CboRows - (Fixtures.cbo.size - 1)
    val generated = (0 until need).map { j =>
      val code = 100000 + j * 317 // stride keeps 6 digits, disjoint from fixtures
      val fam = code / 100
      val sub = code / 1000
      val subP = code / 10000
      val gg = code / 100000
      s"$code,Ocupação $code,$fam,Família $fam,$sub,Subgrupo $sub," +
        s"$subP,Subgrupo principal $subP,$gg,Grande grupo $gg,1"
    }
    Fixtures.cbo ++ generated
  }

  private val romans = Array("I", "II", "III", "IV", "V", "VI", "VII", "VIII",
    "IX", "X", "XI", "XII", "XIII", "XIV", "XV", "XVI", "XVII", "XVIII",
    "XIX", "XX", "XXI", "XXII")

  /** 12,477 ICD-10-shaped subcategories (letter + 2-digit category +
    * 1-digit subcategory, digit 0‥4 so no generated code collides with
    * the fixtures' *9-suffixed or 3-char codes). Letter X and Y codes
    * flag as violence, every 97th as overdose, mirroring the
    * reference's flag columns. */
  lazy val cid: Seq[String] = {
    val need = CidRows - (Fixtures.cid.size - 1)
    val generated = (0 until need).map { i =>
      val li = i / 500 // 25 letters A..Y, 500 codes each
      val within = i % 500
      val letter = ('A' + li).toChar
      val cat = f"$letter${within / 5}%02d"
      val code = s"$cat${within % 5}"
      val cap = romans(li % romans.length)
      val violencia = if (letter == 'X' || letter == 'Y') 1 else 0
      val overdose = if (i % 97 == 0) 1 else 0
      s"$code,Causa $code,$cat,Categoria $cat,$cap,Capítulo $cap,$violencia,$overdose,0"
    }
    Fixtures.cid ++ generated
  }
}
