package perfbench

import java.nio.charset.StandardCharsets
import java.util.{Locale, SplittableRandom}
import graft.ingest.Fetcher

/** Seeded generator of Brasil.IO `gastos` pages (GastosSchema.raw's 28
  * fields, envelope form `{count,next,previous,results}`), plus the
  * plain-Scala model of the gold table those pages must produce.
  *
  * Every page is a pure function of (seed, corpus, page index), so the
  * same seed gives the same bytes. Records are laid out in API order:
  * consecutive records share an (ano, mes), and the corpus walks the 84
  * partitions 2011-01 … 2017-12 once, the reference bronze's span.
  *
  * Shape taken from the reference's committed data (SURVEY.md §1.2, §1.4,
  * §6): 7 órgãos (the distinct `nome_orgao` of its silver), 89 % null
  * `data_pagamento_original` (425,980 of 477,000 bronze rows) and 62 %
  * null `linguagem_cidada` (296,163 of 477,000). The reference gives no
  * rate for bad `valor`, bad dates or HTTP 429s; those rates are chosen
  * (see perfbench/README.md).
  *
  * Dirty values (Cleaning C1–C7): padded and lower-case `nome_*`,
  * non-numeric `valor`, malformed or null `data_pagamento`. The gate
  * columns (ano, mes, nome_orgao, nome_favorecido, valor ≥ 0) stay clean
  * unless a record is explicitly planted with a null `nome_orgao`. */
object Gastos {

  val Partitions: IndexedSeq[(Int, Int)] =
    for (ano <- 2011 to 2017; mes <- 1 to 12) yield (ano, mes)

  val PageSize = 1000
  val Slug = "brasilio"
  val Table = "gastos"
  val BaseUrl = "https://api.brasil.io/v1/dataset/gastos-diretos/gastos/data/"

  private val Orgaos = IndexedSeq(
    "Ministério da Saúde", "Ministério da Educação", "Ministério da Defesa",
    "Ministério da Fazenda", "Ministério da Justiça",
    "Ministério do Desenvolvimento Social", "Presidência da República")
  private val Favorecidos = IndexedSeq(
    "Fundação Oswaldo Cruz", "Universidade Federal de Minas Gerais",
    "Empresa Brasileira de Correios", "Petróleo Brasileiro S.A.",
    "Construtora Andrade Ltda", "Serviço Federal de Processamento de Dados",
    "Instituto Nacional do Seguro Social", "Caixa Econômica Federal",
    "Hospital de Clínicas de Porto Alegre", "Companhia Nacional de Abastecimento")
  private val Acoes = IndexedSeq("Atenção Básica", "Manutenção de Contrato",
    "Apoio à Pesquisa", "Custeio Administrativo", "Obras de Infraestrutura")
  private val Programas = IndexedSeq("Gestão e Manutenção", "Saúde Pública",
    "Educação Básica", "Defesa Nacional", "Previdência Social")
  private val Funcoes = IndexedSeq("Saúde", "Educação", "Defesa Nacional",
    "Administração", "Assistência Social")
  private val Grupos = IndexedSeq("Outras Despesas Correntes", "Investimentos",
    "Pessoal e Encargos Sociais")
  private val BadValor = IndexedSeq("N/D", "", "12,50", "sem valor")
  private val BadDate = IndexedSeq("15/03/2019", "2019-13-45", "ontem")

  /** One generated record: its JSON text, and what the gold model needs. */
  final case class Rec(ano: Int, mes: Int, orgaoKey: Option[String], cents: Long, json: String)

  /** Gold key → exact cents, the engine-free expectation of `silver_to_gold`. */
  type Gold = Map[(Int, Int, String), Long]

  def gold(recs: Iterable[Rec]): Gold =
    recs.groupMapReduce(r => (r.ano, r.mes, r.orgaoKey.get))(_.cents)(_ + _)

  private def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pick[A](rnd: SplittableRandom, xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))

  private def quote(sb: java.lang.StringBuilder, s: String): Unit =
    if (s == null) sb.append("null") else sb.append('"').append(s).append('"')

  /** Dirty text as the API serves it: padded, lower-cased, or both. */
  private def dirty(rnd: SplittableRandom, s: String): String = rnd.nextInt(10) match {
    case 0 => "  " + s + " "
    case 1 => s.toLowerCase(Locale.ROOT)
    case 2 => " " + s.toLowerCase(Locale.ROOT)
    case _ => s
  }

  /** Record `i` of a stream keyed by (seed, stream), for partition (ano, mes). */
  def record(seed: Long, stream: Long, i: Long, ano: Int, mes: Int,
      nullOrgao: Boolean = false): Rec = {
    val rnd = new SplittableRandom(mix(seed, stream, i))
    val orgao = pick(rnd, Orgaos)
    val rawOrgao = if (nullOrgao) null else dirty(rnd, orgao)
    val cents = 100L + rnd.nextLong(5000000L)
    val badValor = rnd.nextInt(40) == 0
    val valor = if (badValor) pick(rnd, BadValor) else f"${cents / 100}%d.${cents % 100}%02d"
    val day = 1 + rnd.nextInt(28)
    val date = rnd.nextInt(50) match {
      case 0 => null
      case 1 => pick(rnd, BadDate)
      case _ => f"$ano%04d-$mes%02d-$day%02d"
    }
    val sb = new java.lang.StringBuilder(1024)
    sb.append("{\"ano\":").append(ano).append(",\"mes\":").append(mes)
    sb.append(",\"codigo_acao\":"); quote(sb, f"${rnd.nextInt(10000)}%04X")
    sb.append(",\"codigo_favorecido\":"); quote(sb, f"***.${rnd.nextInt(1000)}%03d.${rnd.nextInt(1000)}%03d-**")
    for (c <- graft.etl.GastosSchema.codigoLongColumns)
      sb.append(",\"").append(c).append("\":").append(rnd.nextInt(100000))
    sb.append(",\"data_pagamento\":"); quote(sb, date)
    sb.append(",\"data_pagamento_original\":")
    quote(sb, if (rnd.nextInt(1000) < 893) null else f"$day%02d/$mes%02d/$ano%04d")
    sb.append(",\"gestao_pagamento\":"); quote(sb, "Tesouro Nacional")
    sb.append(",\"linguagem_cidada\":")
    quote(sb, if (rnd.nextInt(1000) < 621) null else dirty(rnd, pick(rnd, Acoes)))
    sb.append(",\"nome_acao\":"); quote(sb, dirty(rnd, pick(rnd, Acoes)))
    sb.append(",\"nome_elemento_despesa\":"); quote(sb, "Serviços de Terceiros")
    sb.append(",\"nome_favorecido\":"); quote(sb, dirty(rnd, pick(rnd, Favorecidos)))
    sb.append(",\"nome_funcao\":"); quote(sb, dirty(rnd, pick(rnd, Funcoes)))
    sb.append(",\"nome_grupo_despesa\":"); quote(sb, dirty(rnd, pick(rnd, Grupos)))
    sb.append(",\"nome_orgao\":"); quote(sb, rawOrgao)
    sb.append(",\"nome_orgao_superior\":"); quote(sb, orgao)
    sb.append(",\"nome_programa\":"); quote(sb, dirty(rnd, pick(rnd, Programas)))
    sb.append(",\"nome_subfuncao\":"); quote(sb, "Administração Geral")
    sb.append(",\"nome_unidade_gestora\":"); quote(sb, "Coordenação-Geral de Orçamento")
    sb.append(",\"numero_documento\":"); quote(sb, f"${ano}OB${rnd.nextInt(1000000)}%06d")
    sb.append(",\"valor\":"); quote(sb, valor)
    sb.append('}')
    Rec(ano, mes, Option(rawOrgao).map(_ => orgao.toUpperCase(Locale.ROOT)),
      if (badValor) 0L else cents, sb.toString)
  }

  /** A corpus of `envelopePages` fetched pages plus `legacyPages` bare-array
    * pages, `PageSize` records each, walking the 84 partitions in order,
    * and one corrupt page (an HTML error body saved as .json). */
  final class Corpus(val seed: Long, val envelopePages: Int, val legacyPages: Int) {
    val records: Long = (envelopePages + legacyPages).toLong * PageSize

    /** Page `p` (0-based) of the whole corpus; the legacy pages come last. */
    def pageRecords(p: Int): IndexedSeq[Rec] = {
      val first = p.toLong * PageSize
      (first until first + PageSize).map { i =>
        val (ano, mes) = Partitions((i * Partitions.size / records).toInt)
        record(seed, 0, i, ano, mes)
      }
    }

    def envelope(p: Int): String = {
      val next = if (p + 1 < envelopePages) "\"" + BaseUrl + "?page=" + (p + 2) + "\"" else "null"
      val prev = if (p > 0) "\"" + BaseUrl + "?page=" + p + "\"" else "null"
      pageRecords(p).iterator.map(_.json).mkString(
        s"""{"count":${envelopePages.toLong * PageSize},"next":$next,"previous":$prev,"results":[""",
        ",", "]}")
    }

    /** The pre-API archive files that sit beside the fetched pages. */
    def legacyFiles: Seq[(String, String)] =
      (0 until legacyPages).map { k =>
        s"${Slug}_legacy_${k + 1}.json" ->
          pageRecords(envelopePages + k).iterator.map(_.json).mkString("[", ",", "]")
      } :+ (s"${Slug}_corrupt_1.json" ->
        "<html><head><title>502 Bad Gateway</title></head><body>nginx</body></html>")

    lazy val expectedGold: Gold =
      gold((0 until envelopePages + legacyPages).iterator.flatMap(pageRecords).to(Iterable))

    lazy val bodies: IndexedSeq[String] = (0 until envelopePages).map(envelope)
  }

  /** In-memory Brasil.IO: serves the corpus' envelope pages, with seeded
    * HTTP 429s (at most two in a row) ahead of some pages. Sleeps requested
    * through the fetcher's `sleep` seam are recorded, never slept. */
  final class StubClient(corpus: Corpus) extends Fetcher.PageClient {
    private val rnd = new SplittableRandom(mix(corpus.seed, 429, 0))
    private val PageRe = """[?&]page=(\d+)""".r
    private var streak = 0
    var throttled = 0
    var bytes = 0L
    var backoffMs = 0L

    def get(url: String, headers: Map[String, String]): Fetcher.Response = {
      if (streak < 2 && rnd.nextInt(8) == 0) {
        streak += 1; throttled += 1
        Fetcher.Response(429, """{"detail":"Request was throttled."}""")
      } else {
        streak = 0
        val page = PageRe.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1)
        val body = corpus.bodies(page - 1)
        bytes += body.getBytes(StandardCharsets.UTF_8).length
        Fetcher.Response(200, body)
      }
    }

    val Backoff = 15000L
    val Pace = 1000L
    def sleep(ms: Long): Unit = if (ms == Backoff) backoffMs += ms
  }

  /** A landing page for one partition: `n` fresh records (stream `op`),
    * optionally with one record whose `nome_orgao` is null. */
  def landingPage(seed: Long, op: Int, ano: Int, mes: Int, n: Int,
      plantNull: Boolean): (String, IndexedSeq[Rec]) = {
    val recs = (0 until n).map(i =>
      record(seed, 1000L + op, i, ano, mes, nullOrgao = plantNull && i == n / 2))
    val body = recs.iterator.map(_.json).mkString(
      s"""{"count":$n,"next":null,"previous":null,"results":[""", ",", "]}")
    (body, recs)
  }

  /** The generator's own determinism check: same seed → same bytes,
    * another seed → other bytes (checked on the first and last page). */
  def deterministic(seed: Long, envelopePages: Int): Boolean = {
    val pages = Seq(0, envelopePages - 1)
    def bytes(s: Long) = {
      val c = new Corpus(s, envelopePages, 0)
      pages.map(p => c.envelope(p).getBytes(StandardCharsets.UTF_8))
    }
    val (a, again, other) = (bytes(seed), bytes(seed), bytes(seed + 1))
    pages.indices.forall(i =>
      java.util.Arrays.equals(a(i), again(i)) && !java.util.Arrays.equals(a(i), other(i)))
  }
}
