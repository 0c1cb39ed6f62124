package perfbench

import graft.StandardPipeline
import graft.conditions.RowOracle

/** Seeded input generators and their independent oracles. Every value is a
  * pure function of (seed, row index), so the same seed always yields the
  * same bytes, and an oracle can count expected outputs without running any
  * of the code under test.
  */
object Gen {
  private def mix(x0: Long): Long = { // SplitMix64 finalizer
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n) for (seed, salt, i). */
  def u(seed: Long, salt: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ i), n.toLong).toInt
}

/** Rows of the north-star input shape `(doc_id, tokens, n_tok, source)`.
  * Rows draw one of `templates` token templates (length 10..100; about one
  * in seven has no dissect delimiter) plus two per-row variable tokens, and
  * one of 20 sources, of which src15..src19 miss the dictionary (1 in 4).
  */
final case class RouteGen(seed: Long, salt: Long, templates: Int = 256) {
  import Gen.u
  val Sources = 20
  private val delim = graft.model.Tok.DelimId

  private val tmpl: Array[Array[Int]] = Array.tabulate(templates) { t =>
    val len = 10 + u(seed, salt + 1, t, 91)
    val toks = Array.tabulate(len)(j => u(seed, salt + 2, t.toLong * 1000 + j, 32))
    for (j <- toks.indices if toks(j) == delim) toks(j) = delim - 1
    if (u(seed, salt + 3, t, 7) != 0) toks(3 + u(seed, salt + 4, t, len - 5)) = delim
    toks
  }

  def template(i: Long): Int = u(seed, salt + 5, i, templates)
  def source(i: Long): Int = u(seed, salt + 6, i, Sources)
  def docId(i: Long): String = s"d$i"

  /** The row's token array: its template with the last two slots varied per
    * row (the template's delimiter sits before them; they never hold one).
    */
  def tokens(i: Long): Array[Int] = {
    val out = tmpl(template(i)).clone()
    for (j <- Seq(out.length - 2, out.length - 1)) {
      val v = u(seed, salt + 7, i * 2 + j, 32)
      out(j) = if (v == delim) delim - 1 else v
    }
    out
  }

  def row(i: Long): org.apache.spark.sql.Row = {
    val toks = tokens(i)
    org.apache.spark.sql.Row(docId(i), toks.toIndexedSeq, toks.length, s"src${source(i)}")
  }

  /** Expected per-sink counts over rows [from, until) for the standard
    * pipeline's sinks: severity and dictionary fields are derived here from
    * the generator's own values and the StandardPipeline constants, and each
    * sink condition is evaluated by the `RowOracle.eval` interpreter (not the
    * Catalyst predicates the pipeline runs).
    */
  def oracle(from: Long, until: Long): Map[String, Long] = {
    val mult = Array.ofDim[Long](templates, Sources)
    var i = from
    while (i < until) { mult(template(i))(source(i)) += 1; i += 1 }
    val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (t <- 0 until templates; s <- 0 until Sources if mult(t)(s) > 0) {
      val m = mult(t)(s)
      RouteGen.sinksOf(tmpl(t)(0), tmpl(t).length, s"src$s").foreach(n => acc(n) += m)
      acc("_total") += m
    }
    (StandardPipeline.sinks.map(_.name) ++ Seq("_default", "_total")).map(n => n -> acc(n)).toMap
  }
}

object RouteGen {
  private val dict = StandardPipeline.dict.map { case (s, team, tier) => s -> (team, tier) }.toMap

  /** The sinks (or `_default`) a row lands in, from its first token, its
    * token count and its source alone.
    */
  def sinksOf(firstTok: Int, nTok: Int, source: String): Seq[String] = {
    val sev = firstTok % 3 match { case 0 => "INFO"; case 1 => "WARN"; case _ => "ERROR" }
    val (team, tier) = dict.get(source).map { case (a, b) => (a: Any, b: Any) }.getOrElse((null, null))
    val row = Map[String, Any]("severity" -> sev, "n_tok" -> nTok, "team" -> team, "tier" -> tier,
      "source" -> source)
    val hit = StandardPipeline.sinks.filter(sp => RowOracle.eval(sp.cond, row)).map(_.name)
    if (hit.isEmpty) Seq("_default") else hit
  }
}

/** Combined-log lines for the benchmark-cli `apache` case. Each field is a
  * seeded draw, so gate counts have a closed form over the draws.
  */
final case class ApacheGen(seed: Long) {
  import Gen.u
  /** 10.0.0.0/8 split into eight /11 blocks; one block (seeded) is absent
    * from the mmdb fixture, so its lines get no geo fields.
    */
  val Isos: IndexedSeq[String] = {
    val base = IndexedSeq("us", "eu", "apac", "br", "in", "jp", "au", "za")
    base.indices.map(k => (u(seed, 90, k, 1 << 20), base(k))).sortBy(_._1).map(_._2)
  }
  val missingBlock: Int = u(seed, 91, 0, 8)

  def fixture: Seq[(String, Map[String, Any])] =
    (0 until 8).filter(_ != missingBlock).map(k =>
      s"10.${k * 32}.0.0/11" -> Map[String, Any]("country" -> Map("iso_code" -> Isos(k))))

  private val verbs = IndexedSeq("GET", "GET", "GET", "GET", "GET", "GET", "GET", "POST", "POST", "PUT")
  private val codes = IndexedSeq(200, 200, 200, 200, 200, 301, 304, 404, 500, 503)
  private val agents = IndexedSeq(
    "curl/8.4.0" -> "curl",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.71 Safari/537.36" -> "Chrome",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Firefox/121.0" -> "Firefox",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2 Safari/605.1.15" -> "Safari",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)" -> "bot")
  private val paths = IndexedSeq("/index.html", "/api/v1/items", "/static/app.js", "/login", "/search")
  private val months = IndexedSeq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  def block(i: Long): Int = u(seed, 1, i, 256) / 32
  def clientip(i: Long): String = s"10.${u(seed, 1, i, 256)}.${u(seed, 2, i, 256)}.${1 + u(seed, 3, i, 254)}"
  def response(i: Long): Int = codes(u(seed, 5, i, codes.size))
  def bytes(i: Long): Option[Int] = if (u(seed, 6, i, 10) == 0) None else Some(u(seed, 7, i, 50000))
  def agent(i: Long): (String, String) = agents(u(seed, 8, i, agents.size))

  def line(i: Long): String = {
    val epoch = 1717200000L + u(seed, 4, i, 86400 * 28) // June 2024
    val dt = java.time.LocalDateTime.ofEpochSecond(epoch, 0, java.time.ZoneOffset.UTC)
    val ts = f"${dt.getDayOfMonth}%02d/${months(dt.getMonthValue - 1)}/${dt.getYear}:" +
      f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d +0000"
    val ref = if (u(seed, 9, i, 3) == 0) "\"-\"" else s"\"http://example.com${paths(u(seed, 10, i, paths.size))}\""
    val http = if (u(seed, 11, i, 4) == 0) "1.0" else "1.1"
    s"""${clientip(i)} - frank [$ts] "${verbs(u(seed, 12, i, verbs.size))} ${paths(u(seed, 13, i, paths.size))}?id=${u(seed, 14, i, 100000)} HTTP/$http" ${response(i)} ${bytes(i).getOrElse("-")} $ref "${agent(i)._1}""""
  }

  /** Closed-form gate counts over lines [from, until). */
  def oracle(from: Long, until: Long): Map[String, Long] = {
    var errors, us, curl = 0L
    var i = from
    while (i < until) {
      if (response(i) >= 500) errors += 1
      if (block(i) != missingBlock && Isos(block(i)) == "us") us += 1
      if (agent(i)._2 == "curl") curl += 1
      i += 1
    }
    Map("server_errors" -> errors, "geo_us" -> us, "ua_curl" -> curl)
  }

  /** Client ips and the byte total of the `server_errors` rows in [from, until). */
  def errorRows(from: Long, until: Long): (Set[String], Long) = {
    val rows = (from until until).filter(i => response(i) >= 500)
    (rows.map(clientip).toSet, rows.flatMap(bytes).map(_.toLong).sum)
  }
}
