package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Enrich stage: translate-filter-style dictionary lookups as broadcast hash
  * joins (SURVEY.md §2.2/§2.3 — the reference's translate/geoip/useragent/
  * jdbc_static enrichments are all key->dimension-row left lookups).
  *
  * Scale stance: dictionaries are small by construction (they fit in the
  * reference's process heap), so `broadcast()` keeps the enrich stage
  * shuffle-free at any input size — the 100 TB plan is scan -> map -> append.
  * A dimension with a known hot key goes through `saltedLookup`.
  */
object Enrich {

  /** translate's file-backed dictionary forms (reference: dictionary_path =>
    * CSV/JSON/YAML): load the dimension table from a file. CSV expects a
    * header row; JSON expects one object per line (json_lines). YAML is out
    * of scope (no parser in the stock Spark classpath) — pre-convert.
    */
  def dictFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  def dictFromJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** translate's YAML dictionary form (`dictionary_path => *.yml` — docs
    * transforming-data.asciidoc:588-596): a FLAT `key: value` map, parsed
    * with a minimal reader (comments/blank lines skipped, optional quotes
    * stripped). Declaration ORDER is preserved — regex dictionaries are
    * first-match-wins chains, so order is semantic.
    */
  def yamlDict(path: String): Seq[(String, String)] = {
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && ((t.head == '"' && t.last == '"') || (t.head == '\'' && t.last == '\'')))
        t.substring(1, t.length - 1)
      else t
    }
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines()
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf(':')
        require(i > 0, s"not a flat `key: value` YAML line: `$l`")
        unquote(l.substring(0, i)) -> unquote(l.substring(i + 1))
      }.toList
    finally src.close()
  }

  /** The translate lookup column for the three key modes
    * (docs/static/transforming-data.asciidoc:588-596):
    *  - default: exact key equality;
    *  - `regex = true`: keys are regexes, FIRST match wins (declaration
    *    order — hence Seq, not Map);
    *  - `exact = false`: the key is searched WITHIN the field value.
    * Miss -> `fallback` (or null). The dictionary is config-sized, so this
    * compiles to a codegen'd when-chain — a zero-shuffle narrow map, the
    * same plan shape as the broadcast lookup.
    */
  def translateColumn(source: Column, dict: Seq[(String, String)],
                      regex: Boolean = false, exact: Boolean = true,
                      fallback: Option[String] = None): Column = {
    val src = source.cast("string")
    dict.foldRight(fallback.map(lit(_): Column).getOrElse(lit(null))) {
      case ((k, v), acc) =>
        val hit =
          if (regex) src.rlike(k)
          else if (exact) src === k
          else src.contains(k)
        when(hit, lit(v)).otherwise(acc)
    }
  }

  /** translate filter over a frame with regex/substring/exact key modes. */
  def translateChain(events: DataFrame, source: String, target: String,
                     dict: Seq[(String, String)], regex: Boolean = false,
                     exact: Boolean = true, fallback: Option[String] = None): DataFrame =
    events.withColumn(target, translateColumn(col(source), dict, regex, exact, fallback))

  /** translate filter: left broadcast lookup; miss => null enrich columns
    * (or `fallback` literals when provided).
    */
  def lookup(events: DataFrame, dict: DataFrame, on: String,
             fallback: Map[String, String] = Map.empty): DataFrame = {
    val joined = events.join(broadcast(dict), Seq(on), "left")
    fallback.foldLeft(joined) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), lit(v)))
    }
  }

  /** The `http` enrich filter (logstash-filter-http), batch-sane: the
    * reference calls a (usually sprintf'd) URL per event and caches; the
    * per-event call has no distributed analogue that isn't a DDoS, so the
    * batch model is fetch-per-DISTINCT-url — the key insight being that the
    * useful regime is exactly when url cardinality is dimension-sized (a
    * lookup service keyed on a low-cardinality field), which is also when
    * the reference's cache makes it performant.
    *
    *  1. distinct rendered urls collect to the driver — BOUNDED by
    *     `maxDistinct` (loud failure beyond: a high-cardinality key means
    *     the config is trying to make one HTTP call per event, which should
    *     be a real join against an exported table instead);
    *  2. each url is fetched ONCE (JDK HttpClient, `timeoutMs` per call);
    *  3. (url, status, body) becomes a broadcast dimension joined back —
    *     the enrich stage stays shuffle-free at any input size.
    *
    * Non-2xx/failed fetches yield a null `bodyCol` and keep the status (or
    * 0 on connect failure) in `statusCol` so callers can tag
    * `_httprequestfailure` exactly like the reference.
    */
  def httpLookup(events: DataFrame, urlCol: Column, bodyCol: String,
                 statusCol: String = "_http_status",
                 maxDistinct: Int = 10000, timeoutMs: Long = 5000): DataFrame = {
    val spark = events.sparkSession
    val withUrl = events.withColumn("_http_url", urlCol)
    val urls = withUrl.select(col("_http_url")).na.drop.distinct()
      .limit(maxDistinct + 1).collect().map(_.getString(0))
    require(urls.length <= maxDistinct,
      s"http filter: more than $maxDistinct distinct urls — per-event HTTP " +
        "is not a distributed operation; export the service's table and use " +
        "translate/jdbc_static instead")
    val fetched = urls.toSeq.map { u =>
      val (status, body) = fetchUrl(u, timeoutMs); (u, status, body)
    }
    import spark.implicits._
    val dim = fetched.toDF("_http_url", statusCol, bodyCol)
    withUrl.join(broadcast(dim), Seq("_http_url"), "left").drop("_http_url")
  }

  /** One driver-side GET — shared by the http enrich filter and the
    * http_poller input (both fetch a config-sized url set). Returns
    * (status, body); connect failure -> (0, null), non-2xx -> (code, null).
    */
  def fetchUrl(u: String, timeoutMs: Long = 5000): (Int, String) =
    try {
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(u))
        .timeout(java.time.Duration.ofMillis(timeoutMs)).GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(),
        if (resp.statusCode() / 100 == 2) resp.body() else null)
    } catch { case _: Exception => (0, null) }

  /** geoip-style range lookup: enrich rows whose ip falls inside a CIDR-range
    * dimension row (lo <= ip_long <= hi). The dimension is broadcast (geo DBs
    * are config-sized like the reference's mmdb), so the range join plans as
    * BroadcastNestedLoopJoin with the range predicate — no shuffle, probe
    * side streams. Overlapping ranges: most-specific (narrowest) wins, like
    * longest-prefix match.
    */
  def geoLookup(events: DataFrame, ipCol: String, ranges: DataFrame): DataFrame = {
    // ranges must be non-overlapping (geo DBs are, by construction) so the
    // left range-join is 1:0/1 and needs no narrowest-wins resolution —
    // keeping the whole enrich shuffle-free.
    val ipL = Net.ipToLong(col(ipCol))
    events.join(broadcast(ranges), ipL >= col("ip_lo") && ipL <= col("ip_hi"), "left")
      .drop("ip_lo", "ip_hi")
  }

  /** Materialize an mmdb database (the reference geoip filter's DB format —
    * public MaxMind DB file format) into the broadcastable
    * `(ip_lo, ip_hi, <as>)` ranges frame [[geoLookup]] consumes: decode once
    * on the driver (geo DBs are config-sized), broadcast range join on the
    * executors — no per-row tree walk in the scan.
    *
    * `field` is the path into each leaf's nested value map
    * (e.g. Seq("country", "iso_code")).
    */
  def geoRangesFromMmdb(spark: SparkSession, path: String,
                        field: Seq[String] = Seq("country", "iso_code"),
                        as: String = "geo_value"): DataFrame = {
    val reader = Mmdb.read(path)
    def dig(v: Any, p: Seq[String]): Option[String] = (v, p) match {
      case (m: Map[_, _], head +: rest) =>
        m.asInstanceOf[Map[String, Any]].get(head).flatMap(dig(_, rest))
      case (leaf, Seq()) => Option(leaf).map(_.toString)
      case _ => None
    }
    val rows = reader.leafRanges4().map { case (lo, hi, v) =>
      org.apache.spark.sql.Row(lo, hi, dig(v, field).orNull)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ip_lo", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ip_hi", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(as, org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** dns filter (logstash-filter-dns semantics, `hostsfile` mode): resolve
    * hostname fields to addresses, or reverse-resolve address fields to
    * names, against a hosts table — the filter's deterministic,
    * cluster-shippable variant of nameserver lookups (a live resolver is the
    * same broadcast-dimension join against a resolver-backed table).
    *
    *  - `action = "replace"` overwrites the field with the resolution;
    *  - `action = "append"` appends the resolution to the array field
    *    (the reference appends to a list-valued field).
    *
    * Unresolvable values leave the field UNCHANGED (reference behavior: the
    * event passes through, optionally tagged via `tagOnFailure`). Matching
    * is case-insensitive on names, exact on addresses.
    */
  def dns(events: DataFrame, field: String, hosts: DataFrame,
          reverse: Boolean = false, action: String = "replace",
          tagOnFailure: Seq[String] = Nil): DataFrame = {
    val (key, value) = if (reverse) ("addr", "name") else ("name", "addr")
    val probe = if (reverse) col(field) else lower(col(field))
    val dim = broadcast(
      (if (reverse) hosts.select(col(key).as("_dns_k"), col(value).as("_dns_v"))
       else hosts.select(lower(col(key)).as("_dns_k"), col(value).as("_dns_v")))
        // one record per key (deterministic winner), so the left join is 1:0/1
        .groupBy("_dns_k").agg(min("_dns_v").as("_dns_v")))
    val joined = events.join(dim, probe === col("_dns_k"), "left")
    val resolved =
      if (action == "append")
        joined.withColumn(field,
          when(col("_dns_v").isNotNull, array_union(col(field), array(col("_dns_v"))))
            .otherwise(col(field)))
      else
        joined.withColumn(field, coalesce(col("_dns_v"), col(field)))
    val tagged = tagOnFailure.foldLeft(resolved)((d, t) =>
      Mutate.addTagWhen(d, col("_dns_v").isNull, t))
    tagged.drop("_dns_k", "_dns_v")
  }

  /** /etc/hosts-format loader for [[dns]]: `addr name [alias...]` lines,
    * `#` comments — one (name, addr) row per alias.
    */
  def hostsTable(spark: SparkSession, path: String): DataFrame = {
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))).asScala
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
      .flatMap { line =>
        val parts = line.split("\\s+").toSeq
        parts.tail.map(n => (n, parts.head))
      }.toSeq
    spark.createDataFrame(rows).toDF("name", "addr")
  }

  /** Salted join for a known-skewed key: explodes the dimension side K ways
    * and salts the fact side, bounding any single reducer's share of a hot key
    * to 1/K. Use when AQE's skew split alone is insufficient (e.g. one source
    * is 60% of rows — FIXTURES.md F1).
    */
  def saltedLookup(events: DataFrame, dim: DataFrame, on: String, salt: Int = 16): DataFrame = {
    val saltedEvents = events.withColumn("_salt", pmod(xxhash64(col("doc_id")), lit(salt)).cast("int"))
    val saltedDim = dim
      .withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
    saltedEvents.join(saltedDim, Seq(on, "_salt"), "left").drop("_salt")
  }
}
