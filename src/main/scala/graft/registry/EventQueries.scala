package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Parse, Stateful}

/** Driver-gate queries exercising the filter-stage operators over the
  * `events` table (event_id, ts, user_id, event_type, value, props), each
  * with a DuckDB oracle. Naming convention: every computed column aliased
  * identically in Spark and SQL.
  */
object EventQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // useragent through a regexes.yaml-format parser DATABASE (uap-core
    // public format): first-match-wins family + major version, loaded from
    // a fixture file written in the gate
    "evt_ua2" -> ((s, dir) => {
      val yml = java.nio.file.Files.createTempFile("graft_ua", ".yml")
      java.nio.file.Files.writeString(yml,
        """# uap-core-format fixture (own patterns, not the uap DB)
          |# (TestBrowser) pins the published uap contract: major = group 2
          |# even when family_replacement is set, and $1 substitutes group 1
          |user_agent_parsers:
          |  - regex: '(TestBrowser)/(\d+)'
          |    family_replacement: 'TB $1'
          |  - regex: '(FetchLib)/(\d+)'
          |  - regex: 'OldAgent'
          |    family_replacement: 'Legacy'
          |    v1_replacement: '0'
          |""".stripMargin)
      val parsers = Parse.uaParsersFromYaml(yml.toString)
      val ev = events(s, dir).withColumn("ua",
        when(col("event_type") === "view", lit("Mozilla/5.0 TestBrowser/12.3"))
          .when(col("event_type") === "click", lit("FetchLib/2.0 (bot)"))
          .when(col("event_type") === "error", lit("OldAgent 1.0"))
          .otherwise(lit("unknown thing")))
      Parse.useragentWith(ev, "ua", parsers)
        .select(col("event_id"), col("ua_family"), col("ua_major"))
        .orderBy("event_id")
    }),

    // event append deep map-merge (Event.append -> Util.mapMerge): union
    // per key, target order first, missing keys taken
    "evt_append" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("m_a", map(lit("k"), array(col("event_type")), lit("s"), array(lit("x"))))
        .withColumn("m_b", map(lit("k"), array(lit("view"), col("event_type")), lit("n"), array(lit("z"))))
      ev.select(col("event_id"),
          to_json(graft.operators.Mutate.appendMaps(col("m_a"), col("m_b"))).as("merged"))
        .orderBy("event_id")
    }),

    // FULL dissect: multi-separator pattern with append (+key), right-padding
    // (->), and failure tagging, over a constructed syslog-ish line
    // (reference doc example shape, transforming-data.asciidoc:249-290)
    "evt_dissect2" -> ((s, dir) => {
      val e = events(s, dir)
      val day = (col("event_id") % 28 + 1).cast("string")
      val sp = when(col("event_id") % 2 === 0, lit("  ")).otherwise(lit(" "))
      val line = when(col("event_id") % 11 === 0, lit("nodelimiters"))
        .otherwise(concat(lit("Aug"), sp, day,
          lit(" host"), (col("user_id") % 10).cast("string"),
          lit("["), (col("event_id") % 100).cast("string"), lit("]: m "),
          col("event_type")))
      Parse.dissect(e.withColumn("line", line), "line",
          "%{ts->} %{+ts} %{host}[%{pid}]: %{msg}")
        .select(col("event_id"), col("ts"), col("host"), col("pid"), col("msg"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // composite grok (%{COMBINEDAPACHELOG} from the library), overwrite
    // semantics on an existing column, and custom tag_on_failure tags
    "evt_grok3" -> ((s, dir) => {
      val e = events(s, dir)
      val bytesStr = when(col("event_id") % 5 === 0, lit("-"))
        .otherwise(round(col("value")).cast("long").cast("string"))
      val line = when(col("event_id") % 13 === 0, lit("garbage"))
        .otherwise(concat(
          lit("10."), (col("user_id") % 100).cast("string"), lit("."),
          (col("event_id") % 256).cast("string"), lit(".1 - frank ["),
          date_format(col("ts").cast("timestamp"), "dd/MMM/yyyy:HH:mm:ss"),
          lit(" +0000] \""),
          when(col("event_type") === "purchase", "POST").otherwise("GET"),
          lit(" /"), col("event_type"), lit(" HTTP/1.1\" "),
          (lit(200) + (col("event_id") % 3) * 100).cast("string"), lit(" "),
          bytesStr, lit(" \"-\" \"curl/8."), (col("user_id") % 10).cast("string"),
          lit("\"")))
      Parse.grokFull(
          e.withColumn("line", line).withColumn("verb", lit("PRE")),
          "line", Seq("%{COMBINEDAPACHELOG}"),
          overwrite = Set("verb"), tagOnFailure = Seq("_fail", "_nomatch"))
        .select(col("event_id"), col("clientip"), col("verb"), col("response"),
          col("bytes"), col("referrer"), col("agent"),
          array_join(col("tags"), ",").as("tag_str"))
        .orderBy("event_id")
    }),

    // grok: named-pattern extraction with :int coercion over the props string
    "evt_grok" -> ((s, dir) => {
      Parse.grok(events(s, dir), "props", "\"k\": %{INT:k:int}")
        .select(col("event_id"), col("k"),
          size(col("tags")).as("n_tags"))
        .orderBy("event_id")
    }),

    // grok multi-match: two line shapes + a no-match shape; first pattern
    // wins (break_on_match), misses tagged _grokparsefailure
    "evt_grok_multi" -> ((s, dir) => {
      val df = events(s, dir).withColumn("line",
        when(col("event_id") % 7 === 0, lit("~~~"))
          .when(col("event_id") % 2 === 0,
            concat(lit("uid="), col("user_id"), lit(" act="), col("event_type")))
          .otherwise(concat(col("event_type"), lit("/"), col("user_id"))))
      Parse.grokFull(df, "line", Seq(
          "uid=%{INT:uid:int} act=%{WORD:act}",
          "%{WORD:act}/%{INT:uid:int}"))
        .select(col("event_id"), col("act"), col("uid"),
          array_contains(col("tags"), "_grokparsefailure").as("grokfail"))
        .orderBy("event_id")
    }),

    // kv: k=v pair extraction into a map, then field access
    "evt_kv" -> ((s, dir) => {
      val df = events(s, dir).withColumn("kvline",
        concat(lit("type="), col("event_type"), lit(" uid="), col("user_id")))
      Parse.kvFull(df, "kvline", "kvmap")
        .select(col("event_id"),
          col("kvmap")("type").as("type"),
          col("kvmap")("uid").cast("long").as("uid"))
        .orderBy("event_id")
    }),

    // date: format -> parse round trip, grouped per hour
    "evt_date" -> ((s, dir) => {
      val df = events(s, dir)
        .withColumn("ts_str", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      Parse.date(df, "ts_str", "parsed",
        Seq("dd/MM/yyyy HH:mm:ss", "yyyy-MM-dd HH:mm:ss")) // first format misses -> cascade
        .groupBy(date_trunc("hour", col("parsed")).as("hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hour")
    }),

    // throttle: at most 2 events per user per hour pass; list the throttled
    "evt_throttle" -> ((s, dir) => {
      Stateful.throttleTwoPhase(events(s, dir), "user_id", "ts", "hour", 2, Seq("event_id"))
        .filter(col("throttled"))
        .select(col("event_id"))
        .orderBy("event_id")
    }),

    // flow metric: events/sec per type via the typed Aggregator (UDAF surface)
    "evt_flowrate" -> ((s, dir) => {
      events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .groupBy(col("event_type"))
        .agg(
          graft.functions.FlowAgg.eventsPerSec(col("ts_us")).as("rate_raw"),
          count(lit(1)).as("n"))
        .select(col("event_type"), round(col("rate_raw"), 6).as("rate"), col("n"))
        .orderBy("event_type")
    }),

    // aggregate push_previous_map_as_event: flush on task-key change
    // (change-point sessionization per user stream)
    "evt_sessions" -> ((s, dir) => {
      Stateful.sessionRuns(events(s, dir), "user_id", "event_id", "event_type")
        .orderBy("user_id", "run_id")
    }),

    // metrics: per-period counters per event_type
    "evt_metrics" -> ((s, dir) => {
      Stateful.metrics(events(s, dir), "event_type", "ts", "hour")
        .orderBy("period", "name")
    }),

    // aggregate: per-task (user) correlation summary
    "evt_aggregate" -> ((s, dir) => {
      Stateful.aggregateByKey(events(s, dir), "user_id", "ts", "value")
        .orderBy("user_id")
    }),

    // clone: N tagged copies per matching event
    "evt_clone" -> ((s, dir) => {
      Stateful.cloneEvents(events(s, dir).filter(col("event_type") === "error"),
        Seq("shadow", "audit"))
        .select(col("event_id"), coalesce(col("type"), lit("original")).as("type"))
        .orderBy("event_id", "type")
    }),

    // split: one row per token of the documents token arrays
    "doc_split" -> ((s, dir) => {
      val raw = graft.model.Tok.rawSequences(s.read.parquet(s"$dir/documents.parquet"))
      Stateful.splitField(raw, "tokens", "tok")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy("tok")
    }),

    // mutate chain: uppercase/gsub/strip/convert over documents
    "doc_mutate" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("lang_u", upper(col("lang")))
        .withColumn("text2", regexp_replace(col("text"), "spark", "SPARK"))
        .select(col("doc_id"), col("lang_u"),
          length(col("text2")).as("len2"),
          (length(col("text2")) - length(col("text"))).as("delta"))
        .orderBy("doc_id")
    }),

    // the reference's "apache" benchmark case: combined-log line -> grok
    // (IP/verb/path/status/bytes) -> useragent enrich (benchmark-cli
    // cases/apache.cfg re-expressed over a deterministically synthesized line)
    "evt_apache" -> ((s, dir) => {
      val e = events(s, dir)
      val ua = when(col("user_id") % 3 === 0,
          concat(lit("Mozilla/5.0 Chrome/"), (col("user_id") % 50).cast("string"), lit(".0")))
        .when(col("user_id") % 3 === 1,
          concat(lit("Mozilla/5.0 Firefox/"), (col("user_id") % 50).cast("string"), lit(".0")))
        .otherwise(concat(lit("curl/8."), (col("user_id") % 10).cast("string")))
      val line = concat(
        lit("10."), (col("user_id") % 100).cast("string"), lit("."),
        (col("event_id") % 256).cast("string"), lit(".1 - - ["),
        date_format(col("ts").cast("timestamp"), "dd/MMM/yyyy:HH:mm:ss"),
        lit(" +0000] \""),
        when(col("event_type") === "purchase", "POST").otherwise("GET"),
        lit(" /"), col("event_type"), lit(" HTTP/1.1\" "),
        (lit(200) + (col("event_id") % 3) * 100).cast("string"), lit(" "),
        round(col("value")).cast("long").cast("string"),
        lit(" \""), ua, lit("\""))
      val groked = Parse.grok(e.withColumn("line", line),
        "line",
        "%{IP:client} - - \\[%{HTTPDATE:tstamp}\\] \"%{WORD:verb} %{URIPATH:path} " +
          "HTTP/%{NUMBER:httpv}\" %{INT:status:int} %{INT:bytes:int} \"%{DATA:uastr}\"")
      Parse.useragent(groked, "uastr")
        .select(col("event_id"), col("client"), col("verb"), col("status"),
          col("bytes"), col("ua_name"), col("ua_version"))
        .orderBy("event_id")
    }),

    // geoip-style enrichment: broadcast CIDR-range lookup on a synthesized ip
    "evt_geoip" -> ((s, dir) => {
      import s.implicits._
      def ip(a: Long, b: Long, c: Long, d: Long): Long = ((a * 256 + b) * 256 + c) * 256 + d
      val ranges = Seq(
        (ip(10, 0, 0, 0), ip(10, 33, 255, 255), "us"),
        (ip(10, 34, 0, 0), ip(10, 66, 255, 255), "eu"),
        (ip(10, 67, 0, 0), ip(10, 99, 255, 255), "apac"))
        .toDF("ip_lo", "ip_hi", "region")
      val df = events(s, dir).withColumn("ip", concat_ws(".", lit("10"),
        (col("user_id") % 100).cast("string"),
        (col("event_id") % 256).cast("string"),
        (col("user_id") % 256).cast("string")))
      graft.operators.Enrich.geoLookup(df, "ip", ranges)
        .select(col("event_id"), col("region"))
        .orderBy("event_id")
    }),

    // geoip through a REAL mmdb-format database: fixture written in the
    // public MaxMind DB binary format, decoded by the mmdb reader into the
    // broadcast range join (the reference geoip filter's DB path)
    "evt_geoip2" -> ((s, dir) => {
      val db = java.nio.file.Files.createTempFile("graft_geo", ".mmdb").toString
      graft.operators.Mmdb.writeFixture(db, Seq(
        "10.0.0.0/11"  -> Map("country" -> Map("iso_code" -> "us")),
        "10.32.0.0/11" -> Map("country" -> Map("iso_code" -> "eu")),
        "10.64.0.0/11" -> Map("country" -> Map("iso_code" -> "apac"))))
      val ranges = graft.operators.Enrich.geoRangesFromMmdb(s, db,
        Seq("country", "iso_code"), as = "country_iso")
      val df = events(s, dir).withColumn("ip", concat_ws(".", lit("10"),
        (col("user_id") % 100).cast("string"),
        (col("event_id") % 256).cast("string"),
        (col("user_id") % 256).cast("string")))
      graft.operators.Enrich.geoLookup(df, "ip", ranges)
        .select(col("event_id"), col("country_iso"))
        .orderBy("event_id")
    }),

    // syslog_pri decompose + cidr block membership over synthesized pri/ip
    "evt_net" -> ((s, dir) => {
      val df = events(s, dir)
        .withColumn("pri", col("user_id") % 192)
        .withColumn("ip", concat_ws(".", lit("10"),
          (col("user_id") % 100).cast("string"),
          (col("event_id") % 256).cast("string"),
          (col("user_id") % 256).cast("string")))
      df.select(col("event_id"),
          graft.operators.Net.syslogSeverity(col("pri")).as("sev"),
          graft.operators.Net.syslogFacility(col("pri")).as("fac"),
          graft.operators.Net.cidrContains(col("ip"), "10.50.0.0/16").as("in_block"))
        .orderBy("event_id")
    }),

    // multiline codec: continuation lines (event_type=click) reassembled
    // into the previous event, per user stream
    "evt_multiline" -> ((s, dir) => {
      graft.operators.Codec.multiline(events(s, dir), "props", "event_id", "user_id",
          col("event_type") === "click")
        .select(col("user_id"), col("event_group"), col("msg"), col("n_lines"))
        .orderBy("user_id", "event_group")
    }),

    // csv: positional parse with column names over a constructed line
    "evt_csv" -> ((s, dir) => {
      val df = events(s, dir).withColumn("line",
        concat_ws(",", col("event_type"), col("user_id"), round(col("value")).cast("long")))
      Parse.csv(df, "line", Seq("ctype", "cuid", "cval"))
        .select(col("event_id"), col("ctype"),
          col("cuid").cast("long").as("cuid"), col("cval").cast("long").as("cval"))
        .orderBy("event_id")
    }),

    // truncate + anonymize (mutate family)
    "evt_anonymize" -> ((s, dir) => {
      val df = graft.operators.Mutate.truncate(
        events(s, dir).withColumn("etype", col("event_type")), "etype", 4)
      graft.operators.Mutate.anonymize(df, "user_id", key = "salt")
        .select(col("event_id"), col("etype"), col("user_id").as("uid_anon"))
        .orderBy("event_id")
    }),

    // drop + fingerprint: deterministic sampling-drop and content hashing
    "evt_fingerprint" -> ((s, dir) => {
      graft.operators.Mutate.fingerprint(
        events(s, dir).filter(col("event_type") =!= "view"),
        Seq("event_type", "user_id"), "fp", "md5")
        .select(col("event_id"), col("fp"))
        .orderBy("event_id")
    }),

    // CEF codec round trip: encode (pinned by a SQL-reconstructed expected
    // line in the oracle) then decode back; header pipe/backslash escapes,
    // extension `\=` escapes, values with spaces, a syslog prefix on every
    // 5th row, and a non-CEF line on every 97th (failure tag)
    "evt_cef" -> ((s, dir) => {
      import graft.operators.Codec
      val ev = events(s, dir)
        .withColumn("prod", concat(lit("engine|"), col("event_type")))
        .withColumn("sig", concat(lit("SIG-"), (col("event_id") % 100).cast("string")))
        .withColumn("nm", concat(lit("event "), col("event_type")))
        .withColumn("sev", (col("event_id") % 10).cast("string"))
        .withColumn("srcip", concat(lit("10.0.0."), (col("user_id") % 256).cast("string")))
        .withColumn("msgv", concat(lit("uid="), col("user_id").cast("string"),
          lit(" path C:\\tmp")))
      val enc = ev.withColumn("cef_line",
        Codec.cefEncode(lit("Graft"), col("prod"), lit("1.0\\beta"),
          col("sig"), col("nm"), col("sev"),
          Seq("src" -> col("srcip"), "msg" -> col("msgv"), "act" -> col("event_type"))))
        .withColumn("wire",
          when(col("event_id") % 97 === 0, lit("malformed line without marker"))
            .when(col("event_id") % 5 === 0, concat(lit("<13>Jan  1 host "), col("cef_line")))
            .otherwise(col("cef_line")))
      Codec.cefDecode(enc.select(col("event_id"), col("wire")), "wire")
        .select(col("event_id"), col("wire"), col("cef_prefix"),
          col("cef_vendor"), col("cef_product"), col("cef_device_version"),
          col("cef_signature"), col("cef_name"),
          col("cef_severity").cast("int").as("cef_sev"),
          col("cef_ext")("src").as("ext_src"),
          col("cef_ext")("msg").as("ext_msg"),
          col("cef_ext")("act").as("ext_act"),
          array_contains(col("tags"), "_cefparsefailure").as("cef_fail"))
        .orderBy("event_id")
    }),

    // graphite codec decode: `metric value epoch` lines with Ruby to_f
    // prefix-parse semantics (suffix junk parses, garbage -> 0.0) and a
    // short line every 41st (failure tag); map entry proves the metrics map
    "evt_graphite" -> ((s, dir) => {
      import graft.operators.Codec
      val ev = events(s, dir)
        .withColumn("m", concat(lit("app."), col("event_type"), lit(".v")))
        .withColumn("valstr",
          when(col("event_id") % 17 === 0, lit("garbage"))
            .when(col("event_id") % 13 === 0,
              concat((col("user_id") % 1000).cast("string"), lit(".25x")))
            .otherwise(concat((col("user_id") % 1000).cast("string"), lit(".25"))))
        .withColumn("wire",
          when(col("event_id") % 41 === 0, lit("short line"))
            .otherwise(concat_ws(" ", col("m"), col("valstr"),
              (lit(1700000000L) + col("event_id")).cast("string"))))
      Codec.graphiteDecode(ev.select(col("event_id"), col("wire")), "wire")
        .select(col("event_id"), col("wire"), col("metric"),
          col("value").as("g_value"),
          unix_timestamp(col("@timestamp")).as("ts_epoch"),
          try_element_at(col("metrics"), col("metric")).as("map_value"),
          array_contains(col("tags"), "_graphiteparsefailure").as("g_fail"))
        .orderBy("event_id")
    }),

    // edn_lines codec decode: EDN maps with keyword keys, string escapes,
    // nil, booleans, keyword-and-string vectors, a #_ discard on every 23rd
    // id and a trailing ; comment on every 11th line
    "evt_edn" -> ((s, dir) => {
      import graft.operators.Codec
      val ev = events(s, dir)
        .withColumn("istr", (col("user_id") % 1000).cast("string"))
        .withColumn("idtok",
          when(col("event_id") % 23 === 0,
            concat(lit("#_ -1 "), col("event_id").cast("string")))
            .otherwise(col("event_id").cast("string")))
        .withColumn("note",
          when(col("event_id") % 7 === 0, lit("nil"))
            .otherwise(concat(lit("\"say \\\"hi\\\"\\t"), col("event_type"), lit("\""))))
        .withColumn("wire", concat(
          lit("{:id "), col("idtok"),
          lit(" :type \""), col("event_type"),
          lit("\" :score "), col("istr"), lit(".25"),
          lit(" :ok "), (col("event_id") % 2 === 0).cast("string"),
          lit(" :note "), col("note"),
          lit(" :tags [:k_"), col("event_type"), lit(" \"x y\"]}"),
          when(col("event_id") % 11 === 0, lit(" ; trailing comment"))
            .otherwise(lit(""))))
      Codec.ednLines(ev.select(col("event_id"), col("wire")), "wire",
          "id BIGINT, type STRING, score DOUBLE, ok BOOLEAN, note STRING, tags ARRAY<STRING>")
        .select(col("event_id"), col("id").as("e_id"), col("type").as("e_type"),
          col("score").as("e_score"), col("ok").as("e_ok"), col("note").as("e_note"),
          array_join(col("tags"), ",").as("e_tags"))
        .orderBy("event_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "evt_edn" ->
      """SELECT event_id,
        |       event_id AS e_id,
        |       event_type AS e_type,
        |       CAST(user_id % 1000 AS DOUBLE) + 0.25 AS e_score,
        |       (event_id % 2 = 0) AS e_ok,
        |       CASE WHEN event_id % 7 = 0 THEN NULL
        |            ELSE 'say "hi"' || chr(9) || event_type END AS e_note,
        |       'k_' || event_type || ',x y' AS e_tags
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_graphite" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type,
        |         'app.' || event_type || '.v' AS m,
        |         CAST(user_id % 1000 AS VARCHAR) AS istr,
        |         CAST(user_id % 1000 AS DOUBLE) + 0.25 AS v
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN event_id % 41 = 0 THEN 'short line'
        |       WHEN event_id % 17 = 0 THEN m || ' garbage ' || CAST(1700000000 + event_id AS VARCHAR)
        |       WHEN event_id % 13 = 0 THEN m || ' ' || istr || '.25x ' || CAST(1700000000 + event_id AS VARCHAR)
        |       ELSE m || ' ' || istr || '.25 ' || CAST(1700000000 + event_id AS VARCHAR) END AS wire,
        |  CASE WHEN event_id % 41 <> 0 THEN m END AS metric,
        |  CASE WHEN event_id % 41 = 0 THEN CAST(NULL AS DOUBLE)
        |       WHEN event_id % 17 = 0 THEN 0.0 ELSE v END AS g_value,
        |  CASE WHEN event_id % 41 <> 0 THEN 1700000000 + event_id END AS ts_epoch,
        |  CASE WHEN event_id % 41 = 0 THEN CAST(NULL AS DOUBLE)
        |       WHEN event_id % 17 = 0 THEN 0.0 ELSE v END AS map_value,
        |  (event_id % 41 = 0) AS g_fail
        |FROM base ORDER BY event_id""".stripMargin,

    // encode pinned by SQL reconstruction (same replace order as cefEncode);
    // decode pinned by the ground-truth columns the line was built from
    "evt_cef" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type,
        |         'engine|' || event_type AS prod,
        |         'SIG-' || CAST(event_id % 100 AS VARCHAR) AS sig,
        |         'event ' || event_type AS nm,
        |         CAST(event_id % 10 AS VARCHAR) AS sev,
        |         '10.0.0.' || CAST(user_id % 256 AS VARCHAR) AS srcip,
        |         'uid=' || CAST(user_id AS VARCHAR) || ' path C:\tmp' AS msgv
        |  FROM events),
        |enc AS (
        |  SELECT *,
        |         'CEF:0|Graft|' || replace(replace(prod, '\', '\\'), '|', '\|') ||
        |         '|1.0\\beta|' || sig || '|' || nm || '|' || sev || '|' ||
        |         'src=' || srcip || ' msg=' ||
        |         replace(replace(msgv, '\', '\\'), '=', '\=') ||
        |         ' act=' || event_type AS cef_line
        |  FROM base)
        |SELECT event_id,
        |       CASE WHEN event_id % 97 = 0 THEN 'malformed line without marker'
        |            WHEN event_id % 5 = 0 THEN '<13>Jan  1 host ' || cef_line
        |            ELSE cef_line END AS wire,
        |       CASE WHEN event_id % 97 <> 0 AND event_id % 5 = 0
        |            THEN '<13>Jan  1 host' END AS cef_prefix,
        |       CASE WHEN event_id % 97 <> 0 THEN 'Graft' END AS cef_vendor,
        |       CASE WHEN event_id % 97 <> 0 THEN prod END AS cef_product,
        |       CASE WHEN event_id % 97 <> 0 THEN '1.0\beta' END AS cef_device_version,
        |       CASE WHEN event_id % 97 <> 0 THEN sig END AS cef_signature,
        |       CASE WHEN event_id % 97 <> 0 THEN nm END AS cef_name,
        |       CASE WHEN event_id % 97 <> 0 THEN CAST(event_id % 10 AS INTEGER) END AS cef_sev,
        |       CASE WHEN event_id % 97 <> 0 THEN srcip END AS ext_src,
        |       CASE WHEN event_id % 97 <> 0 THEN msgv END AS ext_msg,
        |       CASE WHEN event_id % 97 <> 0 THEN event_type END AS ext_act,
        |       (event_id % 97 = 0) AS cef_fail
        |FROM enc ORDER BY event_id""".stripMargin,

    "evt_ua2" ->
      """SELECT event_id,
        |       CASE event_type WHEN 'view' THEN 'TB TestBrowser' WHEN 'click' THEN 'FetchLib'
        |            WHEN 'error' THEN 'Legacy' ELSE '' END AS ua_family,
        |       CASE event_type WHEN 'view' THEN '12' WHEN 'click' THEN '2'
        |            WHEN 'error' THEN '0' ELSE '' END AS ua_major
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_append" ->
      """SELECT event_id,
        |       '{"k":["' || event_type || '"'
        |         || CASE WHEN event_type = 'view' THEN '' ELSE ',"view"' END
        |         || '],"s":["x"],"n":["z"]}' AS merged
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_dissect2" ->
      """SELECT event_id,
        |       CASE WHEN event_id % 11 = 0 THEN NULL
        |            ELSE 'Aug ' || (event_id % 28 + 1) END AS ts,
        |       CASE WHEN event_id % 11 = 0 THEN NULL
        |            ELSE 'host' || (user_id % 10) END AS host,
        |       CASE WHEN event_id % 11 = 0 THEN NULL
        |            ELSE CAST(event_id % 100 AS VARCHAR) END AS pid,
        |       CASE WHEN event_id % 11 = 0 THEN NULL
        |            ELSE 'm ' || event_type END AS msg,
        |       CASE WHEN event_id % 11 = 0 THEN '_dissectfailure' ELSE '' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_grok3" ->
      """SELECT event_id,
        |       CASE WHEN event_id % 13 = 0 THEN NULL
        |            ELSE '10.' || (user_id % 100) || '.' || (event_id % 256) || '.1'
        |            END AS clientip,
        |       CASE WHEN event_id % 13 = 0 THEN 'PRE'
        |            WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END AS verb,
        |       CASE WHEN event_id % 13 = 0 THEN NULL
        |            ELSE CAST(200 + (event_id % 3) * 100 AS VARCHAR) END AS response,
        |       -- "-" bytes: the capture does not participate; reference
        |       -- keep_empty_captures default = field NOT set (null), not ''
        |       CASE WHEN event_id % 13 = 0 THEN NULL
        |            WHEN event_id % 5 = 0 THEN NULL
        |            ELSE CAST(CAST(round(value) AS BIGINT) AS VARCHAR) END AS bytes,
        |       CASE WHEN event_id % 13 = 0 THEN NULL ELSE '"-"' END AS referrer,
        |       CASE WHEN event_id % 13 = 0 THEN NULL
        |            ELSE '"curl/8.' || (user_id % 10) || '"' END AS agent,
        |       CASE WHEN event_id % 13 = 0 THEN '_fail,_nomatch' ELSE '' END AS tag_str
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_grok" ->
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": ([+-]?\d+)', 1) AS BIGINT) AS k,
        |       CASE WHEN regexp_matches(props, '"k": [+-]?\d+') THEN 0 ELSE 1 END AS n_tags
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_grok_multi" ->
      """SELECT event_id,
        |       CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS act,
        |       CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS uid,
        |       event_id % 7 = 0 AS grokfail
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_kv" ->
      """SELECT event_id, event_type AS type, user_id AS uid
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_date" ->
      """SELECT date_trunc('hour', strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')) AS hour,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,

    "evt_throttle" ->
      """SELECT event_id FROM (
        |  SELECT event_id,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                            ORDER BY ts, event_id) AS rk
        |  FROM events) WHERE rk > 2 ORDER BY event_id""".stripMargin,

    "evt_flowrate" ->
      """SELECT event_type,
        |       round(COUNT(*) / ((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0), 6) AS rate,
        |       COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "evt_sessions" ->
      """WITH c AS (
        |  SELECT user_id, event_id, event_type,
        |         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |                   IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS run_id
        |  FROM c)
        |SELECT user_id, run_id, event_type, COUNT(*) AS n_events,
        |       MIN(event_id) AS first_o, MAX(event_id) AS last_o
        |FROM g GROUP BY user_id, run_id, event_type
        |ORDER BY user_id, run_id""".stripMargin,

    "evt_metrics" ->
      """SELECT date_trunc('hour', ts) AS period, event_type AS name, COUNT(*) AS events
        |FROM events GROUP BY 1, 2 ORDER BY period, name""".stripMargin,

    "evt_aggregate" ->
      """SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "evt_clone" ->
      """SELECT event_id, t.type
        |FROM events CROSS JOIN (VALUES ('original'),('shadow'),('audit')) AS t(type)
        |WHERE event_type = 'error' ORDER BY event_id, type""".stripMargin,

    "doc_split" ->
      s"""${graft.model.Tok.sqlRawSequences}
         |SELECT tok, COUNT(*) AS n
         |FROM (SELECT unnest(tokens) AS tok FROM raw)
         |GROUP BY tok ORDER BY tok""".stripMargin,

    "doc_mutate" ->
      """SELECT doc_id, upper(lang) AS lang_u,
        |       CAST(length(regexp_replace(text, 'spark', 'SPARK', 'g')) AS INTEGER) AS len2,
        |       CAST(length(regexp_replace(text, 'spark', 'SPARK', 'g')) - length(text) AS INTEGER) AS delta
        |FROM documents ORDER BY doc_id""".stripMargin,

    "evt_apache" ->
      """SELECT event_id,
        |       '10.' || (user_id % 100) || '.' || (event_id % 256) || '.1' AS client,
        |       CASE WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END AS verb,
        |       CAST(200 + (event_id % 3) * 100 AS BIGINT) AS status,
        |       CAST(round(value) AS BIGINT) AS bytes,
        |       CASE WHEN user_id % 3 = 0 THEN 'Chrome'
        |            WHEN user_id % 3 = 1 THEN 'Firefox' ELSE 'curl' END AS ua_name,
        |       CASE WHEN user_id % 3 = 2 THEN '8.' || (user_id % 10)
        |            ELSE (user_id % 50) || '.0' END AS ua_version
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_geoip" ->
      """SELECT event_id,
        |       CASE WHEN user_id % 100 <= 33 THEN 'us'
        |            WHEN user_id % 100 <= 66 THEN 'eu' ELSE 'apac' END AS region
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_geoip2" ->
      """SELECT event_id,
        |       CASE WHEN user_id % 100 <= 31 THEN 'us'
        |            WHEN user_id % 100 <= 63 THEN 'eu'
        |            WHEN user_id % 100 <= 95 THEN 'apac'
        |            ELSE NULL END AS country_iso
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_net" ->
      """SELECT event_id,
        |       CAST((user_id % 192) % 8 AS INTEGER) AS sev,
        |       CAST((user_id % 192) // 8 AS INTEGER) AS fac,
        |       (user_id % 100) = 50 AS in_block
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_multiline" ->
      """WITH g AS (
        |  SELECT user_id, event_id, props,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END)
        |           OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS event_group
        |  FROM events)
        |SELECT user_id, event_group,
        |       string_agg(props, chr(10) ORDER BY event_id) AS msg,
        |       COUNT(*) AS n_lines
        |FROM g GROUP BY user_id, event_group
        |ORDER BY user_id, event_group""".stripMargin,

    "evt_csv" ->
      """SELECT event_id,
        |       event_type AS ctype, user_id AS cuid,
        |       CAST(round(value) AS BIGINT) AS cval
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_anonymize" ->
      """SELECT event_id, substring(event_type, 1, 4) AS etype,
        |       sha256('salt' || CAST(user_id AS VARCHAR)) AS uid_anon
        |FROM events ORDER BY event_id""".stripMargin,

    "evt_fingerprint" ->
      """SELECT event_id,
        |       md5(concat_ws('|', event_type, CAST(user_id AS VARCHAR))) AS fp
        |FROM events WHERE event_type <> 'view' ORDER BY event_id""".stripMargin,
  )
}
