package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Tok

/** Parse-stage operators: Logstash's filter plugins re-expressed as Catalyst
  * column expressions (SURVEY.md §2.2). All of these are narrow, codegen'd
  * transforms — no shuffle, no UDF — so they scale linearly with input splits.
  */
object Parse {

  // ------------------------------------------------------------------
  // dissect — positional splitting. Over token arrays the delimiter role is
  // played by a sentinel token id (Tok.DelimId); over strings by a literal
  // separator. Reference: dissect filter, docs/static/transforming-data
  // .asciidoc:249-290 (semantics only; implementation is pure Spark).
  // ------------------------------------------------------------------

  /** Dissect over the pre-tokenized sequence structure
    * `[hdr, sev_tok, src_tok, ..., DELIM, payload...]`:
    * extracts header fields by position and the payload length after the first
    * delimiter token. Rows without the delimiter are tagged `_dissectfailure`
    * (the reference's `_dissectfailure` tag contract).
    */
  def dissectTokens(df: DataFrame,
                    fields: Seq[(String, Int)] = Seq("hdr_tok" -> 1, "sev_tok" -> 2),
                    delimId: Int = Tok.DelimId): DataFrame = {
    val withFields = fields.foldLeft(df) { case (d, (name, pos)) =>
      d.withColumn(name, element_at(col("tokens"), pos))
    }
    withFields
      .withColumn("delim_pos", array_position(col("tokens"), delimId).cast("int"))
      .withColumn("payload_len",
        when(col("delim_pos") > 0, col("n_tok") - col("delim_pos")).otherwise(lit(0)))
      .withColumn("tags",
        when(col("delim_pos") === 0, array(lit("_dissectfailure")))
          .otherwise(array().cast("array<string>")))
  }

  /** Severity decode from the planted severity token (tokens[1] mod 3),
    * the token-array analogue of grok's %{LOGLEVEL:severity}.
    */
  def severity(tokens: Column): Column = {
    val m = element_at(tokens, 1) % 3
    when(m === 0, "INFO").when(m === 1, "WARN").otherwise("ERROR")
  }

  /** String-side dissect: `%{a} %{b} %{rest}`-style positional split.
    * Name forms follow the reference dissect key syntax: `_` (or empty) is a
    * skip key (`%{}`), a `+`-prefixed name is an append key (`%{+ts}` —
    * value joined onto the existing field with the separator).
    */
  def dissectString(df: DataFrame, source: String, sep: String, names: Seq[String]): DataFrame = {
    val parts = split(col(source), java.util.regex.Pattern.quote(sep))
    names.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
      val part = element_at(parts, i + 1)
      if (n == "_" || n.isEmpty) d
      else if (n.startsWith("+")) {
        val base = n.drop(1)
        d.withColumn(base,
          if (d.columns.contains(base)) concat_ws(sep, col(base), part) else part)
      }
      else d.withColumn(n, part)
    }
  }

  // ------------------------------------------------------------------
  // full dissect — multi-delimiter positional scanner with the complete
  // public key-modifier surface: %{} skip, %{?name} named skip, %{&name}
  // indirect key, %{+name} / %{+name/n} append with ordering, and the `->`
  // right-padding suffix. The dissect engine itself is NOT in the reference
  // repo (it ships as the separate org.logstash.dissect gem); semantics here
  // follow the reference's own documentation example
  // (docs/static/transforming-data.asciidoc:249-290) and the published
  // plugin docs. Implementation: the pattern compiles to ONE anchored lazy
  // regex (`(?s)^lead(.*?)d1(.*?)d2...(.*)\z` — lazy groups reproduce
  // dissect's find-next-delimiter scan, `->` padding becomes `(?:d)+`)
  // evaluated by the one-pass RegexExtractStruct kernel, so a k-field
  // dissect costs one codegen'd scan per row, no UDF.
  // ------------------------------------------------------------------

  /** One dissect key: `mod` is ' ' (plain), '+' (append), '?' (named skip),
    * '&' (indirect); `group` is the 1-based regex capture (0 = non-capturing
    * `%{}` skip); `precedingDelim` is the literal delimiter between the
    * previous key and this one (the append join separator).
    */
  final case class DissectKey(name: String, mod: Char, order: Option[Int],
                              pad: Boolean, group: Int, precedingDelim: String)
  final case class DissectSpec(regex: String, keys: Seq[DissectKey], numGroups: Int)

  private val DissectKeyRe = "%\\{([^}]*)\\}".r

  def compileDissect(pattern: String): DissectSpec = {
    val ms = DissectKeyRe.findAllMatchIn(pattern).toList
    require(ms.nonEmpty, s"dissect: no %{{...}} keys in `$pattern`")
    val lead = pattern.substring(0, ms.head.start)
    val sb = new StringBuilder("(?s)^")
    sb.append(java.util.regex.Pattern.quote(lead))
    val keys = Seq.newBuilder[DissectKey]
    var group = 0
    var prevDelim = ""
    ms.zipWithIndex.foreach { case (m, k) =>
      var body = m.group(1)
      val pad = body.endsWith("->")
      if (pad) body = body.dropRight(2)
      val (mod, rest) =
        if (body.startsWith("+")) ('+', body.tail)
        else if (body.startsWith("?")) ('?', body.tail)
        else if (body.startsWith("&")) ('&', body.tail)
        else (' ', body)
      val (name, order) = rest.indexOf('/') match {
        case -1 => (rest, None)
        case i =>
          require(mod == '+', s"dissect: /n ordering only valid on +append keys (`$body`)")
          (rest.substring(0, i), Some(rest.substring(i + 1).toInt))
      }
      val skip = mod == ' ' && name.isEmpty
      val delimAfter =
        if (k + 1 < ms.length) pattern.substring(m.end, ms(k + 1).start)
        else pattern.substring(m.end)
      val isLast = k + 1 == ms.length
      if (skip) sb.append(if (isLast && delimAfter.isEmpty) ".*" else ".*?")
      else {
        group += 1
        sb.append(if (isLast && delimAfter.isEmpty) "(.*)" else "(.*?)")
        keys += DissectKey(name, mod, order, pad, group, prevDelim)
      }
      if (delimAfter.nonEmpty) {
        val q = java.util.regex.Pattern.quote(delimAfter)
        // `->` padding: ignore repetitions of the delimiter to the right
        sb.append(if (pad) s"(?:$q)+" else q)
      }
      prevDelim = delimAfter
    }
    sb.append("\\z")
    DissectSpec(sb.toString, keys.result(), group)
  }

  /** Full dissect over a string column. Plain keys become columns; `+` keys
    * append onto their base key — parts sorted by explicit `/n` order (else
    * declaration order) and joined with the delimiter preceding the first
    * `+` key (the reference doc's `%{ts} %{+ts} %{+ts}` example yields
    * "Apr 26 12:20:02"); `?`/`&` pairs build the `dissect_kv` map column
    * (the DataFrame analogue of dynamic field names). No match =>
    * `_dissectfailure` tag, all dissected fields null.
    */
  def dissect(df: DataFrame, source: String, pattern: String): DataFrame = {
    val spec = compileDissect(pattern)
    val withG = df.withColumn("_dis_m",
      graft.plans.RegexExprs.extractStruct(col(source), spec.regex, spec.numGroups))
    def g(k: DissectKey): Column = col("_dis_m").getField(s"g${k.group}")
    val appendNames = spec.keys.filter(_.mod == '+').map(_.name).distinct
    // plain keys not participating in an append chain
    var out = spec.keys
      .filter(k => k.mod == ' ' && !appendNames.contains(k.name))
      .foldLeft(withG)((d, k) => d.withColumn(k.name, g(k)))
    // append chains
    appendNames.foreach { name =>
      val parts = spec.keys.zipWithIndex
        .filter { case (k, _) => (k.mod == ' ' || k.mod == '+') && k.name == name }
      val sorted = parts.sortBy { case (k, idx) => (k.order.getOrElse(idx), idx) }
      val joinDelim = spec.keys.filter(k => k.mod == '+' && k.name == name)
        .map(_.precedingDelim).find(_.nonEmpty).getOrElse(" ")
      out = out.withColumn(name,
        when(col("_dis_m").isNotNull, concat_ws(joinDelim, sorted.map(p => g(p._1)): _*)))
    }
    // ?/& indirection -> dissect_kv map
    val indirect = spec.keys.filter(_.mod == '&')
    if (indirect.nonEmpty) {
      val entries = indirect.map { v =>
        val key = spec.keys.find(k => k.mod == '?' && k.name == v.name).getOrElse(
          throw new IllegalArgumentException(s"dissect: %{&${v.name}} has no matching %{?${v.name}}"))
        (g(key), g(v))
      }
      out = out.withColumn("dissect_kv",
        when(col("_dis_m").isNotNull,
          map_from_arrays(array(entries.map(_._1): _*), array(entries.map(_._2): _*))))
    }
    Mutate.addTagWhen(out, col("_dis_m").isNull, "_dissectfailure").drop("_dis_m")
  }

  // ------------------------------------------------------------------
  // grok — named-pattern regex extraction with type coercion and
  // _grokparsefailure tagging. Pattern library is a small public subset of the
  // stock grok patterns; compilation expands %{NAME:field:type} into plain
  // Java-regex groups extracted per-field with regexp_extract (codegen'd).
  // ------------------------------------------------------------------

  val GrokPatterns: Map[String, String] = Map(
    "WORD" -> "\\w+",
    "NOTSPACE" -> "\\S+",
    "DATA" -> ".*?",
    "GREEDYDATA" -> ".*",
    "INT" -> "[+-]?\\d+",
    "POSINT" -> "[1-9]\\d*",
    "NONNEGINT" -> "\\d+",
    "NUMBER" -> "[+-]?\\d+(?:\\.\\d+)?",
    "BASE10NUM" -> "[+-]?(?:\\d+(?:\\.\\d+)?|\\.\\d+)",
    "BASE16NUM" -> "(?:0[xX])?[0-9a-fA-F]+",
    "IP" -> "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}",
    "HOSTNAME" -> "[a-zA-Z0-9](?:[a-zA-Z0-9_-]*[a-zA-Z0-9])?(?:\\.[a-zA-Z0-9](?:[a-zA-Z0-9_-]*[a-zA-Z0-9])?)*",
    "IPORHOST" -> "(?:\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}|[a-zA-Z0-9][a-zA-Z0-9._-]*)",
    "USERNAME" -> "[a-zA-Z0-9._-]+",
    "USER" -> "[a-zA-Z0-9._-]+",
    "EMAILADDRESS" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+",
    "UUID" -> "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "MAC" -> "(?:[0-9a-fA-F]{2}[:-]){5}[0-9a-fA-F]{2}",
    "QUOTEDSTRING" -> "\"[^\"]*\"|'[^']*'",
    "QS" -> "\"[^\"]*\"|'[^']*'", // stock alias for QUOTEDSTRING
    "URIPATH" -> "(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_&-]*)+",
    "PROG" -> "[a-zA-Z0-9._/%-]+",
    "SYSLOGTIMESTAMP" -> "[A-Z][a-z]{2} +\\d{1,2} \\d{2}:\\d{2}:\\d{2}",
    "HTTPDATE" -> "\\d{2}/[A-Z][a-z]{2}/\\d{4}:\\d{2}:\\d{2}:\\d{2} [+-]\\d{4}",
    "LOGLEVEL" -> "INFO|WARN|ERROR|DEBUG|TRACE|FATAL",
    "TIMESTAMP_ISO8601" -> "\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}:\\d{2}(?:\\.\\d+)?",
    // ---- extended library (hand-written bodies; composite patterns expand
    // recursively, and their embedded %{X:field} refs capture exactly like
    // stock grok — so `%{COMBINEDAPACHELOG}` alone yields clientip/verb/...)
    "SPACE" -> "\\s*",
    "IPV4" -> "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}",
    "IPV6" -> "(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%\\w+)?",
    "MONTH" -> "\\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|June?|July?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\\b",
    "MONTHNUM" -> "(?:0?[1-9]|1[0-2])",
    "MONTHDAY" -> "(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "DAY" -> "(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR" -> "(?:\\d\\d){1,2}",
    "HOUR" -> "(?:2[0123]|[01]?[0-9])",
    "MINUTE" -> "[0-5][0-9]",
    "SECOND" -> "(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?",
    "TIME" -> "%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US" -> "%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU" -> "%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "DATE" -> "(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP" -> "%{DATE}[- ]%{TIME}",
    "ISO8601_TIMEZONE" -> "(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TZ" -> "[A-Z]{3,4}",
    "HOSTPORT" -> "%{IPORHOST}:%{POSINT}",
    "URIPROTO" -> "[A-Za-z][A-Za-z0-9+.-]*",
    "URIHOST" -> "%{IPORHOST}(?::%{POSINT})?",
    "URIPARAM" -> "\\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\\[\\]<>-]*",
    "URIPATHPARAM" -> "%{URIPATH}(?:%{URIPARAM})?",
    "URI" -> "%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "UNIXPATH" -> "(?:/[\\w_%!$@:.,+~-]*)+",
    "WINPATH" -> "(?:[A-Za-z]:|\\\\)(?:\\\\[^\\\\?*]*)+",
    "PATH" -> "(?:%{UNIXPATH}|%{WINPATH})",
    "SYSLOGHOST" -> "%{IPORHOST}",
    "SYSLOGFACILITY" -> "<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGPROG" -> "%{PROG:program}(?:\\[%{POSINT:pid}\\])?",
    "SYSLOGBASE" -> "%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "COMMONAPACHELOG" -> ("%{IPORHOST:clientip} %{USER:ident} %{USER:auth} " +
      "\\[%{HTTPDATE:timestamp}\\] \"(?:%{WORD:verb} %{NOTSPACE:request}" +
      "(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" " +
      "%{NUMBER:response} (?:%{NUMBER:bytes}|-)"),
    "COMBINEDAPACHELOG" -> "%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    "HTTPD_COMMONLOG" -> "%{COMMONAPACHELOG}",
    "HTTPD_COMBINEDLOG" -> "%{COMBINEDAPACHELOG}")

  final case class GrokField(name: String, group: Int, typ: Option[String])
  final case class GrokSpec(regex: String, fields: Seq[GrokField])

  private val GrokRef = "%\\{(\\w+)(?::([\\w@.\\[\\]]+?))?(?::(int|float))?\\}".r

  /** Expand a grok pattern into (full regex, capture fields). Named refs
    * without a field name match but don't capture — EXCEPT when their body
    * itself embeds `%{X:field}` refs (composite patterns like
    * `%{COMBINEDAPACHELOG}`), which capture recursively, exactly like stock
    * grok. `defs` supplies per-call `pattern_definitions` (they shadow the
    * library and may themselves be composites).
    *
    * Grok patterns ARE regexes in the reference (Grok.java compiles the
    * expanded pattern with joni) — text between %{...} refs passes through
    * RAW, so users can embed alternations/classes (e.g. the stock
    * `(?:-|%{NUMBER:bytes})` in COMBINEDAPACHELOG) and must escape literal
    * metacharacters (`\[`), exactly as in stock grok configs. Because our
    * kernel captures by GROUP INDEX, user-written capturing groups in the
    * raw segments are rewritten to non-capturing so field group numbers
    * stay stable (group numbers follow paren-open order through the
    * recursive expansion).
    */
  def compileGrok(pattern: String, defs: Map[String, String] = Map.empty): GrokSpec = {
    // `(` not followed by `?` and not escaped -> `(?:` (neutralize user
    // capture groups; named %{} refs provide the captures)
    def neutralize(seg: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < seg.length) {
        val c = seg.charAt(i)
        if (c == '\\' && i + 1 < seg.length) { sb.append(c).append(seg.charAt(i + 1)); i += 2 }
        else if (c == '(' && (i + 1 >= seg.length || seg.charAt(i + 1) != '?')) {
          sb.append("(?:"); i += 1
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    val fields = Seq.newBuilder[GrokField]
    var group = 0
    def body(name: String): String = defs.getOrElse(name, GrokPatterns.getOrElse(name,
      throw new IllegalArgumentException(s"unknown grok pattern %{$name}")))
    def expand(pat: String, depth: Int): String = {
      require(depth < 32, s"grok pattern recursion too deep (cycle?) in `$pattern`")
      val sb = new StringBuilder
      var last = 0
      for (m <- GrokRef.findAllMatchIn(pat)) {
        sb.append(neutralize(pat.substring(last, m.start)))
        val base = body(m.group(1))
        def inner: String =
          if (base.contains("%{")) expand(base, depth + 1) else neutralize(base)
        Option(m.group(2)) match {
          case Some(fieldName) =>
            group += 1
            fields += GrokField(fieldName, group, Option(m.group(3)))
            sb.append("(").append(inner).append(")")
          case None =>
            sb.append("(?:").append(inner).append(")")
        }
        last = m.end
      }
      sb.append(neutralize(pat.substring(last)))
      sb.toString
    }
    val regex = expand(pattern, 0)
    GrokSpec(regex, fields.result())
  }

  private def coerce(raw: Column, typ: Option[String]): Column = typ match {
    // a non-participating optional capture (e.g. `(?:-|%{INT:bytes:int})`)
    // surfaces as "" — the reference leaves the field UNSET, so coerce it
    // to null rather than failing the numeric cast
    case Some("int")   => nullif(raw, lit("")).cast("long")
    case Some("float") => nullif(raw, lit("")).cast("double")
    case _             => raw
  }

  /** Apply a grok match to a string column. One-pass: the whole pattern is
    * matched ONCE per row via the RegexExtractStruct kernel (plans/
    * RegexExprs.scala) and every capture read from the resulting struct —
    * vs rlike + one regexp_extract per capture (= k+1 full regex matches).
    * No match (or null input) => null fields + `_grokparsefailure` tag.
    */
  def grok(df: DataFrame, source: String, pattern: String): DataFrame = {
    val spec = compileGrok(pattern)
    if (spec.fields.isEmpty) {
      val matched = coalesce(col(source).rlike(spec.regex), lit(false))
      Mutate.addTagWhen(df, !matched, "_grokparsefailure")
    } else {
      val withG = df.withColumn("_grok_m",
        graft.plans.RegexExprs.extractStruct(col(source), spec.regex, spec.fields.size))
      val withFields = spec.fields.foldLeft(withG) { (d, f) =>
        d.withColumn(f.name, coerce(col("_grok_m").getField(s"g${f.group}"), f.typ))
      }
      Mutate.addTagWhen(withFields, col("_grok_m").isNull, "_grokparsefailure")
        .drop("_grok_m")
    }
  }

  /** The composed-built-ins grok (rlike + per-capture regexp_extract), kept
    * for cross-checking the one-pass kernel byte-for-byte.
    */
  def grokComposed(df: DataFrame, source: String, pattern: String): DataFrame = {
    val spec = compileGrok(pattern)
    val matched = coalesce(col(source).rlike(spec.regex), lit(false))
    val withFields = spec.fields.foldLeft(df) { case (d, f) =>
      d.withColumn(f.name,
        when(matched, coerce(regexp_extract(col(source), spec.regex, f.group), f.typ)))
    }
    Mutate.addTagWhen(withFields, !matched, "_grokparsefailure")
  }

  /** The complete grok config surface (reference grok filter options):
    * `defs` = pattern_definitions (shadow the library, may be composites);
    * `overwrite` = fields a capture may REPLACE when the column already
    * exists — a capture into an existing column NOT listed only fills null
    * slots (the DataFrame analogue of the reference's append-to-array
    * behavior: the original value is never lost; we keep it instead of
    * promoting to an array, which a typed column cannot do);
    * `tagOnFailure` = tags added when no pattern matches;
    * `breakOnMatch` false = every matching pattern contributes its captures
    * (first non-null per field) instead of first-match-wins;
    * `keepEmpty` = the reference's `keep_empty_captures` — with the DEFAULT
    * false, an empty or non-participating capture is NOT set on the event
    * (null here), matching the grok filter's default; true keeps the empty
    * string (the kernel's raw regexp_extract-parity value).
    */
  def grokFull(df: DataFrame, source: String, patterns: Seq[String],
               defs: Map[String, String] = Map.empty,
               overwrite: Set[String] = Set.empty,
               tagOnFailure: Seq[String] = Seq("_grokparsefailure"),
               breakOnMatch: Boolean = true,
               keepEmpty: Boolean = false): DataFrame = {
    val specs = patterns.map(compileGrok(_, defs))
    val withGs = specs.zipWithIndex.foldLeft(df) { case (d, (s, i)) =>
      d.withColumn(s"_gm_$i",
        graft.plans.RegexExprs.extractStruct(col(source), s.regex, s.fields.size))
    }
    val matches = specs.indices.map(i => col(s"_gm_$i").isNotNull)
    val anyMatch = matches.reduce(_ || _)
    // isWinner(i) = pattern i matches and (break_on_match) no earlier one does
    val isWinner = matches.zipWithIndex.map { case (m, i) =>
      if (breakOnMatch) matches.take(i).foldLeft(m)((acc, prev) => acc && !prev) else m
    }
    val fieldNames = specs.flatMap(_.fields.map(_.name)).distinct
    val withFields = fieldNames.foldLeft(withGs) { (d, fname) =>
      val cases = specs.zipWithIndex.flatMap { case (s, i) =>
        s.fields.find(_.name == fname).map { f =>
          val raw = col(s"_gm_$i").getField(s"g${f.group}")
          val kept = if (keepEmpty) raw else nullif(raw, lit(""))
          when(isWinner(i), coerce(kept, f.typ))
        }
      }
      val captured = coalesce(cases: _*)
      val existing = df.columns.contains(fname) && !fname.startsWith("_gm_")
      val v =
        if (!existing) captured
        else if (overwrite.contains(fname)) {
          // overwrite applies only on a successful capture — a failed match
          // never touches the event's existing fields
          coalesce(captured.cast(df.schema(fname).dataType), col(fname))
        } else {
          // fill-nulls-only: cast the capture to the existing column's type
          coalesce(col(fname), captured.cast(df.schema(fname).dataType))
        }
      d.withColumn(fname, v)
    }
    val tagged = tagOnFailure.foldLeft(withFields)((d, t) => Mutate.addTagWhen(d, !anyMatch, t))
    tagged.drop(specs.indices.map(i => s"_gm_$i"): _*)
  }

  /** useragent filter (lite): browser family + version from a UA string —
    * the reference's useragent enrichment without the external regexes.yaml
    * DB (a fixed family list covers the benchmark-case semantics,
    * tools/benchmark-cli cases/apache.cfg:17-24). No match => empty string,
    * matching regexp_extract's contract on both engines.
    */
  def useragent(df: DataFrame, source: String, prefix: String = "ua"): DataFrame =
    df.withColumn(s"${prefix}_name",
        regexp_extract(col(source), "(Chrome|Firefox|Safari|Edge|curl|bot)", 1))
      .withColumn(s"${prefix}_version",
        regexp_extract(col(source), "(?:Chrome|Firefox|Safari|Edge|curl|bot)/([0-9][0-9.]*)", 1))

  /** One entry of a uap-core-style `regexes.yaml` user-agent database
    * (public format: `user_agent_parsers:` list of `regex` +
    * optional `family_replacement` / `v1_replacement`).
    */
  final case class UaParser(regex: String,
                            familyReplacement: Option[String] = None,
                            v1Replacement: Option[String] = None)

  /** Load the `user_agent_parsers` section of a regexes.yaml-format file
    * (minimal reader for the public format: a top-level key, `- key: value`
    * list items, single/double-quoted values). Declaration order preserved —
    * the UA database is first-match-wins.
    */
  def uaParsersFromYaml(path: String): Seq[UaParser] = {
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && ((t.head == '"' && t.last == '"') || (t.head == '\'' && t.last == '\'')))
        t.substring(1, t.length - 1)
      else t
    }
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val out = Seq.newBuilder[UaParser]
      var inSection = false
      var cur: Option[UaParser] = None
      for (raw <- src.getLines(); if raw.trim.nonEmpty && !raw.trim.startsWith("#")) {
        val line = raw.replaceAll("\\s+$", "")
        if (!line.startsWith(" ") && !line.startsWith("-")) {
          cur.foreach(out += _); cur = None
          inSection = line.trim == "user_agent_parsers:"
        } else if (inSection) {
          val t = line.trim
          val (isNew, body) = if (t.startsWith("- ")) (true, t.substring(2)) else (false, t)
          if (isNew) { cur.foreach(out += _); cur = Some(UaParser("")) }
          val i = body.indexOf(':')
          if (i > 0 && cur.isDefined) {
            val (k, v) = (body.substring(0, i).trim, unquote(body.substring(i + 1)))
            cur = cur.map { p =>
              k match {
                case "regex" => p.copy(regex = v)
                case "family_replacement" => p.copy(familyReplacement = Some(v))
                case "v1_replacement" => p.copy(v1Replacement = Some(v))
                case _ => p
              }
            }
          }
        }
      }
      cur.foreach(out += _)
      out.result().filter(_.regex.nonEmpty)
    } finally src.close()
  }

  /** useragent filter over a parser database: FIRST matching parser wins
    * (the uap contract); family = family_replacement (with `$1` group
    * substitution) or capture group 1; major version = v1_replacement or
    * capture group 2 — ALWAYS group 2, regardless of family_replacement
    * (published uap-core semantics), empty when the regex has fewer than 2
    * groups. No match => empty strings (regexp_extract's miss contract,
    * same as [[useragent]]).
    */
  def useragentWith(df: DataFrame, source: String, parsers: Seq[UaParser],
                    prefix: String = "ua"): DataFrame = {
    val src = col(source)
    def groupCount(re: String): Int =
      java.util.regex.Pattern.compile(re).matcher("").groupCount()
    def firstMatch(render: UaParser => Column): Column =
      parsers.foldRight(lit(""): Column) { (p, acc) =>
        when(src.rlike(p.regex), render(p)).otherwise(acc)
      }
    // `$1` in a replacement substitutes capture group 1 (uap-core contract)
    def subst(tpl: String, re: String): Column =
      if (!tpl.contains("$1")) lit(tpl)
      else {
        val parts = tpl.split("\\$1", -1)
        val g1 = if (groupCount(re) >= 1) regexp_extract(src, re, 1) else lit("")
        concat(parts.zipWithIndex.flatMap { case (s, i) =>
          (if (i == 0) Seq.empty[Column] else Seq(g1)) ++
            (if (s.isEmpty) Seq.empty[Column] else Seq(lit(s)))
        }: _*)
      }
    df.withColumn(s"${prefix}_family", firstMatch(p =>
        p.familyReplacement.map(subst(_, p.regex))
          .getOrElse(regexp_extract(src, p.regex, 1))))
      .withColumn(s"${prefix}_major", firstMatch(p =>
        p.v1Replacement.map(lit(_): Column)
          .getOrElse(if (groupCount(p.regex) >= 2) regexp_extract(src, p.regex, 2)
                     else lit(""))))
  }

  // ------------------------------------------------------------------
  // kv / json / csv / date
  // ------------------------------------------------------------------

  /** kv with the full option surface (reference kv filter docs):
    * `trimKey`/`trimValue` strip any of the given CHARACTERS from both ends
    * (reference: character-class trim, not substring); `includeKeys`/
    * `excludeKeys` whitelist/blacklist post-trim key names; `prefix` is
    * prepended last. All pure map higher-order functions — narrow, codegen'd.
    */
  def kvFull(df: DataFrame, source: String, target: String,
             pairSep: String = " ", kvSep: String = "=",
             includeKeys: Seq[String] = Nil, excludeKeys: Seq[String] = Nil,
             trimKey: Option[String] = None, trimValue: Option[String] = None,
             prefix: String = "",
             transformKey: Option[String] = None,
             transformValue: Option[String] = None): DataFrame = {
    def trimClass(chars: String): String =
      "[" + chars.flatMap(c =>
        if ("\\^]-[&".contains(c)) "\\" + c else c.toString) + "]+"
    // reference transform_key/transform_value: lowercase | uppercase | capitalize
    def xform(how: String, c: Column): Column = how match {
      case "lowercase" => lower(c)
      case "uppercase" => upper(c)
      case "capitalize" => initcap(c)
      case other => throw new IllegalArgumentException(
        s"kv transform: `$other` (expected lowercase|uppercase|capitalize)")
    }
    var m = str_to_map(col(source), lit(pairSep), lit(kvSep))
    trimKey.foreach { ch =>
      val re = s"^${trimClass(ch)}|${trimClass(ch)}$$"
      m = transform_keys(m, (k, _) => regexp_replace(k, re, ""))
    }
    trimValue.foreach { ch =>
      val re = s"^${trimClass(ch)}|${trimClass(ch)}$$"
      m = transform_values(m, (_, v) => regexp_replace(v, re, ""))
    }
    transformKey.foreach(h => m = transform_keys(m, (k, _) => xform(h, k)))
    transformValue.foreach(h => m = transform_values(m, (_, v) => xform(h, v)))
    if (includeKeys.nonEmpty)
      m = map_filter(m, (k, _) => k.isin(includeKeys.map(x => x: Any): _*))
    if (excludeKeys.nonEmpty)
      m = map_filter(m, (k, _) => !k.isin(excludeKeys.map(x => x: Any): _*))
    if (prefix.nonEmpty)
      m = transform_keys(m, (k, _) => concat(lit(prefix), k))
    df.withColumn(target, m)
  }

  /** xml filter (reference logstash-filter-xml): parse an XML string field
    * into a struct target. Schema is EXPLICIT (DDL string) — same
    * no-inference-double-scan stance as the json filter; Spark 4's native
    * from_xml does the codegen'd parse.
    */
  def xml(df: DataFrame, source: String, target: String, schemaDdl: String): DataFrame =
    df.withColumn(target, from_xml(col(source), schemaDdl,
      new java.util.HashMap[String, String]()))

  /** json filter: parse a JSON string field into a struct target. */
  def json(df: DataFrame, source: String, target: String, schemaDdl: String): DataFrame =
    df.withColumn(target,
      from_json(col(source), org.apache.spark.sql.types.DataType.fromDDL(schemaDdl)))

  /** csv filter: positional parse with column names. */
  def csv(df: DataFrame, source: String, names: Seq[String], sep: String = ","): DataFrame =
    dissectString(df, source, sep, names)

  /** date filter: try formats in order, first success wins; failure =>
    * `_dateparsefailure` tag (reference date-filter contract). `timezone`
    * supplies the zone for formats that carry none (the reference date
    * filter's `timezone` option): the parsed wall time is interpreted in
    * that zone and stored as UTC.
    */
  def date(df: DataFrame, source: String, target: String, formats: Seq[String],
           timezone: Option[String] = None): DataFrame = {
    val raw = coalesce(formats.map(f => try_to_timestamp(col(source), lit(f))): _*)
    val parsed = timezone.fold(raw)(tz => to_utc_timestamp(raw, tz))
    val out = df.withColumn(target, parsed)
    Mutate.addTagWhen(out, parsed.isNull && col(source).isNotNull, "_dateparsefailure")
  }
}
