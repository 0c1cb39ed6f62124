package graft.lscl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.conditions._
import graft.model.FieldRef
import graft.operators.{Enrich, Extras, Mutate, Parse, Route, Stateful}
import graft.lscl.Lscl._

/** Lowers parsed LSCL to the engine: condition AST -> [[graft.conditions.Cond]],
  * filter sections -> conditional DataFrame transforms, output sections ->
  * [[graft.operators.Route.SinkSpec]]s.
  *
  * Reference semantics: each branch arm applies to rows satisfying its
  * condition AND none of the preceding arms' conditions (the two-valued
  * SplitDataset/Complement pair, DatasetCompiler.java); literal-vs-literal
  * conditions fold to constants at compile time exactly like the reference's
  * `compareConstants`/`constant(...)` (EventCondition.java:396,422-425); an
  * invalid regex pattern compiles to constant false (condition error =>
  * cancelled event => false branch).
  */
object LsclRun {

  // ---------------- condition lowering ----------------

  private def fieldName(ref: String): String = {
    val r = FieldRef.parse(ref)
    if (r.meta) "_meta_" + r.path.mkString("_") else r.path.mkString(".")
  }

  private def litVal(v: Value): Any = v match {
    case VString(s) => s
    case VNumber(d, true) => d.toLong
    case VNumber(d, false) => d
    case VBool(b) => b
    case other => throw new IllegalArgumentException(s"not a scalar literal: $other")
  }

  private def str(v: Any): String = String.valueOf(v)

  /** Ruby-semantics static equality of two condition constants. */
  private def staticEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) => x.doubleValue == y.doubleValue
    case _ => a == b // type-strict otherwise: "100" != 100
  }

  /** Ruby-semantics static ordering; None = incomparable (event cancel). */
  private def staticCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number) => Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  private def constCond(b: Boolean): Cond = if (b) True else False

  private def mkCompare(op: String, f: String, v: Any): Cond = op match {
    case "==" => Eq(f, v)
    case "!=" => Neq(f, v)
    case ">"  => Gt(f, v)
    case ">=" => Gte(f, v)
    case "<"  => Lt(f, v)
    case "<=" => Lte(f, v)
  }

  private def flip(op: String): String = op match {
    case ">" => "<"
    case ">=" => "<="
    case "<" => ">"
    case "<=" => ">="
    case other => other // == and != are symmetric
  }

  private def regexCompiles(p: String): Boolean =
    try { java.util.regex.Pattern.compile(p); true }
    catch { case _: java.util.regex.PatternSyntaxException => false }

  /** Lower the parsed condition AST to the verified Cond algebra. */
  def lowerCond(e: Expr): Cond = e match {
    case EBool("and", a, b)  => And(lowerCond(a), lowerCond(b))
    case EBool("or", a, b)   => Or(lowerCond(a), lowerCond(b))
    case EBool("xor", a, b)  => Xor(lowerCond(a), lowerCond(b))
    case EBool("nand", a, b) => Nand(lowerCond(a), lowerCond(b))
    case EBool(op, _, _)     => throw new IllegalArgumentException(s"bad bool op $op")
    case ENot(a) => Not(lowerCond(a))

    case ETruthy(OSelector(ref)) => Truthy(fieldName(ref))
    case ETruthy(OLiteral(v)) => v match {
      case VString(s) => constCond(s.nonEmpty && s != "false")
      case VBool(b)   => constCond(b)
      case VNumber(_, _) => True // any number is truthy in Ruby (even 0)
      case _ => True
    }
    case ETruthy(OList(_)) => True

    case ECompare(l, op, r) => (l, r) match {
      case (OSelector(f), OLiteral(v)) => mkCompare(op, fieldName(f), litVal(v))
      case (OLiteral(v), OSelector(f)) => mkCompare(flip(op), fieldName(f), litVal(v))
      case (OLiteral(a), OLiteral(b)) =>
        val (x, y) = (litVal(a), litVal(b))
        op match {
          case "==" => constCond(staticEq(x, y))
          case "!=" => constCond(!staticEq(x, y))
          case _ => constCond(staticCmp(x, y).exists(c => op match {
            case ">" => c > 0; case ">=" => c >= 0; case "<" => c < 0; case _ => c <= 0
          }))
        }
      case (OSelector(lf), OSelector(rf)) =>
        val (a, b) = (fieldName(lf), fieldName(rf))
        op match {
          case "==" => EqFields(a, b)
          case "!=" => Not(EqFields(a, b))
          case other => OrderFields(other, a, b)
        }
      case _ => False // list literals are not comparable operands
    }

    case ERegex(l, pat, negate) =>
      val base: Cond = l match {
        case OSelector(f) =>
          // a pattern the engine cannot compile = condition error = cancel
          // (false) — for BOTH =~ and !~ (the error happens before negation)
          if (!regexCompiles(pat)) return False
          if (negate) RegexNoMatch(fieldName(f), pat) else RegexMatch(fieldName(f), pat)
        case OLiteral(VString(s)) =>
          if (!regexCompiles(pat)) return False
          val m = java.util.regex.Pattern.compile(pat).matcher(s).find()
          constCond(if (negate) !m else m)
        case _ => if (negate) True else False
      }
      base

    case EIn(l, r, negate) =>
      val base: Cond = (l, r) match {
        case (OSelector(f), OLiteral(VString(s))) => InConstStr(fieldName(f), s)
        case (OSelector(f), OList(vs)) => InList(fieldName(f), vs.map(litVal))
        case (OSelector(lf), OSelector(rf)) => InField(fieldName(lf), fieldName(rf))
        case (OLiteral(VString(s)), OSelector(f)) => ConstInField(s, fieldName(f))
        case (OLiteral(a), OSelector(f)) => ConstInField(str(litVal(a)), fieldName(f))
        case (OLiteral(a), OLiteral(VString(s))) => litVal(a) match {
          case x: String => constCond(s.contains(x))
          case _ => False // type-strict: non-string never substring-matches
        }
        case (OLiteral(a), OList(vs)) =>
          constCond(vs.map(litVal).exists(v => str(v) == str(litVal(a))))
        case _ => False
      }
      if (negate) Not(base) else base
  }

  // ---------------- filter interpreter ----------------

  /** Apply a parsed `filter` section to a frame. EVERY supported plugin now
    * applies CONDITIONALLY under branch predicates: row-wise value plugins
    * (mutate, drop, json, translate, throttle, ...) via direct when/otherwise
    * gating; extraction/enrich plugins (grok, dissect, kv, csv, xml, date,
    * fingerprint, uuid, geoip, dns, useragent, jdbc_static, elapsed) via
    * [[gatedRowwise]] snapshot-merge; fan-out plugins (split, clone) via
    * gated explode; stream-reshaping plugins (metrics, aggregate) by
    * restricting the aggregated subset to matching rows. Where a per-event
    * dynamic type has no single-typed-column analogue the value normalizes
    * through the target type (conditional convert/split/join) — documented
    * at each site.
    *
    * Branch predicates are MATERIALIZED as boolean columns on the frame as
    * it stands when the branch is entered (reference SplitDataset semantics,
    * DatasetCompiler.java): each arm condition is evaluated exactly once, so
    * a body that mutates a field its own condition reads cannot retro-change
    * the routing, and else-if exclusions always see pre-block values.
    */
  def applyFilters(df: DataFrame, items: Seq[Item]): DataFrame =
    applyItems(df, items, None, new java.util.concurrent.atomic.AtomicInteger(0))

  /** The LSCL-lowerable plugin inventory by section — what `GET
    * /_node/plugins` (api/modules/plugins.rb) reports as installed.
    * Fail-loud names (ruby, sleep, memcached, elastic_integration, email,
    * redis, rabbitmq, jms, twitter, azure_event_hubs, snmp poller) are
    * deliberately absent: the reference's plugin list only shows what can
    * actually run. The FILTER section is drift-tested against the dispatch
    * (ApiServerSpec lowers every name); input/output/codec entries are
    * curated by hand — when touching a dispatch `case` in this file, update
    * this map.
    */
  val pluginInventory: Map[String, Seq[String]] = Map(
    "input" -> Seq("beats", "couchdb_changes", "dead_letter_queue",
      "elastic_serverless_forwarder", "elasticsearch", "exec", "file",
      "ganglia", "gelf", "generator", "graphite", "heartbeat", "http",
      "http_poller", "java_stdin", "jdbc", "kafka", "logstash", "pipe",
      "pipeline", "relp", "snmptrap", "stdin", "syslog", "tcp", "udp", "unix"),
    "filter" -> Seq("age", "aggregate", "alter", "anonymize", "bytes", "cidr",
      "cipher", "clone", "csv", "date", "de_dot", "dissect", "dns", "drop",
      "elapsed", "elasticsearch", "environment", "extractnumbers",
      "fingerprint", "geoip", "grok", "http", "i18n", "jdbc_static",
      "jdbc_streaming", "json", "json_encode", "kv", "math", "metricize",
      "metrics", "mutate", "prune", "punct", "range", "split", "syslog_pri",
      "throttle", "tld", "translate", "truncate", "urldecode", "useragent",
      "uuid", "xml", "yaml"),
    "output" -> Seq("csv", "elasticsearch", "exec", "file", "gelf", "graphite",
      "http", "kafka", "logstash", "lumberjack", "nagios", "null", "opentsdb",
      "pipe", "pipeline", "statsd", "stdout", "syslog", "tcp", "udp",
      "webhdfs", "zabbix"),
    "codec" -> Seq("avro", "cef", "collectd", "csv", "dots", "edn",
      "edn_lines", "es_bulk", "fluent", "ganglia", "gelf", "graphite", "json",
      "json_lines", "line", "msgpack", "multiline", "netflow", "plain",
      "protobuf", "rubydebug", "snmptrap"))

  private def applyItems(df0: DataFrame, items: Seq[Item], pathCol: Option[String],
                         ctr: java.util.concurrent.atomic.AtomicInteger): DataFrame =
    items.foldLeft(df0) {
      case (df, PluginItem(p)) => applyPlugin(df, p, pathCol)
      case (df, Branch(arms, otherwise)) =>
        val lowered = arms.map { case (e, body) => (lowerCond(e), body) }
        // constant-folded always-true single arm stays top-level (schema
        // plugins remain legal inside `if 1 == 1 { ... }`)
        if (pathCol.isEmpty && lowered.size == 1 && otherwise.isEmpty && lowered.head._1 == True)
          applyItems(df, lowered.head._2, None, ctr)
        else {
          val base: Column = pathCol.map(col).getOrElse(lit(true))
          val id = ctr.getAndIncrement()
          val armNames = lowered.indices.map(k => s"__lscl_c${id}_$k")
          var acc = df
          var taken: Column = lit(false)
          lowered.zip(armNames).foreach { case ((c, _), n) =>
            val p = Cond.predicateFor(df, c) // pre-block frame semantics
            acc = acc.withColumn(n, base && !taken && p)
            taken = taken || p
          }
          val elseName = s"__lscl_c${id}_else"
          acc = acc.withColumn(elseName, base && !taken)
          lowered.map(_._2).zip(armNames).foreach { case (body, n) =>
            acc = applyItems(acc, body, Some(n), ctr)
          }
          if (otherwise.nonEmpty) acc = applyItems(acc, otherwise, Some(elseName), ctr)
          acc.drop(armNames :+ elseName: _*)
        }
    }

  private def strAttr(p: Plugin, name: String): Option[String] =
    p.attr(name).map {
      case VString(s) => s
      case VNumber(d, true) => d.toLong.toString
      case VNumber(d, false) => d.toString
      case VBool(b) => b.toString
      case other => throw new IllegalArgumentException(s"$name: expected scalar, got $other")
    }

  private def strList(v: Value): Seq[String] = v match {
    case VList(items) => items.map { case VString(s) => s; case other => str(litVal(other)) }
    case VString(s) => Seq(s)
    case other => Seq(str(litVal(other)))
  }

  /** The shared decorator surface every filter plugin carries
    * (add_field/remove_field/add_tag/remove_tag, fixed reference order).
    */
  private def decoratorOf(p: Plugin): Mutate.Decorator = Mutate.Decorator(
    addField = p.attr("add_field") match {
      case Some(VHash(entries)) => entries.map { case (k, v) => k -> str(litVal(v)) }
      case _ => Nil
    },
    removeField = p.attr("remove_field").map(strList).getOrElse(Nil),
    addTag = p.attr("add_tag").map(strList).getOrElse(Nil),
    removeTag = p.attr("remove_tag").map(strList).getOrElse(Nil))

  /** Run a ROW-COUNT-PRESERVING filter transform under a branch predicate —
    * the engine's general form of the reference's IfVertex split
    * (DatasetCompiler.java:58-119, CommonActions.java:50-73): the reference
    * routes matching events through the filter and unions the streams back;
    * here the filter runs over the whole frame as ONE plan and every column
    * it touched is predicate-gated afterwards.
    *
    * Mechanism: snapshot every pre-existing column, apply `f`, then for each
    * column whose attribute CHANGED (fresh exprId — untouched pass-through
    * attributes are skipped, so a wide frame pays only for the columns the
    * plugin wrote) emit `when(pred, new).otherwise(snapshot)`; columns the
    * transform INTRODUCED are null on unmatched rows. Failure tags gate for
    * free — `tags` is itself a column, so unmatched rows keep their
    * pre-transform tags. All pure projections: no extra pass, no shuffle
    * beyond whatever `f` itself does (and `f`'s joins/windows stay keyed as
    * designed — unmatched rows ride along as null-key/no-op rows).
    *
    * Type contract: a changed column must unify with its snapshot under
    * when/otherwise — incompatible types fail loudly in analysis (same
    * stance as conditional mutate convert).
    */
  private def gatedRowwise(df: DataFrame, cond: Option[String])
                          (f: DataFrame => DataFrame): DataFrame = cond match {
    case None => f(df)
    case Some(c) =>
      val m = col(c)
      val orig = df.columns.toSeq
      val pre = orig.zipWithIndex.map { case (n, i) => n -> s"__lscl_pre_$i" }.toMap
      val snap = orig.foldLeft(df)((d, n) => d.withColumn(pre(n), col(n)))
      val out = f(snap)
      val snapIds = snap.queryExecution.analyzed.output.map(a => a.name -> a.exprId).toMap
      val merged = out.queryExecution.analyzed.output
        .filterNot(a => a.name.startsWith("__lscl_pre_"))
        .filterNot(a => snapIds.get(a.name).contains(a.exprId)) // untouched
        .map(_.name).distinct
        .foldLeft(out) { (d, n) =>
          if (pre.contains(n)) d.withColumn(n, when(m, col(n)).otherwise(col(pre(n))))
          else d.withColumn(n, when(m, col(n)))
        }
      merged.drop(pre.values.toSeq: _*)
  }

  /** json parse. With an explicit `schema` (a Spark DDL string, e.g.
    * `"lvl STRING, n BIGINT"`) the parse is a single narrow pass — the 100 TB
    * path. Without one, the schema is INFERRED by a full extra scan (the
    * reference's schemaless parse) — acceptable only at exploration scale,
    * so prefer the DDL attribute in any real config. No target -> fields
    * expand to top level.
    */
  private def jsonParse(df: DataFrame, source: String, target: Option[String],
                        m: Column, schemaDdl: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val schema = schemaDdl match {
      case Some(ddl) => org.apache.spark.sql.types.StructType.fromDDL(ddl)
      case None => spark.read.json(df.select(col(source)).na.drop.as[String]).schema
    }
    target match {
      case Some(t) =>
        df.withColumn(t, when(m, from_json(col(source), schema)))
      case None =>
        val parsed = df.withColumn("_json_tmp", from_json(col(source), schema))
        val expanded = schema.fields.foldLeft(parsed) { (d, f) =>
          val v = when(m, col("_json_tmp").getField(f.name))
            .otherwise(if (d.columns.contains(f.name)) col(f.name) else lit(null))
          d.withColumn(f.name, v)
        }
        // ingest hygiene (Event.java:100-130): a top-level parse that
        // produced reserved fields gets the reference's reject-don't-crash
        // treatment — illegal tags move to _tags, unparseable @timestamp
        // strings tag + preserve the original
        val dropped = expanded.drop("_json_tmp")
        if (schema.fieldNames.contains("tags") || schema.fieldNames.contains("@timestamp"))
          Mutate.reservedFieldHygiene(dropped)
        else dropped
    }
  }

  private def applyPlugin(df: DataFrame, p: Plugin, cond: Option[String]): DataFrame = {
    lazy val m: Column = cond.map(col).getOrElse(lit(true))
    p.name match {
      case "mutate" => applyMutate(df, p, cond)

      case "drop" =>
        val pct = strAttr(p, "percentage").map(_.toDouble).getOrElse(100.0)
        Mutate.drop(df, m, pct,
          keyCol = if (df.columns.contains("doc_id")) "doc_id" else df.columns.head)

      case "json" =>
        val source = strAttr(p, "source").getOrElse(
          throw new IllegalArgumentException("json: source required"))
        jsonParse(df, source, strAttr(p, "target"), m,
          strAttr(p, "schema").orElse(strAttr(p, "target_schema")))

      case "yaml" =>
        // logstash-filter-yaml: YAML.load(source) -> fields (or `target`),
        // parse failure tags _yamlparsefailure. Lowered as a codegen'd
        // YAML->JSON transcode (YamlOps, SafeConstructor) feeding the SAME
        // schema'd expansion as the json filter — one narrow pass with an
        // explicit `schema` DDL, inference double-scan otherwise.
        val source = strAttr(p, "source").getOrElse("message")
        val tagFail = p.attr("tag_on_failure").map(strList)
          .getOrElse(Seq("_yamlparsefailure"))
        val tmp = "__lscl_yaml_json"
        val transcoded = df.withColumn(tmp,
          graft.plans.YamlExprs.yamlToJson(col(source)))
        val failed = m && col(source).isNotNull && col(tmp).isNull
        val parsed = jsonParse(transcoded, tmp, strAttr(p, "target"), m,
          strAttr(p, "schema").orElse(strAttr(p, "target_schema")))
        tagFail.foldLeft(parsed)((d, t) => Mutate.addTagWhen(d, failed, t))
          .drop(tmp)

      case "translate" =>
        val source = strAttr(p, "source").orElse(strAttr(p, "field")).getOrElse(
          throw new IllegalArgumentException("translate: source required"))
        val target = strAttr(p, "target").getOrElse("translation")
        val dict = p.attr("dictionary") match {
          case Some(VHash(entries)) => entries.map { case (k, v) => k -> str(litVal(v)) }
          case _ => strAttr(p, "dictionary_path") match {
            case Some(path) if path.endsWith(".yml") || path.endsWith(".yaml") =>
              Enrich.yamlDict(path)
            case Some(path) if path.endsWith(".csv") => // 2-column, no header
              val src = scala.io.Source.fromFile(path, "UTF-8")
              try src.getLines().filter(_.nonEmpty).map { l =>
                val i = l.indexOf(','); l.substring(0, i) -> l.substring(i + 1)
              }.toList finally src.close()
            case other => throw new IllegalArgumentException(
              s"translate: inline dictionary or .yml/.csv dictionary_path required, got $other")
          }
        }
        val base: Column = Enrich.translateColumn(col(source), dict,
          regex = strAttr(p, "regex").contains("true"),
          exact = !strAttr(p, "exact").contains("false"),
          fallback = strAttr(p, "fallback"))
        df.withColumn(target,
          when(m, base).otherwise(if (df.columns.contains(target)) col(target) else lit(null)))

      case "grok" =>
        val defs = p.attr("pattern_definitions") match {
          case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }.toMap
          case _ => Map.empty[String, String]
        }
        val overwrite = p.attr("overwrite").map(strList).getOrElse(Nil).toSet
        val tagFail = p.attr("tag_on_failure").map(strList)
          .getOrElse(Seq("_grokparsefailure"))
        val breakOn = !strAttr(p, "break_on_match").contains("false")
        val keepEmpty = strAttr(p, "keep_empty_captures").contains("true")
        p.attr("match") match {
          case Some(VHash(Seq((field, v)))) =>
            gatedRowwise(df, cond)(d =>
              Parse.grokFull(d, field, strList(v), defs, overwrite, tagFail, breakOn,
                keepEmpty))
          case other => throw new IllegalArgumentException(s"grok: unsupported match $other")
        }

      case "dissect" =>
        p.attr("mapping") match {
          case Some(VHash(Seq((field, VString(pattern))))) =>
            gatedRowwise(df, cond)(d => Parse.dissect(d, field, pattern))
          case other => throw new IllegalArgumentException(s"dissect: unsupported mapping $other")
        }

      case "kv" =>
        val source = strAttr(p, "source").getOrElse("message")
        gatedRowwise(df, cond)(d => Parse.kvFull(d, source, strAttr(p, "target").getOrElse("kv"),
          pairSep = strAttr(p, "field_split").getOrElse(" "),
          kvSep = strAttr(p, "value_split").getOrElse("="),
          includeKeys = p.attr("include_keys").map(strList).getOrElse(Nil),
          excludeKeys = p.attr("exclude_keys").map(strList).getOrElse(Nil),
          trimKey = strAttr(p, "trim_key"),
          trimValue = strAttr(p, "trim_value"),
          prefix = strAttr(p, "prefix").getOrElse(""),
          transformKey = strAttr(p, "transform_key"),
          transformValue = strAttr(p, "transform_value")))

      case "csv" =>
        val source = strAttr(p, "source").getOrElse("message")
        val sep = strAttr(p, "separator").getOrElse(",")
        val autodetect = strAttr(p, "autodetect_column_names").contains("true")
        if (!autodetect) {
          val names = p.attr("columns").map(strList).getOrElse(
            throw new IllegalArgumentException("csv: columns (or autodetect_column_names) required"))
          gatedRowwise(df, cond)(d => Parse.csv(d, source, names, sep))
        } else {
          // reference autodetect: the FIRST event's values become the column
          // names. "First" needs a stable order on a multi-partition frame —
          // key every row with a deterministic ordinal, detect from the
          // minimum-ordinal row (a one-row driver peek), and let skip_header
          // drop exactly THAT event (never other rows that happen to equal
          // the header string). The keyed frame is PERSISTED before the peek:
          // monotonically_increasing_id is only repeatable when the upstream
          // partitioning is — after a shuffle/union the peek job and the
          // skip_header job could otherwise see different ordinals.
          val keyed = graft.plans.CacheScope.persist(
            df.withColumn("_csv_ord", monotonically_increasing_id()))
          // under a conditional the filter only ever SEES matching events —
          // the header is the first MATCHED row, and only that row is skipped
          val visible = cond.map(c => keyed.filter(col(c))).getOrElse(keyed)
          val head = visible.orderBy(col("_csv_ord")).select(col(source), col("_csv_ord"))
            .limit(1).collect().headOption
            .getOrElse(throw new IllegalArgumentException("csv autodetect: empty input"))
          val names = head.getString(0).split(java.util.regex.Pattern.quote(sep), -1).toSeq
          val parsed = gatedRowwise(keyed, cond)(d => Parse.csv(d, source, names, sep))
          (if (strAttr(p, "skip_header").forall(_ == "true"))
            parsed.filter(col("_csv_ord") =!= head.getLong(1))
          else parsed).drop("_csv_ord")
        }

      case "xml" =>
        val source = strAttr(p, "source").getOrElse("message")
        val schema = strAttr(p, "schema").getOrElse(throw new IllegalArgumentException(
          "xml: schema (DDL) required — inference would double-scan the input"))
        gatedRowwise(df, cond)(d =>
          Parse.xml(d, source, strAttr(p, "target").getOrElse("xml"), schema))

      case "date" =>
        p.attr("match") match {
          case Some(v) =>
            val parts = strList(v)
            // reference formats are Joda (YYYY = plain year, ZZ = +00:00
            // offset): translate run-aware, skipping quoted literals —
            // a blunt String.replace would corrupt quoted text containing
            // YYYY or rewrite ZZZ into XXXZ
            val formats = parts.tail.map(Mutate.jodaToJava)
            gatedRowwise(df, cond)(d =>
              Parse.date(d, parts.head, strAttr(p, "target").getOrElse("@timestamp"),
                formats, timezone = strAttr(p, "timezone")))
          case None => throw new IllegalArgumentException("date: match required")
        }

      case "fingerprint" =>
        val fields = p.attr("source").map(strList).getOrElse(
          throw new IllegalArgumentException("fingerprint: source required"))
        gatedRowwise(df, cond)(d => Mutate.fingerprint(d, fields,
          strAttr(p, "target").getOrElse("fingerprint"),
          strAttr(p, "method").getOrElse("sha256").toLowerCase match {
            case "md5" => "md5"; case "murmur3" | "murmur" => "murmur"
            case "xx64" => "xx64"; case _ => "sha256"
          }))

      case "prune" =>
        val wl = p.attr("whitelist_names").map(strList).map(_.mkString("|"))
        val bl = p.attr("blacklist_names").map(strList).map(_.mkString("|"))
        cond match {
          case None => Mutate.prune(df, whitelist = wl, blacklist = bl)
          case Some(_) =>
            // per-event field removal: a column cannot be conditionally
            // dropped, so matched rows NULL the pruned fields (the same
            // convention as the decorator's conditional remove_field)
            val dropped = df.columns.filterNot(_.startsWith("__lscl_")).filterNot { c =>
              wl.forall(pat => c.matches(pat)) && !bl.exists(pat => c.matches(pat))
            }
            dropped.foldLeft(df)((d, c) =>
              d.withColumn(c, when(m, lit(null)).otherwise(col(c))))
        }

      case "truncate" =>
        val len = strAttr(p, "length_bytes").map(_.toInt).getOrElse(
          throw new IllegalArgumentException("truncate: length_bytes required"))
        p.attr("fields").map(strList).getOrElse(Nil).foldLeft(df) { (d, f) =>
          d.withColumn(f, when(m, substring(col(f), 1, len)).otherwise(col(f)))
        }

      case "uuid" =>
        gatedRowwise(df, cond)(d =>
          Mutate.uuidField(d, strAttr(p, "target").getOrElse("uuid"),
            overwrite = strAttr(p, "overwrite").forall(_ == "true")))

      case "clone" =>
        val types = p.attr("clones").map(strList).getOrElse(Nil)
        cond match {
          case None => Stateful.cloneEvents(df, types)
          case Some(_) =>
            // matched events fan out (original + one clone per type, like the
            // top-level form); unmatched events pass through exactly once
            // with their `type` untouched (null when absent)
            val existing: Column =
              if (df.columns.contains("type")) col("type").cast("string")
              else lit(null).cast("string")
            val variants = array((lit(null).cast("string") +: types.map(lit(_).cast("string"))): _*)
            df.withColumn("type", explode(when(m, variants).otherwise(array(existing))))
        }

      case "split" =>
        val field = strAttr(p, "field").getOrElse("message")
        val target = strAttr(p, "target").getOrElse(field)
        df.schema(field).dataType match {
          case at: org.apache.spark.sql.types.ArrayType =>
            cond match {
              case None => Stateful.splitField(df, field, target)
              case Some(_) =>
                // gated fan-out: matched rows explode; unmatched keep one row
                // with a null target. target == field would need the column
                // to be both array (unmatched) and element (matched) — no
                // typed analogue, fail loudly.
                require(target != field,
                  "split under a conditional needs an explicit target != field " +
                    "for array sources (a column cannot be conditionally un-nested)")
                df.withColumn(target,
                  explode(when(m, col(field))
                    .otherwise(array(lit(null).cast(at.elementType)))))
            }
          case _ =>
            // reference default: a STRING field splits on `terminator`
            // (default "\n") and fans out one event per piece. Under a
            // conditional, unmatched rows pass through as a single piece
            // (their original value — element type matches).
            val term = strAttr(p, "terminator").getOrElse("\n")
            val pieces = split(col(field), java.util.regex.Pattern.quote(term))
            val unmatchedArr =
              if (target == field) array(col(field))
              else array(lit(null).cast("string"))
            df.withColumn(target, explode(when(m, pieces).otherwise(unmatchedArr)))
        }

      case "urldecode" =>
        val f = strAttr(p, "field").getOrElse("message")
        df.withColumn(f, when(m, url_decode(col(f))).otherwise(col(f)))

      case "de_dot" =>
        cond match {
          case None => Mutate.deDot(df)
          case Some(_) =>
            // per-event rename = the same predicate-gated column merge as
            // conditional mutate rename: dest takes the dotted column's value
            // on matched rows, source nulls out there
            df.columns.filter(_.contains(".")).foldLeft(df) { (d, c) =>
              val dst = c.replace(".", "_")
              val destCur = if (d.columns.contains(dst)) col(dst) else lit(null)
              d.withColumn(dst, when(m, d.col(s"`$c`")).otherwise(destCur))
                .withColumn(c, when(m, lit(null)).otherwise(d.col(s"`$c`")))
            }
        }

      case "geoip" =>
        val source = strAttr(p, "source").getOrElse(
          throw new IllegalArgumentException("geoip: source required"))
        // no `database` attr: the reference falls back to its bundled GeoLite2
        // city db; our analogue is the session-level default mmdb path
        val db = strAttr(p, "database").orElse(sys.props.get("graft.geoip.default_db"))
          .getOrElse(throw new IllegalArgumentException(
            "geoip: database (mmdb path) required — set the `database` attribute " +
              "or the `graft.geoip.default_db` system property"))
        val as = strAttr(p, "target").getOrElse("geo") + "_country_iso"
        gatedRowwise(df, cond)(d => Enrich.geoLookup(d, source,
          Enrich.geoRangesFromMmdb(d.sparkSession, db, Seq("country", "iso_code"), as)))

      case "dns" =>
        // hostsfile mode (the filter's deterministic variant): resolve/
        // reverse fields against an /etc/hosts-format table
        val hostsPath = strAttr(p, "hostsfile").getOrElse(
          throw new IllegalArgumentException(
            "dns: hostsfile required (nameserver lookups need a resolver dimension)"))
        val hosts = Enrich.hostsTable(df.sparkSession, hostsPath)
        val action = strAttr(p, "action").getOrElse("replace")
        val tagFail = p.attr("tag_on_failure").map(strList).getOrElse(Nil)
        gatedRowwise(df, cond) { d0 =>
          var out = d0
          p.attr("resolve").map(strList).getOrElse(Nil).foreach { f =>
            out = Enrich.dns(out, f, hosts, reverse = false, action, tagFail)
          }
          p.attr("reverse").map(strList).getOrElse(Nil).foreach { f =>
            out = Enrich.dns(out, f, hosts, reverse = true, action, tagFail)
          }
          out
        }

      case "useragent" =>
        val source = strAttr(p, "source").getOrElse(
          throw new IllegalArgumentException("useragent: source required"))
        gatedRowwise(df, cond)(d => strAttr(p, "regexes") match {
          case Some(path) =>
            Parse.useragentWith(d, source, Parse.uaParsersFromYaml(path),
              strAttr(p, "target").getOrElse("ua"))
          case None => Parse.useragent(d, source, strAttr(p, "target").getOrElse("ua"))
        })

      case "jdbc_static" =>
        // The reference filter's actual model is loaders that pre-materialize
        // a remote table into a LOCAL store plus local_lookups that join
        // events against it (transforming-data.asciidoc:364-425). The remote
        // half (a live JDBC connection) is out of scope in this sandbox; the
        // local half maps exactly onto a broadcast dimension join —
        // `dimension_path` IS the pre-materialized local table (csv with
        // header / json_lines / parquet by extension). `target` packs the
        // projected columns as a struct (null on miss, the typed analogue of
        // the reference's empty-array miss); without it the columns append
        // top-level. Duplicate dimension keys multiply rows like any join —
        // dimensions are expected 1:0/1 keyed, as the reference's lookups are.
        val dimPath = strAttr(p, "dimension_path").getOrElse(
          throw new IllegalArgumentException(
            "jdbc_static: dimension_path required (the pre-materialized local table)"))
        val lookupKey = strAttr(p, "lookup_key").getOrElse(
          throw new IllegalArgumentException("jdbc_static: lookup_key required"))
        val dimKey = strAttr(p, "dimension_key").getOrElse(lookupKey)
        val spark = df.sparkSession
        val dim0 =
          if (dimPath.endsWith(".csv")) Enrich.dictFromCsv(spark, dimPath)
          else if (dimPath.endsWith(".json") || dimPath.endsWith(".jsonl"))
            Enrich.dictFromJsonLines(spark, dimPath)
          else spark.read.parquet(dimPath)
        val cols = p.attr("columns").map(strList)
          .getOrElse(dim0.columns.filterNot(_ == dimKey).toSeq)
        gatedRowwise(df, cond)(d => strAttr(p, "target") match {
          case Some(t) =>
            val packed = dim0.select(col(dimKey).as(lookupKey),
              struct(cols.map(col): _*).as(t))
            Enrich.lookup(d, packed, lookupKey)
          case None =>
            Enrich.lookup(d,
              dim0.select((col(dimKey).as(lookupKey) +: cols.map(col)).toIndexedSeq: _*),
              lookupKey)
        })

      case "jdbc_streaming" =>
        // logstash-filter-jdbc_streaming: a parameterized SELECT per event
        // (with a local LRU cache), result = a LIST of rows in `target`.
        // Distributed model: the same pre-materialized local dimension as
        // jdbc_static, joined on the `parameters` equalities — but the 1:N
        // result collects into an ARRAY per key group BEFORE the broadcast
        // join, so the enrich stays row-count preserving (the reference's
        // list semantics) and the exchange volume is dimension-sized.
        // The `statement` text rides along as documentation; the local
        // model's WHERE clause IS the parameter equality set.
        val dimPath = strAttr(p, "dimension_path").getOrElse(
          throw new IllegalArgumentException(
            "jdbc_streaming: dimension_path required (the pre-materialized local table)"))
        val params = p.attr("parameters") match {
          case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
          case _ => throw new IllegalArgumentException(
            "jdbc_streaming: parameters hash (dimension_col => event_field) required")
        }
        val target = strAttr(p, "target").getOrElse("lookup_result")
        val spark = df.sparkSession
        val dim0 =
          if (dimPath.endsWith(".csv")) Enrich.dictFromCsv(spark, dimPath)
          else if (dimPath.endsWith(".json") || dimPath.endsWith(".jsonl"))
            Enrich.dictFromJsonLines(spark, dimPath)
          else spark.read.parquet(dimPath)
        val resultCols = p.attr("columns").map(strList)
          .getOrElse(dim0.columns.filterNot(c => params.exists(_._1 == c)).toSeq)
        // array_sort: collect_list order is partition-dependent; the
        // reference's row order is equally unspecified (no ORDER BY in the
        // statement contract), so sorted = deterministic without divergence
        val grouped = dim0.groupBy(params.map(kv => col(kv._1)): _*)
          .agg(array_sort(collect_list(struct(resultCols.map(col): _*))).as(target))
          .select(params.map { case (dk, ef) => col(dk).as(ef) } :+ col(target): _*)
        gatedRowwise(df, cond) { d =>
          val joined = d.join(broadcast(grouped), params.map(_._2), "left")
          // miss => empty list (the reference's no-default behavior)
          joined.withColumn(target,
            coalesce(col(target), array().cast(joined.schema(target).dataType)))
        }

      // ---- stateful filters (default plugins, plugins-metadata.json) ----

      case "throttle" =>
        // logstash-filter-throttle: key (sprintf'd), period (seconds),
        // before_count/after_count band (-1 disables an edge); the plugin's
        // decorator (add_tag => "throttled") fires on matched events. Works
        // under conditionals: the gate column restricts counting+matching.
        val keyTpl = strAttr(p, "key").getOrElse(
          throw new IllegalArgumentException("throttle: key required"))
        val period = strAttr(p, "period").map(_.toLong).getOrElse(3600L)
        val before = strAttr(p, "before_count").map(_.toInt).getOrElse(-1)
        val after = strAttr(p, "after_count").map(_.toInt).getOrElse(-1)
        val tsName = strAttr(p, "timestamp_field").getOrElse("@timestamp")
        // order tiebreak for deterministic batch replay (the reference ranks
        // in queue-arrival order, which batch mode has no analogue of).
        // Lowered onto the HOT-KEY-SAFE two-phase form: throttle's whole
        // reason to exist is flood regimes, and a flood is one hot key — the
        // single-window form would serialize every flooded (key, period)
        // onto one reducer at scale (salt-bounded plan in PLANS_r05.md).
        val orderBys = p.attr("order_by").map(strList).getOrElse(Nil)
        val withM = Stateful.throttleMatchedTwoPhase(df,
          Mutate.sprintfFor(df, keyTpl),
          col(tsName), period, before, after, m, orderBys.map(col))
        decoratorOf(p).applyWhen(withM, col("_throttle_matched"))
          .drop("_throttle_matched")

      case "metrics" =>
        // logstash-filter-metrics: original events pass through untouched;
        // synthetic metric events (meter, lifetime-cumulative count, flush
        // @timestamp) join the stream, carrying the plugin's decorator tags
        // (the reference pattern routes them via `if "metric" in [tags]`).
        // Under a conditional only MATCHING rows increment the meters — the
        // original stream passes through untouched either way, so the gate
        // is a plain pre-aggregation filter.
        val meters = p.attr("meter").map(strList).getOrElse(
          throw new IllegalArgumentException("metrics: meter required"))
        val flushSec = strAttr(p, "flush_interval").map(_.toLong).getOrElse(5L)
        val tsName = strAttr(p, "timestamp_field").getOrElse("@timestamp")
        val counted = cond.map(c => df.filter(col(c))).getOrElse(df)
        val metricRows = Stateful.metricsFlush(counted,
          meters.map(tpl => Mutate.sprintfFor(counted, tpl)), col(tsName), flushSec)
        df.unionByName(decoratorOf(p)(metricRows), allowMissingColumns = true)

      case "aggregate" =>
        // logstash-filter-aggregate, declarative subset: correlate events
        // sharing a sprintf'd task_id into ONE summary event per task
        // (n_events, first/last timestamp, optional numeric total) — the
        // batch-exact form of the per-task map + timeout flush. The `code`
        // attribute is a Ruby block in the reference and is out of scope;
        // `sum_field` covers the canonical `map['total'] += event.get(f)`
        // idiom. Aggregation replaces the stream (the map-flush events),
        // like the reference's push_map_as_event_on_timeout + event.cancel.
        // Under a conditional: MATCHING events are aggregated (and canceled,
        // like the reference's event.cancel on map update); non-matching
        // events pass through untouched and union with the summaries.
        val taskTpl = strAttr(p, "task_id").getOrElse(
          throw new IllegalArgumentException("aggregate: task_id required"))
        val tsName = strAttr(p, "timestamp_field").getOrElse("@timestamp")
        val aggIn = cond.map(c => df.filter(col(c))).getOrElse(df)
        val keyed = aggIn.withColumn("task_id", Mutate.sprintfFor(aggIn, taskTpl))
        val aggs = Seq(
          count(lit(1)).as("n_events"),
          min(col(tsName)).as("first_ts"),
          max(col(tsName)).as("last_ts")) ++
          strAttr(p, "sum_field").map(f =>
            sum(col(f).cast("decimal(18,2)")).cast("double").as("total_value"))
        val summaries =
          decoratorOf(p)(keyed.groupBy(col("task_id")).agg(aggs.head, aggs.tail: _*))
        cond match {
          case None => summaries
          case Some(c) =>
            // null-gate rows (synthetic events unioned in mid-branch) count
            // as unmatched: they pass through
            df.filter(!coalesce(col(c), lit(false)))
              .unionByName(summaries, allowMissingColumns = true)
        }

      case "elapsed" =>
        // logstash-filter-elapsed: start/end pair correlation by unique id.
        // Under a conditional only matching rows act as starts/ends (the
        // gate AND-composes into the start/end predicates — unmatched rows
        // neither correlate nor get tagged).
        val startTag = strAttr(p, "start_tag").getOrElse(
          throw new IllegalArgumentException("elapsed: start_tag required"))
        val endTag = strAttr(p, "end_tag").getOrElse(
          throw new IllegalArgumentException("elapsed: end_tag required"))
        val idF = strAttr(p, "unique_id_field").getOrElse(
          throw new IllegalArgumentException("elapsed: unique_id_field required"))
        val tsF = strAttr(p, "timestamp_field").getOrElse("@timestamp")
        gatedRowwise(df, cond)(d => Stateful.elapsed(d, idF, tsF,
          array_contains(col("tags"), startTag) && m,
          array_contains(col("tags"), endTag) && m))

      case "anonymize" =>
        // keyed-hash field overwrite (Mutate.anonymize); conditional form
        // unifies the column to string (the hash's type)
        val fields = p.attr("fields").map(strList).getOrElse(
          throw new IllegalArgumentException("anonymize: fields required"))
        val key = strAttr(p, "key").getOrElse("")
        fields.foldLeft(df) { (d, f) =>
          d.withColumn(f, when(m, sha2(concat(lit(key), col(f).cast("string")), 256))
            .otherwise(col(f).cast("string")))
        }

      case "syslog_pri" =>
        // RFC 3164 PRI decompose: severity = pri % 8, facility = pri / 8
        val f = strAttr(p, "syslog_pri_field_name").getOrElse("syslog_pri")
        df.withColumn("syslog_severity_code",
            when(m, graft.operators.Net.syslogSeverity(col(f))))
          .withColumn("syslog_facility_code",
            when(m, graft.operators.Net.syslogFacility(col(f))))

      case "cidr" =>
        // reference cidr filter: the decorator (add_tag) fires when any
        // sprintf'd address falls inside any configured network block
        val addrs = p.attr("address").map(strList).getOrElse(
          throw new IllegalArgumentException("cidr: address required"))
        val nets = p.attr("network").map(strList).getOrElse(
          throw new IllegalArgumentException("cidr: network required"))
        val hit = (for (a <- addrs; n <- nets) yield
          graft.operators.Net.cidrContains(Mutate.sprintfFor(df, a), n))
          .reduce(_ || _)
        decoratorOf(p).applyWhen(df, m && coalesce(hit, lit(false)))

      case "http" =>
        // logstash-filter-http, batch-sane (Enrich.httpLookup): fetch once
        // per DISTINCT rendered url (bounded, loud beyond max_distinct_urls),
        // broadcast the (url, status, body) dimension back. Under a
        // conditional only matching rows render urls — excluded rows never
        // cause a fetch. Non-2xx/failed fetches tag like the reference.
        val urlTpl = strAttr(p, "url").getOrElse(
          throw new IllegalArgumentException("http filter: url required"))
        val targetBody = strAttr(p, "target_body").getOrElse("body")
        val tagFail = p.attr("tag_on_failure").map(strList)
          .getOrElse(Seq("_httprequestfailure"))
        val maxUrls = strAttr(p, "max_distinct_urls").map(_.toInt).getOrElse(10000)
        gatedRowwise(df, cond) { d =>
          val looked = Enrich.httpLookup(d,
            when(m, Mutate.sprintfFor(d, urlTpl)), targetBody,
            maxDistinct = maxUrls)
          val failed = !coalesce(col("_http_status").between(200, 299), lit(false))
          tagFail.foldLeft(looked)((x, t) => Mutate.addTagWhen(x, failed, t))
            .drop("_http_status")
        }

      case "bytes" =>
        val source = strAttr(p, "source").getOrElse("message")
        val target = strAttr(p, "target").getOrElse(
          throw new IllegalArgumentException("bytes: target required"))
        val binary = !strAttr(p, "conversion_method").contains("metric")
        val tagFail = p.attr("tag_on_failure").map(strList)
          .getOrElse(Seq("_bytesparsefailure"))
        val parsed = Extras.parseBytes(col(source), binary)
        val cur = if (df.columns.contains(target)) col(target).cast("double")
                  else lit(null).cast("double")
        val out = df.withColumn(target, when(m, parsed).otherwise(cur))
        val failed = m && col(source).isNotNull && parsed.isNull
        decoratorOf(p).applyWhen(
          tagFail.foldLeft(out)((d, t) => Mutate.addTagWhen(d, failed, t)),
          m && !failed)

      case "range" =>
        val quads = p.attr("ranges").map(strList).getOrElse(
          throw new IllegalArgumentException("range: ranges required"))
        require(quads.size % 4 == 0, "range: ranges must be field,min,max,action quads")
        val rules = quads.grouped(4).map { g =>
          Extras.RangeRule(g(0), g(1).toDouble, g(2).toDouble, g(3))
        }.toSeq
        Extras.rangeApply(df, rules, negate = strAttr(p, "negate").contains("true"), m)

      case "extractnumbers" =>
        val source = strAttr(p, "source").getOrElse("message")
        // fixed-width columnar bound on the reference's open-ended intN/
        // floatN field family (documented divergence, Extras scaladoc)
        decoratorOf(p).applyWhen(
          Extras.extractNumbers(df, source,
            maxInts = strAttr(p, "max_ints").map(_.toInt).getOrElse(4),
            maxFloats = strAttr(p, "max_floats").map(_.toInt).getOrElse(4),
            gate = m), m)

      case "environment" =>
        // reference reads the process env into @metadata; `graft.env.<NAME>`
        // system properties are the deterministic test hook
        val entries = p.attr("add_metadata_from_env") match {
          case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
          case _ => throw new IllegalArgumentException(
            "environment: add_metadata_from_env hash required")
        }
        entries.foldLeft(df) { case (d, (field, envName)) =>
          val v = sys.env.get(envName)
            .orElse(Option(System.getProperty("graft.env." + envName)))
          val cur = if (d.columns.contains(s"_meta_$field")) col(s"_meta_$field")
                    else lit(null).cast("string")
          d.withColumn(s"_meta_$field",
            when(m, v.map(lit(_)).getOrElse(lit(null).cast("string"))).otherwise(cur))
        }

      case "json_encode" =>
        val source = strAttr(p, "source").getOrElse(
          throw new IllegalArgumentException("json_encode: source required"))
        decoratorOf(p).applyWhen(
          Extras.jsonEncode(df, source, strAttr(p, "target").getOrElse(source), m), m)

      case "tld" =>
        val source = strAttr(p, "source").getOrElse("message")
        val target = strAttr(p, "target").getOrElse("tld")
        val cur = if (df.columns.contains(target)) col(target) else lit(null)
        decoratorOf(p).applyWhen(
          df.withColumn(target, when(m, Extras.tldParse(col(source))).otherwise(cur)), m)

      case "metricize" =>
        val metrics = p.attr("metrics").map(strList).getOrElse(
          throw new IllegalArgumentException("metricize: metrics required"))
        Extras.metricize(df, metrics,
          dropOriginal = strAttr(p, "drop_original_event").contains("true"), m)

      case "age" =>
        val source = strAttr(p, "source").getOrElse("@timestamp")
        require(df.columns.contains(source),
          s"age: timestamp field `$source` absent (set source => ...)")
        val target = strAttr(p, "target").getOrElse("age")
        val cur = if (df.columns.contains(target)) col(target).cast("double")
                  else lit(null).cast("double")
        // `now` pins the clock for deterministic replay (reference reads
        // wall time; Extras.age scaladoc)
        df.withColumn(target,
          when(m, Extras.age(col(source), strAttr(p, "now"))).otherwise(cur))

      case "cipher" =>
        val source = strAttr(p, "source").getOrElse("message")
        val target = strAttr(p, "target").getOrElse(source)
        val key = strAttr(p, "key").getOrElse(
          throw new IllegalArgumentException("cipher: key required"))
        strAttr(p, "algorithm").foreach(a => require(
          a.toLowerCase.startsWith("aes"), s"cipher: only AES supported, got $a"))
        val enc = strAttr(p, "mode").getOrElse("encrypt") match {
          case "encrypt" =>
            val iv = strAttr(p, "iv").getOrElse(
              throw new IllegalArgumentException(
                "cipher: iv (hex, 16 bytes) required for deterministic encrypt"))
            Extras.cipherEncrypt(col(source), key, iv)
          case "decrypt" => Extras.cipherDecrypt(col(source), key)
          case other => throw new IllegalArgumentException(s"cipher: bad mode $other")
        }
        val cur = if (df.columns.contains(target) && target != source) col(target)
                  else if (target == source) col(source) else lit(null)
        df.withColumn(target, when(m, enc).otherwise(cur))

      case "math" =>
        // logstash-filter-math: calculate => [[op, left, right, target],...]
        // run in order (later entries see earlier targets), all arithmetic in
        // DOUBLE. div/mod by zero -> null (the reference skips the event
        // field on error). `round`'s right operand is the decimal places,
        // computed as floor(x*10^p + 0.5)/10^p — pure IEEE half-up, the
        // engine-stable form (round(x, p) double-rounds at half boundaries
        // differently across engines; see CLAUDE.md bit-safety note).
        val calcs = p.attr("calculate") match {
          case Some(VList(items)) => items.map {
            case VList(Seq(VString(op), l, r, VString(tgt))) => (op, l, r, tgt)
            case other => throw new IllegalArgumentException(
              s"math: calculate entries are [op, left, right, target], got $other")
          }
          case _ => throw new IllegalArgumentException(
            "math: calculate => [[op, left, right, target], ...] required")
        }
        def operand(d: DataFrame, v: Value): Column = v match {
          case VNumber(x, _) => lit(x)
          case VString(s) => graft.model.FieldRef.column(s).cast("double")
          case other => throw new IllegalArgumentException(s"math: bad operand $other")
        }
        calcs.foldLeft(df) { case (d, (op, lv, rv, tgtRef)) =>
          val l = operand(d, lv); val r = operand(d, rv)
          val res = op match {
            case "add" | "+" => l + r
            case "sub" | "subtract" | "-" => l - r
            case "mpx" | "multiply" | "*" => l * r
            case "div" | "divide" | "/" => when(r === 0, lit(null)).otherwise(l / r)
            case "mod" | "%" => when(r === 0, lit(null)).otherwise(l % r)
            case "power" | "**" => pow(l, r)
            case "round" =>
              val scale = pow(lit(10.0), r)
              floor(l * scale + 0.5) / scale
            case other => throw new IllegalArgumentException(
              s"math: unsupported operation `$other`")
          }
          val tgt = graft.model.FieldRef.parse(tgtRef)
          require(tgt.path.size == 1 && !tgt.meta,
            s"math: only top-level targets supported, got $tgtRef")
          val cur = if (d.columns.contains(tgt.path.head))
            col(tgt.path.head).cast("double") else lit(null).cast("double")
          d.withColumn(tgt.path.head, when(m, res).otherwise(cur))
        }

      case "punct" =>
        // logstash-filter-punct: strip alphanumerics + whitespace from
        // `source`, leaving the punctuation skeleton (a cheap structural
        // fingerprint for log-shape clustering)
        val source = strAttr(p, "source").getOrElse("message")
        val target = strAttr(p, "target").getOrElse("punct")
        val cur = if (df.columns.contains(target)) col(target).cast("string")
                  else lit(null).cast("string")
        df.withColumn(target,
          when(m, regexp_replace(col(source).cast("string"), "[A-Za-z0-9 \\t]", ""))
            .otherwise(cur))

      case "alter" =>
        // logstash-filter-alter: coalesce (first non-null among rendered
        // values — a pure `%{field}` template reads the field, null when
        // absent; anything else is a literal), condrewrite triples (set
        // field to new when it equals expected), condrewriteother quads
        // (set OTHER field when this one matches)
        def render(d: DataFrame, tpl: String): Column = {
          val pure = "^%\\{([^}]+)\\}$".r
          tpl match {
            case pure(f) => if (d.columns.contains(f)) col(f).cast("string")
                            else lit(null).cast("string")
            case _ => Mutate.sprintfFor(d, tpl)
          }
        }
        var out = df
        p.attr("coalesce").map(strList).foreach { args =>
          require(args.size >= 2, "alter: coalesce needs [dest, value, ...]")
          val dest = args.head
          val v = coalesce(args.tail.map(a => render(out, a)): _*)
          val cur = if (out.columns.contains(dest)) col(dest).cast("string")
                    else lit(null).cast("string")
          out = out.withColumn(dest, when(m, v).otherwise(cur))
        }
        p.attr("condrewrite").map(strList).foreach { args =>
          require(args.size % 3 == 0, "alter: condrewrite needs [field, expected, new] triples")
          args.grouped(3).foreach { case Seq(f, expected, nv) =>
            if (out.columns.contains(f))
              out = out.withColumn(f,
                when(m && col(f).cast("string") === render(out, expected),
                  render(out, nv)).otherwise(col(f)))
          }
        }
        p.attr("condrewriteother").map(strList).foreach { args =>
          require(args.size % 4 == 0,
            "alter: condrewriteother needs [field, expected, otherfield, new] quads")
          args.grouped(4).foreach { case Seq(f, expected, other, nv) =>
            val hit = m && (if (out.columns.contains(f))
              col(f).cast("string") === render(out, expected) else lit(false))
            val cur = if (out.columns.contains(other)) col(other).cast("string")
                      else lit(null).cast("string")
            out = out.withColumn(other, when(hit, render(out, nv)).otherwise(cur))
          }
        }
        decoratorOf(p).applyWhen(out, m)

      case "i18n" =>
        // logstash-filter-i18n: transliterate accented characters to their
        // ASCII base (one codegen'd translate() per field)
        val fields = p.attr("transliterate").map(strList).getOrElse(
          throw new IllegalArgumentException("i18n: transliterate fields required"))
        fields.foldLeft(df)((d, f) =>
          d.withColumn(f, when(m, Extras.transliterate(col(f))).otherwise(col(f))))

      case "elasticsearch" =>
        // The reference filter queries a LIVE Elasticsearch index to copy
        // fields from previous events (transforming-data.asciidoc:364-425).
        // The live half is external (no services here); the mappable half is
        // the same pre-materialized local-index model as jdbc_static:
        // `index_path` IS the exported index, `query_template` the term
        // matches (index_col => event field template), `sort` picks the ONE
        // hit (field:asc|desc, the reference's result window is 1 by
        // default), `fields` copies hit columns onto the event. The top-1
        // pick collapses the dimension BEFORE the broadcast join
        // (max/min-struct, map-side combined) — row-count preserving.
        val idxPath = strAttr(p, "index_path").getOrElse(
          throw new IllegalArgumentException(
            "elasticsearch filter: index_path required (the pre-exported local " +
              "index — the live-cluster half is external; see COVERAGE.md)"))
        val qt = p.attr("query_template") match {
          case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
          case _ => throw new IllegalArgumentException(
            "elasticsearch filter: query_template hash (index_col => \"%{field}\") required")
        }
        val copyFields = p.attr("fields") match {
          case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
          case _ => throw new IllegalArgumentException(
            "elasticsearch filter: fields hash (hit_col => event_field) required")
        }
        val (sortField, sortDesc) = strAttr(p, "sort") match {
          case Some(s) => s.split(":") match {
            case Array(f) => (f, false)
            case Array(f, dir) => (f, dir.equalsIgnoreCase("desc"))
            case _ => throw new IllegalArgumentException(s"elasticsearch: bad sort `$s`")
          }
          case None => (copyFields.head._1, false)
        }
        val tagFail = p.attr("tag_on_failure").map(strList)
          .getOrElse(Seq("_elasticsearch_lookup_failure"))
        val spark = df.sparkSession
        val idx0 =
          if (idxPath.endsWith(".csv")) Enrich.dictFromCsv(spark, idxPath)
          else if (idxPath.endsWith(".json") || idxPath.endsWith(".jsonl"))
            Enrich.dictFromJsonLines(spark, idxPath)
          else spark.read.parquet(idxPath)
        // top-1 per key by sort order: min/max of (sortField, hit columns)
        val hitStruct = struct((col(sortField) +: copyFields.map(kv => col(kv._1)))
          .toIndexedSeq: _*)
        val picked = idx0.groupBy(qt.map(kv => col(kv._1)): _*)
          .agg((if (sortDesc) max(hitStruct) else min(hitStruct)).as("_hit"))
        gatedRowwise(df, cond) { d =>
          // join keys = rendered templates (event side)
          val withKeys = qt.zipWithIndex.foldLeft(d) { case (x, ((_, tpl), i)) =>
            x.withColumn(s"_es_k$i", Mutate.sprintfFor(x, tpl))
          }
          val dim = picked.select(
            qt.zipWithIndex.map { case ((ic, _), i) => col(ic).cast("string").as(s"_es_k$i") } :+
              col("_hit"): _*)
          val joined = withKeys.join(broadcast(dim),
            qt.indices.map(i => s"_es_k$i"), "left")
          val copied = copyFields.foldLeft(joined) { case (x, (src, dst)) =>
            val cur = if (d.columns.contains(dst)) col(dst) else lit(null)
            x.withColumn(dst, coalesce(col("_hit").getField(src), cur))
          }
          val missed = col("_hit").isNull
          tagFail.foldLeft(copied)((x, t) => Mutate.addTagWhen(x, missed, t))
            .drop("_hit" +: qt.indices.map(i => s"_es_k$i"): _*)
        }

      case "sleep" =>
        throw new UnsupportedOperationException(
          "the `sleep` filter throttles wall-clock throughput of a single " +
            "worker — meaningless for a distributed batch plan; rate-limit " +
            "at the SINK (writer maxRecordsPerFile / trigger intervals) or " +
            "use the throttle filter for event-rate tagging")

      case "memcached" =>
        throw new UnsupportedOperationException(
          "the `memcached` filter needs a live memcached service (none in " +
            "scope); export the cache as a dictionary and use `translate` " +
            "(file dict broadcast) or `jdbc_static`/`jdbc_streaming` " +
            "(pre-materialized local table) — same lookup semantics, " +
            "cluster-safe")

      case "ruby" =>
        // arbitrary Ruby blocks are deliberately not ported (SURVEY §7.4):
        // point at the typed escape hatch instead of a generic unknown-plugin
        // error, since `ruby { code => ... }` appears in the official doc
        // pipelines (transforming-data.asciidoc:115,422)
        throw new UnsupportedOperationException(
          "the `ruby` filter (arbitrary code blocks) is not supported; " +
            "express the logic as typed Spark transforms via the API escape " +
            "hatch — LogPipeline.transform / Dataset.map over the frame — " +
            "or as mutate/grok/translate config where the block is expressible")

      case "elastic_integration" =>
        // runs Elasticsearch ingest pipelines INSIDE logstash by fetching
        // them from a live cluster — external service; the mappable halves
        // (grok/date/kv/geoip processors et al.) are the same-named filters
        throw new UnsupportedOperationException(
          "the `elastic_integration` filter executes ingest pipelines " +
            "fetched from a live Elasticsearch cluster (external service); " +
            "express the pipeline's processors as the equivalent filters " +
            "(grok, date, kv, geoip, mutate, ...) instead")

      case other =>
        throw new UnsupportedOperationException(
          s"unsupported filter plugin `$other`; supported: mutate, drop, json, yaml, " +
            "translate, grok, dissect, kv, csv, xml, date, fingerprint, prune, " +
            "truncate, uuid, clone, split, urldecode, de_dot, geoip, dns, " +
            "useragent, jdbc_static, http, throttle, metrics, aggregate, " +
            "elapsed, anonymize, syslog_pri, cidr, bytes, range, " +
            "extractnumbers, environment, json_encode, tld, metricize, " +
            "age, cipher, alter, i18n, elasticsearch, jdbc_streaming, " +
            "math, punct")
    }
  }

  /** mutate, with reference apply order: rename -> update -> replace ->
    * convert -> gsub -> uppercase -> lowercase -> strip -> split -> join,
    * then the decorator (add_field -> remove_field -> add_tag -> remove_tag).
    */
  private def applyMutate(df0: DataFrame, p: Plugin, cond: Option[String]): DataFrame = {
    var df = df0
    // the branch predicate is a materialized column — stable across the
    // plugin's own mutations (reference: condition evaluated once per event)
    def m: Column = cond.map(col).getOrElse(lit(true))
    def hash(name: String): Seq[(String, String)] = p.attr(name) match {
      case Some(VHash(entries)) => entries.map { case (k, v) => k -> str(litVal(v)) }
      case Some(other) => throw new IllegalArgumentException(s"$name: expected hash, got $other")
      case None => Nil
    }
    // rename under a conditional = predicate-gated column merge (reference
    // contract CommonActions.java:50-73 — per-event rename is routine): the
    // destination takes the source's value on matched rows and keeps its
    // prior value (null when absent) elsewhere; the source nulls out on
    // matched rows. Incompatible source/dest types fail loudly in analysis.
    hash("rename").foreach { case (from, to) =>
      if (cond.isEmpty) df = Mutate.rename(df, from, to)
      else if (df.columns.contains(from)) {
        val destCur = if (df.columns.contains(to)) col(to) else lit(null)
        df = df.withColumn(to, when(m, col(from)).otherwise(destCur))
          .withColumn(from, when(m, lit(null)).otherwise(col(from)))
      }
    }
    hash("update").foreach { case (f, tpl) =>
      if (df.columns.contains(f))
        df = df.withColumn(f,
          when(m && col(f).isNotNull, Mutate.sprintfFor(df, tpl)).otherwise(col(f)))
    }
    hash("replace").foreach { case (f, tpl) =>
      val v = Mutate.sprintfFor(df, tpl)
      df = df.withColumn(f,
        if (df.columns.contains(f)) when(m, v).otherwise(col(f)) else when(m, v))
    }
    hash("convert").foreach { case (f, typ) =>
      val t = typ match { case "integer" => "long"; case "float" => "double"; case x => x }
      if (cond.isEmpty) df = Mutate.convert(df, f, t)
      else
        // conditional convert in a single-typed column: matched rows pass
        // through the target type, then when/otherwise unifies both branches
        // to the common type (double "1.7" -> 1 -> 1.0; string "007" -> 7 ->
        // "7") — value normalization where the reference gets a per-event
        // dynamic type. No common type = loud AnalysisException.
        df = df.withColumn(f, when(m, col(f).cast(t)).otherwise(col(f)))
    }
    p.attr("gsub").foreach { v =>
      val items = strList(v)
      require(items.length % 3 == 0, "gsub: [field, pattern, replacement]+")
      items.grouped(3).foreach { case Seq(f, pat, rep) =>
        df = df.withColumn(f, when(m, regexp_replace(col(f), pat, rep)).otherwise(col(f)))
      }
    }
    p.attr("uppercase").foreach(v => strList(v).foreach { f =>
      df = df.withColumn(f, when(m, upper(col(f))).otherwise(col(f)))
    })
    p.attr("capitalize").foreach(v => strList(v).foreach { f =>
      df = df.withColumn(f, when(m, initcap(col(f))).otherwise(col(f)))
    })
    p.attr("lowercase").foreach(v => strList(v).foreach { f =>
      df = df.withColumn(f, when(m, lower(col(f))).otherwise(col(f)))
    })
    p.attr("strip").foreach(v => strList(v).foreach { f =>
      df = df.withColumn(f, when(m, trim(col(f))).otherwise(col(f)))
    })
    // split/join under a conditional normalize through the target type, the
    // same stance as conditional convert (the reference's per-event dynamic
    // type has no single-typed-column analogue):
    //  - split: unmatched scalars become 1-element arrays (the engine's
    //    scalar-as-list convention, Mutate.appendMaps);
    //  - join: unmatched arrays render via the engine's standard
    //    array-to-string form (comma join — the sprintf convention).
    hash("split").foreach { case (f, sep) =>
      if (cond.isEmpty) df = Mutate.splitField(df, f, sep)
      else df = df.withColumn(f,
        when(m, split(col(f), java.util.regex.Pattern.quote(sep)))
          .otherwise(array(col(f))))
    }
    hash("join").foreach { case (f, sep) =>
      if (cond.isEmpty) df = Mutate.joinField(df, f, sep)
      else df = df.withColumn(f,
        when(m, array_join(col(f), sep)).otherwise(array_join(col(f), ",")))
    }
    // merge: append src's elements onto dest (reference merges arrays and
    // promotes scalars; array columns here); same-typed, so the conditional
    // form is a plain predicate-gated merge
    hash("merge").foreach { case (dst, src) =>
      df = df.withColumn(dst, when(m, concat(col(dst), col(src))).otherwise(col(dst)))
    }
    hash("copy").foreach { case (src, dst) =>
      val destCur = if (df.columns.contains(dst)) col(dst) else lit(null)
      // immutable frames: deep copy is free
      df = df.withColumn(dst, when(m, col(src)).otherwise(destCur))
    }
    // decorator tail, in the fixed reference order
    val dec = Mutate.Decorator(
      addField = hash("add_field"),
      removeField = p.attr("remove_field").map(strList).getOrElse(Nil),
      addTag = p.attr("add_tag").map(strList).getOrElse(Nil),
      removeTag = p.attr("remove_tag").map(strList).getOrElse(Nil))
    dec.applyWhen(df, m)
  }

  // ---------------- pipeline-to-pipeline address bus ----------------

  /** The pipeline-to-pipeline virtual-address bus
    * (plugins/pipeline/AbstractPipelineBus.java, PipelineBusV2.java): an
    * upstream config's `pipeline { send_to => [addr] }` output registers its
    * routed frame under each address; a downstream config's
    * `pipeline { address => addr }` input resolves it. DataFrames are
    * immutable, so the reference's per-downstream event clone is free, and
    * `ensureDelivery`'s block-until-listener becomes resolve-time failure on
    * an unregistered address (the batch analogue of a downstream that never
    * appears). Frames persist across converge passes, so an unchanged
    * upstream feeds a reloaded downstream without re-running.
    */
  final class PipelineBus {
    private val frames = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    def register(address: String, df: DataFrame): Unit = frames.put(address, df)
    def resolve(address: String): DataFrame = frames.getOrElse(address,
      throw new IllegalStateException(
        s"pipeline address `$address` has no registered upstream (ensureDelivery would block)"))
    /** Remove an address (pipeline shutdown/reload): the reference bus
      * unregisters senders so orphaned consumers fail loudly.
      */
    def unregister(address: String): Unit = frames.remove(address)
    def addresses: Set[String] = frames.keySet.toSet
  }

  /** Collect `pipeline { send_to => [...] }` outputs with their branch-path
    * conditions (the same walk as [[sinkSpecs]]).
    */
  def pipelineSends(items: Seq[Item]): Seq[(Seq[String], Cond)] = {
    val out = Seq.newBuilder[(Seq[String], Cond)]
    def walk(items: Seq[Item], path: Cond): Unit = items.foreach {
      case PluginItem(p) if p.name == "pipeline" =>
        val addrs = p.attr("send_to").map(strList).getOrElse(
          throw new IllegalArgumentException("pipeline output: send_to required"))
        out += addrs -> path
      case PluginItem(_) => ()
      case Branch(arms, otherwise) =>
        var prev = Vector.empty[Cond]
        arms.foreach { case (e, body) =>
          val c = lowerCond(e)
          walk(body, prev.foldLeft(And(path, c): Cond)((a, x) => And(a, Not(x))))
          prev :+= c
        }
        if (otherwise.nonEmpty)
          walk(otherwise, prev.foldLeft(path)((a, x) => And(a, Not(x))))
    }
    walk(items, True)
    out.result()
  }

  /** tcp/http OUTPUT plugins with their branch-path conditions. Lowered
    * separately from file sinks: they write executor-side over sockets
    * ([[Route.tcpSink]]/[[Route.httpSink]]) after the file sinks
    * materialize.
    */
  def netSinkSpecs(items: Seq[Item]): Seq[(Plugin, Cond)] = {
    val out = Seq.newBuilder[(Plugin, Cond)]
    val names = Set("tcp", "http", "stdout", "null", "graphite", "statsd",
      "syslog", "udp", "kafka", "pipe", "lumberjack", "exec", "opentsdb",
      "gelf", "zabbix", "logstash", "java_stdout")
    def walk(items: Seq[Item], path: Cond): Unit = items.foreach {
      case PluginItem(p) if names(p.name) => out += p -> path
      case PluginItem(_) => ()
      case Branch(arms, otherwise) =>
        var prev = Vector.empty[Cond]
        arms.foreach { case (e, body) =>
          val c = lowerCond(e)
          walk(body, prev.foldLeft(And(path, c): Cond)((a, x) => And(a, Not(x))))
          prev :+= c
        }
        if (otherwise.nonEmpty)
          walk(otherwise, prev.foldLeft(path)((a, x) => And(a, Not(x))))
    }
    walk(items, True)
    out.result()
  }

  /** Apply the network sinks (tcp client / http POST outputs) for a parsed
    * output section over the filtered trunk.
    */
  private def runNetSinks(trunk: DataFrame, items: Seq[Item]): Unit =
    netSinkSpecs(items).foreach { case (p, cond) =>
      val frame =
        if (cond == True) trunk else trunk.filter(Cond.predicateFor(trunk, cond))
      p.name match {
        case "tcp" =>
          Route.tcpSink(frame,
            strAttr(p, "host").getOrElse("localhost"),
            strAttr(p, "port").getOrElse(throw new IllegalArgumentException(
              "tcp output: port required")).toInt)
        case "http" =>
          val url = strAttr(p, "url").getOrElse(
            throw new IllegalArgumentException("http output: url required"))
          strAttr(p, "http_method").foreach(m => require(m.toLowerCase == "post",
            s"http output: only http_method => post is supported, got $m"))
          val batch = strAttr(p, "format") match {
            case Some("json") => 1 // one request per event
            case _ => strAttr(p, "batch_size").map(_.toInt).getOrElse(50)
          }
          Route.httpSink(frame, url, batch)
        case "logstash" =>
          // logstash-to-logstash (logstash-integration-logstash OUTPUT
          // half): ndjson event batches POSTed over HTTP to the downstream
          // instance's `logstash` input — the integration's public wire
          // shape. `hosts` takes one or more host:port pairs; batches go to
          // the first (this model doesn't load-balance).
          requirePlaintext(p, "output")
          val hostPort = (p.attr("hosts") match {
            case Some(v) => strList(v).headOption
            case None => None
          }).getOrElse(throw new IllegalArgumentException(
            "logstash output: hosts => [\"host:port\"] required"))
          val batch = strAttr(p, "batch_size").map(_.toInt).getOrElse(50)
          Route.httpSink(frame, s"http://$hostPort/", batch, ndjson = true)
        case "graphite" =>
          // logstash-output-graphite: one `metric value epoch` line per
          // (event, metrics-hash entry) over tcp; names and values are
          // sprintf'd, metrics_format wraps the rendered name at its '*'
          val host = strAttr(p, "host").getOrElse("localhost")
          val port = strAttr(p, "port").map(_.toInt).getOrElse(2003)
          val tsF = strAttr(p, "timestamp_field").getOrElse("@timestamp")
          val fmt = strAttr(p, "metrics_format").getOrElse("*")
          require(fmt.contains("*"),
            s"graphite output: metrics_format must contain '*', got $fmt")
          val (pre, suf) = {
            val i = fmt.indexOf('*'); (fmt.substring(0, i), fmt.substring(i + 1))
          }
          val metrics = p.attr("metrics") match {
            case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
            case _ => throw new IllegalArgumentException(
              "graphite output: metrics hash required")
          }
          val epoch = unix_timestamp(col(tsF).cast("timestamp")).cast("string")
          val lines = metrics.map { case (nameTpl, valTpl) =>
            concat(lit(pre), Mutate.sprintfFor(frame, nameTpl), lit(suf),
              lit(" "), Mutate.sprintfFor(frame, valTpl).cast("double").cast("string"),
              lit(" "), epoch)
          }
          Route.tcpSink(frame.select(explode(array(lines: _*)).as("line")),
            host, port, Some(col("line")))
        case "statsd" =>
          // logstash-output-statsd: one `ns.sender.metric:value|type`
          // datagram per (event, configured metric) — increment/decrement
          // (|c, ±1), count (|c), gauge (|g), timing (|ms)
          val host = strAttr(p, "host").getOrElse("localhost")
          val port = strAttr(p, "port").map(_.toInt).getOrElse(8125)
          val ns = strAttr(p, "namespace").getOrElse("logstash")
          val sender = strAttr(p, "sender").getOrElse("%{host}")
          def renderName(metric: String): Column =
            Mutate.sprintfFor(frame, s"$ns.$sender.$metric")
          def hashOf(attr: String): Seq[(String, String)] = p.attr(attr) match {
            case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
            case Some(other) => throw new IllegalArgumentException(
              s"statsd output: $attr expects a hash, got $other")
            case None => Nil
          }
          def listOf(attr: String): Seq[String] =
            p.attr(attr).map(strList).getOrElse(Nil)
          val grams: Seq[Column] =
            listOf("increment").map(m => concat(renderName(m), lit(":1|c"))) ++
            listOf("decrement").map(m => concat(renderName(m), lit(":-1|c"))) ++
            hashOf("count").map { case (m, v) =>
              concat(renderName(m), lit(":"), Mutate.sprintfFor(frame, v), lit("|c")) } ++
            hashOf("gauge").map { case (m, v) =>
              concat(renderName(m), lit(":"), Mutate.sprintfFor(frame, v), lit("|g")) } ++
            hashOf("timing").map { case (m, v) =>
              concat(renderName(m), lit(":"), Mutate.sprintfFor(frame, v), lit("|ms")) }
          require(grams.nonEmpty, "statsd output: at least one of increment/" +
            "decrement/count/gauge/timing required")
          Route.udpSink(frame.select(explode(array(grams: _*)).as("line")),
            host, port, Some(col("line")))
        case "udp" =>
          // logstash-output-udp: one datagram per event, json payload (the
          // plugin's default codec); host+port required
          Route.udpSink(frame,
            strAttr(p, "host").getOrElse(throw new IllegalArgumentException(
              "udp output: host required")),
            strAttr(p, "port").getOrElse(throw new IllegalArgumentException(
              "udp output: port required")).toInt)
        case "syslog" =>
          // logstash-output-syslog: render one RFC 3164/5424 line per event
          // (facility/severity/appname/procid/msgid/sourcehost/message all
          // sprintf'd), ship over udp (default) or tcp. PRI = facility*8 +
          // severity from the label tables; `use_labels => false` takes the
          // raw sprintf'd `priority` instead.
          val host = strAttr(p, "host").getOrElse(throw new IllegalArgumentException(
            "syslog output: host required"))
          val port = strAttr(p, "port").getOrElse(throw new IllegalArgumentException(
            "syslog output: port required")).toInt
          val proto = strAttr(p, "protocol").getOrElse("udp")
          val rfc = strAttr(p, "rfc").getOrElse("rfc3164")
          def sp(tpl: String): Column = Mutate.sprintfFor(frame, tpl)
          val useLabels = strAttr(p, "use_labels").forall(_.toBoolean)
          val pri =
            if (useLabels)
              graft.operators.Net.facilityCode(
                sp(strAttr(p, "facility").getOrElse("user-level"))) * 8 +
                graft.operators.Net.severityCode(
                  sp(strAttr(p, "severity").getOrElse("notice")))
            else sp(strAttr(p, "priority").getOrElse("13")).cast("int")
          // events carry @timestamp from ingest; sources without one (e.g.
          // generator) stamp at emit time like the reference's Event.new
          val ts =
            if (frame.columns.contains("@timestamp"))
              col("@timestamp").cast("timestamp")
            else current_timestamp()
          val line = graft.operators.Net.syslogLine(rfc, pri, ts,
            sp(strAttr(p, "sourcehost").getOrElse("%{host}")),
            sp(strAttr(p, "appname").getOrElse("LOGSTASH")),
            sp(strAttr(p, "procid").getOrElse("-")),
            sp(strAttr(p, "msgid").getOrElse("-")),
            sp(strAttr(p, "message").getOrElse("%{message}")))
          proto match {
            case "udp" => Route.udpSink(frame, host, port, Some(line))
            case "tcp" => Route.tcpSink(frame, host, port, Some(line))
            case other => throw new IllegalArgumentException(
              s"syslog output: protocol must be tcp|udp, got $other")
          }
        case "exec" =>
          // logstash-output-exec: run `command` (sprintf'd) once per event —
          // the reference's alert/trigger sink; per-event fork documented
          Route.execSink(frame, Mutate.sprintfFor(frame,
            strAttr(p, "command").getOrElse(throw new IllegalArgumentException(
              "exec output: command required"))))
        case "opentsdb" =>
          // logstash-output-opentsdb: `put <metric> <epoch> <value>
          // [tag=val ...]` telnet lines over tcp. `metrics` is the
          // reference's flat list: [metric, value, tagname, tagvalue, ...]
          val host = strAttr(p, "host").getOrElse("localhost")
          val port = strAttr(p, "port").map(_.toInt).getOrElse(4242)
          val ms = p.attr("metrics").map(strList).getOrElse(
            throw new IllegalArgumentException("opentsdb output: metrics required"))
          require(ms.length >= 2 && ms.length % 2 == 0,
            s"opentsdb output: metrics wants [metric, value, (tag, value)*], got $ms")
          val tsF = strAttr(p, "timestamp_field").getOrElse("@timestamp")
          val epoch = unix_timestamp(col(tsF).cast("timestamp")).cast("string")
          val tags = ms.drop(2).grouped(2).flatMap { pair =>
            Seq(lit(" "), Mutate.sprintfFor(frame, pair(0)), lit("="),
              Mutate.sprintfFor(frame, pair(1)))
          }.toSeq
          val line = concat(Seq(lit("put "), Mutate.sprintfFor(frame, ms(0)),
            lit(" "), epoch, lit(" "),
            Mutate.sprintfFor(frame, ms(1)).cast("double").cast("string")) ++ tags: _*)
          Route.tcpSink(frame.select(line.as("line")), host, port, Some(col("line")))
        case "gelf" =>
          // logstash-output-gelf: GELF-via-UDP datagrams — version 1.1,
          // host = sprintf'd `sender`, short_message from the named field
          // (falling back to message), level, custom_fields as _additional
          val host = strAttr(p, "host").getOrElse(
            throw new IllegalArgumentException("gelf output: host required"))
          val port = strAttr(p, "port").map(_.toInt).getOrElse(12201)
          val smField = strAttr(p, "short_message").getOrElse("short_message")
          val sm = if (frame.columns.contains(smField)) col(smField)
            else col("message")
          val custom = p.attr("custom_fields") match {
            case Some(VHash(es)) => es.map { case (k, v) =>
              ("_" + k) -> Mutate.sprintfFor(frame, str(litVal(v))) }
            case _ => Nil
          }
          val ts: Seq[(String, Column)] =
            if (frame.columns.contains("@timestamp"))
              Seq("timestamp" -> unix_timestamp(col("@timestamp").cast("timestamp"))
                .cast("double"))
            else Nil
          val cols = Seq(
            "host" -> Mutate.sprintfFor(frame, strAttr(p, "sender").getOrElse("%{host}")),
            "short_message" -> sm,
            "level" -> lit(strAttr(p, "level").map(_.toInt).getOrElse(6))) ++ ts ++ custom
          Route.gelfSink(frame, host, port, graft.operators.Gelf.encode(cols))
        case "zabbix" =>
          // logstash-output-zabbix: (host, key, value) items to a trapper
          // via the public sender protocol; the three selectors are FIELD
          // REFERENCES in the reference (value defaults to message)
          val zserver = strAttr(p, "zabbix_server_host").getOrElse("localhost")
          val zport = strAttr(p, "zabbix_server_port").map(_.toInt).getOrElse(10051)
          def fieldCol(attr: String, default: Option[String]): Column = {
            val name = strAttr(p, attr).orElse(default).getOrElse(
              throw new IllegalArgumentException(s"zabbix output: $attr required"))
            graft.model.FieldRef.column(name)
          }
          val item = to_json(struct(
            fieldCol("zabbix_host", None).cast("string").as("host"),
            fieldCol("zabbix_key", None).cast("string").as("key"),
            fieldCol("zabbix_value", Some("message")).cast("string").as("value")))
          Route.zabbixSink(frame, zserver, zport, item,
            strAttr(p, "batch_size").map(_.toInt).getOrElse(250))
        case "pipe" =>
          // logstash-output-pipe: rendered lines into the stdin of a
          // (possibly sprintf'd per event) command; message_format renders
          // the line, json payload otherwise — one process per distinct
          // rendered command per partition, non-zero exit fails the task
          val cmdTpl = strAttr(p, "command").getOrElse(
            throw new IllegalArgumentException("pipe output: command required"))
          Route.pipeSink(frame, Mutate.sprintfFor(frame, cmdTpl),
            strAttr(p, "message_format").map(t => Mutate.sprintfFor(frame, t)))
        case "lumberjack" =>
          // logstash-output-lumberjack: lumberjack v2 client to a beats
          // receiver — windows of flush_size '2J' frames zlib-packed into
          // '2C', blocking on the window ack (at-least-once). The reference
          // requires TLS; transport security is deployment-external here.
          val hosts = p.attr("hosts").map(strList).getOrElse(
            strAttr(p, "host").map(Seq(_)).getOrElse(
              throw new IllegalArgumentException("lumberjack output: hosts required")))
          Route.lumberjackSink(frame, hosts.head,
            strAttr(p, "port").getOrElse(throw new IllegalArgumentException(
              "lumberjack output: port required")).toInt,
            windowSize = strAttr(p, "flush_size").map(_.toInt).getOrElse(500),
            compress = !strAttr(p, "compress").contains("false"))
        case "kafka" =>
          // logstash-output-kafka: option mapping onto the spark-sql-kafka
          // writer (symmetric with the kafka input); fails loudly when the
          // connector jars are absent — no broker in this environment
          val opts = kafkaOutputOptions(p)
          val payload = frame.select(
            Route.jsonPayload(frame).as("value"))
          try payload.write.format("kafka").options(opts).save()
          catch {
            case e: Exception if String.valueOf(e.getMessage).contains("kafka") ||
              e.isInstanceOf[ClassNotFoundException] =>
              throw new IllegalStateException(
                "kafka output: the spark-sql-kafka connector jars are not on " +
                  "the classpath (this environment has no broker or " +
                  "connector); add org.apache.spark:spark-sql-kafka-0-10 to " +
                  "run this config", e)
          }
        case "stdout" | "java_stdout" =>
          // debug output: the reference prints EVERY event (rubydebug) —
          // driver-printing an unbounded frame is cluster-inappropriate, so
          // this prints a bounded sample plus the total (set `limit` for
          // more). codec => dots prints the progress dots (bounded render).
          val codecName = p.attr("codec") match {
            case Some(VString(s)) => s
            case Some(VPlugin(c)) => c.name
            case _ => "rubydebug" // the reference stdout default
          }
          val total = frame.count()
          val n = strAttr(p, "limit").map(_.toInt).getOrElse(20)
          codecName match {
            case "dots" =>
              val shown = math.min(total, 10000L).toInt
              println("." * shown +
                (if (total > shown) s" (+${total - shown} more)" else ""))
            case "json" | "json_lines" =>
              println(s"stdout output ($total events, first $n):")
              frame.select(to_json(struct(frame.columns.map(col).toIndexedSeq: _*)))
                .take(n).foreach(r => println(r.getString(0)))
            case _ =>
              // rubydebug: the awesome_print event hash (Codec.rubydebug)
              println(s"stdout output ($total events, first $n):")
              frame.select(graft.operators.Codec.rubydebug(frame))
                .take(n).foreach(r => println(r.getString(0)))
          }
        case "null" =>
          // null output: swallow after materialization (the reference's
          // throughput-measurement sink)
          frame.count(); ()
      }
    }

  // ---------------- output lowering ----------------

  /** Lower a parsed `output` section to SinkSpecs: every output plugin
    * becomes a named sink gated by its branch-path condition. The sink name
    * is the plugin's `id` attribute when present (reference plugin ids),
    * else `<plugin>_<k>`.
    */
  def sinkSpecs(items: Seq[Item]): Seq[Route.SinkSpec] = {
    val out = Seq.newBuilder[Route.SinkSpec]
    var k = 0
    def walk(items: Seq[Item], path: Cond): Unit = items.foreach {
      case PluginItem(p) if p.name == "pipeline" => () // bus send, not a sink
      case PluginItem(p) if Set("tcp", "http", "graphite", "statsd",
          "syslog", "udp", "kafka", "pipe", "lumberjack", "exec", "opentsdb",
          "gelf", "zabbix", "logstash")(p.name) =>
        () // network sinks — applied executor-side by runConfig, not file sinks
      case PluginItem(p) if Set("stdout", "java_stdout", "null")(p.name) =>
        () // debug sinks — driver-side sample / swallow, applied by runConfig
      case PluginItem(p) if Set("email", "redis", "rabbitmq")(p.name) =>
        throw new IllegalArgumentException(
          s"output `${p.name}` talks to an external service (SMTP/broker) " +
            "with no local model — route the frame to a supported sink " +
            "(file/elasticsearch/csv/webhdfs/nagios or the tcp/http/udp " +
            "network sinks) and deliver from there")
      case PluginItem(p) =>
        // sink naming: explicit id, else the elasticsearch output's index
        // (the reference's routing key), else <plugin>_<k>. An index
        // containing %{...} is the ES output's per-event SPRINTF'D index
        // (daily indices et al.) — it becomes the sink's partition template
        // rather than its static name.
        // `elasticsearch {}` with no index writes the reference's legacy
        // default daily index `logstash-%{+yyyy.MM.dd}` (the pre-data-stream
        // default; es_output_how fixture runs a bare `elasticsearch {}`)
        val idxAttr = strAttr(p, "index").orElse(
          if (p.name == "elasticsearch") Some("logstash-%{+yyyy.MM.dd}") else None)
        val dynamicIdx = idxAttr.filter(_.contains("%{"))
        // a file output's sprintf'd `path` (`path => "/logs/%{type}.log"`,
        // fixture env_variables_condition_spec.yml:74-80) routes events to
        // per-rendered-path files — the same per-event template machinery as
        // the ES daily index: the rendered path becomes the sink's partition
        val dynamicPath = strAttr(p, "path").filter(_.contains("%{"))
        val name = strAttr(p, "id")
          .orElse(if (dynamicIdx.isEmpty) idxAttr else None)
          .getOrElse { k += 1; s"${p.name}_$k" }
        val dec = Mutate.Decorator(
          addField = p.attr("add_field") match {
            case Some(VHash(entries)) => entries.map { case (a, v) => a -> str(litVal(v)) }
            case _ => Nil
          })
        val codec = p.attr("codec") match {
          case Some(VString(c)) => Some(c)
          case Some(VPlugin(c)) => Some(c.name)
          case _ => None
        }
        // line output codec's sprintf'd per-event format
        // (`codec => line { format => "%{message} %{tags}" }`,
        // env_variables_config fixture)
        val lineFmt = p.attr("codec") match {
          case Some(VPlugin(c)) if c.name == "line" || c.name == "plain" =>
            strAttr(c, "format")
          case _ => None
        }
        // the csv OUTPUT plugin (logstash-output-csv): `fields` select the
        // written columns, joined by `csv_options`' col_sep analogue
        val csvFields =
          if (p.name == "csv") p.attr("fields").map(strList).getOrElse(
            throw new IllegalArgumentException("csv output: fields required"))
          else Nil
        // the ES output's action (index/create/update/delete, sprintf'd per
        // event); anything but plain index needs the document identity
        val esAction = strAttr(p, "action").filterNot(_ == "index")
        require(esAction.isEmpty || strAttr(p, "document_id").nonEmpty,
          s"output `${p.name}`: action => ${esAction.getOrElse("")} requires document_id")
        // nagios output (logstash-output-nagios): one Nagios external
        // command line (the PUBLIC command-file format —
        // `[epoch] PROCESS_SERVICE_CHECK_RESULT;host;service;level;output`)
        // per event appended to the command file; events missing
        // nagios_host/nagios_service are skipped (the reference warns and
        // drops them). nagios_level is sprintf'd, default 2 (CRITICAL).
        val (sinkCond, nagiosFmt) =
          if (p.name == "nagios") {
            val level = strAttr(p, "nagios_level").getOrElse("2")
            (And(path, And(Truthy("nagios_host"), Truthy("nagios_service"))): Cond,
              Some("[%{+%s}] PROCESS_SERVICE_CHECK_RESULT;%{nagios_host};" +
                s"%{nagios_service};$level;%{message}"))
          } else (path, None)
        out += Route.SinkSpec(name, sinkCond, dec,
          indexTemplate = dynamicIdx.orElse(dynamicPath),
          // the plain output codec is the line codec's rendering (sprintf'd
          // `format`, default = the message) without the framing distinction
          // — framing is the sink layout's concern here
          codec = if (p.name == "csv") Some("csv")
            else if (p.name == "nagios") Some("line")
            else codec.map(c => if (c == "plain") "line" else c),
          documentId = strAttr(p, "document_id"),
          csvFields = csvFields,
          csvSep = strAttr(p, "separator").getOrElse(","),
          esAction = esAction,
          lineFormat = nagiosFmt.orElse(lineFmt))
      case Branch(arms, otherwise) =>
        var prev = Vector.empty[Cond]
        arms.foreach { case (e, body) =>
          val c = lowerCond(e)
          walk(body, prev.foldLeft(And(path, c): Cond)((a, x) => And(a, Not(x))))
          prev :+= c
        }
        if (otherwise.nonEmpty)
          walk(otherwise, prev.foldLeft(path)((a, x) => And(a, Not(x))))
    }
    walk(items, True)
    out.result()
  }

  // ---------------- input lowering + end-to-end runner ----------------

  /** The logstash integration and the serverless forwarder default
    * `ssl_enabled` to TRUE in the reference; no TLS transport exists here,
    * so a config that expects TLS (explicitly or by omission) must fail
    * loudly rather than silently run plaintext. Credentials are accepted
    * but not enforced (the local listener has no auth check).
    */
  private def requirePlaintext(p: Plugin, half: String): Unit =
    require(strAttr(p, "ssl_enabled").contains("false"),
      s"${p.name} $half: the reference defaults ssl_enabled => true and no " +
        "TLS transport exists here — set ssl_enabled => false explicitly " +
        "to run plaintext")

  /** Listener inputs' port: explicit, else the plugin's reference default
    * (logstash 9800, elastic_serverless_forwarder 8080, gelf 12201,
    * graphite 2003). Read only by [[transport]], so batch and stream share it.
    */
  private def listenerPort(p: Plugin): Int =
    strAttr(p, "port").getOrElse(p.name match {
      case "logstash" => "9800"
      case "elastic_serverless_forwarder" => "8080"
      case "gelf" => "12201"
      case "graphite" => "2003"
      case n => throw new IllegalArgumentException(s"$n input: port required")
    }).toInt

  /** The one codec resolver: the codec an input decodes with. Named inputs
    * that are a transport plus a codec imply theirs (gelf, snmptrap and
    * ganglia are udp; graphite is tcp; logstash and
    * elastic_serverless_forwarder are http carrying ndjson events, with the
    * input's own `schema`); every other input takes its `codec`, bareword
    * (`codec => cef`) and block (`codec => cef { }`) alike.
    */
  private def codecOf(p: Plugin): Option[Plugin] = p.name match {
    case "gelf" => Some(Plugin("gelf", p.attrs))
    case "logstash" | "elastic_serverless_forwarder" => Some(Plugin("json", p.attrs))
    case "snmptrap" | "ganglia" | "graphite" => Some(Plugin(p.name, Nil))
    case _ => p.attr("codec") match {
      case Some(VPlugin(c)) => Some(c)
      case Some(VString(c)) => Some(Plugin(c, Nil))
      case _ => None
    }
  }

  /** One codec's decode over a line-framed source frame (`message`, plus
    * `offset` where the source has one). `binary` decodes read one base64
    * frame per line (compressed/chunked/packed frames are not text).
    * `perBatch` decodes need the whole frame (windows over `offset`, gelf
    * chunk grouping): a stream runs them once per micro-batch, each batch a
    * flush boundary — the analogue of the reference codec's
    * `auto_flush_interval` (AvailableNow over a complete journal is one
    * batch, so batch and stream agree exactly). `batchOnly` says why a
    * stream cannot run the decode at all.
    */
  private final case class LineCodec(decode: DataFrame => DataFrame,
                                     binary: Boolean = false,
                                     perBatch: Boolean = false,
                                     batchOnly: Option[String] = None)

  /** The codec table: every input's codec lowers here, attrs resolved
    * eagerly so a bad codec fails before any query starts. None = not a
    * line-framed codec (the file input's whole-file and lake reads).
    */
  private def lineCodec(cp: Plugin): Option[LineCodec] = {
    def ddl = strAttr(cp, "schema").getOrElse(throw new IllegalArgumentException(
      s"codec => ${cp.name} requires schema => \"<ddl>\""))
    def binary(decode: DataFrame => DataFrame, perBatch: Boolean = false,
               batchOnly: Option[String] = None) =
      LineCodec(d => decode(d.select(unbase64(col("message")).as("frame"))),
        binary = true, perBatch = perBatch, batchOnly = batchOnly)
    val table: PartialFunction[String, LineCodec] = {
      case "line" | "plain" => LineCodec(identity)
      case "multiline" => LineCodec(applyMultiline(cp), perBatch = true)
      case "es_bulk" =>
        // action/source line pairing orders on the per-line offset
        LineCodec(d => graft.operators.Codec.esBulk(d.withColumn("_stream", lit("es_bulk"))),
          perBatch = true)
      case "cef" => LineCodec(graft.operators.Codec.cefDecode(_, "message"))
      case "graphite" => LineCodec(graft.operators.Codec.graphiteDecode(_, "message"))
      case "json" | "json_lines" =>
        // schema => DDL skips the inference scan (the 100 TB path)
        val schema = strAttr(cp, "schema")
        LineCodec(jsonParse(_, "message", None, lit(true), schema),
          batchOnly = if (schema.isDefined) None else Some(
            "a stream cannot scan ahead to infer — declare schema => \"<ddl>\""))
      case "edn" | "edn_lines" =>
        val schema = ddl
        LineCodec(graft.operators.Codec.ednLines(_, "message", schema))
      case "gelf" =>
        // additional fields are named WITH the leading underscore in the DDL
        val schema = ddl
        val remap = !strAttr(cp, "remap").contains("false")
        val strip = !strAttr(cp, "strip_leading_underscore").contains("false")
        binary(graft.operators.Gelf.decode(_, "frame", schema, remap, strip), perBatch = true)
      case "protobuf" =>
        // field numbers declared in config (`fields` hash): no compiled classes
        val schema = ddl
        val nums = cp.attr("fields") match {
          case Some(VHash(entries)) => entries.map { case (k, v) => k -> (v match {
            case VNumber(d, _) => d.toInt
            case VString(s) => s.toInt
            case other => throw new IllegalArgumentException(
              s"protobuf fields: bad number $other for $k")
          }) }.toMap
          case _ => throw new IllegalArgumentException(
            "codec => protobuf requires fields => { \"<col>\" => <number> }")
        }
        binary(graft.operators.Protobuf.decode(_, "frame", schema, nums))
      case "collectd" => binary(graft.operators.Collectd.decode(_, "frame"))
      case "netflow" => binary(graft.operators.Netflow.decode(_, "frame"))
      case "snmptrap" => binary(graft.operators.Snmp.decode(_, "frame"))
      case "ganglia" =>
        // value packets are annotated from metadata packets, which gmond
        // sends rarely: a per-micro-batch decode would lose the metadata
        // seen in earlier batches
        binary(graft.operators.Ganglia.decode(_, "frame"), batchOnly = Some(
          "metadata packets annotate value packets across the whole journal " +
            "— replay the journal in batch mode"))
    }
    table.lift(cp.name)
  }

  /** One reader per transport: the source format and options of a listener,
    * tail or generator input, resolved once — batch and stream differ only
    * in `read` vs `readStream`. A `binary` codec switches the udp listener
    * to base64 whole-frame journal lines; other listeners journal text.
    */
  private def transport(spark: org.apache.spark.sql.SparkSession, p: Plugin,
                        binary: Boolean): (String, Map[String, String]) = {
    val kind = p.name match {
      case "gelf" | "snmptrap" | "ganglia" => "udp"
      case "graphite" => "tcp"
      case "logstash" | "elastic_serverless_forwarder" => "http"
      // the syslog input listens on tcp (default) or udp, or replays `path`
      case "syslog" => if (strAttr(p, "path").isDefined) "file"
        else if (strAttr(p, "protocol").contains("udp")) "udp" else "tcp"
      case "heartbeat" => "generator"
      case n => n
    }
    require(!binary || kind == "udp" || kind == "file",
      s"${p.name} input: codec => ${codecOf(p).map(_.name).orNull} decodes binary " +
        "frames, which only udp datagrams and base64 file lines carry")
    val opts: Map[String, String] = kind match {
      case "file" =>
        // admission control (backpressure analogue): a stream caps the bytes
        // one micro-batch admits, so a backlog drains in bounded batches
        Map("path" -> strAttr(p, "path").getOrElse(
          throw new IllegalArgumentException(s"${p.name} input: path required"))) ++
          strAttr(p, "max_bytes_per_trigger").map(v =>
            "max_bytes_per_trigger" -> parseByteSize(v).toString)
      case "generator" if p.name == "heartbeat" =>
        // liveness ticks: message => "sequence"/"epoch" add a clock column
        // (see lowerInput), the ticks themselves carry "ok"
        Map("count" -> strAttr(p, "count").getOrElse("1"), "partitions" -> "1",
          "lines" -> strAttr(p, "message").filterNot(Set("sequence", "epoch")).getOrElse("ok"))
      case "generator" =>
        Map("count" -> strAttr(p, "count").getOrElse("1000"),
          "partitions" -> spark.sparkContext.defaultParallelism.toString,
          "lines" -> p.attr("lines").map(strList)
            .orElse(strAttr(p, "message").map(Seq(_))) // the single-message form
            .getOrElse(Seq("Hello world!")).mkString("|"))
      case "unix" =>
        // server mode only: an AF_UNIX stream listener journals lines
        strAttr(p, "mode").foreach(m => require(m == "server",
          s"unix input: only mode => server is supported, got $m"))
        Map("socket" -> strAttr(p, "path").getOrElse(
          throw new IllegalArgumentException("unix input: path required")),
          "force_unlink" -> strAttr(p, "force_unlink").getOrElse("false"))
      case _ =>
        Map("port" -> listenerPort(p).toString) ++
          (if (binary) Map("frames" -> "base64") else Map.empty)
    }
    val fmt = kind match {
      case "file" => "graft.sources.FileTailSource"
      case "generator" => "graft.sources.GeneratorSource"
      case "tcp" => "graft.sources.TcpSource"
      case "udp" => "graft.sources.UdpSource"
      case "unix" => "graft.sources.UnixSource"
      case "http" => "graft.sources.HttpSource"
      case "beats" => "graft.sources.BeatsSource"
      case "relp" => "graft.sources.RelpSource"
    }
    // listeners journal what they receive; a read replays the journal so far
    (fmt, opts ++ strAttr(p, "journal").map("journal" -> _))
  }

  /** The syslog input's RFC 3164 parse chain over a line-framed frame —
    * narrow (one grok pass + PRI arithmetic), so it runs identically on
    * batch and streaming frames.
    */
  private def syslogParse(raw: DataFrame): DataFrame = {
    val pattern = "<%{NONNEGINT:priority:int}>%{SYSLOGTIMESTAMP:stamp} " +
      "%{SYSLOGHOST:logsource} %{SYSLOGPROG}: %{GREEDYDATA:msgbody}"
    val parsed = Parse.grokFull(raw, "message", Seq(pattern),
      tagOnFailure = Seq("_grokparsefailure_sysloginput"))
    val pri = coalesce(col("priority"), lit(13)) // reference default PRI
    // absent [pid] is already null: grokFull's keep_empty_captures default
    parsed.withColumn("priority", pri)
      .withColumn("severity", graft.operators.Net.syslogSeverity(pri))
      .withColumn("facility", graft.operators.Net.syslogFacility(pri))
  }

  /** Lower a `codec => multiline { pattern/negate/what }` block over a
    * line-framed source frame (offset BIGINT, message STRING): reassembled
    * events come back as (event_group, message, n_lines, tags).
    */
  private def applyMultiline(cp: Plugin): DataFrame => DataFrame = {
    val pat = strAttr(cp, "pattern").getOrElse(
      throw new IllegalArgumentException("multiline codec: pattern required"))
    // reference buffer caps (multiline codec defaults: max_lines 500,
    // max_bytes "10 MiB"): a continuation run exceeding a cap flushes as a
    // tagged piece — bounded reassembly memory, the group analogue of the
    // tcp frame size_limit. Size strings take the reference's unit forms.
    val maxLines = strAttr(cp, "max_lines").map(_.toInt).getOrElse(500)
    val maxBytes = strAttr(cp, "max_bytes").map(parseByteSize).getOrElse(10L << 20)
    val negate = strAttr(cp, "negate").contains("true")
    val what = strAttr(cp, "what").getOrElse("previous")
    raw => graft.operators.Codec.multilineConfig(
        raw.withColumn("_stream", lit("multiline")), "message", "offset", "_stream",
        pat, negate, what, maxLines, maxBytes)
      .select(col("event_group"), col("msg").as("message"), col("n_lines"),
        when(col("ml_capped"), array(lit("multiline_codec_max_lines_reached")))
          .otherwise(array().cast("array<string>")).as("tags"))
  }

  /** Parse a reference-style byte-size string: "10 MiB", "512kb", "1048576". */
  private[lscl] def parseByteSize(s: String): Long = {
    val t = s.trim.toLowerCase
    val m = "^([0-9]+)\\s*(b|kb|kib|mb|mib|gb|gib)?$".r.findFirstMatchIn(t)
      .getOrElse(throw new IllegalArgumentException(s"bad byte size `$s`"))
    val n = m.group(1).toLong
    Option(m.group(2)).getOrElse("b") match {
      case "b" => n
      case "kb" | "kib" => n << 10
      case "mb" | "mib" => n << 20
      case _ => n << 30
    }
  }

  /** Map the LSCL `kafka` input's option surface (logstash-input-kafka,
    * qa/integration/fixtures/kafka_input_spec.yml) onto the spark-sql-kafka
    * DataSource options. Pure option translation — testable without a
    * broker; the actual read fails loudly when the connector jars are
    * absent (see [[kafkaFrame]]). DOCUMENTED-UNTESTED against a live
    * broker in this environment (no network egress): the mapping follows
    * both public option references.
    */
  private[graft] def kafkaOptions(p: Plugin): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    b += "kafka.bootstrap.servers" ->
      strAttr(p, "bootstrap_servers").getOrElse("localhost:9092")
    (p.attr("topics").map(strList), strAttr(p, "topics_pattern")) match {
      case (Some(ts), None) => b += "subscribe" -> ts.mkString(",")
      case (None, Some(pat)) => b += "subscribePattern" -> pat
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "kafka input: topics and topics_pattern are mutually exclusive")
      case _ => throw new IllegalArgumentException(
        "kafka input: topics or topics_pattern required")
    }
    strAttr(p, "group_id").foreach(g => b += "kafka.group.id" -> g)
    strAttr(p, "client_id").foreach(c => b += "kafka.client.id" -> c)
    strAttr(p, "auto_offset_reset").foreach {
      case "earliest" => b += "startingOffsets" -> "earliest"
      case "latest" => b += "startingOffsets" -> "latest"
      case other => throw new IllegalArgumentException(
        s"kafka input: auto_offset_reset `$other` (expected earliest|latest)")
    }
    strAttr(p, "security_protocol").foreach(sp =>
      b += "kafka.security.protocol" -> sp)
    b.result()
  }

  /** Map the LSCL `kafka` OUTPUT's option surface (logstash-output-kafka)
    * onto spark-sql-kafka writer options — the mirror of [[kafkaOptions]].
    * Pure translation, unit-testable without a broker; the write itself
    * fails loudly when the connector jars are absent.
    */
  private[graft] def kafkaOutputOptions(p: Plugin): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    b += "kafka.bootstrap.servers" ->
      strAttr(p, "bootstrap_servers").getOrElse("localhost:9092")
    b += "topic" -> strAttr(p, "topic_id").getOrElse(
      throw new IllegalArgumentException("kafka output: topic_id required"))
    strAttr(p, "client_id").foreach(c => b += "kafka.client.id" -> c)
    strAttr(p, "compression_type").foreach(c =>
      b += "kafka.compression.type" -> c)
    strAttr(p, "acks").foreach(a => b += "kafka.acks" -> a)
    strAttr(p, "security_protocol").foreach(sp =>
      b += "kafka.security.protocol" -> sp)
    b.result()
  }

  /** jdbc input (logstash-input-jdbc): one event per result row of
    * `statement` against `jdbc_connection_string`; batch = one schedule tick
    * (like exec/http_poller — the reference's scheduler re-runs the query).
    * Lowered onto Spark's JDBC source, so the scan is EXECUTOR-side; with
    * `partition_column`/`lower_bound`/`upper_bound`/`num_partitions` (the
    * scale extension — the reference's jdbc_paging is a single-threaded
    * cursor) it becomes a parallel range-partitioned read with predicate
    * pushdown. `parameters` substitute `:name` placeholders with config
    * literals BEFORE submission (an input has no per-event context, unlike
    * jdbc_streaming's row-parameterized lookups). Column names fold to
    * lowercase unless `lowercase_column_names => false` (the reference
    * default). Tested against embedded Derby (JdbcInputSpec, lscl_jdbc_in).
    */
  private def jdbcInputFrame(spark: org.apache.spark.sql.SparkSession,
                             p: Plugin): DataFrame = {
    val url = strAttr(p, "jdbc_connection_string").getOrElse(
      throw new IllegalArgumentException("jdbc input: jdbc_connection_string required"))
    val stmtRaw = strAttr(p, "statement").getOrElse(
      throw new IllegalArgumentException("jdbc input: statement required"))
    def sqlLit(v: String): String =
      if (v.matches("-?\\d+(\\.\\d+)?")) v
      else "'" + v.replace("'", "''") + "'"
    val params = p.attr("parameters") match {
      case Some(VHash(es)) => es.map { case (k, v) => k -> str(litVal(v)) }
      case _ => Nil
    }
    // longest names first so :rate_min substitutes before :rate
    val stmt = params.sortBy(-_._1.length).foldLeft(stmtRaw) {
      case (s, (k, v)) => s.replace(":" + k, sqlLit(v))
    }
    var rd = spark.read.format("jdbc").option("url", url)
    strAttr(p, "jdbc_user").foreach(u => rd = rd.option("user", u))
    strAttr(p, "jdbc_password").foreach(w => rd = rd.option("password", w))
    strAttr(p, "jdbc_driver_class").foreach(d => rd = rd.option("driver", d))
    strAttr(p, "partition_column") match {
      case Some(c) =>
        // Spark forbids query+partitionColumn together: wrap the statement
        // as a derived table so the ranged WHERE clauses push into it
        rd = rd.option("dbtable", s"($stmt) AS graft_jdbc_sub")
          .option("partitionColumn", c)
          .option("lowerBound", strAttr(p, "lower_bound").getOrElse(
            throw new IllegalArgumentException(
              "jdbc input: partition_column requires lower_bound/upper_bound")))
          .option("upperBound", strAttr(p, "upper_bound").getOrElse(
            throw new IllegalArgumentException(
              "jdbc input: partition_column requires lower_bound/upper_bound")))
          .option("numPartitions", strAttr(p, "num_partitions").getOrElse("4"))
      case None => rd = rd.option("query", stmt)
    }
    val df = rd.load()
    if (strAttr(p, "lowercase_column_names").contains("false")) df
    else df.toDF(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)): _*)
  }

  /** Build the kafka source frame (batch or stream), failing loudly when the
    * spark-sql-kafka connector is not on the classpath (this sandbox ships
    * no connector jars — the option mapping is still unit-tested).
    */
  private def kafkaFrame(spark: org.apache.spark.sql.SparkSession, p: Plugin,
                         streaming: Boolean): DataFrame = {
    val opts = kafkaOptions(p)
    val loaded =
      try {
        if (streaming) spark.readStream.format("kafka").options(opts).load()
        else spark.read.format("kafka").options(opts).load()
      } catch {
        case e: Exception if String.valueOf(e.getMessage).contains("kafka") ||
          e.isInstanceOf[ClassNotFoundException] =>
          throw new IllegalStateException(
            "kafka input: the spark-sql-kafka connector jars are not on the " +
              "classpath (this environment has no broker or connector); add " +
              "org.apache.spark:spark-sql-kafka-0-10 to run this config", e)
      }
    // the reference's plain codec surface: value bytes decode to `message`,
    // kafka metadata rides along like the input's decorate_events fields
    loaded.select(col("value").cast("string").as("message"),
      col("topic"), col("partition"), col("offset"),
      col("timestamp").as("@timestamp"))
  }

  /** The `input` section lowered once. `perBatch` is a stream's one decode
    * that needs whole-micro-batch context, with what it decodes (for error
    * messages); batch lowering applies every decode inline.
    */
  private final case class Lowered(frame: DataFrame,
                                   perBatch: Option[(String, DataFrame => DataFrame)] = None)

  /** Lower the `input` section to a source frame (batch or stream). Multiple
    * inputs union (the reference runs them concurrently into one queue;
    * order within the union is not part of the contract). A stream runs a
    * `perBatch` decode over the whole micro-batch, so that input must be
    * the pipeline's only one.
    */
  private def lowerInputs(spark: org.apache.spark.sql.SparkSession, items: Seq[Item],
                          streaming: Boolean, bus: Option[PipelineBus]): Lowered = {
    val inputs = items.collect { case PluginItem(p) => lowerInput(spark, p, streaming, bus) }
    require(inputs.nonEmpty, "config has no input")
    val perBatch = inputs.flatMap(_.perBatch)
    require(perBatch.isEmpty || inputs.size == 1,
      s"streaming runs the ${perBatch.map(_._1).mkString(", ")} over whole micro-batches " +
        "of the unioned inputs — give that input its own pipeline")
    Lowered(inputs.map(_.frame).reduce(_.unionByName(_, allowMissingColumns = true)),
      perBatch.headOption)
  }

  /** Lower one input. Listener, tail and generator inputs read through
    * [[transport]] and decode through [[lineCodec]]: every (input, codec)
    * pair either streams the decode batch applies or fails here, before a
    * query starts, naming the input and the codec. The other inputs are
    * batch-only.
    */
  private def lowerInput(spark: org.apache.spark.sql.SparkSession, p: Plugin,
                         streaming: Boolean, bus: Option[PipelineBus]): Lowered = {
    def batchOnly[A](lowered: => A): A =
      if (streaming) throw new UnsupportedOperationException(
        s"input plugin `${p.name}` is not streamable (batch-only)")
      else lowered
    val cp = codecOf(p)
    lazy val table = cp.fold(Option(LineCodec(identity)))(lineCodec)
    lazy val codec = table.getOrElse(throw new IllegalArgumentException(
      s"${p.name} input: codec `${cp.get.name}` is not supported on this input"))
    def decoded(raw: DataFrame, post: DataFrame => DataFrame = identity): Lowered = {
      val what = s"${p.name} input's ${cp.fold("line")(_.name)} codec"
      if (streaming) codec.batchOnly.foreach(why =>
        throw new IllegalArgumentException(s"$what cannot stream: $why"))
      if (streaming && codec.perBatch) Lowered(raw, Some(what -> codec.decode.andThen(post)))
      else Lowered(post(codec.decode(raw)))
    }
    def listen(): DataFrame = {
      val (fmt, opts) = transport(spark, p, codec.binary)
      if (streaming) spark.readStream.format(fmt).options(opts).load()
      else spark.read.format(fmt).options(opts).load()
    }
    p.name match {
      case "tcp" | "udp" | "unix" | "http" | "beats" | "relp" | "gelf" | "snmptrap" |
           "ganglia" | "graphite" | "generator" => decoded(listen())
      case "logstash" | "elastic_serverless_forwarder" =>
        // ssl/auth attrs are transport concerns the local listener doesn't
        // model: TLS is rejected loudly, credentials accepted, not enforced
        requirePlaintext(p, "input")
        decoded(listen())
      case "syslog" => decoded(listen(), syslogParse)
      case "heartbeat" =>
        // logstash-input-heartbeat: `count` ticks; message => "sequence" adds
        // the incrementing `clock`, "epoch" the epoch second (pinned by
        // `now` for deterministic replay — the reference reads the wall clock)
        val gen = listen()
        decoded(strAttr(p, "message") match {
          case Some("sequence") => gen.withColumn("clock", col("seq") + 1)
          case Some("epoch") =>
            val now = strAttr(p, "now").map(s => to_timestamp(lit(s)))
              .getOrElse(current_timestamp())
            gen.withColumn("clock", unix_timestamp(now))
          case _ => gen
        })
      case "kafka" => decoded(kafkaFrame(spark, p, streaming))
      // the offset-tracked tail source (byte-offset sincedb contract)
      case "file" if strAttr(p, "mode").contains("tail") => decoded(listen())
      case "file" => batchOnly {
        val path = strAttr(p, "path").getOrElse(
          throw new IllegalArgumentException("file input: path required"))
        cp.map(_.name) match {
          // these codecs order lines on the tail source's byte offsets
          case Some("multiline" | "es_bulk") => decoded(listen())
          case Some(n) if table.isDefined && n != "json" && n != "json_lines" =>
            decoded(spark.read.text(path).withColumnRenamed("value", "message"))
          case _ => Lowered(fileRead(spark, path, cp))
        }
      }
      case "stdin" | "java_stdin" => batchOnly {
        // the reference's default input (java_stdin is the same plugin's
        // java-execution name, mixed_codec_spec.yml): stdin is inherently
        // driver-local, so drain it to a spill file once (bounded by EOF in
        // batch mode) and scan that — one line per event (charset decodes
        // leniently)
        val tmp = java.nio.file.Files.createTempFile("graft_stdin", ".log")
        java.nio.file.Files.copy(System.in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        decoded(spark.read.text(tmp.toString).withColumnRenamed("value", "message"))
      }
      case _ => Lowered(batchOnly(batchInput(spark, p, bus)))
    }
  }

  /** Lower the `input` section to a batch source frame. Supported inputs:
    *  - listener inputs (tcp, udp, unix, http, beats, relp, syslog, gelf,
    *    snmptrap, ganglia, graphite, logstash, elastic_serverless_forwarder)
    *    read their journal so far; `file { mode => tail }` reads the
    *    offset-tracked tail source; `generator`/`heartbeat` the native
    *    DataSourceV2 generator; each decodes through its codec;
    *  - `file { path => ... codec => ... }` — lake reads (parquet default;
    *    `codec => line`/text reads one line per event);
    *  - the batch-only pollers and archive replays (pipeline, jdbc,
    *    http_poller, dead_letter_queue, stdin, couchdb_changes, exec, pipe,
    *    elasticsearch) and `kafka`.
    * [[runConfigStream]] lowers the same section onto `readStream`.
    */
  def source(spark: org.apache.spark.sql.SparkSession, items: Seq[Item],
             bus: Option[PipelineBus] = None): DataFrame =
    lowerInputs(spark, items, streaming = false, bus).frame


  /** The batch-only inputs that are neither a listener nor a tail: pollers
    * (one schedule tick), archive replays and the pipeline address bus.
    */
  private def batchInput(spark: org.apache.spark.sql.SparkSession, p: Plugin,
                         bus: Option[PipelineBus]): DataFrame = p.name match {
    case "pipeline" =>
      // the address-bus input: resolve the upstream's registered frame
      val addr = strAttr(p, "address").getOrElse(
        throw new IllegalArgumentException("pipeline input: address required"))
      bus.getOrElse(throw new IllegalStateException(
        "pipeline input used but no PipelineBus supplied")).resolve(addr)
    case "jdbc" => jdbcInputFrame(spark, p)
    case "http_poller" =>
      // logstash-input-http_poller: poll each NAMED url once per schedule
      // tick; batch = one tick (like exec). The url map is config-sized,
      // so the fetches are driver-side like the reference's single poller
      // thread; body -> message, the poll identity rides along the way
      // [http_poller_metadata][name] does
      val urls = p.attr("urls") match {
        case Some(VHash(es)) => es.map { case (n, v) => v match {
          case VString(u) => n -> u
          // the nested { url => ... method => get } request-spec form
          case VPlugin(spec) => n -> strAttr(spec, "url").getOrElse(
            throw new IllegalArgumentException(s"http_poller url `$n`: url required"))
          case other => throw new IllegalArgumentException(
            s"http_poller url `$n`: expected url string or request spec, got $other")
        }}
        case _ => throw new IllegalArgumentException("http_poller input: urls hash required")
      }
      val rows = urls.map { case (n, u) =>
        val (status, body) = Enrich.fetchUrl(u)
        (n, u, status, Option(body).getOrElse(""), body == null)
      }
      import spark.implicits._
      rows.toSeq.toDF("poller_name", "url", "status", "message", "_failed")
        .withColumn("tags", when(col("_failed"),
          array(lit("_http_request_failure"))).otherwise(array().cast("array<string>")))
        .drop("_failed")
    case "dead_letter_queue" =>
      // the DLQ input: replay a persisted DLQ side-channel table
      // (graft.operators.Dlq.entries shape), oldest-first by entry_time
      val path = strAttr(p, "path").getOrElse(
        throw new IllegalArgumentException("dead_letter_queue input: path required"))
      spark.read.parquet(path)
    case "couchdb_changes" =>
      // couchdb_changes input (logstash-input-couchdb_changes): consumes
      // the CouchDB `_changes` feed — PUBLIC ndjson, one change per line:
      // {"seq":..,"id":..,"changes":[{"rev":..}],"doc":{..},"deleted":..}.
      // The live long-poll is an external service; the supported form is
      // archive replay of a saved feed (`path =>`) — the same boundary as
      // the syslog/dlq archive inputs. `schema` declares the doc fields
      // (the schema'd-json contract, no inference double-scan). Emits the
      // doc columns plus the reference's @metadata as _meta_id/_meta_rev/
      // _meta_action ("update"/"delete" — deleted changes carry null doc
      // columns) and _meta_seq.
      val path = strAttr(p, "path").getOrElse(
        throw new IllegalArgumentException(
          "couchdb_changes input: path required (a saved _changes feed; " +
            "the live long-poll is an external service)"))
      val ddl = strAttr(p, "schema").getOrElse(
        throw new IllegalArgumentException(
          "couchdb_changes input: schema => \"<ddl>\" required (doc fields)"))
      val docT = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      val envT = new org.apache.spark.sql.types.StructType()
        .add("seq", org.apache.spark.sql.types.StringType)
        .add("id", org.apache.spark.sql.types.StringType)
        .add("deleted", org.apache.spark.sql.types.BooleanType)
        .add("changes", org.apache.spark.sql.types.ArrayType(
          new org.apache.spark.sql.types.StructType()
            .add("rev", org.apache.spark.sql.types.StringType)))
        .add("doc", docT)
      spark.read.text(path)
        .select(from_json(col("value"), envT).as("_c"))
        .select(docT.fieldNames.toSeq.map(f => col(s"_c.doc.`$f`").as(f)) ++ Seq(
          col("_c.id").as("_meta_id"),
          try_element_at(col("_c.changes"), lit(1)).getField("rev").as("_meta_rev"),
          when(coalesce(col("_c.deleted"), lit(false)), lit("delete"))
            .otherwise(lit("update")).as("_meta_action"),
          col("_c.seq").as("_meta_seq")): _*)
    case "exec" | "pipe" =>
      // exec input (logstash-input-exec): run `command`, one event per
      // stdout line with the command recorded — batch = one tick of the
      // reference's interval loop, driver-side like the reference's
      // single plugin thread. The `pipe` input (logstash-input-pipe) is
      // the same shape minus the interval: a long-running command whose
      // stdout lines are events — batch drains what the command emits.
      val cmd = strAttr(p, "command").getOrElse(
        throw new IllegalArgumentException(s"${p.name} input: command required"))
      val proc = new ProcessBuilder("/bin/sh", "-c", cmd)
        .redirectErrorStream(true).start()
      val outBytes = proc.getInputStream.readAllBytes()
      proc.waitFor()
      val lines = new String(outBytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq
      import spark.implicits._
      lines.toDF("message").withColumn("command", lit(cmd))
    case "elasticsearch" =>
      // logstash-input-elasticsearch over the LOCAL index model (the live
      // cluster is external — same boundary as the elasticsearch filter):
      // `index_path` is the exported index root (what the elasticsearch
      // OUTPUT writes, partitioned by `_index`), `index` an ES wildcard
      // over index names (lowered onto the `_index` partition column —
      // partition-pruned scan, never a full read), `query` the DSL subset
      // lowered to native predicates (EsQuery — pushed to the scan).
      // `docinfo => true` keeps _index/_docid as [@metadata] fields like
      // the reference's docinfo_target.
      val idxPath = strAttr(p, "index_path").getOrElse(
        throw new IllegalArgumentException(
          "elasticsearch input: index_path required (the local index root " +
            "— the live-cluster half is external; see COVERAGE.md)"))
      val raw = spark.read.parquet(idxPath)
      val byIndex = strAttr(p, "index") match {
        case Some(pat) if raw.columns.contains("_index") =>
          raw.filter(col("_index").rlike(
            graft.operators.EsQuery.wildcardRegex(pat)))
        case Some(pat) if pat != "*" => throw new IllegalArgumentException(
          s"elasticsearch input: index => `$pat` but the export at " +
            s"$idxPath has no _index partition column")
        case _ => raw
      }
      val queried = strAttr(p, "query") match {
        case Some(q) => byIndex.filter(graft.operators.EsQuery.predicate(q))
        case None => byIndex
      }
      if (strAttr(p, "docinfo").exists(_.toBoolean)) {
        val d1 = if (queried.columns.contains("_index"))
          queried.withColumnRenamed("_index", "_meta__index") else queried
        if (d1.columns.contains("_docid"))
          d1.withColumnRenamed("_docid", "_meta__id") else d1
      } else queried.drop("_index", "_docid")
    case "redis" | "rabbitmq" | "jms" | "twitter" | "azure_event_hubs" |
         "elasticsearch_eql" | "snmp" =>
      throw new UnsupportedOperationException(
        s"input `${p.name}` polls an external service/broker with no " +
          "local model" + (if (p.name == "snmp")
            " — received TRAPS are supported via the snmptrap input" else "") +
          "; land the data as files/tcp/http/beats and ingest from there")
    case _ =>
      throw new UnsupportedOperationException(s"unsupported input plugin `${p.name}`")
  }

  /** The file input's whole-file binary codecs and lake reads: avro,
    * msgpack/fluent, json/json_lines, csv, and parquet (the default).
    */
  private def fileRead(spark: org.apache.spark.sql.SparkSession, path: String,
                       cp: Option[Plugin]): DataFrame = {
    def ddl = cp.flatMap(c => strAttr(c, "schema")).getOrElse(
      throw new IllegalArgumentException(
        s"codec => ${cp.get.name} requires schema => \"<ddl>\""))
    cp.fold("parquet")(_.name) match {
      case "avro" =>
        // avro codec: consecutive raw binary datums; schema => the avro
        // schema JSON (the Spark schema derives from it)
        graft.operators.Codec.avroDecode(
          spark.read.format("binaryFile").load(path).select(col("content")),
          "content", ddl)
      case n @ ("msgpack" | "fluent") =>
        // binary codecs: a file is a byte stream of consecutive
        // self-delimiting packed objects; schema => DDL is required
        // (same contract as the schema'd json codec — no inference)
        val schema = ddl
        val bin = spark.read.format("binaryFile").load(path).select(col("content"))
        if (n == "msgpack") graft.operators.Codec.msgpackDecode(bin, "content", schema)
        else graft.operators.Codec.fluentDecode(bin, "content", schema)
      case "json" | "json_lines" =>
        // codec json_lines { schema => "a STRING, n BIGINT" } skips the
        // inference scan — the 100 TB path (schemaless inference reads
        // the corpus twice)
        cp.flatMap(c => strAttr(c, "schema")) match {
          case Some(s) => spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(s)).json(path)
          case None => spark.read.json(path)
        }
      case "csv" =>
        // csv codec (logstash-codec-csv): columns => header names (else
        // autodetect_column_names reads them from the first line),
        // separator, skip_header implied by explicit columns=false
        val sep = cp.flatMap(c => strAttr(c, "separator")).getOrElse(",")
        val rd = spark.read.option("sep", sep)
        cp.flatMap(c => c.attr("columns")).map(strList) match {
          case Some(cols) =>
            val named = rd.option("header", "false").csv(path)
            require(named.columns.length == cols.length,
              s"csv codec: file has ${named.columns.length} columns, " +
                s"config names ${cols.length}")
            named.toDF(cols: _*)
          case None => rd.option("header", "true").csv(path)
        }
      case _ => spark.read.parquet(path)
    }
  }

  /** Run a complete config text as a STRUCTURED STREAMING job: streaming
    * input -> filters applied per micro-batch -> one-pass sink fan-out with
    * per-batch counts (graft.streaming.StreamPipeline.run). This is the
    * reference's actual execution model — the micro-batch worker loop over
    * the queue (JavaPipeline worker threads) — so a config that runs in
    * batch runs here unchanged. Checkpointed offsets schedule the batches;
    * file sinks and `_counts` are exactly-once per epoch, and network sinks
    * at-least-once (the PQ contract).
    */
  def runConfigStream(spark: org.apache.spark.sql.SparkSession, configText: String,
                      outDir: String, checkpoint: String,
                      env: Map[String, String] = sys.env,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val cfg = Lscl.parse(configText, env)
    require(pipelineSends(cfg.outputs).isEmpty,
      "pipeline { send_to } outputs are batch-only (the address bus resolves " +
        "at converge time); run this config via Pipelines.Registry")
    // net/debug sinks apply PER MICRO-BATCH over the transformed frame
    // (StreamPipeline.run perBatch hook), after the file sinks commit —
    // at-least-once on replay, the reference's PQ-replay output contract;
    // file sinks and _counts are exactly-once per epoch
    val perBatch: Option[DataFrame => Unit] =
      if (netSinkSpecs(cfg.outputs).isEmpty) None
      else Some(b => runNetSinks(b, cfg.outputs))
    // stateful filters carry counters that must SPAN the period — inside
    // foreachBatch each micro-batch would get its own window, silently
    // resetting counts at every batch boundary (the reference's counters
    // persist across batches within a period). Reject loudly rather than
    // diverge silently; the keyed-state streaming forms live API-side
    // (StreamPipeline.throttleStream / windowedMetrics /
    // aggregateWithTimeout), and batch mode runs these configs exactly.
    // (per-batch input decodes such as multiline are different by design:
    // the batch is the documented auto_flush_interval analogue, LineCodec.)
    val statefulNames = Set("throttle", "metrics", "aggregate", "elapsed")
    def statefulIn(items: Seq[Item]): Seq[String] = items.flatMap {
      case PluginItem(p) if statefulNames(p.name) => Seq(p.name)
      case Branch(arms, otherwise) =>
        arms.flatMap(a => statefulIn(a._2)) ++ statefulIn(otherwise)
      case _ => Nil
    }
    val stateful = statefulIn(cfg.filters)
    // ONE TOP-LEVEL stateful filter streams exactly: its counters/maps lower
    // onto flatMapGroupsWithState — state PERSISTS across micro-batches and
    // checkpoint restarts (the reference's cross-batch contract; LsclStreamSpec
    // proves batch == stream across a restart for all four). Multiple stateful
    // plugins or branch-nested ones still reject loudly below.
    val topStatefulIdx = cfg.filters.indexWhere {
      case PluginItem(p) => statefulNames(p.name)
      case _ => false
    }
    if (stateful.size == 1 && topStatefulIdx >= 0) {
      val (pre, rest) = cfg.filters.splitAt(topStatefulIdx)
      val tp = rest.head.asInstanceOf[PluginItem].plugin
      val post = rest.tail
      // a per-micro-batch input decode would run after the keyed state
      val in = lowerInputs(spark, cfg.inputs, streaming = true, None)
      require(in.perBatch.isEmpty,
        s"streamed ${tp.name} cannot combine with the ${in.perBatch.map(_._1).orNull}: " +
          "it decodes per micro-batch, after the keyed state would have counted the raw lines")
      // pre-stateful filters must be row-wise projections (they stream as-is;
      // window-based parses fail loudly in analysis at stream start)
      val preApplied = applyFilters(in.frame, pre)
      val stated = tp.name match {
        case "throttle"  => streamThrottle(preApplied, tp)
        case "metrics"   => streamMetrics(preApplied, tp)
        case "aggregate" => streamAggregate(preApplied, tp)
        case _           => streamElapsed(preApplied, tp)
      }
      graft.streaming.StreamPipeline.run(spark, stated,
        b => applyFilters(b, post), sinkSpecs(cfg.outputs), outDir,
        checkpoint, trigger, perBatch)
    } else {
      require(stateful.isEmpty,
        s"stateful filter plugins ${stateful.distinct.mkString(", ")} are batch-only " +
          "in config form: per-micro-batch windows would reset their counters at " +
          "every batch boundary (a single TOP-LEVEL throttle, metrics, aggregate, or " +
          "elapsed is the exception — it lowers onto keyed state). Run the config in " +
          "batch mode (runConfig), " +
          "or use the keyed-state streaming operators in graft.streaming.StreamPipeline")
      val in = lowerInputs(spark, cfg.inputs, streaming = true, None)
      val decode = in.perBatch.fold[DataFrame => DataFrame](identity)(_._2)
      graft.streaming.StreamPipeline.run(spark, in.frame,
        b => applyFilters(decode(b), cfg.filters), sinkSpecs(cfg.outputs), outDir,
        checkpoint, trigger, perBatch)
    }
  }

  /** Streamed `throttle`: the config filter's running count lowered onto
    * `flatMapGroupsWithState` keyed on (rendered key, period slot) — the
    * state is the count of rows already ranked for that (key, slot), so
    * counters SPAN micro-batches and survive checkpoint restarts (the
    * reference's cross-batch counter semantics; the batch lowering's
    * window-rank over the same (key, slot) gives identical verdicts when
    * events arrive in order).
    *
    * Ordering contract: batches arrive in source order (offset-tracked
    * sources) and each batch's group is sorted by (event time, order_by)
    * before ranking — group memory is bounded by the micro-batch, the
    * standard keyed-state cost. order_by columns order numerically for
    * non-negative numerics (zero-padded), lexically for strings. Rows ride
    * through the typed operator as JSON payloads and re-expand against the
    * static schema afterward.
    *
    * State eviction: a (key, slot) idle for 2 periods of PROCESSING time
    * drops its counter (the reference throttle's LRU eviction analogue) —
    * bounded state for unbounded key spaces.
    */
  private def streamThrottle(df: DataFrame, p: Plugin): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val keyTpl = strAttr(p, "key").getOrElse(
      throw new IllegalArgumentException("throttle: key required"))
    val period = strAttr(p, "period").map(_.toLong).getOrElse(3600L)
    val before = strAttr(p, "before_count").map(_.toInt).getOrElse(-1)
    val after = strAttr(p, "after_count").map(_.toInt).getOrElse(-1)
    val tsField = strAttr(p, "timestamp_field").getOrElse("@timestamp")
    val orderBy = p.attr("order_by").map(strList).getOrElse(Nil)
    val schema = df.schema
    val ordPad: Seq[Column] = orderBy.map { f =>
      df.schema(f).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          // sign-aware sortable encoding: shift by 2^62 before zero-padding
          // so NEGATIVE order keys sort numerically ('-' would otherwise
          // outrank digits lexically and diverge from batch's typed order);
          // fractional parts of doubles truncate -- order_by is an
          // id/sequence contract
          lpad((col(f).cast("long") + lit(4611686018427387904L)).cast("string"), 20, "0")
        case _ => col(f).cast("string")
      }
    }
    // null/unparseable timestamps: the batch window groups them on the NULL
    // slot and orders them first -- mirror with a sentinel group/order key
    // instead of crashing the non-nullable tuple encoder
    val tsCol = col(tsField).cast("timestamp")
    val staged = df.select(
      coalesce(Mutate.sprintfFor(df, keyTpl), lit("")).as("key"),
      coalesce(floor(unix_timestamp(tsCol) / period).cast("long"),
        lit(Long.MinValue)).as("slot"),
      coalesce(unix_micros(tsCol), lit(Long.MinValue)).as("o1"),
      coalesce(concat_ws("\u0000", ordPad: _*), lit("")).as("o2"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("payload")
    ).as[(String, Long, Long, String, String)]
    val ranked = staged.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (String, Boolean)](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toIndexedSeq.sortBy(r => (r._3, r._4))
            val start = state.getOption.getOrElse(0L)
            state.update(start + sorted.size)
            state.setTimeoutDuration(period * 2000L)
            sorted.iterator.zipWithIndex.map { case (r, i) =>
              val rk = start + i + 1
              val matched = (before > 0 && rk < before) || (after > 0 && rk > after)
              (r._5, matched)
            }
          }
      }.toDF("_payload", "_throttle_matched")
    val restored = ranked
      .withColumn("_r", from_json(col("_payload"), schema))
      .select(col("_r.*"), col("_throttle_matched"))
    decoratorOf(p).applyWhen(restored, col("_throttle_matched"))
      .drop("_throttle_matched")
  }

  /** Streamed `metrics`: lifetime-cumulative meter counters on
    * `flatMapGroupsWithState` keyed by meter — counters SPAN micro-batches
    * and checkpoint restarts (the reference contract), with one synthetic
    * metric event per (meter, micro-batch). Flush cadence is the BATCH
    * boundary — the processing-time analogue of the reference's wall-clock
    * `flush_interval` (same stance as the multiline codec's per-batch
    * auto_flush; the batch lowering's slot-aligned flush rows differ in
    * cadence, not in counters — LsclStreamSpec pins final counts equal).
    * State = one long per DISTINCT RENDERED meter name, never evicted —
    * the lifetime-counter contract forbids eviction, and the reference's
    * metric registry has the identical property: a field-rendered meter
    * template (`meter => ["m_%{user_id}"]`) grows its registry unboundedly
    * there too. Keep meter templates config-cardinality (types, levels,
    * hosts), not id-cardinality — same operational rule as the reference.
    */
  private def streamMetrics(df: DataFrame, p: Plugin): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val meters = p.attr("meter").map(strList).getOrElse(
      throw new IllegalArgumentException("metrics: meter required"))
    val meterCols = meters.map(tpl => Mutate.sprintfFor(df, tpl))
    val keyed = df.select(explode(array(meterCols: _*)).as("meter")).as[String]
    val synth = keyed.groupByKey(identity)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (meter, rows, state: GroupState[Long]) =>
          val cum = state.getOption.getOrElse(0L) + rows.size
          state.update(cum)
          Iterator((meter, cum))
      }.toDF("meter", "count")
    // @timestamp = emit time (the processing-time flush boundary)
    val stamped = decoratorOf(p)(synth.withColumn("@timestamp", current_timestamp()))
    df.unionByName(stamped, allowMissingColumns = true)
  }

  /** Streamed `aggregate`: per-task maps on `flatMapGroupsWithState` keyed by
    * the rendered task_id — (n_events, first/last ts, numeric total)
    * accumulate across micro-batches AND checkpoint restarts (the reference's
    * per-task_id map, logstash-filter-aggregate), with one cumulative summary
    * row emitted per (task, micro-batch that touched it). Flush cadence is
    * the BATCH boundary — the processing-time analogue of
    * push_map_as_event_on_timeout (same stance as streamed metrics: cadence
    * differs from the batch lowering's single end-of-input flush; the
    * CONTRACT is the counters — the LAST summary per task equals the batch
    * summary bit-exactly, LsclStreamSpec). Maps are never evicted: a task may
    * always receive more events, the same lifetime contract as the metrics
    * registry — keep task_id templates bounded-cardinality (types, hosts),
    * the reference's own operational rule for aggregate maps.
    *
    * total_value accumulates in exact scaled-long cents (each value first
    * cast decimal(18,2), exactly the batch sum's per-value quantum) so
    * stream == batch to the bit; first/last ts ride as micros and restore
    * through the column's original type. Requires a timestamp-typed
    * timestamp_field: the batch lowering min/maxes whatever type it finds,
    * and a lexical-string min under keyed state would silently diverge, so
    * non-timestamp types reject loudly.
    */
  private def streamAggregate(df: DataFrame, p: Plugin): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val taskTpl = strAttr(p, "task_id").getOrElse(
      throw new IllegalArgumentException("aggregate: task_id required"))
    val tsName = strAttr(p, "timestamp_field").getOrElse("@timestamp")
    val sumField = strAttr(p, "sum_field")
    val tsType = df.schema(tsName).dataType
    require(tsType.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
        tsType.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType],
      s"streamed aggregate: timestamp_field `$tsName` must be timestamp-typed, got $tsType")
    // null task keys ride as a NUL sentinel (groupByKey encoders reject null
    // keys; batch groupBy keeps a null group) and restore to null on emit
    val valCents: Column = sumField match {
      case Some(f) => (col(f).cast("decimal(18,2)") * lit(100)).cast("long")
      case None    => lit(null).cast("long")
    }
    val staged = df.select(
      coalesce(Mutate.sprintfFor(df, taskTpl), lit("\u0000")).as("task"),
      coalesce(unix_micros(col(tsName).cast("timestamp")), lit(Long.MinValue)).as("ts"),
      coalesce(valCents, lit(Long.MinValue)).as("cents")
    ).as[(String, Long, Long)]
    val summar = staged.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long, Long),
                              (String, Long, Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (task, rows, state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (n, nTs, firstM, lastM, nVal, cents) =
            state.getOption.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue, 0L, 0L))
          rows.foreach { r =>
            n += 1
            if (r._2 != Long.MinValue) {
              nTs += 1
              if (r._2 < firstM) firstM = r._2
              if (r._2 > lastM) lastM = r._2
            }
            if (r._3 != Long.MinValue) { nVal += 1; cents += r._3 }
          }
          state.update((n, nTs, firstM, lastM, nVal, cents))
          Iterator((task, n, nTs, firstM, lastM, nVal, cents))
      }.toDF("_task", "_n", "_nts", "_first", "_last", "_nval", "_cents")
    def restoredTs(c: Column): Column = timestamp_micros(c).cast(tsType)
    val cols = Seq(
      when(col("_task") === "\u0000", lit(null).cast("string"))
        .otherwise(col("_task")).as("task_id"),
      col("_n").as("n_events"),
      when(col("_nts") > 0, restoredTs(col("_first"))).as("first_ts"),
      when(col("_nts") > 0, restoredTs(col("_last"))).as("last_ts")) ++
      (if (sumField.isDefined)
        // exact-rational route to double: decimal cents / 100 then one
        // correctly-rounded conversion — identical to the batch
        // sum(decimal(18,2)).cast(double)
        Seq(when(col("_nval") > 0,
          (col("_cents").cast("decimal(20,0)") / lit(100)).cast("double"))
          .as("total_value"))
      else Nil)
    decoratorOf(p)(summar.select(cols: _*))
  }

  /** Streamed `elapsed`: start/end pair correlation on
    * `flatMapGroupsWithState` keyed by the unique id — the recorded earliest
    * start PERSISTS across micro-batches and checkpoint restarts, so an end
    * arriving batches (or a restart) after its start still matches
    * (logstash-filter-elapsed's in-memory start_event map). Rows pass through
    * exactly once with the batch lowering's columns (elapsed_time,
    * elapsed_timestamp_start, tags).
    *
    * Semantics follow the reference's ARRIVAL-ORDER contract (each batch's
    * group processed in event-time order, ends after starts on ties): an end
    * with no recorded start tags elapsed_end_without_start — including an end
    * whose timestamp precedes every start, which whole-batch correlation
    * matches instead (the documented batch divergence, Stateful.elapsed).
    * The batch rule "start with no end ⇒ tagged elapsed_expired_error at
    * end-of-input" has no streaming analogue — a start stays OPEN in state
    * (the reference emits a synthetic expired event after `timeout` wall
    * seconds; here the recorded start is simply evicted after 2×timeout of
    * processing-time idleness, bounding state for abandoned ids — an end
    * arriving later tags end_without_start, exactly the reference's
    * post-expiry behavior).
    */
  private def streamElapsed(df: DataFrame, p: Plugin): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val startTag = strAttr(p, "start_tag").getOrElse(
      throw new IllegalArgumentException("elapsed: start_tag required"))
    val endTag = strAttr(p, "end_tag").getOrElse(
      throw new IllegalArgumentException("elapsed: end_tag required"))
    val idF = strAttr(p, "unique_id_field").getOrElse(
      throw new IllegalArgumentException("elapsed: unique_id_field required"))
    val tsF = strAttr(p, "timestamp_field").getOrElse("@timestamp")
    val timeoutSec = strAttr(p, "timeout").map(_.toLong).getOrElse(1800L)
    val tsType = df.schema(tsF).dataType
    require(tsType.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
        tsType.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType],
      s"streamed elapsed: timestamp_field `$tsF` must be timestamp-typed, got $tsType")
    val schema = df.schema
    val staged = df.select(
      coalesce(col(idF).cast("string"), lit("\u0000")).as("id"),
      coalesce(unix_micros(col(tsF).cast("timestamp")), lit(Long.MinValue)).as("ts"),
      coalesce(array_contains(col("tags"), startTag), lit(false)).as("isStart"),
      coalesce(array_contains(col("tags"), endTag), lit(false)).as("isEnd"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("payload")
    ).as[(String, Long, Boolean, Boolean, String)]
    // state = earliest recorded start (micros); flag 0 = passthrough,
    // 1 = matched end (with start micros), 2 = end without start
    val flagged = staged.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Int, Long)](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toIndexedSeq.sortBy(r => (r._2, r._4))
            var start = state.getOption.getOrElse(Long.MaxValue)
            val out = sorted.map { r =>
              if (r._3 && r._2 != Long.MinValue && r._2 < start) start = r._2
              if (r._4) {
                if (start != Long.MaxValue) (r._5, 1, start)
                else (r._5, 2, 0L)
              } else (r._5, 0, 0L)
            }
            if (start != Long.MaxValue) {
              state.update(start)
              state.setTimeoutDuration(timeoutSec * 2000L)
            }
            out.iterator
          }
      }.toDF("_payload", "_flag", "_startm")
    val restored = flagged
      .withColumn("_r", from_json(col("_payload"), schema))
      .select(col("_r.*"), col("_flag"), col("_startm"))
    val matched = col("_flag") === 1
    val endNo = col("_flag") === 2
    val startTs = timestamp_micros(col("_startm")).cast(tsType)
    val base = coalesce(col("tags"), array().cast("array<string>"))
    restored
      .withColumn("elapsed_time",
        when(matched, col(tsF).cast("double") - startTs.cast("double")))
      .withColumn("elapsed_timestamp_start", when(matched, startTs))
      .withColumn("tags",
        when(matched, concat(base, array(lit("elapsed"), lit("elapsed_match"))))
          .when(endNo, concat(base, array(lit("elapsed"), lit("elapsed_end_without_start"))))
          .otherwise(base))
      .drop("_flag", "_startm")
  }

  /** Execute a complete config text: input -> filter -> routed outputs
    * (one-pass fan-out via [[Route.run]]). The full reference entry
    * path — `bin/logstash -f pipeline.conf` — as one call.
    */
  def runConfig(spark: org.apache.spark.sql.SparkSession, configText: String,
                outDir: String, env: Map[String, String] = sys.env,
                bus: Option[PipelineBus] = None): Route.RunResult = {
    val cfg = Lscl.parse(configText, env)
    val src = source(spark, cfg.inputs, bus)
    // the monitoring API's events.in/filtered counters: events entering the
    // pipeline (and hence the filter stage — drop/clone fan-out changes OUT,
    // not in/filtered, monitoring_api_spec.rb:142-172). Parquet-lake sources
    // count from row-group metadata; journal sources are ingest-sized.
    val inCount = src.count()
    val trunk = applyFilters(src, cfg.filters)
    // register pipeline-output frames on the bus BEFORE materializing sinks,
    // so downstream configs in the same converge can resolve them
    val sends = pipelineSends(cfg.outputs)
    if (sends.nonEmpty) {
      val b = bus.getOrElse(throw new IllegalStateException(
        "pipeline output used but no PipelineBus supplied"))
      sends.foreach { case (addrs, cond) =>
        val frame =
          if (cond == True) trunk else trunk.filter(Cond.predicateFor(trunk, cond))
        addrs.foreach(a => b.register(a, frame))
      }
    }
    // with network/debug sinks present, persist the trunk ONCE across the
    // file-sink run and every net sink: re-evaluating the plan per sink
    // would recompute the whole pipeline AND let nondeterministic filters
    // (uuid, clone ids) diverge between what the files hold and what the
    // sockets receive
    val nets = netSinkSpecs(cfg.outputs)
    val pinned =
      if (nets.isEmpty) trunk
      else {
        val t = trunk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t.count() // eager: populate before any consumer races
        t
      }
    try {
      val res = Route.run(spark, pinned, sinkSpecs(cfg.outputs), outDir,
        extraCounts = Map("_in" -> inCount))
      runNetSinks(pinned, cfg.outputs)
      res
    } finally if (nets.nonEmpty) { pinned.unpersist(); () }
  }
}
