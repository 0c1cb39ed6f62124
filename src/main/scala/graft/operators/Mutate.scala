package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** mutate-filter operations + the per-stage decorator contract.
  *
  * Reference semantics (SURVEY.md §2.2): on filter success the decorator runs
  * in fixed order add_field -> remove_field -> add_tag -> remove_tag, all
  * values sprintf-interpolated (`filters/base.rb:195-226`, Java twin
  * `CommonActions.java:50-73`). Tag add dedups like Event.appendTag
  * (Event.java:513-519) — `array_union` reproduces that exactly.
  */
object Mutate {

  // ---- sprintf: full reference template semantics ----
  // StringInterpolation.java:66-137:
  //  %{+%s}        epoch seconds of @timestamp ("" when null)
  //  %{{java}}     java.time pattern of @timestamp at UTC ("" when null);
  //                %{{TIME_NOW}} renders the current time
  //  %{+joda}      Joda pattern of @timestamp at UTC ("" when null)
  //  %{field} / %{[a][b]}  field value; LIST joins with ",", MAP renders as
  //                JSON, NULL/unknown leaves the literal %{...} in place

  private val Ref =
    "%\\{\\{([^}]+)\\}\\}|%\\{\\+%s\\}|%\\{\\+([^}]+)\\}|%\\{((?:\\[[^\\]]+\\])+|[\\w@.]+)\\}".r

  /** Joda-Time pattern -> java.time pattern, tokenized by letter RUN with
    * single-quoted literal sections passed through untouched (a quoted
    * "YYYY" or "ZZZ" is literal text, never rewritten):
    *  - Joda Y (year of era) -> y; Joda x (weekyear) -> Y (week-based-year);
    *  - Joda zone-offset runs differ from java.time's: Z (+0000) -> Z,
    *    ZZ (+00:00) -> XXX, ZZZ (zone id like America/New_York) -> VV.
    * The shared letters (M d H h K k m s S E e a w D G z) agree.
    */
  private[graft] def jodaToJava(p: String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    var inQuote = false
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\'') { inQuote = !inQuote; sb.append(c); i += 1 }
      else if (inQuote) { sb.append(c); i += 1 }
      else {
        var j = i
        while (j < p.length && p.charAt(j) == c) j += 1
        val n = j - i
        c match {
          case 'Y' => var k = 0; while (k < n) { sb.append('y'); k += 1 }
          case 'x' => var k = 0; while (k < n) { sb.append('Y'); k += 1 }
          case 'Z' => sb.append(if (n == 1) "Z" else if (n == 2) "XXX" else "VV")
          case _   => sb.append(p, i, j)
        }
        i = j
      }
    }
    sb.toString
  }

  /** Typed sprintf over a concrete frame: dispatches on each referenced
    * column's data type (array -> join ",", map/struct -> JSON), resolves
    * nested `[a][b]` refs, and uses the frame's `@timestamp` column (or
    * `tsCol`) for the time formats.
    */
  def sprintfFor(df: DataFrame, template: String, tsCol: Option[String] = None): Column =
    sprintfImpl(template, f => resolveField(df, f), tsCol.orElse(
      Seq("@timestamp", "ts", "timestamp").find(df.columns.contains)))

  /** Untyped legacy form (column-name set only): scalar refs cast to string. */
  def sprintf(template: String, columns: Set[String],
              tsCol: Option[String] = None): Column =
    sprintfImpl(template,
      f => if (columns.contains(f)) Some((col(f), None)) else None, tsCol)

  private def resolveField(df: DataFrame, fieldRef: String): Option[(Column, Option[org.apache.spark.sql.types.DataType])] = {
    val ref = graft.model.FieldRef.parse(fieldRef)
    val name = if (ref.meta) "_meta_" + ref.path.mkString("_") else ref.path.head
    if (!df.columns.contains(name)) None
    else {
      var c = col(name)
      var t: org.apache.spark.sql.types.DataType = df.schema(name).dataType
      if (!ref.meta) ref.path.tail.foreach { seg =>
        c = c.getField(seg)
        t = t match {
          case s: org.apache.spark.sql.types.StructType => s(seg).dataType
          case m: org.apache.spark.sql.types.MapType => m.valueType
          case o => o
        }
      }
      Some((c, Some(t)))
    }
  }

  private def sprintfImpl(template: String,
                          resolve: String => Option[(Column, Option[org.apache.spark.sql.types.DataType])],
                          tsCol: Option[String]): Column = {
    import org.apache.spark.sql.types._
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    for (m <- Ref.findAllMatchIn(template)) {
      if (m.start > last) parts += lit(template.substring(last, m.start))
      parts += (Option(m.group(1)) match {
        case Some("TIME_NOW") => date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        case Some(javaFmt) => // %{{pattern}}
          tsCol match {
            case Some(ts) => coalesce(date_format(col(ts), javaFmt), lit(""))
            case None     => lit(m.matched)
          }
        case None if m.matched == "%{+%s}" => // epoch seconds
          tsCol match {
            case Some(ts) => coalesce(unix_timestamp(col(ts)).cast("string"), lit(""))
            case None     => lit(m.matched)
          }
        case None if m.group(2) != null => // %{+joda}
          tsCol match {
            case Some(ts) => coalesce(date_format(col(ts), jodaToJava(m.group(2))), lit(""))
            case None     => lit(m.matched)
          }
        case None =>
          val f = m.group(3)
          resolve(f) match {
            case Some((c, t)) =>
              val rendered = t match {
                case Some(_: ArrayType) => array_join(c.cast("array<string>"), ",")
                case Some(_: MapType) | Some(_: StructType) => to_json(c)
                case _ => c.cast("string")
              }
              // a NULL field leaves the literal %{...} in place, exactly like
              // the unresolved-reference case (StringInterpolation.java:126)
              coalesce(rendered, lit(m.matched))
            case None => lit(m.matched)
          }
      })
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
  }

  // ---- tags (dedup'ing, null-tolerant) ----

  def addTag(df: DataFrame, tag: String): DataFrame =
    addTagWhen(df, lit(true), tag)

  /** Append `tag` to the `tags` array where cond holds; creates the column if
    * missing; dedups (array_union == Event.appendTag semantics).
    */
  def addTagWhen(df: DataFrame, cond: Column, tag: String): DataFrame = {
    val base: Column =
      if (df.columns.contains("tags")) coalesce(col("tags"), array().cast("array<string>"))
      else array().cast("array<string>")
    df.withColumn("tags", when(cond, array_union(base, array(lit(tag)))).otherwise(base))
  }

  def removeTag(df: DataFrame, tag: String): DataFrame =
    if (!df.columns.contains("tags")) df
    else df.withColumn("tags", array_remove(coalesce(col("tags"), array().cast("array<string>")), tag))

  // ---- decorator: add_field -> remove_field -> add_tag -> remove_tag ----

  final case class Decorator(
      addField: Seq[(String, String)] = Nil,   // name -> sprintf template
      removeField: Seq[String] = Nil,
      addTag: Seq[String] = Nil,               // sprintf templates allowed
      removeTag: Seq[String] = Nil) {

    def apply(df: DataFrame): DataFrame = applyWhen(df, lit(true))

    /** Conditional application (filter-matched rows only), preserving the
      * fixed reference order. A row `matched` skips keeps every field as it
      * was: a null or absent `tags` stays null, as Logstash leaves the
      * field absent (Event.java:472-537).
      */
    def applyWhen(df0: DataFrame, matched: Column): DataFrame = {
      val afterAdd = addField.foldLeft(df0) { case (d, (name, tpl)) =>
        val v = sprintfFor(d, tpl)
        if (name.startsWith("[")) {
          // nested target `[a][b]`: conditional write through FieldRef.set,
          // unmatched rows keep the current value (null when absent)
          val cur = resolveField(d, name).map(_._1).getOrElse(lit(null))
          graft.model.FieldRef.set(d, name, when(matched, v).otherwise(cur))
        } else d.withColumn(name,
          if (d.columns.contains(name)) when(matched, v).otherwise(col(name))
          else when(matched, v))
      }
      val afterRemove = removeField.foldLeft(afterAdd) { (d, f) =>
        if (d.columns.contains(f)) d.withColumn(f, when(matched, lit(null)).otherwise(col(f)))
        else d
      }
      val afterTagAdd = addTag.foldLeft(afterRemove) { (d, t) =>
        val cur = if (d.columns.contains("tags")) col("tags") else lit(null).cast("array<string>")
        d.withColumn("tags", when(matched,
          array_union(coalesce(cur, array().cast("array<string>")), array(lit(t)))).otherwise(cur))
      }
      removeTag.foldLeft(afterTagAdd) { (d, t) =>
        if (!d.columns.contains("tags")) d
        else d.withColumn("tags",
          when(matched, array_remove(coalesce(col("tags"), array().cast("array<string>")), t))
            .otherwise(col("tags")))
      }
    }
  }

  // ---- mutate ops proper (each a thin, codegen'd column rewrite) ----

  def rename(df: DataFrame, from: String, to: String): DataFrame = df.withColumnRenamed(from, to)
  def convert(df: DataFrame, field: String, typ: String): DataFrame =
    df.withColumn(field, col(field).cast(typ))
  def gsub(df: DataFrame, field: String, pattern: String, replacement: String): DataFrame =
    df.withColumn(field, regexp_replace(col(field), pattern, replacement))
  def lowercase(df: DataFrame, field: String): DataFrame = df.withColumn(field, lower(col(field)))
  def uppercase(df: DataFrame, field: String): DataFrame = df.withColumn(field, upper(col(field)))
  def strip(df: DataFrame, field: String): DataFrame = df.withColumn(field, trim(col(field)))
  def splitField(df: DataFrame, field: String, sep: String): DataFrame =
    df.withColumn(field, split(col(field), java.util.regex.Pattern.quote(sep)))
  def joinField(df: DataFrame, field: String, sep: String): DataFrame =
    df.withColumn(field, array_join(col(field), sep))

  /** Event `append` deep map-merge (Event.java:363-407 -> Util.mapMerge):
    * missing key takes the added value; colliding values merge as an
    * order-preserving UNION (target's elements first, then the added ones
    * not already present). In the reference a scalar collision promotes to
    * a list — the typed-column equivalent is `map<string, array<string>>`
    * values throughout (a scalar is a 1-element list), which makes the
    * union total. `overwrite` (Event.java:377) is a plain column replace.
    */
  def appendMaps(target: Column, add: Column): Column = {
    val t = coalesce(target, map().cast("map<string,array<string>>"))
    val a = coalesce(add, map().cast("map<string,array<string>>"))
    val keys = array_union(map_keys(t), map_keys(a))
    map_from_arrays(keys, transform(keys, k =>
      array_union(
        coalesce(try_element_at(t, k), array().cast("array<string>")),
        coalesce(try_element_at(a, k), array().cast("array<string>")))))
  }
  def update(df: DataFrame, field: String, tpl: String): DataFrame =
    if (!df.columns.contains(field)) df
    else df.withColumn(field,
      when(col(field).isNotNull, sprintfFor(df, tpl)).otherwise(col(field)))
  def replace(df: DataFrame, field: String, tpl: String): DataFrame =
    df.withColumn(field, sprintfFor(df, tpl))

  /** prune filter: whitelist/blacklist columns by regex. */
  def prune(df: DataFrame, whitelist: Option[String] = None, blacklist: Option[String] = None): DataFrame = {
    val keep = df.columns.filter { c =>
      whitelist.forall(p => c.matches(p)) && !blacklist.exists(p => c.matches(p))
    }
    df.select(keep.map(col): _*)
  }

  /** fingerprint filter: stable hash of selected fields. method: "sha256" |
    * "md5" | "murmur" | "xx64".
    */
  def fingerprint(df: DataFrame, fields: Seq[String], target: String,
                  method: String = "sha256"): DataFrame = {
    val src = concat_ws("|", fields.map(f => coalesce(col(f).cast("string"), lit(""))): _*)
    val h = method match {
      case "md5"    => md5(src)
      case "murmur" => hash(src).cast("string")
      case "xx64"   => xxhash64(src).cast("string")
      case _        => sha2(src, 256)
    }
    df.withColumn(target, h)
  }

  /** uuid filter (reference: the only in-core Java filter plugin,
    * plugins/filters/Uuid.java): set a random UUID field. Nondeterministic
    * by nature — excluded from the oracle gate, covered by shape tests.
    */
  def uuidField(df: DataFrame, target: String, overwrite: Boolean = true): DataFrame =
    if (!overwrite && df.columns.contains(target))
      df.withColumn(target, coalesce(col(target), expr("uuid()")))
    else df.withColumn(target, expr("uuid()"))

  /** truncate filter: cap a string field at N bytes (chars here — the token
    * world is ASCII).
    */
  def truncate(df: DataFrame, field: String, maxLen: Int): DataFrame =
    df.withColumn(field, substring(col(field), 1, maxLen))

  /** anonymize/fingerprint-replace: overwrite a field with its keyed hash. */
  def anonymize(df: DataFrame, field: String, key: String = ""): DataFrame =
    df.withColumn(field, sha2(concat(lit(key), col(field).cast("string")), 256))

  /** urldecode filter. */
  def urldecode(df: DataFrame, field: String): DataFrame =
    df.withColumn(field, url_decode(col(field)))

  /** de_dot filter: rename columns containing dots (illegal downstream). */
  def deDot(df: DataFrame, replacement: String = "_"): DataFrame =
    df.columns.filter(_.contains(".")).foldLeft(df) { (d, c) =>
      d.withColumnRenamed(c, c.replace(".", replacement))
    }

  /** Reserved-field hygiene on ingest (Event.java:100-130;
    * reserved_tags_field_spec.yml): the reference rejects illegal reserved
    * fields rather than crashing or silently coercing.
    *
    *  - `tags` must be a string or list of strings. A scalar STRING column
    *    promotes to a one-element list (legal per Event.java); any other
    *    type moves the value to `_tags` and `tags` becomes
    *    ["_tagsparsefailure"].
    *  - a STRING `@timestamp` is parsed per row; unparseable values get
    *    `_timestampparsefailure` appended to tags, the original preserved
    *    in `_@timestamp`, and a null @timestamp (the reference stamps
    *    now(), which has no deterministic batch analogue).
    *
    * Typed columns make the tags case column-wise (a json/kv parse infers
    * ONE type for the column) and the timestamp case row-wise — both narrow
    * projections, no shuffle.
    */
  def reservedFieldHygiene(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    var out = df
    if (out.columns.contains("tags")) out.schema("tags").dataType match {
      case ArrayType(StringType, _) => () // legal
      case StringType =>
        out = out.withColumn("tags",
          when(col("tags").isNotNull, array(col("tags")))
            .otherwise(lit(null).cast("array<string>")))
      case _ =>
        out = out.withColumn("_tags", col("tags"))
          .withColumn("tags", array(lit("_tagsparsefailure")))
    }
    if (out.columns.contains("@timestamp") &&
        out.schema("@timestamp").dataType == StringType) {
      val parsed = try_to_timestamp(col("@timestamp"))
      val bad = col("@timestamp").isNotNull && parsed.isNull
      val tagsBase: Column =
        if (out.columns.contains("tags"))
          coalesce(col("tags"), array().cast("array<string>"))
        else array().cast("array<string>")
      out = out
        .withColumn("_@timestamp", when(bad, col("@timestamp")))
        .withColumn("tags",
          when(bad, array_union(tagsBase, array(lit("_timestampparsefailure"))))
            .otherwise(tagsBase))
        .withColumn("@timestamp", parsed)
    }
    out
  }

  /** drop filter (optionally percentage-sampled like the reference's
    * `percentage` option — deterministic via hash-mod, not rand(), so replays
    * and resumes route identically).
    */
  def drop(df: DataFrame, cond: Column, percentage: Double = 100.0, keyCol: String = "doc_id"): DataFrame =
    if (percentage >= 100.0) df.filter(!coalesce(cond, lit(false)))
    else df.filter(!(coalesce(cond, lit(false)) &&
      pmod(xxhash64(col(keyCol)), lit(100)) < lit(percentage.toLong)))
}
