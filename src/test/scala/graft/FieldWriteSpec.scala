package graft

import org.apache.spark.sql.functions._
import graft.model.FieldRef

/** FieldRef parse contract (mirrors the reference's FieldReferenceTest.java
  * strict-mode cases) + nested WRITE semantics (Accessors.java:63-120).
  */
class FieldWriteSpec extends SparkSpec {

  test("parse: strict-mode accept/reject cases from FieldReferenceTest") {
    assert(FieldRef.parse("foo") == FieldRef.Ref(Seq("foo"), meta = false))
    assert(FieldRef.parse("[foo]") == FieldRef.Ref(Seq("foo"), meta = false))
    assert(FieldRef.parse("[foo][bar]") == FieldRef.Ref(Seq("foo", "bar"), meta = false))
    assert(FieldRef.parse("[@metadata][x]") == FieldRef.Ref(Seq("x"), meta = true))
    assert(FieldRef.parse("[lst][-1]") == FieldRef.Ref(Seq("lst", "-1"), meta = false))
    // ambiguous syntax throws (FieldReference.java:354)
    for (bad <- Seq("[foo", "foo]bar", "[foo]bar", "[]", "[foo][]", "[[foo]]", ""))
      intercept[IllegalArgumentException](FieldRef.parse(bad))
  }

  test("set: struct add/overwrite, null struct auto-creates, order preserved") {
    import spark.implicits._
    val df = Seq((1L, Some(10L)), (2L, None)).toDF("id", "uid")
      .withColumn("ctx", when(col("uid").isNotNull, struct(col("uid").as("u"))))
      .drop("uid")
    val out = FieldRef.set(FieldRef.set(df, "[ctx][t]", lit("x")), "[ctx][u]", lit(7L))
      .select(col("id"), to_json(col("ctx")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == """{"u":7,"t":"x"}""") // overwrite in place + appended field
    assert(out(2L) == """{"u":7,"t":"x"}""") // null struct -> fresh container
  }

  test("set: list index, negative index, pad-past-end with nulls") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq("a", "b", "c"))).toDF("lst")
    def arr(ref: String, v: String): Seq[String] =
      FieldRef.set(df, ref, lit(v)).select("lst").collect()(0).getSeq[String](0)
    assert(arr("[lst][1]", "X") == Seq("a", "X", "c"))
    assert(arr("[lst][-1]", "Y") == Seq("a", "b", "Y"))
    assert(arr("[lst][5]", "P") == Seq("a", "b", "c", null, null, "P"))
    // out-of-range negative index: no write happens
    assert(arr("[lst][-9]", "Z") == Seq("a", "b", "c"))
  }

  test("set: map column key set/overwrite, auto-created column, meta prefix") {
    import spark.implicits._
    val df = Seq(Tuple1(Map("k" -> "v"))).toDF("m")
    val out = FieldRef.set(FieldRef.set(df, "[m][k]", lit("v2")), "[m][n]", lit("w"))
      .select(col("m")("k"), col("m")("n")).collect()(0)
    assert(out.getString(0) == "v2" && out.getString(1) == "w")
    val fresh = FieldRef.set(df, "[a][b][c]", lit(5))
      .select(col("a.b.c")).collect()(0).getInt(0)
    assert(fresh == 5)
    val meta = FieldRef.set(df, "[@metadata][job]", lit("j1"))
    assert(meta.columns.contains("_meta_job")) // dropped before sinks by Route
  }

  test("decorator add_field writes nested [a][b] targets conditionally") {
    import spark.implicits._
    val df = Seq(("A", 1L), ("B", 2L)).toDF("k", "n")
    val out = graft.operators.Mutate.Decorator(
      addField = Seq("[ctx][kk]" -> "%{k}!"))
      .applyWhen(df, col("k") === "A")
      .select(col("k"), col("ctx.kk")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("A" -> "A!", "B" -> null))
  }

  test("decorator add_tag leaves the tags of rows its condition skips as they were") {
    import spark.implicits._
    val df = Seq(("a", Seq("x")), ("b", null), ("c", Seq("y"))).toDF("w", "tags")
    def tags(d: org.apache.spark.sql.DataFrame) =
      d.select("w", "tags").collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    val dec = graft.operators.Mutate.Decorator(addTag = Seq("hit"))
    assert(tags(dec.applyWhen(df, col("w") === "a")) ==
      Map("a" -> Some(Seq("x", "hit")), "b" -> None, "c" -> Some(Seq("y"))))
    assert(tags(dec.applyWhen(df, col("w") === "b"))("b") == Some(Seq("hit")))
    // no tags column: the skipped rows get none
    assert(tags(dec.applyWhen(df.drop("tags"), col("w") === "a")) ==
      Map("a" -> Some(Seq("hit")), "b" -> None, "c" -> None))
  }

  test("field-reference escape styles: percent and ampersand (EscapeHandler semantics)") {
    import FieldRef.EscapeStyle
    // percent: %5B/%5D decode; bare % (not followed by 2 hex digits) literal
    assert(EscapeStyle.Percent.unescape("foo%5Bbar%5D") == "foo[bar]")
    assert(EscapeStyle.Percent.unescape("100%") == "100%")
    assert(EscapeStyle.Percent.unescape("50%off%5Bx%5D") == "50%off[x]")
    assert(EscapeStyle.Percent.escape("foo[bar]") == "foo%5Bbar%5D")
    assert(EscapeStyle.Percent.escape("%25raw") == "%2525raw") // %-before-hex escapes
    // ampersand: &#nn; decimal code points
    assert(EscapeStyle.Ampersand.unescape("foo&#91;bar&#93;") == "foo[bar]")
    assert(EscapeStyle.Ampersand.unescape("a&b") == "a&b")
    assert(EscapeStyle.Ampersand.escape("foo[bar]") == "foo&#91;bar&#93;")
    assert(EscapeStyle.Ampersand.escape("pre&#91;lit") == "pre&#38;#91;lit")
    // styles plug into the parser: the segment NAME carries literal brackets
    FieldRef.setEscapeStyle("percent")
    try {
      val r = FieldRef.parse("[weird%5Bname%5D][inner]")
      assert(r.path == Seq("weird[name]", "inner"))
    } finally FieldRef.setEscapeStyle("none")
    val plain = FieldRef.parse("[weird%5Bname%5D]")
    assert(plain.path == Seq("weird%5Bname%5D")) // none: untouched
    intercept[IllegalArgumentException](FieldRef.setEscapeStyle("bogus"))
  }
}
