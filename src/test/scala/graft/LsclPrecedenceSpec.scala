package graft

import graft.conditions.RowOracle
import graft.lscl.{Lscl, LsclRun}
import org.apache.spark.sql.functions._

/** Pins the reference's boolean-operator precedence (lscl.rb:355-427): `and`
  * binds tighter than `or` (Dijkstra shunting-yard with and=2 > or=1), and
  * mixing `nand`/`xor` into a multi-operator chain raises — exactly the
  * reference's `precedence` ArgumentError. The property test diffs
  * parse -> lowerCond -> RowOracle against an independent two-level
  * precedence-climbing evaluator over random unparenthesized mixes.
  */
class LsclPrecedenceSpec extends SparkSpec {

  /** Parse `cond` as the arm condition of a minimal filter branch. */
  private def parseCond(cond: String): Lscl.Expr =
    Lscl.parse(s"filter { if $cond { mutate { add_tag => [\"x\"] } } }", Map.empty)
      .filters.collectFirst { case Lscl.Branch(arms, _) => arms.head._1 }.get

  private def evalVia(cond: String, row: Map[String, Any]): Boolean =
    RowOracle.eval(LsclRun.lowerCond(parseCond(cond)), row)

  test("the verdict case: `a or b and c` routes like the reference (a or (b and c))") {
    // reference: a=true, b=false, c=false -> TRUE; equal-precedence
    // left-assoc would give (a or b) and c = FALSE
    val row = Map[String, Any]("a" -> true, "b" -> false, "c" -> false)
    assert(evalVia("[a] or [b] and [c]", row))
    // and still binds first on the mirrored shape
    assert(!evalVia("[c] and [b] or [b] and [c]", row))
    assert(evalVia("[b] and [c] or [a]", row))
  }

  test("lone nand/xor legal; mixing them into a chain raises like the reference") {
    val row = Map[String, Any]("a" -> true, "b" -> true, "c" -> true)
    assert(!evalVia("[a] nand [b]", row))
    assert(!evalVia("[a] xor [b]", row))
    intercept[IllegalArgumentException](parseCond("[a] nand [b] and [c]"))
    intercept[IllegalArgumentException](parseCond("[a] and [b] xor [c]"))
    intercept[IllegalArgumentException](parseCond("[a] xor [b] or [c]"))
  }

  test("the reference's single-pop quirk: `a and b and c or d` groups as a and ((b and c) or d)") {
    // lscl.rb:399-407 pops at most ONE operator per incoming operator (an
    // `if`, not a `while`), so a second consecutive `and` stays below a later
    // `or` — NOT textbook precedence. Verified against the treetop grammar
    // (flat `expression (op expression)*` chain) + join_conditions by hand:
    // RPN comes out `a b c AND d OR AND`. Textbook would give
    // ((a and b and c) or d) = true here; the reference gives false.
    val row = Map[String, Any]("a" -> false, "b" -> false, "c" -> false, "d" -> true)
    assert(!evalVia("[a] and [b] and [c] or [d]", row))
    // parenthesized forms are unambiguous and unaffected
    assert(evalVia("([a] and [b] and [c]) or [d]", row))
  }

  test("property: random unparenthesized and/or/not chains match a direct reference-algorithm evaluator") {
    val rnd = new scala.util.Random(20260816L)
    val vars = Vector("a", "b", "c", "d", "e")

    // independent BOOLEAN-level implementation of the reference's exact
    // join_conditions (single-pop shunting-yard, strict-greater precedence,
    // and=2 > or=1) — evaluates values directly instead of building Expr
    // trees, so it exercises none of the parser/lowering/oracle code paths
    // it is checking
    def direct(atoms: Vector[Boolean], ops: Vector[String]): Boolean = {
      def prec(op: String) = if (op == "and") 2 else 1
      val out = scala.collection.mutable.ArrayBuffer.empty[Either[String, Boolean]]
      val st = scala.collection.mutable.ArrayBuffer.empty[String]
      out += Right(atoms(0))
      for (i <- ops.indices) {
        if (st.nonEmpty && prec(st.last) > prec(ops(i)))
          out += Left(st.remove(st.length - 1))
        st += ops(i)
        out += Right(atoms(i + 1))
      }
      st.reverseIterator.foreach(o => out += Left(o))
      val stack = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      out.foreach {
        case Right(v) => stack += v
        case Left(op) =>
          val r = stack.remove(stack.length - 1)
          val l = stack.remove(stack.length - 1)
          stack += (if (op == "and") l && r else l || r)
      }
      stack.head
    }

    for (_ <- 1 to 400) {
      val n = 1 + rnd.nextInt(5) // 1..5 operators
      val names = Vector.fill(n + 1)(vars(rnd.nextInt(vars.length)))
      val negs = Vector.fill(n + 1)(rnd.nextBoolean())
      val ops = Vector.fill(n)(if (rnd.nextBoolean()) "and" else "or")
      val row: Map[String, Any] = vars.map(v => v -> rnd.nextBoolean()).toMap
      val text = names.zip(negs).map { case (v, neg) =>
        if (neg) s"![$v]" else s"[$v]"
      }.zipAll(ops, "", "").map { case (a, o) => if (o.isEmpty) a else s"$a $o" }
        .mkString(" ")
      val atomVals = names.zip(negs).map { case (v, neg) =>
        val b = row(v).asInstanceOf[Boolean]
        if (neg) !b else b
      }.toVector
      val expected = direct(atomVals, ops)
      assert(evalVia(text, row) == expected,
        s"condition `$text` over $row: expected $expected")
    }
  }

  test("branch predicates are evaluated ONCE on block entry (SplitDataset semantics)") {
    import spark.implicits._
    // the ADVICE reproducer: the body REPLACES the field its own condition
    // reads, then adds a tag — the decorator must still fire, because the
    // reference evaluates the branch condition once per event, before the body
    val df = Seq("ERROR", "INFO").toDF("sev")
    val cfg = Lscl.parse(
      """filter {
        |  if [sev] == "ERROR" {
        |    mutate { replace => { "sev" => "X" } add_tag => ["t"] }
        |  } else {
        |    mutate { add_tag => ["other"] }
        |  }
        |}""".stripMargin, Map.empty)
    val out = LsclRun.applyFilters(df, cfg.filters)
      .select(col("sev"), array_join(col("tags"), ",").as("tags"))
      .orderBy("sev").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("INFO", "other"), ("X", "t")))
    // and the else-if arm exclusion sees PRE-block values: a first arm that
    // rewrites [lvl] must not push its rows into the second arm
    val df2 = Seq(("A", 1), ("B", 2)).toDF("lvl", "n")
    val cfg2 = Lscl.parse(
      """filter {
        |  if [lvl] == "A" { mutate { replace => { "lvl" => "B" } } }
        |  else if [lvl] == "B" { mutate { add_tag => ["armB"] } }
        |}""".stripMargin, Map.empty)
    val out2 = LsclRun.applyFilters(df2, cfg2.filters)
      .select(col("n"), col("lvl"), array_join(col("tags"), ",").as("tags"))
      .orderBy("n").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    // row 1: arm1 fires (lvl A->B), arm2 must NOT also fire, so it gets no
    // tags at all (Event.java:472-537); row 2: arm2 fires
    assert(out2.toSeq == Seq((1, "B", null), (2, "B", "armB")))
    // no residue of the materialized predicate columns
    assert(!LsclRun.applyFilters(df2, cfg2.filters).columns.exists(_.startsWith("__lscl_")))
  }
}
