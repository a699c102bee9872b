package graft

import graft.compile.{FilterCompiler, NlCompiler}
import graft.ir.{FilterExpr, QuerySpec, UnsupportedQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §5.1 / §2.6: one test per fallback rule INCLUDING the quirks —
  * they are the reference's semantics (No_Sql.py:316-377), replicated on
  * purpose, so a "fix" would be a bug here. */
class NlCompilerSpec extends AnyFunSuite {

  test("rule 1: salary gt / lt / exact-equality else-branch") {
    assert(NlCompiler.compile("earning more than 50000").filter ==
      FilterExpr.Gt("salary", BigInt(50000)))
    assert(NlCompiler.compile("pay under 30000").filter ==
      FilterExpr.Lt("salary", BigInt(30000)))
    // no direction word -> exact equality (No_Sql.py:331)
    assert(NlCompiler.compile("salary 655").filter ==
      FilterExpr.Eq("salary", BigInt(655)))
  }

  test("rule 1 quirk: only the FIRST digit run is used (No_Sql.py:325)") {
    assert(NlCompiler.compile("salary between 10 and 99999").filter ==
      FilterExpr.Eq("salary", BigInt(10)))
  }

  test("rule 1 quirk: 'salary' with no digits skips rule 1 entirely") {
    // no digits -> rule 1 skipped; nothing later matches -> find-all
    assert(NlCompiler.compile("show high salary people") == QuerySpec())
  }

  test("rule 2: age needs a direction word or falls through") {
    assert(NlCompiler.compile("age above 40").filter ==
      FilterExpr.Gt("age", BigInt(40)))
    assert(NlCompiler.compile("age younger than 30").filter ==
      FilterExpr.Lt("age", BigInt(30)))
    // digits but no direction word: NO else branch -> rule 6
    assert(NlCompiler.compile("age 33") == QuerySpec())
  }

  test("rule-order shadowing: age rule beats department when 'age' appears") {
    // age rule (2) fires before department (3); no multi-field filter ever
    assert(NlCompiler.compile("engineers with age over 30").filter ==
      FilterExpr.Gt("age", BigInt(30)))
    // ...but WITHOUT the literal substring "age" the age rule never
    // triggers — "engineers older than 30" compiles to the DEPARTMENT
    // filter, digits and all ('older' alone doesn't reach rule 2,
    // No_Sql.py:334 requires 'age' in the text)
    assert(NlCompiler.compile("engineers older than 30").filter ==
      FilterExpr.Regex("department", "engineering", caseInsensitive = true))
  }

  test("substring quirk: 'message' contains 'age'") {
    // "message over 40" triggers the age rule spuriously — reference
    // behavior (substring match on lower(text))
    assert(NlCompiler.compile("message over 40").filter ==
      FilterExpr.Gt("age", BigInt(40)))
  }

  test("rule 3: department synonyms in insertion order") {
    assert(NlCompiler.compile("show all developers").filter ==
      FilterExpr.Regex("department", "engineering", caseInsensitive = true))
    assert(NlCompiler.compile("market folks").filter ==
      FilterExpr.Regex("department", "marketing", caseInsensitive = true))
    assert(NlCompiler.compile("sale people").filter ==
      FilterExpr.Regex("department", "sales", caseInsensitive = true))
    assert(NlCompiler.compile("human resources").filter ==
      FilterExpr.Regex("department", "hr", caseInsensitive = true))
  }

  test("rule 3 order: 'dev' beats 'sales' when both appear? no — first table entry wins") {
    // engineering group is first in the synonym table (insertion order)
    assert(NlCompiler.compile("devs in sales").filter ==
      FilterExpr.Regex("department", "engineering", caseInsensitive = true))
  }

  test("rule 4: name projection") {
    assert(NlCompiler.compile("list names") ==
      QuerySpec(FilterExpr.True, projection = Seq("name")))
  }

  test("rule 5: experience with direction; falls through without one") {
    assert(NlCompiler.compile("experience more than 10").filter ==
      FilterExpr.Gt("experience_years", BigInt(10)))
    assert(NlCompiler.compile("experience below 5").filter ==
      FilterExpr.Lt("experience_years", BigInt(5)))
    assert(NlCompiler.compile("experience 7") == QuerySpec())
  }

  test("rule 6: default find-all") {
    assert(NlCompiler.compile("hello world") == QuerySpec())
  }

  test("huge digit runs stay exact (Python int is arbitrary precision)") {
    assert(NlCompiler.compile("salary 123456789012345678901234567890").filter ==
      FilterExpr.Eq("salary", BigInt("123456789012345678901234567890")))
  }

  test("a digit run is parsed only when a numeric rule consumes it") {
    val million = "9" * 1000000
    assert(NlCompiler.compile(s"hello $million") == QuerySpec())
    assert(NlCompiler.compile(s"engineers $million").filter ==
      FilterExpr.Regex("department", "engineering", caseInsensitive = true))
    intercept[UnsupportedQueryException](
      NlCompiler.compile(s"salary above $million"))
  }

  test("digit runs: at most 309 significant digits, leading zeros free") {
    import org.apache.spark.sql.types._
    // 2^1000 has 302 digits and is exactly a double
    val p = BigInt(2).pow(1000)
    val f = NlCompiler.compile(s"salary above $p").filter
    assert(f == FilterExpr.Gt("salary", p))
    val schema = StructType(Seq(StructField("salary", DoubleType)))
    assert(FilterCompiler.rawTyped("salary", p, schema) == math.pow(2, 1000))
    assert(NlCompiler.compile("salary above " + "0" * 1000 + "5").filter ==
      FilterExpr.Gt("salary", BigInt(5)))
    assert(NlCompiler.compile("age over " + "0" * 500).filter ==
      FilterExpr.Gt("age", BigInt(0)))
    assert(NlCompiler.compile("salary above " + "9" * 309).filter ==
      FilterExpr.Gt("salary", BigInt("9" * 309)))
    val e = intercept[UnsupportedQueryException](
      NlCompiler.compile("experience over " + "1" + "0" * 309))
    assert(e.getMessage.contains("310 significant digits"))
  }
}
