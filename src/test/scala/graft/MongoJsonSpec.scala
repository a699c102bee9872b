package graft

import graft.ir.{FilterExpr, MongoJson, QuerySpec, UnsupportedQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2.7: the 3-stage repair cascade + validate/normalize, and the
  * strict parser's loud rejections of everything off the declared surface. */
class MongoJsonSpec extends AnyFunSuite {

  test("strict parse: implicit eq, ops, projection") {
    val spec = MongoJson.parse(
      """{"filter": {"a": 1, "b": {"$gt": 2, "$lte": 5}},
        | "projection": {"a": 1, "b": 1}}""".stripMargin)
    // integral JSON literals stay arbitrary-precision (BigInt) so the
    // typed-literal layer can narrow them exactly; only non-integral
    // numbers become doubles
    assert(spec.filter == FilterExpr.And(Seq(
      FilterExpr.Eq("a", BigInt(1)),
      FilterExpr.And(Seq(
        FilterExpr.Gt("b", BigInt(2)), FilterExpr.Lte("b", BigInt(5)))))))
    assert(spec.projection == Seq("a", "b"))
  }

  test("repair stage 0: code fences stripped") {
    val spec = MongoJson.parseWithRepair(
      "```json\n{\"filter\": {\"x\": 1}, \"projection\": {}}\n```")
    assert(spec.filter == FilterExpr.Eq("x", BigInt(1)))
  }

  test("repair stage 2: single quotes and bare keys fixed") {
    val spec = MongoJson.parseWithRepair("{'filter': {'x': {'$lt': 3}}}")
    assert(spec.filter == FilterExpr.Lt("x", BigInt(3)))
    val bare = MongoJson.parseWithRepair("""{filter: {x: 1}}""")
    assert(bare.filter == FilterExpr.Eq("x", BigInt(1)))
  }

  test("repair stage 3: first {...} blob extracted from prose") {
    val spec = MongoJson.parseWithRepair(
      "Sure! Here is your query: {\"filter\": {\"x\": 9}, \"projection\": {}} hope it helps")
    assert(spec.filter == FilterExpr.Eq("x", BigInt(9)))
  }

  test("the repair cascade is linear: 1 MiB of word chars or '{' in under a second") {
    // the reference's backtracking `(\w+):` and `\{.*\}` are quadratic on
    // these inputs (~10^11 steps at 1 MiB)
    for (raw <- Seq("a" * (1 << 20), "{" * (1 << 20))) {
      val t0 = System.nanoTime()
      assert(MongoJson.parseWithRepair(raw) == QuerySpec())
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 1.0, s"${raw.take(1)}: took $sec s")
    }
  }

  test("total failure degrades to the empty spec (No_Sql.py:304-314)") {
    assert(MongoJson.parseWithRepair("not json at all") == QuerySpec())
    assert(MongoJson.parseWithRepair("[1,2,3]") == QuerySpec())
  }

  test("validate/normalize: missing filter/projection inserted") {
    assert(MongoJson.parse("""{"filter": {}}""") == QuerySpec())
    assert(MongoJson.parse("""{}""") == QuerySpec())
  }

  test("$regex with $options i; $options without $regex rejected") {
    val s = MongoJson.parse(
      """{"filter": {"d": {"$regex": "eng", "$options": "i"}}}""")
    assert(s.filter == FilterExpr.Regex("d", "eng", caseInsensitive = true))
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"filter": {"d": {"$options": "i"}}}""")
    }
  }

  test("$in needs an array; parses with mixed scalars and null") {
    val s = MongoJson.parse("""{"filter": {"x": {"$in": [1, 2.5, "a", null]}}}""")
    assert(s.filter == FilterExpr.In("x", Seq(BigInt(1), 2.5, "a", null)))
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"filter": {"x": {"$in": 5}}}""")
    }
  }

  test("off-surface operators rejected loudly (SURVEY.md §2.1)") {
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"filter": {"$or": [{"a": 1}, {"b": 2}]}}""")
    }
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"filter": {"x": {"$exists": true}}}""")
    }
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"filter": {"a.b": 1}}""") // dotted path
    }
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"filter": {"x": {"nested": "doc"}}}""")
    }
    intercept[UnsupportedQueryException] {
      MongoJson.parse("""{"projection": {"x": 0}}""") // exclude-projection
    }
  }

  test("huge integral literals survive the JSON path without rounding") {
    val spec = MongoJson.parse(
      """{"filter": {"k": {"$lt": 9007199254740993}}}""")
    assert(spec.filter == FilterExpr.Lt("k", BigInt("9007199254740993")))
    // and round-trip through the envelope serializer intact
    assert(MongoJson.toJson(spec) ==
      """{"filter":{"k":{"$lt":9007199254740993}},"projection":{}}""")
  }

  test("toJson round-trips the envelope shapes, including BigInt") {
    assert(MongoJson.toJson(QuerySpec(FilterExpr.Gt("salary", BigInt(3000)))) ==
      """{"filter":{"salary":{"$gt":3000}},"projection":{}}""")
    assert(MongoJson.toJson(QuerySpec(FilterExpr.Eq("x", 1.5))) ==
      """{"filter":{"x":1.5},"projection":{}}""")
    assert(MongoJson.toJson(
      QuerySpec(FilterExpr.Regex("d", "eng", caseInsensitive = true),
        projection = Seq("name"))) ==
      """{"filter":{"d":{"$regex":"eng","$options":"i"}},"projection":{"name":1}}""")
  }
}
