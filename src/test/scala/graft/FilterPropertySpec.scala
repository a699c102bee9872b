package graft

import graft.compile.{FilterCompiler, NlCompiler}
import graft.ir.{FilterExpr, MongoJson, QuerySpec}
import org.scalacheck.{Gen, Prop, Properties}

/** SURVEY.md §5.2 property tests (ScalaCheck):
  *  - random filter specs: Spark result == a row-by-row Scala oracle
  *    implementing the reference's Mongo semantics;
  *  - repair cascade: any fencing/quoting mutation of a valid spec parses
  *    back to the same QuerySpec;
  *  - NL compiler: never throws, always lands on one of the six rule
  *    shapes. */
object FilterPropertySpec extends Properties("graft") {

  private lazy val spark = TestSpark.spark

  // The fixture rows, mirrored as plain Scala values for the oracle.
  private val rows: Seq[(Long, String, Double, Option[String], Double, Double)] = Seq(
    (1L, "Ada", 35.0, Some("engineering"), 90000.0, 12.0),
    (2L, "Bob", 28.0, Some("sales"), 50000.0, 4.0),
    (3L, "Cat", 45.0, Some("marketing"), 70000.0, 20.0),
    (4L, "Dan", 35.0, None, 50000.0, 8.0),
    (5L, "Eve", 52.0, Some("hr"), 120000.0, 30.0))

  private lazy val df = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("emp_id", LongType, false), StructField("name", StringType, true),
      StructField("age", DoubleType, true), StructField("department", StringType, true),
      StructField("salary", DoubleType, true),
      StructField("experience_years", DoubleType, true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (i, n, a, d, s, e) =>
      org.apache.spark.sql.Row(i, n, a, d.orNull, s, e)
    }.asJava, schema).cache()
  }

  private def fieldVal(r: (Long, String, Double, Option[String], Double, Double),
                       f: String): Option[Any] = f match {
    case "age"              => Some(r._3)
    case "department"       => r._4
    case "salary"           => Some(r._5)
    case "experience_years" => Some(r._6)
  }

  /** Row-by-row oracle with the reference's Mongo semantics: $ne matches
    * null; range ops null-reject; $in with null matches null. */
  private def oracle(f: FilterExpr,
                     r: (Long, String, Double, Option[String], Double, Double)): Boolean =
    f match {
      case FilterExpr.True => true
      case FilterExpr.And(cs) => cs.forall(oracle(_, r))
      case FilterExpr.Eq(fl, null) => fieldVal(r, fl).isEmpty
      case FilterExpr.Eq(fl, v) => fieldVal(r, fl).contains(v)
      // Mongo {$ne: null} matches only docs where the field IS present
      case FilterExpr.Ne(fl, null) => fieldVal(r, fl).nonEmpty
      case FilterExpr.Ne(fl, v) => !fieldVal(r, fl).contains(v)
      case FilterExpr.Gt(fl, v: Double) =>
        fieldVal(r, fl).exists(_.asInstanceOf[Double] > v)
      case FilterExpr.Lt(fl, v: Double) =>
        fieldVal(r, fl).exists(_.asInstanceOf[Double] < v)
      case FilterExpr.Gte(fl, v: Double) =>
        fieldVal(r, fl).exists(_.asInstanceOf[Double] >= v)
      case FilterExpr.Lte(fl, v: Double) =>
        fieldVal(r, fl).exists(_.asInstanceOf[Double] <= v)
      case FilterExpr.In(fl, vs) =>
        val hasNull = vs.exists(_ == null)
        val fv = fieldVal(r, fl)
        (fv.isEmpty && hasNull) || fv.exists(v => vs.contains(v))
      case FilterExpr.Regex(fl, pat, ci) =>
        val p = java.util.regex.Pattern.compile(if (ci) "(?i)" + pat else pat)
        fieldVal(r, fl).exists(v => p.matcher(v.toString).find())
      case other => sys.error(s"oracle gap: $other")
    }

  private val numField = Gen.oneOf("age", "salary", "experience_years")
  private val numVal = Gen.oneOf(Gen.choose(0.0, 130000.0),
    Gen.oneOf(rows.map(_._5) ++ rows.map(_._3))) // hit boundaries often

  private val genNumPred: Gen[FilterExpr] = for {
    f <- numField
    v <- numVal
    op <- Gen.oneOf[(String, Any) => FilterExpr](
      FilterExpr.Eq(_, _), FilterExpr.Ne(_, _), FilterExpr.Gt(_, _),
      FilterExpr.Lt(_, _), FilterExpr.Gte(_, _), FilterExpr.Lte(_, _))
  } yield op(f, v)

  private val deptVals =
    Seq("engineering", "sales", "marketing", "hr", "unknown", null)
  private val genDeptPred: Gen[FilterExpr] = Gen.oneOf(
    Gen.oneOf(deptVals).map(v => FilterExpr.Eq("department", v)),
    Gen.oneOf(deptVals).map(v => FilterExpr.Ne("department", v)),
    Gen.someOf(deptVals).suchThat(_.nonEmpty)
      .map(vs => FilterExpr.In("department", vs.toSeq)),
    Gen.oneOf("eng", "ETING", "^sal", "r$").flatMap(p =>
      Gen.oneOf(true, false).map(ci => FilterExpr.Regex("department", p, ci))))

  private val genFilter: Gen[FilterExpr] = Gen.oneOf(
    Gen.const(FilterExpr.True),
    genNumPred,
    genDeptPred,
    Gen.listOfN(2, Gen.oneOf(genNumPred, genDeptPred)).map(FilterExpr.And(_)))

  property("random filters match the Mongo-semantics row oracle") =
    Prop.forAllNoShrink(genFilter) { f =>
      val got = df.filter(FilterCompiler.compile(f, df.schema))
        .select("emp_id").collect().map(_.getLong(0)).sorted.toSeq
      val want = rows.filter(oracle(f, _)).map(_._1).sorted
      Prop(got == want).label(s"filter=$f got=$got want=$want")
    }

  // ---- repair cascade robustness (No_Sql.py:269-302) ----

  private val genSpecJson: Gen[(String, QuerySpec)] = for {
    field <- Gen.oneOf("salary", "age", "department")
    op <- Gen.oneOf("$gt", "$lt", "$gte", "$lte", "$eq", "$ne")
    v <- Gen.choose(0, 99999)
  } yield {
    val json = s"""{"filter": {"$field": {"$op": $v}}, "projection": {}}"""
    (json, MongoJson.parse(json))
  }

  private def mutate(json: String, mode: Int): String = mode match {
    case 0 => s"```json\n$json\n```"                    // fences
    case 1 => json.replace('"', '\'')                   // single quotes
    case 2 => s"Here is the query you asked for: $json" // prose blob
    case 3 => s"```$json```"
    case _ => json.replaceAll("\"(\\w+)\":", "$1:")     // bare keys
  }

  property("repair cascade recovers mutated valid specs") =
    Prop.forAllNoShrink(genSpecJson, Gen.choose(0, 4)) { case ((json, spec), m) =>
      val recovered = MongoJson.parseWithRepair(mutate(json, m))
      Prop(recovered == spec).label(s"mutation=$m json=${mutate(json, m)}")
    }

  // The repair stages as the reference writes them (No_Sql.py:282-298),
  // backtracking regexes that MongoJson replaces with linear forms.
  private def refRepair(s: String): String =
    s.replace('\'', '"').replaceAll("(\\w+):", "\"$1\":")
  private def refBlob(s: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\\{.*\\}", java.util.regex.Pattern.DOTALL).matcher(s)
    if (m.find()) Some(m.group(0)) else None
  }

  property("linear repair stages match the reference regexes") =
    Prop.forAllNoShrink(Gen.listOf(Gen.oneOf("ab_1:{}'\" \né".toSeq))
        .map(_.mkString)) { s =>
      Prop(MongoJson.repairJson(s) == refRepair(s) &&
        MongoJson.extractBlob(s) == refBlob(s)).label(s"input=$s")
    }

  // ---- NL compiler totality ----

  // ---- dedup: engine vs brute-force set arithmetic ----

  private val genDocs: Gen[Seq[(Long, String)]] = {
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    val genText = Gen.chooseNum(1, 8)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab)).map(_.mkString(" ")))
    Gen.chooseNum(2, 7).flatMap(n =>
      Gen.listOfN(n, genText).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) }))
  }

  private def bruteJaccard(docs: Seq[(Long, String)], n: Int,
                           threshold: Double): Seq[(Long, Long, Double)] = {
    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length < n) Set(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }
    for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      sh = (sa intersect sb).size
      j = math.rint(sh.toDouble / (sa.size + sb.size - sh) * 10000) / 10000
      if j >= threshold
    } yield (ia, ib, j)
  }

  property("jaccardPairs == brute-force set arithmetic on random docs") = {
    Prop.forAllNoShrink(genDocs) { docs =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val got = graft.ext.Dedup.jaccardPairs(df, "doc_id", "text",
          n = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      val want = bruteJaccard(docs, 2, 0.3).sortBy(x => (x._1, x._2))
      Prop(got == want).label(s"docs=$docs got=$got want=$want")
    }
  }

  private val words = Gen.listOf(Gen.oneOf(
    "salary", "earn", "age", "older", "younger", "above", "under", "over",
    "engineer", "sales", "market", "hr", "name", "experience", "more",
    "less", "find", "show", "the", "employees", "12", "99999",
    "9007199254740993", "message", "xyzzy"))

  property("NL compiler is total and lands on a declared rule shape") =
    Prop.forAllNoShrink(words) { ws =>
      val spec = NlCompiler.compile(ws.mkString(" "))
      val okShape = spec match {
        case QuerySpec(FilterExpr.True, Nil, None) => true
        case QuerySpec(FilterExpr.True, Seq("name"), None) => true
        case QuerySpec(FilterExpr.Eq("salary", _: BigInt), Nil, None) => true
        case QuerySpec(FilterExpr.Gt(f, _: BigInt), Nil, None) =>
          Seq("salary", "age", "experience_years").contains(f)
        case QuerySpec(FilterExpr.Lt(f, _: BigInt), Nil, None) =>
          Seq("salary", "age", "experience_years").contains(f)
        case QuerySpec(FilterExpr.Regex("department", d, true), Nil, None) =>
          Seq("engineering", "marketing", "sales", "hr").contains(d)
        case _ => false
      }
      Prop(okShape).label(s"input='${ws.mkString(" ")}' spec=$spec")
    }
}
