package graft.ir

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Mongo find-spec JSON ⇄ [[QuerySpec]], including the reference's
  * three-stage LLM-response repair cascade
  * (/root/reference/No_Sql.py:269-302) and the validate/normalize step
  * (No_Sql.py:304-314).
  *
  * Uses Jackson (ships with Spark) for strict JSON parsing.
  */
object MongoJson {

  private val mapper = new ObjectMapper()
  private val nodes = mapper.getNodeFactory

  // ---------------------------------------------------------------------
  // Repair cascade (No_Sql.py:269-302)
  // ---------------------------------------------------------------------

  /** Stage 0: strip code fences and backticks, trim (No_Sql.py:272). */
  private[graft] def stripFences(s: String): String =
    s.replaceAll("```json|```|`", "").trim

  /** Stage 2 repair: single→double quotes, quote bare keys
    * (No_Sql.py:282-289: `re.sub(r"(\w+):", r'"\1":')`), in linear time:
    * ':' is not a word char, so only a whole word run can match, and a
    * possessive run anchored at its start never backtracks. */
  private[graft] def repairJson(s: String): String =
    s.replace('\'', '"').replaceAll("(?<!\\w)(\\w++):", "\"$1\":")

  /** Stage 3: extract the first `{...}` blob, DOTALL (No_Sql.py:292-298):
    * the first '{' to the last '}' after it, the greedy `\{.*\}`'s span,
    * by index instead of the regex's quadratic retry from every '{'. */
  private[graft] def extractBlob(s: String): Option[String] = {
    val (open, close) = (s.indexOf('{'), s.lastIndexOf('}'))
    if (open >= 0 && close > open) Some(s.substring(open, close + 1)) else None
  }

  private def tryParse(s: String): Option[JsonNode] =
    try {
      val n = mapper.readTree(s)
      if (n != null && n.isObject) Some(n) else None
    } catch { case _: Exception => None }

  /** Full repair cascade: raw LLM text → normalized spec JSON node.
    * Returns the empty spec on total failure, mirroring
    * `_validate_query_object`'s degradation (No_Sql.py:304-314). */
  def parseWithRepair(raw: String): QuerySpec = {
    val cleaned = stripFences(raw)
    val node: Option[JsonNode] =
      tryParse(cleaned)
        .orElse(tryParse(repairJson(cleaned)))
        .orElse(extractBlob(cleaned).flatMap(tryParse))
    node.map(fromNode).getOrElse(QuerySpec())
  }

  // ---------------------------------------------------------------------
  // Strict spec parsing (validated surface only — SURVEY.md §2.1)
  // ---------------------------------------------------------------------

  /** Parse an already-well-formed find-spec JSON string. Throws
    * [[UnsupportedQueryException]] on operators outside the declared set. */
  def parse(json: String): QuerySpec =
    tryParse(json)
      .map(fromNode)
      .getOrElse(throw new UnsupportedQueryException(s"not a JSON object: $json"))

  /** Validate/normalize (No_Sql.py:304-314): missing `filter`/`projection`
    * inserted; anything non-object degrades to the empty spec. */
  def fromNode(root: JsonNode): QuerySpec = {
    if (!root.isObject) return QuerySpec()
    val filterNode = root.get("filter")
    val projNode = root.get("projection")
    val filter =
      if (filterNode == null || !filterNode.isObject) FilterExpr.True
      else parseFilter(filterNode.asInstanceOf[ObjectNode])
    val projection =
      if (projNode == null || !projNode.isObject) Nil
      else parseProjection(projNode.asInstanceOf[ObjectNode])
    QuerySpec(filter, projection, None)
  }

  private val ComparisonOps =
    Set("$eq", "$ne", "$gt", "$lt", "$gte", "$lte", "$in", "$regex")

  private def parseFilter(obj: ObjectNode): FilterExpr = {
    val preds = obj.properties().asScala.toSeq.map { e =>
      val (field, v) = (e.getKey, e.getValue)
      if (field.startsWith("$"))
        throw new UnsupportedQueryException(
          s"top-level operator '$field' is outside the declared surface " +
            "(no $or/$and/$nor/$expr in the reference — SURVEY.md §2.1)")
      if (field.contains("."))
        throw new UnsupportedQueryException(
          s"dotted path '$field' not supported (never declared in reference)")
      if (v.isObject) parseFieldOps(field, v.asInstanceOf[ObjectNode])
      else FilterExpr.Eq(field, scalar(v))
    }
    preds match {
      case Seq()  => FilterExpr.True
      case Seq(p) => p
      case ps     => FilterExpr.And(ps)
    }
  }

  /** `{field: {$op: v, ...}}` — multiple ops on one field are an implicit
    * AND (Mongo semantics). `$options` only modifies a sibling `$regex`. */
  private def parseFieldOps(field: String, ops: ObjectNode): FilterExpr = {
    val keys = ops.properties().asScala.map(_.getKey).toSeq
    val unknown = keys.filterNot(k => ComparisonOps(k) || k == "$options")
    if (unknown.nonEmpty)
      throw new UnsupportedQueryException(
        s"operator(s) ${unknown.mkString(", ")} on field '$field' are outside " +
          "the declared 8-operator surface (No_Sql.py:119)")
    if (keys.forall(!_.startsWith("$")))
      // a plain nested object is an equality match on a document in Mongo;
      // the reference never produces one — reject.
      throw new UnsupportedQueryException(
        s"nested document equality on '$field' not supported")
    // Mongo rejects `$options` without a sibling `$regex`; without this guard
    // `{f: {"$options": "i"}}` would yield And(Nil) → match-all.
    if (keys.contains("$options") && !keys.contains("$regex"))
      throw new UnsupportedQueryException(
        s"$$options on '$field' without a sibling $$regex")
    val caseInsensitive = Option(ops.get("$options"))
      .exists(o => o.isTextual && o.asText.contains("i"))
    val preds = ops.properties().asScala.toSeq.collect {
      case e if e.getKey != "$options" =>
        val v = e.getValue
        e.getKey match {
          case "$eq"  => FilterExpr.Eq(field, scalar(v))
          case "$ne"  => FilterExpr.Ne(field, scalar(v))
          case "$gt"  => FilterExpr.Gt(field, scalar(v))
          case "$lt"  => FilterExpr.Lt(field, scalar(v))
          case "$gte" => FilterExpr.Gte(field, scalar(v))
          case "$lte" => FilterExpr.Lte(field, scalar(v))
          case "$in" =>
            if (!v.isArray)
              throw new UnsupportedQueryException(s"$$in on '$field' needs an array")
            FilterExpr.In(field,
              v.asInstanceOf[ArrayNode].asScala.toSeq.map(scalar))
          case "$regex" =>
            if (!v.isTextual)
              throw new UnsupportedQueryException(s"$$regex on '$field' needs a string")
            FilterExpr.Regex(field, v.asText, caseInsensitive)
        }
    }
    preds match {
      case Seq(p) => p
      case ps     => FilterExpr.And(ps)
    }
  }

  private def scalar(v: JsonNode): Any =
    if (v.isNull) null
    else if (v.isTextual) v.asText
    else if (v.isBoolean) v.asBoolean
    // integral literals stay arbitrary-precision (Python int semantics —
    // FilterCompiler.narrowBigInt narrows exactly or errors; collapsing to
    // Double here would silently round 2^53+1 on the JSON entry point, the
    // exact divergence the NL path refuses)
    else if (v.isIntegralNumber) BigInt(v.bigIntegerValue)
    else if (v.isNumber) v.asDouble // non-integral JSON numbers are doubles
    else
      throw new UnsupportedQueryException(
        s"unsupported literal ${v.getNodeType}: $v")

  /** Include-projection only: `{field: 1}` (No_Sql.py:121-122, 363);
    * exclude-projections are never declared (SURVEY.md §2.2). */
  private def parseProjection(obj: ObjectNode): Seq[String] =
    obj.properties().asScala.toSeq.map { e =>
      val inc = e.getValue
      if (inc.isNumber && inc.asInt == 1) e.getKey
      else
        throw new UnsupportedQueryException(
          s"only include-projections {field: 1} are declared; got " +
            s"${e.getKey}: $inc")
    }

  // ---------------------------------------------------------------------
  // QuerySpec → Mongo find-spec JSON (for the response envelope parity)
  // ---------------------------------------------------------------------

  def toJson(spec: QuerySpec): String = {
    val root = mapper.createObjectNode()
    val f = root.putObject("filter")
    writeFilter(f, spec.filter)
    val p = root.putObject("projection")
    spec.projection.foreach(p.put(_, 1))
    mapper.writeValueAsString(root)
  }

  private def writeFilter(into: ObjectNode, f: FilterExpr): Unit = f match {
    case FilterExpr.True        => ()
    case FilterExpr.And(cs)     => cs.foreach(writeFilter(into, _))
    case FilterExpr.Eq(fl, v)   => putScalar(into, fl, v)
    case FilterExpr.Ne(fl, v)   => putOp(into, fl, "$ne", v)
    case FilterExpr.Gt(fl, v)   => putOp(into, fl, "$gt", v)
    case FilterExpr.Lt(fl, v)   => putOp(into, fl, "$lt", v)
    case FilterExpr.Gte(fl, v)  => putOp(into, fl, "$gte", v)
    case FilterExpr.Lte(fl, v)  => putOp(into, fl, "$lte", v)
    case FilterExpr.In(fl, vs) =>
      val arr = fieldObj(into, fl).putArray("$in")
      vs.foreach(v => arr.add(literal(v)): Unit)
    case FilterExpr.Regex(fl, pat, ci) =>
      val o = fieldObj(into, fl)
      o.put("$regex", pat)
      if (ci) o.put("$options", "i")
  }

  /** Operator object for `field`, preserving an existing bare-scalar Eq by
    * moving it inside as `$eq` — `{f: 1}` then `$gt` becomes
    * `{f: {$eq: 1, $gt: ...}}` instead of silently dropping the equality. */
  private def fieldObj(into: ObjectNode, field: String): ObjectNode = {
    val existing = into.get(field)
    if (existing == null) into.putObject(field)
    else if (existing.isObject) existing.asInstanceOf[ObjectNode]
    else {
      val o = into.putObject(field)
      o.set("$eq", existing)
      o
    }
  }

  /** One literal as JSON: integral doubles print as integers, BigInt
    * (NL-compiler literals stay arbitrary-precision ints) exactly. */
  private def literal(v: Any): JsonNode = v match {
    case s: String  => nodes.textNode(s)
    case d: Double  =>
      if (d == d.toLong.toDouble) nodes.numberNode(d.toLong)
      else nodes.numberNode(d)
    case i: Int     => nodes.numberNode(i)
    case l: Long    => nodes.numberNode(l)
    case bi: BigInt => nodes.numberNode(bi.bigInteger)
    case b: Boolean => nodes.booleanNode(b)
    case null       => nodes.nullNode()
    case other      => nodes.textNode(other.toString)
  }

  private def putScalar(into: ObjectNode, field: String, v: Any): Unit = {
    // If the field already carries an operator object (e.g. `{$gt: 0}` before
    // an Eq on the same field), nest the equality as `$eq` instead of
    // replacing the object.
    val existing = into.get(field)
    if (existing != null && existing.isObject) putOp(into, field, "$eq", v)
    else { into.set[JsonNode](field, literal(v)); () }
  }

  private def putOp(into: ObjectNode, field: String, op: String, v: Any): Unit = {
    fieldObj(into, field).set[JsonNode](op, literal(v))
    ()
  }
}
