package graft.compile

import graft.ir.{FilterExpr, QuerySpec, UnsupportedQueryException}

/** Deterministic NL → [[QuerySpec]] compiler — an exact reimplementation of
  * the reference's keyword-rule fallback `_create_fallback_query`
  * (/root/reference/No_Sql.py:316-377), its only self-contained query
  * compiler. Priority-ordered; first match wins (SURVEY.md §2.6).
  *
  * Quirks preserved on purpose (they are the reference's semantics):
  *  - only the FIRST digit run in the text is used (No_Sql.py:325);
  *  - rule order shadows: "engineers older than 30" hits the age rule
  *    before department, so the department predicate is dropped — the
  *    fallback never emits multi-field filters;
  *  - substring matching: "message" contains "age" → age rule can trigger;
  *  - salary mentioned with no digits skips rule 1 entirely;
  *  - age/experience rules with digits but no direction words fall
  *    through (no else branch at No_Sql.py:334-341, 366-373).
  */
object NlCompiler {

  private val digits = """\d+""".r

  /** Significant digits of `Double.MaxValue` (≈1.8e308). A wider literal
    * exceeds the exact range of every column type, so FilterCompiler's
    * narrowing would refuse it anyway; refusing it here keeps
    * BigInteger's quadratic parse off arbitrarily long digit runs. */
  private val MaxSignificantDigits = 309

  /** Dept synonym table, insertion order = dict iteration order
    * (No_Sql.py:344-357). Shared with [[NlColumnCompiler]] so the scalar
    * and column compilers can never drift. */
  private[compile] def deptSynonymTable: Seq[(Seq[String], String)] =
    deptSynonyms

  private val deptSynonyms: Seq[(Seq[String], String)] = Seq(
    Seq("engineer", "engineering", "developer", "dev") -> "engineering",
    Seq("marketing", "market")                          -> "marketing",
    Seq("sales", "sale")                                -> "sales",
    Seq("hr", "human")                                  -> "hr",
  )

  def compile(text: String): QuerySpec = {
    val t = text.toLowerCase
    // Python's int() is arbitrary precision (No_Sql.py:325); BigInt here so a
    // 10+-digit run compiles a filter instead of throwing NumberFormatException.
    // Parsed only when rule 1, 2 or 5 consumes it: the other rules ignore it.
    val digitRun = digits.findFirstIn(t)
    lazy val n = number(digitRun.get)

    // Rule 1: salary (No_Sql.py:322-331). The literal stays BigInt all the
    // way into FilterExpr — FilterCompiler.rawTyped narrows it to the
    // column's type EXACTLY, erroring when the value exceeds the type's
    // exact range instead of silently rounding (Python int comparisons are
    // arbitrary-precision; a rounded double would diverge).
    if (Seq("salary", "earn", "pay", "income").exists(t.contains) &&
        digitRun.isDefined) {
      val f =
        if (Seq("above", "over", "more", "greater", ">").exists(t.contains))
          FilterExpr.Gt("salary", n)
        else if (Seq("below", "under", "less", "<").exists(t.contains))
          FilterExpr.Lt("salary", n)
        else FilterExpr.Eq("salary", n) // exact equality else-branch
      return QuerySpec(f)
    }

    // Rule 2: age (No_Sql.py:334-341) — NO else branch: digits present but
    // no direction word falls through to the later rules.
    if (t.contains("age") && digitRun.isDefined) {
      if (Seq("older", "above", "over").exists(t.contains))
        return QuerySpec(FilterExpr.Gt("age", n))
      if (Seq("younger", "below", "under").exists(t.contains))
        return QuerySpec(FilterExpr.Lt("age", n))
    }

    // Rule 3: department synonyms (No_Sql.py:344-359)
    for ((keywords, dept) <- deptSynonyms)
      if (keywords.exists(t.contains))
        return QuerySpec(FilterExpr.Regex("department", dept,
          caseInsensitive = true))

    // Rule 4: name projection (No_Sql.py:362-363)
    if (t.contains("name") || t.contains("names"))
      return QuerySpec(FilterExpr.True, projection = Seq("name"))

    // Rule 5: experience (No_Sql.py:366-373) — again no else branch.
    if (t.contains("experience") && digitRun.isDefined) {
      if (Seq("more", "over", "above").exists(t.contains))
        return QuerySpec(FilterExpr.Gt("experience_years", n))
      if (Seq("less", "under", "below").exists(t.contains))
        return QuerySpec(FilterExpr.Lt("experience_years", n))
    }

    // Rule 6: default find-all (No_Sql.py:375-377)
    QuerySpec()
  }

  private def number(run: String): BigInt = {
    val significant = run.dropWhile(_ == '0')
    if (significant.length > MaxSignificantDigits)
      throw new UnsupportedQueryException(
        s"numeric literal has ${significant.length} significant digits; " +
          s"at most $MaxSignificantDigits fit any column type")
    if (significant.isEmpty) BigInt(0) else BigInt(significant)
  }
}
