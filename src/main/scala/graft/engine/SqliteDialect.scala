package graft.engine

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction, UnresolvedHaving}
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Concat, And, Between, BinaryComparison, CaseWhen, Cast, Divide, EqualTo, Exists, Expression, GreaterThanOrEqual, If, In, InSubquery, IsNotNull, IsNull, LessThan, Like, ListQuery, Literal, Multiply, NamedExpression, Not, Or, RLike, Remainder, RowFrame, SortOrder, SpecifiedWindowFrame, SubqueryExpression, Subtract, UnaryMinus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, UnresolvedWith}
import org.apache.spark.sql.graft.SqlInternals
import graft.engine.SqlLexer.Tok
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQLite *operator* dialect, applied as a parse-tree rewrite.
  *
  * The reference's read contract is the whole SQLite dialect — queries go
  * straight to `cursor.execute(query)` (trough/read.py:63-67) — and three
  * of SQLite's operators silently disagree with Spark's:
  *
  *  1. `LIKE` is ASCII-case-insensitive in SQLite; Spark's is
  *     case-sensitive. A raw `WHERE name LIKE 'a%'` would silently drop
  *     rows. Rewrite: both operands through [[AsciiLower]] (codegen'd,
  *     byte-exact SQLite folding — NOT Unicode lower, see its doc).
  *  2. `/` on two integers is integer division in SQLite (`7/2 = 3`,
  *     truncating toward zero) and REAL division in Spark. Rewrite:
  *     [[SqliteDiv]], which dispatches on operand types at analysis and
  *     yields NULL on division by zero like SQLite.
  *  3. `x GLOB y` is infix syntax Spark's parser rejects. Rewritten
  *     textually (quote-aware, precedence-correct for SQLite's grammar
  *     where GLOB sits in the equality tier) to the registered
  *     `glob(y, x)` function before parsing.
  *
  * The rewrite happens on the PARSED (unresolved) plan, before analysis,
  * so types propagate naturally through subqueries and aliases — an
  * optimizer-stage rewrite would run after constant folding (losing
  * `SELECT 7/2`) and after type coercion had already widened the plan.
  * This is the same injection point Spark reserves for dialect work
  * (`spark.sql.extensions` parser hooks); a session-tagged rewrite keeps
  * it scoped to the trough read/write paths instead of globally.
  */
object SqliteDialect {

  /** The parser reads the *active* session's SQLConf (thread-local), not
    * its owning session's — activate `sess` so its dialect flags
    * (double-quoted identifiers) apply, exactly like `sess.sql` does. */
  private def withActive[T](sess: SparkSession)(body: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(sess)
    try body finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  /** Run one SQLite-dialect SELECT on `sess`: infix-GLOB pre-rewrite,
    * parse, operator rewrite, analyze. The session should already have
    * [[SqliteCompat.register]] applied (function-name surface). */
  def sql(sess: SparkSession, stmt: String): DataFrame =
    sqlPrepared(sess, prepareText(stmt))

  /** [[sql]] for text that ALREADY went through [[prepareText]] (e.g.
    * the engine's read gate, which prepares once for validation and
    * must not prepare again — [[rewriteStringLiterals]] is not
    * idempotent: a second pass would double the doubled backslashes). */
  def sqlPrepared(sess: SparkSession, text: String): DataFrame = withActive(sess) {
    // origins index into `text` — the exact string the parser sees
    val df = SqlInternals.ofRows(sess, rewriteParsed(
      sess.sessionState.sqlParser.parsePlan(text), sqlText = Some(text)))
    // column-DECLARED collations resolve on the ANALYZED plan (the
    // attribute metadata is only bound after name resolution); no-op
    // for plans that touch no collated column
    SqliteCollation(sess, df)
  }

  /** Parse one SQLite-dialect scalar expression in a VALUE position
    * (SET clauses, VALUES tuples, DEFAULTs) with the same operator
    * rewrites. */
  def expr(sess: SparkSession, exprSql: String): Column = withActive(sess) {
    val text = prepareText(exprSql)
    SqlInternals.column(rewriteExpr(
      sess.sessionState.sqlParser.parseExpression(text), sqlText = Some(text)))
  }

  /** Parse one SQLite-dialect expression for a PREDICATE position
    * (UPDATE / DELETE / upsert WHERE, CHECK constraints): a predicate
    * root stays boolean, a value root gets SQLite truthiness —
    * numeric-nonzero, NULL propagating — so `WHERE 1` and
    * `WHERE '0.5x'` behave as they do under `cursor.execute`. */
  def predicate(sess: SparkSession, exprSql: String): Column = withActive(sess) {
    val text = prepareText(exprSql)
    SqlInternals.column(
      new BoolNormalizer(Some(text)).asPredicate(
        sess.sessionState.sqlParser.parseExpression(text) transform castRule
      ) transform rewriteRule(Some(text)))
  }

  /** The full textual pre-parse pipeline: COLLATE and infix-GLOB to
    * function forms (both consume SQLite-raw literal text), then
    * re-quote string literals into Spark's escape convention LAST. The
    * output is what the parser sees — expression Origins index into it. */
  def prepareText(stmt: String): String =
    rewriteStringLiterals(rewriteCastTypes(rewriteJsonArrows(rewriteGlob(
      rewriteCollate(rewriteJsonEach(stmt))))))

  // ------------------------------------------------------ plan rewrite

  def rewriteParsed(plan: LogicalPlan, sqlText: Option[String] = None): LogicalPlan = {
    // CTE definitions are INNER children of UnresolvedWith (a UnaryNode)
    // — transform/transformAllExpressions never descend into them, so
    // without this pre-pass every dialect rule silently skips WITH
    // bodies (query-fuzz-caught: nocase LIKE stayed case-sensitive
    // inside a CTE). Recurse the full pipeline into each definition.
    val cteRewritten = plan transform {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (name, sa, maxRec) =>
          (name, sa.copy(child = rewriteParsed(sa.child, sqlText)), maxRec)
        })
    }
    val rewritten = new BoolNormalizer(sqlText).normalize(
      cteRewritten transformAllExpressions castRule) transformAllExpressions rewriteRule(sqlText)
    // a parsed `<n> PRECEDING/FOLLOWING` ROWS bound is UnaryMinus/plain
    // over an int literal — the int64 widening pass turns it into
    // BIGINT, which Spark's window frame check rejects; narrow ROWS
    // bounds back (RANGE bounds stay wide: they must match the int64
    // order key). Query-fuzz-caught.
    rewritten transformAllExpressions {
      case f @ SpecifiedWindowFrame(RowFrame, _, _) =>
        def narrow(e: Expression): Expression = e transform {
          case Literal(v: java.lang.Long, LongType) if v.longValue().isValidInt =>
            Literal(v.intValue(), IntegerType)
        }
        f.copy(lower = narrow(f.lower), upper = narrow(f.upper))
    }
  }

  def rewriteExpr(e: Expression, sqlText: Option[String] = None): Expression =
    new BoolNormalizer(sqlText).asValue(
      e transform castRule) transform rewriteRule(sqlText)

  // ------------------------------------------- boolean-as-integer pass

  /** SQLite has NO boolean type (datatype3.html §2.1): a comparison
    * yields the INTEGER 0 or 1 and is usable anywhere a value is —
    * `sum(x LIKE 'a%')`, `(a < b) + 1`, `SELECT 1 < 2` all answer
    * integers through `cursor.execute` in the reference — and
    * conversely ANY value is usable where the grammar wants a truth,
    * "true" meaning nonzero after NUMERIC coercion (`WHERE 5`,
    * `iif('0.5x', …)`; lang_expr.html §Boolean Expressions). Spark is
    * strictly typed in exactly the opposite direction, so this pass
    * erases booleans at the boundary between the two sub-grammars of
    * the parsed (still unresolved) tree:
    *
    *  - a predicate-shaped expression in a VALUE position is cast to
    *    BIGINT (0/1/NULL — a native codegen'd Cast that constant-folds
    *    for literals);
    *  - a value-shaped expression in a PREDICATE position (WHERE /
    *    HAVING / ON / CASE-WHEN / AND / OR / NOT operands) becomes
    *    `sqlite_cast(v AS REAL) <> 0.0` — SQLite's numeric-prefix
    *    truthiness. NULL propagates, and a NULL condition is not true,
    *    exactly SQLite's rule.
    *
    * Classification is purely syntactic — the tree has no types yet —
    * which mirrors SQLite's own semantics: boolean-ness is a property
    * of the operator that produced a value, never of a stored type.
    * A plain comparison in WHERE is left untouched, so parquet filter
    * pushdown is unaffected (PlanSpec pins it).
    *
    * Naming: when the pass rewrites the root of an unaliased result
    * column, it aliases the column to the expression's source text
    * (via the parser's Origin span) — sqlite3's own naming rule for
    * expression columns — instead of leaking the rewrite
    * (`CAST(… AS BIGINT)`, or the nocase-LIKE machinery) into the
    * result schema. */
  private final class BoolNormalizer(sqlText: Option[String]) {

    /** Function-call forms that answer a Spark BOOLEAN: the reference's
      * REGEXP UDF, the GLOB rewrite target, and `between` — the name
      * Spark's parser gives a BETWEEN predicate. */
    private val boolFunctions = Set("glob", "regexp", "between")

    private def isPredShaped(e: Expression): Boolean = e match {
      case _: BinaryComparison | _: Between | _: Like | _: RLike |
           _: In | _: InSubquery | _: Exists |
           _: IsNull | _: IsNotNull | _: And | _: Or | _: Not => true
      case Literal(_, BooleanType) => true // TRUE/FALSE keywords = 1/0
      case f: UnresolvedFunction =>
        boolFunctions(f.nameParts.last.toLowerCase(Locale.ROOT))
      case _ => false
    }

    def normalize(plan: LogicalPlan): LogicalPlan = plan transformUp {
      case f: Filter => f.copy(condition = asPredicate(f.condition))
      case j: Join => j.copy(condition = j.condition.map(asPredicate))
      case h: UnresolvedHaving =>
        h.copy(havingCondition = asPredicate(h.havingCondition))
      case p: Project =>
        p.copy(projectList = mapPreserve(p.projectList, projectItem))
      case a: Aggregate => a.copy(
        groupingExpressions = mapPreserve(a.groupingExpressions, asValue),
        aggregateExpressions = mapPreserve(a.aggregateExpressions, projectItem))
      case other => other.mapExpressions(asValue)
    }

    /** A result column: value context, but a rewritten root gets its
      * sqlite3 name (the source text) instead of Spark's rendering of
      * the rewritten tree. */
    private def projectItem(e: NamedExpression): NamedExpression = e match {
      case ua @ UnresolvedAlias(child, _) =>
        val nc = asValue(child)
        if (nc eq child) ua
        else srcText(child).map(Alias(nc, _)()).getOrElse(ua.copy(child = nc))
      case other => asValue(other).asInstanceOf[NamedExpression]
    }

    /** The expression's source text. The root's own Origin span can
      * start at its operator token (a Like's span omits the left
      * operand), so take the min/max span over the whole subtree; a
      * span that stops mid-word (keyword literals like TRUE record a
      * 1-char stop) is extended through the word. */
    private def srcText(e: Expression): Option[String] = sqlText.flatMap { sql =>
      val starts = e.collect {
        case x if x.origin.startIndex.isDefined => x.origin.startIndex.get
      }
      val stops = e.collect {
        case x if x.origin.stopIndex.isDefined => x.origin.stopIndex.get
      }
      if (starts.isEmpty || stops.isEmpty) None
      else {
        val si = starts.min
        var ei = stops.max
        if (si < 0 || si > ei || ei >= sql.length) None
        else {
          while (ei + 1 < sql.length && sql.charAt(ei).isLetterOrDigit &&
            sql.charAt(ei + 1).isLetterOrDigit) ei += 1
          Some(sql.substring(si, ei + 1).trim)
        }
      }
    }

    private def mapPreserve[A <: Expression](es: Seq[A], f: A => A): Seq[A] = {
      val ns = es.map(f)
      if (ns.lazyZip(es).forall(_ eq _)) es else ns
    }

    def asValue(e: Expression): Expression = e match {
      case a: Alias => a.withNewChildren(Seq(asValue(a.child)))
      case ua: UnresolvedAlias => ua.copy(child = asValue(ua.child))
      // IN (SELECT …) observed as a VALUE must keep SQL three-valued
      // semantics: Spark plans value-position InSubquery as an
      // ExistenceJoin whose flag is plain false for a NULL probe,
      // where SQLite answers NULL whenever the set is non-empty (or
      // contains NULL without a match). Only the value position can
      // observe the difference — WHERE-position IN/NOT IN stay on
      // Spark's (null-aware-anti-join) path untouched.
      case in: InSubquery => Cast(nullAwareIn(in), LongType)
      case n @ Not(in: InSubquery) => Cast(Not(nullAwareIn(in)), LongType)
      case p if isPredShaped(p) => Cast(asPredicate(p), LongType)
      case i @ If(c, t, fv) =>
        val (nc, nt, nf) = (asPredicate(c), asValue(t), asValue(fv))
        if ((nc eq c) && (nt eq t) && (nf eq fv)) i else If(nc, nt, nf)
      case cw: CaseWhen =>
        val nb = cw.branches.map { case (c, v) => (asPredicate(c), asValue(v)) }
        val ne = cw.elseValue.map(asValue)
        val same = nb.lazyZip(cw.branches).forall { case ((nc, nv), (c, v)) =>
          (nc eq c) && (nv eq v)
        } && ne.zip(cw.elseValue).forall { case (a, b) => a eq b }
        if (same) cw else CaseWhen(nb, ne)
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("iif") && f.arguments.length == 3 =>
        // iif's first argument is SQLite-truthy, not a value
        f.copy(arguments = asPredicate(f.arguments.head) +: f.arguments.tail.map(asValue),
          filter = f.filter.map(asPredicate))
      case f: UnresolvedFunction =>
        val na = mapPreserve(f.arguments, asValue)
        val nf = f.filter.map(asPredicate) // FILTER (WHERE …) is a predicate
        if ((na eq f.arguments) &&
            nf.zip(f.filter).forall { case (a, b) => a eq b }) f
        else f.copy(arguments = na, filter = nf)
      case s: SubqueryExpression => s.withNewPlan(normalize(s.plan))
      case so: SortOrder =>
        val nc = asValue(so.child)
        if (nc eq so.child) so else so.copy(child = nc)
      case other => other.mapChildren(asValue)
    }

    def asPredicate(e: Expression): Expression = e match {
      case a @ And(l, r) =>
        val (nl, nr) = (asPredicate(l), asPredicate(r))
        if ((nl eq l) && (nr eq r)) a else And(nl, nr)
      case o @ Or(l, r) =>
        val (nl, nr) = (asPredicate(l), asPredicate(r))
        if ((nl eq l) && (nr eq r)) o else Or(nl, nr)
      case n @ Not(c) =>
        val nc = asPredicate(c)
        if (nc eq c) n else Not(nc)
      case ex: Exists => ex.withNewPlan(normalize(ex.plan))
      case in: InSubquery =>
        val nv = mapPreserve(in.values, asValue)
        val nq = in.query.withNewPlan(normalize(in.query.plan)).asInstanceOf[ListQuery]
        if ((nv eq in.values) && (nq eq in.query)) in else InSubquery(nv, nq)
      case Literal(_, BooleanType) => e // TRUE / FALSE keywords
      case p if isPredShaped(p) => p.mapChildren(asValue)
      case v => truthy(asValue(v))
    }

    /** SQLite truthiness: coerce to NUMERIC, true iff nonzero
      * (lang_expr.html §Boolean Expressions). NULL stays NULL. */
    private def truthy(v: Expression): Expression =
      Not(EqualTo(SqliteCast(v, "real"), Literal(0.0d)))

    /** Aggregate function names whose presence makes a subquery's
      * single item a 1-row SCALAR result — the null-aware expansion
      * below would plant an aggregate inside a WHERE, so those bail
      * to the plain (Spark) semantics. */
    private val aggNames = Set("count", "sum", "avg", "min", "max",
      "total", "group_concat", "string_agg")

    /** The (item expression, FROM subtree) of a plain single-item
      * SELECT subquery — unwrapping DISTINCT (membership-invariant)
      * and alias wrappers; None for shapes whose row set this pass
      * cannot reconstruct (LIMIT, set ops, GROUP BY, window/aggregate
      * items). */
    private def unwrapSubq(p: LogicalPlan): Option[(Expression, LogicalPlan)] =
      p match {
        case Project(Seq(item), child) =>
          val y = item match {
            case a: Alias => a.child
            case ua: UnresolvedAlias => ua.child
            case e => e
          }
          val hasAgg = y.exists {
            case f: UnresolvedFunction =>
              aggNames.contains(f.nameParts.last.toLowerCase(Locale.ROOT))
            case _ => false
          }
          if (hasAgg) None else Some((y, child))
        case d: org.apache.spark.sql.catalyst.plans.logical.Distinct =>
          unwrapSubq(d.child)
        case sa: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          unwrapSubq(sa.child)
        case _ => None
      }

    /** Three-valued `x IN (SELECT y FROM …)` for VALUE positions:
      *
      *   match found                  → 1
      *   else set has NULL, or x NULL
      *        and set non-empty       → NULL
      *   else                         → 0
      *
      * The membership test stays Spark's existence join; the two NULL
      * legs are EXISTS probes over the same (unresolved, so freshly
      * re-analyzed) subquery body. Cost: up to two extra subquery
      * scans, paid only when an IN-subquery sits in a value position —
      * predicate positions never take this path. Shapes whose row set
      * can't be reconstructed (LIMIT / set ops / aggregates) keep the
      * plain semantics. */
    private def nullAwareIn(in0: InSubquery): Expression = {
      val in = InSubquery(mapPreserve(in0.values, asValue),
        in0.query.withNewPlan(normalize(in0.query.plan)).asInstanceOf[ListQuery])
      if (in.values.length != 1) return in
      unwrapSubq(in.query.plan) match {
        case Some((y, child)) =>
          val one = Seq(Alias(Literal(1), "__one")())
          val nonEmpty = Exists(Project(one, child))
          val hasNull = Exists(Project(one, Filter(IsNull(y), child)))
          CaseWhen(Seq(
            (in, Literal(true)),
            (Or(And(IsNull(in.values.head), nonEmpty), hasNull),
              Literal(null, BooleanType))),
            Some(Literal(false)))
        case None => in
      }
    }
  }

  /** SQLite CAST semantics for every cast the USER wrote. Runs as a
    * separate pass BEFORE [[rewriteRule]]: at that point the parsed
    * tree contains only user-written casts, while rewriteRule itself
    * introduces text-affinity Casts (the nocase-LIKE wrap and its
    * pushable prefilter) that must stay native Spark casts — a
    * CodegenFallback SqliteCast there would break the parquet pushdown
    * PlanSpec pins. Only affinity-expressible targets rewrite;
    * Spark-only targets (maps, arrays) keep Spark behavior. */
  private def castRule: PartialFunction[Expression, Expression] = {
    case c: Cast if castAffinity(c.dataType).isDefined =>
      SqliteCast(c.child transform castRule, castAffinity(c.dataType).get)
    case s: SubqueryExpression =>
      s.withNewPlan(s.plan transformAllExpressions castRule)
  }

  private def castAffinity(dt: org.apache.spark.sql.types.DataType): Option[String] = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.BooleanType => Some("integer")
    case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType |
         _: org.apache.spark.sql.types.DecimalType => Some("real")
    case StringType => Some("text")
    case org.apache.spark.sql.types.BinaryType => Some("blob")
    case _ => None
  }

  /** SQLite LIKE without an ESCAPE clause has NO escape character — a
    * backslash in the pattern is a literal backslash, where Spark's
    * default escape is '\'. The parsed Like can't tell "no clause" from
    * an explicit ESCAPE '\' (both carry '\\'), so the SOURCE TEXT of
    * this specific Like decides: Spark's parser records each parsed
    * expression's character span on its Origin (startIndex/stopIndex,
    * covering the whole predicate including any ESCAPE clause), and the
    * clause is present iff the span's trailing tokens are `ESCAPE
    * '<lit>'` (a string literal — `escape` followed by anything else is
    * a quoted identifier or alias). When absent, the escape char is
    * replaced by NUL, a character no pattern contains, disabling
    * escaping exactly like SQLite. Per-LIKE, so one statement mixing an
    * ESCAPE-clause LIKE with a backslash-pattern LIKE gives each its own
    * SQLite-correct semantics (previously one statement-level flag
    * silently kept Spark escaping for both). A Like without a usable
    * span (synthetic/programmatic) falls back to statement-level clause
    * presence — the previous coarse behavior — or, with no statement
    * text either, to SQLite's no-escape default. */
  private def likeHasOwnEscapeClause(like: Like, sqlText: Option[String]): Boolean =
    sqlText match {
      case Some(sql) =>
        (like.origin.startIndex, like.origin.stopIndex) match {
          case (Some(si), Some(ei)) if si >= 0 && si <= ei && ei < sql.length =>
            val toks = SqlLexer.tokens(sql.substring(si, ei + 1))
            toks.length >= 2 && toks(toks.length - 2).lower == "escape" &&
              toks.last.kind == SqlLexer.Str
          case _ => hasEscapeClause(sql)
        }
      case None => false
    }

  private def hasEscapeClause(sql: String): Boolean = {
    val toks = SqlLexer.tokens(sql)
    toks.indices.exists(i => toks(i).lower == "escape" &&
      i + 1 < toks.length && toks(i + 1).kind == SqlLexer.Str)
  }

  private def rewriteRule(sqlText: Option[String]): PartialFunction[Expression, Expression] = {
    // Cast-to-string first: SQLite LIKEs numerics via text affinity
    // (`3 LIKE 3` is true); Cast(string, string) is a no-op Catalyst
    // removes, so string operands are untouched.
    case like @ Like(l, r, esc) if !l.isInstanceOf[AsciiLower] =>
      val escape = if (esc == '\\' && !likeHasOwnEscapeClause(like, sqlText)) '\u0000' else esc
      val nocase = Like(AsciiLower(Cast(l, StringType)), AsciiLower(Cast(r, StringType)), escape)
      // The AsciiLower wrap forfeits parquet's StartsWith/prefix
      // pushdown. For a literal pattern with an alphabetic first
      // character, conjoin a coarse-but-exact prefilter on the RAW
      // column -- two first-character ranges covering both cases -- that
      // parquet CAN push (row-group min/max pruning). At 100 TB the
      // difference is reading every row group vs skipping the ones whose
      // stats exclude both case variants of the prefix.
      nocaseLikePrefilter(l, r, escape)
        .map(p => And(p, nocase)).getOrElse(nocase)
    // explicit COLLATE BINARY: the textual rewrite's marker call-form
    // becomes the CollateBinary expression SqliteCollation consults
    // (and strips) on the analyzed plan
    case f: UnresolvedFunction
        if f.nameParts.last.equalsIgnoreCase("collate_binary") &&
          f.arguments.length == 1 && f.filter.isEmpty =>
      CollateBinary(f.arguments.head)
    case Divide(l, r, _) => SqliteDiv(l, r)
    // SQLite %: both operands cast to INTEGER, NULL on mod-by-zero —
    // Spark's Remainder keeps fractional operands and (ANSI) throws
    case Remainder(l, r, _) => SqliteMod(l, r)
    // SQLite: NULL propagates through +, -, * carrying NO storage
    // class; Spark's coercion types an all-NullType arithmetic DOUBLE
    // and widens enclosing integral branches (iif/coalesce/nullif) to
    // REAL (fuzz-caught: iif(c, abs(310), NULL+NULL) answered 310.0).
    // The value is NULL whatever the other operand evaluates to, so
    // fold the whole node to an UNTYPED null and let the enclosing
    // expression keep its own type. Matches whole null-arithmetic
    // SUBTREES because this rule runs top-down.
    // `||` operands render numbers SQLite-style (2.5e+15, not Java's
    // 2.5E15); strings/blobs pass through so blob||blob stays binary
    case c: Concat if !c.children.exists(_.isInstanceOf[SqliteTextValue]) =>
      Concat(c.children.map(SqliteTextValue))
    case a: Add if nullArith(a) => Literal(null, NullType)
    case a: Subtract if nullArith(a) => Literal(null, NullType)
    case a: Multiply if nullArith(a) => Literal(null, NullType)
    case a: UnaryMinus if nullArith(a) => Literal(null, NullType)
    // SQLite integers are int64 (datatype3.html §2): an all-int-literal
    // arithmetic must not run in Spark's 32-bit lane, where ANSI mode
    // throws on overflow at 2^31 (fuzz-caught: (-423)*691*(-96)*(-84)).
    // Widening the literals makes the whole chain resolve as BIGINT.
    case Add(l, r, f) if isIntLit(l) || isIntLit(r) =>
      Add(asLongLit(l), asLongLit(r), f)
    case Subtract(l, r, f) if isIntLit(l) || isIntLit(r) =>
      Subtract(asLongLit(l), asLongLit(r), f)
    case Multiply(l, r, f) if isIntLit(l) || isIntLit(r) =>
      Multiply(asLongLit(l), asLongLit(r), f)
    case UnaryMinus(l, f) if isIntLit(l) => UnaryMinus(asLongLit(l), f)
    // castRule and BoolNormalizer each recurse into subquery plans
    // themselves — re-running the full rewriteParsed here would
    // re-normalize (double-wrapping value-position predicates)
    case s: SubqueryExpression =>
      s.withNewPlan(s.plan transformAllExpressions rewriteRule(sqlText))
  }

  private def isIntLit(e: Expression): Boolean = e match {
    case Literal(_, IntegerType) => true
    case _ => false
  }
  private def asLongLit(e: Expression): Expression = e match {
    case Literal(v, IntegerType) => Literal(v.asInstanceOf[Int].toLong, LongType)
    case other => other
  }

  /** Whether `e` is a +,-,* / unary-minus tree with a NULL literal
    * anywhere in it — i.e. an expression SQLite evaluates to NULL with
    * no storage class. */
  private def nullArith(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case Add(l, r, _) => nullArith(l) || nullArith(r)
    case Subtract(l, r, _) => nullArith(l) || nullArith(r)
    case Multiply(l, r, _) => nullArith(l) || nullArith(r)
    case UnaryMinus(c, _) => nullArith(c)
    case _ => false
  }

  /** Pushable companion predicate for the nocase LIKE rewrite: rows
    * matching `ascii_lower(col) LIKE 'abc…'` must start with 'a' or 'A',
    * i.e. `(col >= 'a' AND col < 'b') OR (col >= 'A' AND col < 'B')` —
    * plain ranges on the raw column that reach parquet statistics. Only
    * for a foldable string pattern whose first literal character (before
    * any wildcard/escape) is an ASCII letter; the Cast(string) is a
    * no-op the optimizer removes for string columns, and for non-string
    * operands it just matches the LIKE's own text affinity. */
  private def nocaseLikePrefilter(
      l: Expression, pattern: Expression, escape: Char): Option[Expression] =
    pattern match {
      case Literal(p: UTF8String, StringType) =>
        val prefix = p.toString.takeWhile(c =>
          c != '%' && c != '_' && c != '\\' && c != escape)
        prefix.headOption.collect {
          case c if (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') =>
            def range(ch: Char): Expression = And(
              GreaterThanOrEqual(Cast(l, StringType), Literal(ch.toString)),
              LessThan(Cast(l, StringType), Literal((ch + 1).toChar.toString)))
            Or(range(c.toLower), range(c.toUpper))
        }
      case _ => None
    }

  // ------------------------------------------------- infix GLOB rewrite

  /** Keywords that terminate a GLOB operand scan. Everything SQLite
    * gives *lower* precedence than the equality tier (where GLOB sits),
    * plus clause keywords. Comparison operators are included too: SQLite
    * technically allows `a < b GLOB p`, but no real query does, and
    * stopping there keeps the scan conservative. */
  private val boundaryWords = Set(
    "select", "from", "where", "and", "or", "not", "on", "join", "inner",
    "left", "right", "full", "cross", "when", "then", "else", "case", "end",
    "group", "order", "having", "limit", "offset", "by", "as", "asc", "desc",
    "union", "intersect", "except", "all", "distinct", "between", "in", "is",
    "like", "escape", "values", "set", "collate")

  /** Whether a token can END the left operand of an infix operator: a
    * closing paren, a quoted literal, a number, or a non-keyword word.
    * `glob` right after SELECT / AS / a comma is an identifier in a
    * position where SQLite's grammar also reads it as one (a column or
    * alias legally named glob), never the operator. */
  private def operandEnd(t: Tok): Boolean =
    t.isPunct(')') || t.kind == SqlLexer.Ident || t.isLiteral || t.kind == SqlLexer.Param ||
      (t.kind == SqlLexer.Word && !boundaryWords.contains(t.lower))

  /** Forward scan for the (exclusive) end of the operand starting at
    * token `start`, honoring paren depth and [[boundaryWords]]. */
  private def operandEndAfter(toks: IndexedSeq[Tok], start: Int): Int = {
    var depth = 0
    var j = start
    var end = toks.length
    var scanning = true
    while (j < toks.length && scanning) {
      val t = toks(j)
      t.text match {
        case "(" => depth += 1
        case ")" if depth == 0 => end = j; scanning = false
        case ")" => depth -= 1
        case "," | ";" if depth == 0 => end = j; scanning = false
        case "=" | "<" | ">" | "!" if depth == 0 => end = j; scanning = false
        case _ if depth == 0 && boundaryWords.contains(t.lower) => end = j; scanning = false
        case _ => ()
      }
      if (scanning) j += 1
    }
    end
  }

  /** Backward scan for the start of the operand ending just before token
    * `end` (exclusive), honoring paren depth and [[boundaryWords]].
    * Returns `end` when no operand precedes. */
  private def operandStartBefore(toks: IndexedSeq[Tok], end: Int): Int = {
    var depth = 0
    var k = end - 1
    var start = 0
    var scanning = true
    while (k >= 0 && scanning) {
      val t = toks(k)
      t.text match {
        case ")" => depth += 1
        case "(" if depth == 0 => start = k + 1; scanning = false
        case "(" => depth -= 1
        case "," | ";" if depth == 0 => start = k + 1; scanning = false
        case "=" | "<" | ">" | "!" if depth == 0 => start = k + 1; scanning = false
        case _ if depth == 0 && boundaryWords.contains(t.lower) =>
          start = k + 1; scanning = false
        case _ => ()
      }
      if (scanning) k -= 1
    }
    if (start > end) end else start
  }

  /** SQLite `expr COLLATE NOCASE|RTRIM|BINARY` — Spark's parser has no
    * COLLATE expression syntax, so it rewrites textually like infix
    * GLOB. NOCASE folds through ascii_lower (SQLite's ASCII-only
    * rule) and RTRIM through rtrim: a comparison to the left of the
    * collated operand wraps BOTH sides (golden: `'ABC' = 'abc' COLLATE
    * NOCASE` is 1, `'ÄBC' = 'äbc'` is 0); a bare operand (`ORDER BY
    * name COLLATE NOCASE`) wraps alone. BINARY — the default on both
    * engines — wraps in the `collate_binary` marker instead of being
    * dropped: per datatype3.html §7.1 rule 1 an EXPLICIT binary
    * overrides a column-DECLARED collation, so [[SqliteCollation]]
    * must still see that the user asked for it (it strips the marker
    * after deciding). */
  /** SQLite string literals are RAW: the only escape is a doubled quote
    * (sqlite.org/lang_expr.html); a backslash is an ordinary character.
    * Spark's default lexer instead processes backslash escapes ('\n' →
    * newline) and DROPS unknown ones ('a\xb' → 'axb'), silently
    * corrupting any literal containing '\' — including the common
    * `ESCAPE '\'` clause, whose lexeme can't even terminate (the lexer
    * reads the backslash as escaping the closing quote). Spark's legacy
    * escapedStringLiterals mode is no help: its lexer still eats `\'`
    * and it stops collapsing doubled quotes (SQLite's one true escape).
    * So the dialect re-quotes TEXTUALLY before parsing: inside every
    * single-quoted literal each backslash is doubled, which Spark's
    * default unescaper maps back to exactly the raw SQLite bytes, while
    * doubled-quote collapsing (shared by both dialects) still applies.
    * Backtick/double-quoted tokens are identifier territory and copied
    * verbatim (a backslash inside an identifier stays an identifier
    * char), as are comments and blob literals' hex bodies (no '\' in
    * the alphabet). DuckDB — the oracle — lexes raw like SQLite, so
    * this also keeps differential tests honest. A `[name]` identifier,
    * which Spark's lexer does not know, is re-spelled `` `name` ``. */
  def rewriteStringLiterals(sql: String): String =
    if (sql.indexOf('\\') < 0 && sql.indexOf('[') < 0) sql
    else SqlLexer.rewrite(sql) { (toks, i) =>
      val t = toks(i)
      if (t.kind == SqlLexer.Str && t.text.indexOf('\\') >= 0)
        Some((i + 1, t.text.replace("\\", "\\\\")))
      else if (t.quote == '[') Some((i + 1, "`" + t.value.replace("`", "``") + "`"))
      else None
    }

  def rewriteCollate(sql: String): String = {
    val toks = SqlLexer.tokens(sql)
    val found = toks.indices.find { i =>
      toks(i).lower == "collate" && i > 0 && i + 1 < toks.length &&
        Set("nocase", "binary", "rtrim").contains(toks(i + 1).lower)
    }
    found match {
      case None => sql
      case Some(i) =>
        // NOCASE folds ASCII case; RTRIM ignores trailing spaces before
        // a BINARY compare (datatype3.html §7.1) — both express as a
        // both-sides wrap around the collation-governed comparison.
        // BINARY wraps in the collate_binary marker (it must override a
        // column-declared collation, not vanish).
        val wrap = toks(i + 1).lower match {
          case "rtrim" => "rtrim"
          case "binary" => "collate_binary"
          case _ => "ascii_lower"
        }
        val yStart = operandStartBefore(toks, i)
        if (yStart >= i) return sql // no operand: the parser reports it
        val y = sql.substring(toks(yStart).start, toks(i - 1).end)
        val opChars = Set("=", "<", ">", "!")
        // operator run directly left of the operand → wrap both sides
        var opStart = yStart
        while (opStart > 0 && opChars.contains(toks(opStart - 1).text))
          opStart -= 1
        if (opStart < yStart) {
          val xStart = operandStartBefore(toks, opStart)
          if (xStart < opStart) {
            val x = sql.substring(toks(xStart).start, toks(opStart - 1).end)
            val op = sql.substring(toks(opStart).start, toks(yStart - 1).end)
            return rewriteCollate(sql.substring(0, toks(xStart).start) +
              s"$wrap($x) $op $wrap($y)" + sql.substring(toks(i + 1).end))
          }
        }
        // operator run directly RIGHT of the collation — the common
        // left-operand idiom `x COLLATE NOCASE = y` (golden:
        // 'ABC' COLLATE NOCASE = 'abc' is 1): the collation still
        // governs the whole comparison, so wrap both sides
        var opEnd = i + 2
        while (opEnd < toks.length && opChars.contains(toks(opEnd).text))
          opEnd += 1
        if (opEnd > i + 2) {
          val zEnd = operandEndAfter(toks, opEnd)
          if (zEnd > opEnd) {
            val op = sql.substring(toks(i + 2).start, toks(opEnd - 1).end)
            val z = sql.substring(toks(opEnd).start, toks(zEnd - 1).end)
            return rewriteCollate(sql.substring(0, toks(yStart).start) +
              s"$wrap($y) $op $wrap($z)" + sql.substring(toks(zEnd - 1).end))
          }
        }
        rewriteCollate(sql.substring(0, toks(yStart).start) +
          s"$wrap($y)" + sql.substring(toks(i + 1).end))
    }
  }

  /** Rewrite every infix `X [NOT] GLOB Y` to `[NOT] glob(Y, X)`. The
    * function-call form `glob(...)` is left untouched, as is a bare
    * `glob` used as an identifier (SELECT a AS glob). If an apparent
    * infix GLOB's operands can't be located, the text is left for the
    * parser to reject with its own error rather than corrupted here.
    * Idempotent on SQL without infix GLOB. */
  def rewriteGlob(sql: String): String = {
    val toks = SqlLexer.tokens(sql)
    val globIdx = toks.zipWithIndex.find { case (t, i) =>
      t.lower == "glob" &&
        // not the function-call form
        !(i + 1 < toks.length && toks(i + 1).text == "(") &&
        // must have operands on both sides...
        i > 0 && i + 1 < toks.length &&
        // ...and the left neighbor must plausibly end one ("X glob" or
        // "X NOT glob" — not "AS glob", "SELECT glob", ", glob")
        (operandEnd(toks(i - 1)) ||
          (toks(i - 1).lower == "not" && i > 1 && operandEnd(toks(i - 2))))
    }.map(_._2)

    globIdx match {
      case None => sql
      case Some(g) =>
        // RHS: forward until a boundary at the operator's paren depth
        val rhsEnd = operandEndAfter(toks, g + 1)
        // NOT GLOB?
        val negated = toks(g - 1).lower == "not"
        val lhsScanEnd = if (negated) g - 1 else g
        // LHS: backward until a boundary at depth 0
        val lhsStart = operandStartBefore(toks, lhsScanEnd)
        // unlocatable operands: leave the text alone — the parser's own
        // error beats corrupting the statement here
        if (lhsStart >= lhsScanEnd || g + 1 >= rhsEnd) return sql
        val lhs = sql.substring(toks(lhsStart).start, toks(lhsScanEnd - 1).end)
        val rhs = sql.substring(toks(g + 1).start, toks(rhsEnd - 1).end)
        val replacement = (if (negated) "NOT " else "") + s"glob($rhs, $lhs)"
        val rewritten = sql.substring(0, toks(lhsStart).start) + replacement +
          sql.substring(toks(rhsEnd - 1).end)
        rewriteGlob(rewritten) // handle further GLOBs
    }
  }

  // --------------------------------------------- CAST type-name rewrite

  /** SQLite accepts ANY type name in CAST and derives an affinity from
    * it by the column-declaration rules (datatype3.html §3.1) — `CAST(x
    * AS TEXT)`, `AS VARCHAR(4)`, `AS UNSIGNED BIG INT` are all valid
    * where Spark's parser rejects most of them (and parses `INT` as
    * 32-bit where SQLite's INTEGER is 64). The type-name span inside
    * each CAST rewrites to the canonical Spark name of its affinity;
    * [[castRule]] then swaps the parsed Cast for SQLite semantics. */
  def rewriteCastTypes(sql: String): String = {
    val toks = SqlLexer.tokens(sql)
    var i = 0
    while (i + 1 < toks.length) {
      if (toks(i).lower == "cast" && toks(i + 1).text == "(") {
        val close = SqlLexer.matchParen(toks, i + 1)
        if (close > 0) {
          // last top-level AS inside this cast's parens
          var depth = 0
          var asIdx = -1
          var j = i + 2
          while (j < close) {
            toks(j).text match {
              case "(" => depth += 1
              case ")" => depth -= 1
              case _ if depth == 0 && toks(j).lower == "as" => asIdx = j
              case _ => ()
            }
            j += 1
          }
          if (asIdx > 0 && asIdx + 1 < close) {
            val typeText = sql.substring(toks(asIdx + 1).start, toks(close - 1).end)
            // already-canonical names terminate the recursion: STRING and
            // BINARY are Spark-only names the affinity rules don't know
            // (STRING would read as NUMERIC affinity and loop to DOUBLE)
            val canonicalSet = Set("BIGINT", "DOUBLE", "BINARY", "STRING")
            val canonical =
              if (canonicalSet.contains(typeText.toUpperCase(Locale.ROOT))) typeText
              else SqliteDdl.affinity(typeText) match {
                case org.apache.spark.sql.types.LongType => "BIGINT"
                case org.apache.spark.sql.types.DoubleType => "DOUBLE"
                case org.apache.spark.sql.types.BinaryType => "BINARY"
                case _ => "STRING"
              }
            if (!typeText.equalsIgnoreCase(canonical)) {
              val rewritten = sql.substring(0, toks(asIdx + 1).start) + canonical +
                sql.substring(toks(close - 1).end)
              return rewriteCastTypes(rewritten)
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  // --------------------------------------------- JSON -> / ->> rewrite

  /** SQLite's json1 member operators (`j -> path` = JSON form, `j ->>
    * path` = SQL value; sqlite.org/json1.html §operators). Spark's
    * parser has no such operators (its `->` exists only as lambda
    * syntax inside higher-order builtins, which the SQLite surface
    * never produces), so they rewrite textually to the registered
    * `json_arrow` / `json_arrow_text` functions. Unlike GLOB's
    * equality-tier scan, operands here are ONE primary expression per
    * side — the arrows bind at SQLite's tightest binary tier, so
    * `j ->> 'a' + 1` must become `json_arrow_text(j,'a') + 1`, not
    * swallow the arithmetic. Left-assoc chains resolve by recursion:
    * the leftmost arrow rewrites first and becomes the next one's
    * call-form LHS. */
  /** json1's `json_each` / `json_tree` table-valued functions in FROM
    * clauses (sqlite.org/json1.html §4.13), re-expressed as Spark
    * generators (shown for json_each; json_tree maps identically onto
    * its recursive kernel):
    *
    *  - `FROM t, json_each(E) [AS] a` → `FROM t LATERAL VIEW
    *    inline(json_each_entries(E)) a` — the lateral view correlates
    *    over the preceding relations exactly like SQLite's implicit
    *    lateral join, and a NULL/empty entries array drops the row the
    *    way the (non-outer) join does;
    *  - `FROM json_each(E) [AS] a` (leading, necessarily uncorrelated)
    *    → `FROM (SELECT inline(json_each_entries(E))) AS a` — subquery
    *    form, so following comma-joined sources stay valid.
    *
    * The default alias is `json_each`, SQLite's own table name for the
    * call. A comma-form rewrite whose item is followed by ANOTHER
    * comma-joined source that is not itself a json_each call is left
    * untouched (LATERAL VIEW cannot precede a comma) — the parser's
    * error beats corrupting the statement, same contract as GLOB. */
  def rewriteJsonEach(sql: String): String = {
    val toks = SqlLexer.tokens(sql)
    val tvfs = Set("json_each", "json_tree")
    var i = 1
    while (i + 1 < toks.length) {
      val prev = toks(i - 1)
      if (tvfs.contains(toks(i).lower) && toks(i + 1).text == "(" &&
          (prev.lower == "from" || prev.lower == "join" || prev.text == ",")) {
        val kernel = toks(i).lower + "_entries"
        val close = SqlLexer.matchParen(toks, i + 1)
        if (close > 0) {
          // optional [AS] alias after the call
          var j = close + 1
          if (j < toks.length && toks(j).lower == "as") j += 1
          val alias =
            if (j < toks.length && isAliasTok(toks(j))) Some(toks(j)) else None
          val aliasEnd = alias.map(_ => j).getOrElse(close)
          val aliasName = alias.map(_.text).getOrElse(toks(i).lower)
          val args = sql.substring(toks(i + 1).end, toks(close).start)
          def tail = sql.substring(toks(aliasEnd).end)
          if (prev.text == ",") {
            val next = if (aliasEnd + 1 < toks.length) Some(toks(aliasEnd + 1)) else None
            val tailOk = !next.exists(_.text == ",") ||
              (aliasEnd + 2 < toks.length && tvfs.contains(toks(aliasEnd + 2).lower))
            if (tailOk)
              return rewriteJsonEach(sql.substring(0, prev.start) +
                s" LATERAL VIEW inline($kernel($args)) $aliasName" + tail)
          } else {
            // FROM-first (necessarily uncorrelated) and explicit JOIN
            // (correlated args fail analysis, as they would in any
            // non-lateral join): subquery form
            return rewriteJsonEach(sql.substring(0, toks(i).start) +
              s"(SELECT inline($kernel($args))) AS $aliasName" + tail)
          }
        }
      }
      i += 1
    }
    sql
  }

  /** Whether a token can be a table alias: an identifier-shaped or
    * quoted word that isn't a clause keyword. */
  private def isAliasTok(t: Tok): Boolean =
    t.isName && !boundaryWords.contains(t.lower)

  def rewriteJsonArrows(sql: String): String = {
    val toks = SqlLexer.tokens(sql)
    var found = -1
    var isText = false
    var i = 0
    while (found < 0 && i + 1 < toks.length) {
      if (toks(i).text == "-" && toks(i + 1).text == ">" &&
          toks(i).end == toks(i + 1).start && i > 0 && operandEnd(toks(i - 1))) {
        found = i
        isText = i + 2 < toks.length && toks(i + 2).text == ">" &&
          toks(i + 1).end == toks(i + 2).start
      }
      i += 1
    }
    if (found < 0) return sql
    val opEndTok = found + (if (isText) 3 else 2)
    val rhsEnd = primaryEndAfter(toks, opEndTok)
    val lhsStart = primaryStartBefore(toks, found)
    // unlocatable operands: leave the text alone — the parser's own
    // error beats corrupting the statement (same contract as GLOB)
    if (lhsStart < 0 || rhsEnd < 0) return sql
    val lhs = sql.substring(toks(lhsStart).start, toks(found - 1).end)
    val rhs = sql.substring(toks(opEndTok).start, toks(rhsEnd).end)
    val fn = if (isText) "json_arrow_text" else "json_arrow"
    val rewritten = sql.substring(0, toks(lhsStart).start) + s"$fn($lhs, $rhs)" +
      sql.substring(toks(rhsEnd).end)
    rewriteJsonArrows(rewritten)
  }

  /** Index of the LAST token of the primary expression starting at
    * `start`: a literal / signed number, a (dot-qualified) column, a
    * function call, or a parenthesized group. -1 when nothing usable
    * starts there. */
  private def primaryEndAfter(toks: IndexedSeq[Tok], start: Int): Int = {
    if (start >= toks.length) return -1
    var j = start
    val t = toks(j)
    if (t.text == "+" || t.text == "-") {
      return if (j + 1 < toks.length && toks(j + 1).kind == SqlLexer.Number) j + 1 else -1
    }
    if (t.kind == SqlLexer.Ident || t.isLiteral) return j
    if (t.isPunct('(')) return SqlLexer.matchParen(toks, j)
    if (t.kind == SqlLexer.Word && !boundaryWords.contains(t.lower)) {
      while (j + 2 < toks.length && toks(j + 1).text == "." && toks(j + 2).isName) j += 2
      if (j + 1 < toks.length && toks(j + 1).text == "(") return SqlLexer.matchParen(toks, j + 1)
      return j
    }
    -1
  }

  /** Index of the FIRST token of the primary expression whose last token
    * is `end - 1`; -1 when nothing usable ends there. */
  private def primaryStartBefore(toks: IndexedSeq[Tok], end: Int): Int = {
    val last = end - 1
    if (last < 0) return -1
    val t = toks(last)
    if (t.isPunct(')')) {
      val open = SqlLexer.matchParenBack(toks, last)
      if (open < 0) return -1
      var k = open
      // call form: (possibly dot-qualified) name right before '('
      if (k > 0 && toks(k - 1).kind == SqlLexer.Word &&
          !boundaryWords.contains(toks(k - 1).lower)) {
        k -= 1
        while (k > 1 && toks(k - 1).text == "." && toks(k - 2).kind == SqlLexer.Word) k -= 2
      }
      return k
    }
    if (t.kind == SqlLexer.Ident || t.isLiteral ||
        (t.kind == SqlLexer.Word && !boundaryWords.contains(t.lower))) {
      var k = last
      while (k > 1 && toks(k - 1).text == "." && toks(k - 2).isName) k -= 2
      return k
    }
    -1
  }
}
