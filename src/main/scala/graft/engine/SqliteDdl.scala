package graft.engine

import org.apache.spark.sql.types._

/** SQLite `CREATE TABLE` DDL → Spark schema translation.
  *
  * SQLite's dynamic type system is *affinity*-based (reference schemas use
  * `INTEGER PRIMARY KEY AUTOINCREMENT`, `varchar(4)`, bare `text` —
  * tests/test_read.py:21, tests/wsgi/test_segment_manager.py:174). We
  * normalize to Spark types per SURVEY §1.3: INTEGER affinity → LongType,
  * REAL → DoubleType, TEXT → StringType, BLOB → BinaryType; date/time
  * declarations stay TEXT (trough stores ISO-8601 text via the client's
  * `datetime('<iso>')` literals).
  */
object SqliteDdl {

  /** `notNull`: columns declared NOT NULL (enforced at write commit);
    * `defaults`: column → raw SQLite default-value text (literal,
    * `CURRENT_*` keyword, or parenthesized expression), kept verbatim
    * so exports re-render the user's own clause. */
  /** `uniques`: UNIQUE constraints (column-level and table-level) as
    * ordered column lists, deduplicated the way SQLite does — a list
    * identical to the PRIMARY KEY or an earlier UNIQUE creates no
    * second index (probed: `PRIMARY KEY(a), UNIQUE(a), UNIQUE(b),
    * UNIQUE(b)` catalogs exactly two autoindexes). */
  /** A CHECK constraint: `expr` is the raw SQLite expression text;
    * `label` is what the failure message names — the CONSTRAINT name
    * when one was given, else the expression text itself (sqlite3's
    * own convention: `CHECK constraint failed: a > 0` / `: bpos`). */
  /** `ownerCol` records WHERE the CHECK was written: non-empty = the
    * column definition it was attached to. SQLite keeps the original
    * DDL text, so it knows the difference; it matters for `ALTER TABLE
    * DROP COLUMN` (a column's own CHECK drops silently with it, while a
    * table-level CHECK referencing the column refuses the drop —
    * probed) and for re-rendering exported DDL in the same place. */
  final case class CheckDef(label: String, expr: String, ownerCol: String = "")

  /** A generated column (SQLite 3.31, lang_createtable.html#gencol):
    * `expr` is the raw SQLite expression text; `stored` picks the
    * STORED flavor (record carries the value) over the default VIRTUAL
    * (record omits the slot entirely — fileformat2 record layout). */
  final case class GeneratedDef(name: String, expr: String, stored: Boolean)

  /** StructField metadata key recording a column-DECLARED collation
    * (`name TEXT COLLATE NOCASE` — datatype3.html §7.1). The value is
    * the canonical upper-case name (NOCASE or RTRIM; BINARY is the
    * default on both engines and is never recorded). Living in the
    * schema's field metadata means it persists through `schema.json`
    * round trips and flows into every scan's attribute metadata, where
    * [[SqliteCollation]] consults it. */
  val CollationKey = "sqlite.collation"

  /** The column's declared collation (NOCASE | RTRIM), if any. */
  def collationOf(f: StructField): Option[String] =
    if (f.metadata.contains(CollationKey)) Some(f.metadata.getString(CollationKey))
    else None

  /** The collations SQLite ships built in (datatype3.html §7.1).
    * Anything else is refused with SQLite's own prepare-time text. */
  private val BuiltinCollations = Set("BINARY", "NOCASE", "RTRIM")

  /** The `COLLATE <name>` clause of a column definition: the last
    * top-level COLLATE keyword (a CHECK body or DEFAULT expression may
    * legally contain its own COLLATE operators inside parens). SQLite
    * accepts any identifier quoting for the name — COLLATE "NOCASE",
    * [nocase], `nocase`, 'nocase'. Unknown names get SQLite's exact
    * refusal. */
  private[engine] def collateClause(defn: String): Option[String] = {
    val toks = SqlLexer.tokens(defn)
    val at = toks.lastIndexWhere(t => t.depth == 0 && t.is("COLLATE"))
    toks.lift(at + 1).filter(t => at >= 0 && (t.isName || t.kind == SqlLexer.Str))
      .map(_.value).flatMap { name =>
        val up = name.toUpperCase
        if (!BuiltinCollations.contains(up))
          throw new IllegalArgumentException(
            s"no such collation sequence: $name")
        Some(up).filter(_ != "BINARY")
      }
  }

  final case class TableDef(
      name: String,
      schema: StructType,
      primaryKey: Seq[String],
      autoIncrement: Option[String],
      ifNotExists: Boolean,
      notNull: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty,
      uniques: Seq[Seq[String]] = Nil,
      checks: Seq[CheckDef] = Nil,
      generated: Seq[GeneratedDef] = Nil,
      strict: Boolean = false,
      strictTypes: Map[String, String] = Map.empty)

  /** SQLite type-affinity rules (https://sqlite.org/datatype3.html §3.1),
    * mapped to Spark types. */
  def affinity(declared: String): DataType = {
    val t = declared.toUpperCase
    if (t.contains("INT")) LongType
    else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT")) StringType
    else if (t.isEmpty || t.contains("BLOB")) BinaryType
    else if (t.contains("REAL") || t.contains("FLOA") || t.contains("DOUB")) DoubleType
    else if (t.contains("BOOL")) LongType
    else if (t.contains("DATE") || t.contains("TIME")) StringType // ISO text
    else DoubleType // NUMERIC affinity
  }

  // table options after the closing paren are a comma-separated list in
  // either order: WITHOUT ROWID, STRICT (lang_createtable.html §table-options)
  private val createRe =
    """(?is)^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)\s*\((.*)\)\s*((?:WITHOUT\s+ROWID|STRICT)\s*(?:,\s*(?:WITHOUT\s+ROWID|STRICT)\s*)*)?$""".r

  /** The datatype names a STRICT table accepts (stricttables.html §3). */
  private val StrictTypeNames = Set("INT", "INTEGER", "REAL", "TEXT", "BLOB", "ANY")

  /** Parse a SQLite CREATE TABLE statement. Throws on anything that isn't
    * one (callers dispatch on the first keyword before calling). */
  def parseCreateTable(stmt: String): TableDef = {
    val m = createRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse CREATE TABLE statement: $stmt"))
    val ifNotExists = m.group(1) != null
    val name = SqlScript.unquoteIdent(m.group(2))
    val body = m.group(3)
    val strict =
      Option(m.group(4)).exists(_.toUpperCase.matches("(?s).*\\bSTRICT\\b.*"))

    var pk = Vector.empty[String]
    var autoInc: Option[String] = None
    val fields = scala.collection.mutable.ArrayBuffer[StructField]()
    val declaredTypes = scala.collection.mutable.Map[String, String]()
    var pkFromTableConstraint = false
    var notNull = Vector.empty[String]
    var defaults = Map.empty[String, String]
    var uniques = Vector.empty[Seq[String]]
    var checks = Vector.empty[CheckDef]
    var generated = Vector.empty[GeneratedDef]

    /** The parenthesized expression after the first CHECK keyword in
      * `s`, as its inner text. */
    def checkExpr(s: String): Option[String] = {
      val toks = SqlLexer.tokens(s)
      val kw = toks.indexWhere(_.is("CHECK"))
      val open = if (kw < 0) -1 else toks.indexWhere(_.isPunct('('), kw)
      val close = if (open < 0) -1 else SqlLexer.matchParen(toks, open)
      if (close < 0) None else Some(s.substring(toks(open).end, toks(close).start).trim)
    }

    SqlLexer.splitTopLevel(body).foreach { defn =>
      val upper = defn.toUpperCase
      // a table constraint opens with its keyword as a whole word (a
      // column may be named unique_id or check_ts)
      val lead = SqlLexer.tokens(defn).headOption
        .filter(_.kind == SqlLexer.Word).map(_.text.toUpperCase).getOrElse("")
      if (lead == "PRIMARY") {
        val cols = defn.substring(defn.indexOf('(') + 1, defn.lastIndexOf(')'))
        // strip per-column collation/direction (PRIMARY KEY (x DESC))
        pk = SqlLexer.splitTopLevel(cols).map(c => SqlLexer.tokens(c).head.value).toVector
        pkFromTableConstraint = true
        // SQLite quirk: PRIMARY KEY (x DESC) in the table-constraint
        // form is NOT a rowid alias even for an INTEGER column
        if (upper.matches("(?s).*\\bDESC\\b.*")) pkFromTableConstraint = false
      } else if (lead == "UNIQUE") {
        // table-level UNIQUE (cols): recorded for the commit-time gate
        // and the export's autoindex trees
        val cols = defn.substring(defn.indexOf('(') + 1, defn.lastIndexOf(')'))
        uniques :+= SqlLexer.splitTopLevel(cols).map(c => SqlLexer.tokens(c).head.value)
      } else if (lead == "CHECK") {
        // unnamed table-level CHECK: labeled by its own expression text
        checkExpr(defn).foreach(e => checks :+= CheckDef(checkLabel(e), e))
      } else if (lead == "CONSTRAINT") {
        // CONSTRAINT <name> CHECK (...) keeps the name as the failure
        // label; other named forms (UNIQUE/PK/FK) stay hints
        val m = "(?is)^\\s*CONSTRAINT\\s+(\\S+)\\s+CHECK\\b.*".r
          .findFirstMatchIn(defn)
        m.foreach { g =>
          checkExpr(defn).foreach(e =>
            checks :+= CheckDef(SqlScript.unquoteIdent(g.group(1)), e))
        }
      } else if (lead == "FOREIGN") {
        // FKs don't shape the schema and are unused in the reference
      } else {
        // column-def: name [type-name] [constraints...]
        val tokens = tokenizeColumnDef(defn)
        val colName = SqlLexer.tokens(tokens.head).head.value
        val constraintStart = tokens.indexWhere(t =>
          Set("PRIMARY", "NOT", "NULL", "UNIQUE", "CHECK", "DEFAULT", "COLLATE",
            "REFERENCES", "AUTOINCREMENT", "GENERATED", "AS").contains(t.toUpperCase))
        val typeTokens =
          if (constraintStart < 0) tokens.drop(1) else tokens.slice(1, constraintStart)
        val declared = typeTokens.mkString(" ")
        val isPk = SqlLexer.hasWord(defn, "PRIMARY", "KEY")
        generatedClause(defn).foreach { case (gexpr, stored) =>
          // SQLite's exact prepare-time refusals (probed, 3.51)
          if (defaultClause(defn).isDefined)
            throw new IllegalArgumentException(
              "cannot use DEFAULT on a generated column")
          if (isPk)
            throw new IllegalArgumentException(
              "generated columns cannot be part of the PRIMARY KEY")
          if (SqlLexer.hasWord(gexpr, "SELECT"))
            throw new IllegalArgumentException(
              "subqueries prohibited in generated columns")
          if (declared.isEmpty)
            // engine deviation (documented): SQLite gives a typeless
            // generated column BLOB affinity = dynamic storage class;
            // this engine's columns are concretely typed
            throw new UnsupportedOperationException(
              s"generated column $colName needs a declared type " +
                "(dynamic storage class is not supported)")
          generated :+= GeneratedDef(colName, gexpr, stored)
        }
        if (isPk) {
          pk = pk :+ colName
          if (SqlLexer.hasWord(defn, "AUTOINCREMENT") ||
              // SQLite: INTEGER PRIMARY KEY is an alias for rowid and
              // auto-assigns on NULL/omitted insert even without the keyword
              declared.toUpperCase == "INTEGER")
            autoInc = Some(colName)
        }
        if (strict) validateStrictType(name, colName, declared)
        // STRICT ANY: provisional INTEGER, adopted/widened from the
        // classes actually written (WriteTxn.adaptAnyTypes)
        val isStrictAny = strict && declared.toUpperCase == "ANY"
        val fieldMeta = collateClause(defn) match {
          case Some(coll) =>
            new MetadataBuilder().putString(CollationKey, coll).build()
          case None => Metadata.empty
        }
        fields += StructField(colName,
          if (isStrictAny) LongType else affinity(declared), nullable = true,
          metadata = fieldMeta)
        declaredTypes(colName.toLowerCase) = declared.toUpperCase
        if (SqlLexer.hasWord(defn, "NOT", "NULL")) notNull :+= colName
        defaultClause(defn).foreach(d => defaults += colName -> d)
        // column-level UNIQUE (the keyword never appears in PRIMARY KEY
        // or other constraint spellings at column level)
        if (SqlLexer.hasWord(defn, "UNIQUE"))
          uniques :+= Seq(colName)
        checkExpr(defn).foreach(e =>
          checks :+= CheckDef(checkLabel(e), e, ownerCol = colName))
      }
    }
    // SQLite's rowid-alias rule covers BOTH spellings: a column-level
    // `INTEGER PRIMARY KEY` (handled above) and a table-constraint
    // `PRIMARY KEY(x)` naming a single column whose declared type is
    // exactly INTEGER (lang_createtable.html#rowid; the DESC quirk is
    // excluded when the constraint is parsed). The alias means the
    // record stores NULL in that slot and the value IS the rowid —
    // missing this silently nulls the key column on ingest.
    if (autoInc.isEmpty && pkFromTableConstraint && pk.size == 1 &&
        declaredTypes.get(pk.head.toLowerCase).contains("INTEGER"))
      autoInc = Some(pk.head)
    // SQLite's autoindex dedup: drop a UNIQUE equal (same columns, same
    // order, case-insensitive) to the PRIMARY KEY or an earlier UNIQUE
    val seen = scala.collection.mutable.Set[Seq[String]](
      pk.map(_.toLowerCase))
    val dedupedUniques = uniques.filter { u =>
      val k = u.map(_.toLowerCase); seen.add(k)
    }
    // the table-constraint PK spelling can also name a generated column
    if (generated.exists(g => pk.exists(_.equalsIgnoreCase(g.name))))
      throw new IllegalArgumentException(
        "generated columns cannot be part of the PRIMARY KEY")
    TableDef(name, StructType(fields.toSeq), pk, autoInc, ifNotExists,
      notNull, defaults, dedupedUniques, checks, generated,
      strict,
      if (strict) fields.map(f => f.name -> declaredTypes(f.name.toLowerCase)).toMap
      else Map.empty)
  }

  /** STRICT datatype validation with SQLite's exact prepare-time texts
    * (probed, 3.51): INT/INTEGER/REAL/TEXT/BLOB/ANY are accepted.
    * ANY keeps each value's own storage class with no conversion —
    * re-expressed here as OBSERVED-CLASS typing: the column's concrete
    * type adopts the classes actually written, widening through the
    * cross-segment lattice (INT+REAL → REAL, +TEXT → TEXT) when a
    * statement mixes classes (WriteTxn.adaptAnyTypes). Uniform-class
    * columns — the overwhelmingly common use — match sqlite3 exactly,
    * including typeof(); the mixed-class widening is the documented
    * deviation (per-row storage classes don't exist over parquet). */
  private[engine] def validateStrictType(
      table: String, col: String, declared: String): Unit = {
    val d = declared.trim
    if (d.isEmpty)
      throw new IllegalArgumentException(s"missing datatype for $table.$col")
    if (!StrictTypeNames.contains(d.toUpperCase))
      throw new IllegalArgumentException(
        s"""unknown datatype for $table.$col: "$d"""")
  }

  /** The `[GENERATED ALWAYS] AS ( expr ) [STORED|VIRTUAL]` clause of a
    * column definition, as (expr text, stored?); None when the column
    * is not generated. Only a top-level `AS` immediately followed by `(`
    * counts (`CAST(x AS INT)` inside a CHECK sits at depth ≥ 1). */
  private[engine] def generatedClause(defn: String): Option[(String, Boolean)] = {
    val toks = SqlLexer.tokens(defn)
    val as = toks.indices.find(i => toks(i).depth == 0 && toks(i).is("AS") &&
      toks.lift(i + 1).exists(_.isPunct('(')))
    as.flatMap { i =>
      val close = SqlLexer.matchParen(toks, i + 1)
      if (close < 0) None
      else Some((defn.substring(toks(i + 1).end, toks(close).start).trim,
        toks.drop(close + 1).exists(_.is("STORED"))))
    }
  }

  /** sqlite names an unnamed CHECK with its expression's source span,
    * then DEQUOTES the name like an identifier — so a span STARTING
    * with a quote char collapses to just its first quoted token
    * (probed, 3.51.2: `CHECK("c" + id > 0)` fails as
    * `CHECK constraint failed: c`, `CHECK('lit' <> c)` as `lit`,
    * `CHECK([c] > 0)` as `c`; `CHECK((c) > 0)` keeps the full span).
    * Doubled closing quotes un-escape, like identifier dequoting. */
  private[engine] def checkLabel(e: String): String =
    SqlLexer.tokens(e).headOption
      .filter(t => t.start == 0 && (t.kind == SqlLexer.Str || t.kind == SqlLexer.Ident))
      .map(_.value).getOrElse(e)

  /** Extract the raw DEFAULT value text from a column definition:
    * a parenthesized expression, a (possibly doubled-quote) string
    * literal, or a single token (number with optional sign, NULL,
    * `CURRENT_*`). */
  private[engine] def defaultClause(defn: String): Option[String] = {
    val toks = SqlLexer.tokens(defn)
    val at = toks.indexWhere(_.is("DEFAULT"))
    toks.lift(at + 1).filter(_ => at >= 0).flatMap { v =>
      val last =
        if (v.isPunct('(')) SqlLexer.matchParen(toks, at + 1)
        else if ((v.isPunct('+') || v.isPunct('-')) && at + 2 < toks.length) at + 2
        else at + 1
      if (last < 0) None else Some(defn.substring(v.start, toks(last).end))
    }
  }

  /** Inverse of [[parseCreateTable]] for export: render a store meta
    * back to SQLite DDL. The rowid-alias column renders as
    * `INTEGER PRIMARY KEY` (no AUTOINCREMENT — the keyword's only
    * effect is the `sqlite_sequence` bookkeeping table, which an
    * exported file deliberately omits; plain INTEGER PRIMARY KEY
    * auto-assigns identically for the reference's insert patterns),
    * other primary keys as a table constraint. */
  def renderCreateTable(
      table: String, schema: StructType,
      primaryKey: Seq[String], autoIncrement: Option[String],
      notNull: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty,
      uniques: Seq[Seq[String]] = Nil,
      checks: Seq[CheckDef] = Nil,
      generated: Seq[GeneratedDef] = Nil,
      strict: Boolean = false,
      strictTypes: Map[String, String] = Map.empty): String = {
    def q(id: String) = "\"" + id.replace("\"", "\"\"") + "\""
    // A single-column table-constraint PRIMARY KEY over a column typed
    // exactly INTEGER would make real SQLite alias it to the rowid
    // (both PK spellings alias, lang_createtable.html#rowid) — but the
    // exported records carry the column's real values with their own
    // sequential rowids, so an accidental alias would serve rowids
    // instead of the data. Render the column as INT (same affinity,
    // never an alias) when the meta says it is NOT the rowid alias.
    val nonAliasIntPk: Option[String] =
      if (autoIncrement.isEmpty && primaryKey.size == 1 &&
          schema.fields.exists(f =>
            f.name.equalsIgnoreCase(primaryKey.head) && f.dataType == LongType))
        Some(primaryKey.head)
      else None
    val cols = schema.fields.map { f =>
      // STRICT column types render from the recorded declared names (so
      // INT stays INT — re-deriving from the Spark type would rewrite
      // it INTEGER and, on a single-column PK, accidentally create a
      // rowid alias); the STRICT suffix below makes real sqlite3
      // enforce the same type rules on the exported file.
      val t = strictTypes.collectFirst {
        case (c, d) if c.equalsIgnoreCase(f.name) => d
      }.getOrElse(f.dataType match {
        case LongType =>
          if (nonAliasIntPk.exists(f.name.equalsIgnoreCase)) "INT" else "INTEGER"
        case DoubleType => "REAL"
        case StringType => "TEXT"
        case BinaryType => "BLOB"
        case _ => "TEXT"
      })
      // column-declared collation re-renders right after the type, so a
      // real sqlite3 opening the exported file applies the same
      // comparison rules the engine did (datatype3.html §7.1)
      val coll = collationOf(f).map(c => s" COLLATE $c").getOrElse("")
      val pkInline = if (autoIncrement.contains(f.name)) " PRIMARY KEY" else ""
      val nn = if (notNull.exists(_.equalsIgnoreCase(f.name))) " NOT NULL" else ""
      val dflt = defaults.collectFirst {
        case (c, d) if c.equalsIgnoreCase(f.name) => s" DEFAULT $d"
      }.getOrElse("")
      val gen = generated.collectFirst {
        case g if g.name.equalsIgnoreCase(f.name) =>
          s" GENERATED ALWAYS AS (${g.expr})" + (if (g.stored) " STORED" else " VIRTUAL")
      }.getOrElse("")
      // column-attached CHECKs render back on their column: real SQLite
      // keeps the original text, and the placement is observable — a
      // column's own CHECK drops with DROP COLUMN, a table-level one
      // refuses the drop
      val chk = checks.collect {
        case c if c.ownerCol.equalsIgnoreCase(f.name) => s" CHECK (${c.expr})"
      }.mkString
      s"${q(f.name)} $t$coll$pkInline$nn$dflt$chk$gen"
    }
    // constraint ORDER matters downstream: real SQLite numbers the
    // implied sqlite_autoindex trees in declaration order, and the
    // export emits trees in exactly this order (PK first, then uniques)
    val tableConstraint =
      (if (primaryKey.nonEmpty && autoIncrement.isEmpty)
        Seq(s"PRIMARY KEY (${primaryKey.map(q).mkString(", ")})")
      else Nil) ++
        uniques.map(u => s"UNIQUE (${u.map(q).mkString(", ")})") ++
        checks.filter(_.ownerCol.isEmpty).map(c =>
          if (c.label == c.expr) s"CHECK (${c.expr})"
          else s"CONSTRAINT ${q(c.label)} CHECK (${c.expr})")
    s"CREATE TABLE ${q(table)} (${(cols ++ tableConstraint).mkString(", ")})" +
      (if (strict) " STRICT" else "")
  }

  /** A parsed CREATE VIEW. `select` is the body text (still SQLite
    * dialect — callers run it through [[SqliteDialect]] like any read);
    * `columns` is the optional rename list (`CREATE VIEW v(a,b) AS …`);
    * `sql` is the original DDL text, carried for `sqlite_master` export
    * the same way [[IndexDef.sql]] is. */
  final case class ViewDef(
      name: String, columns: Seq[String], select: String,
      ifNotExists: Boolean, sql: String) {
    /** The body as a Spark-runnable SELECT (dialect preparation still
      * the caller's job): the rename list becomes a derived-table
      * column alias, Spark's equivalent of SQLite's view column list. */
    def sparkSelect: String =
      if (columns.isEmpty) select
      else {
        def q(id: String) = "`" + id.replace("`", "``") + "`"
        s"SELECT * FROM ($select) AS ${q(name)}(${columns.map(q).mkString(", ")})"
      }
  }

  // name section is non-greedy up to the first top-level AS; the body is
  // everything after (SELECT / VALUES / WITH … — validated by the reader)
  private val createViewRe =
    """(?is)^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)\s+AS\s+(.+?)\s*;?\s*$""".r

  /** Parse a SQLite CREATE VIEW statement. Throws on anything that
    * isn't one (callers dispatch on the leading keywords first). */
  def parseCreateView(stmt: String): ViewDef = {
    val m = createViewRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse CREATE VIEW statement: $stmt"))
    val nameSection = m.group(2).trim
    val (name, cols) =
      if (nameSection.endsWith(")") && nameSection.contains("(")) {
        val p = nameSection.indexOf('(')
        (nameSection.substring(0, p).trim,
          SqlLexer.splitTopLevel(nameSection.substring(p + 1, nameSection.length - 1))
            .map(c => SqlScript.unquoteIdent(c.trim)))
      } else (nameSection, Seq.empty[String])
    ViewDef(SqlScript.unquoteIdent(name), cols, m.group(3).trim,
      ifNotExists = m.group(1) != null, sql = stmt.trim.stripSuffix(";").trim)
  }

  /** A parsed CREATE TRIGGER (lang_createtrigger.html). `body` is the
    * BEGIN…END statement list split on top-level semicolons, each
    * still raw SQLite text (NEW./OLD. references substituted at fire
    * time); `when` is the raw WHEN expression; `ofColumns` non-empty
    * only for `UPDATE OF c1, c2` triggers; `temp` triggers live for
    * one write script and are never persisted (the reference opens one
    * sqlite3 connection per script — write.py:28-33 — so a TEMP
    * trigger's connection lifetime IS the script). `sql` carries the
    * original DDL for `sqlite_master`, like [[ViewDef.sql]]. */
  final case class TriggerDef(
      name: String, table: String, timing: String, event: String,
      ofColumns: Seq[String], when: Option[String], body: Seq[String],
      temp: Boolean, ifNotExists: Boolean, sql: String)

  // header up to BEGIN; body = everything between BEGIN and the final END.
  // INSTEAD OF is parsed (group 4) so the caller can refuse it with
  // SQLite's own vocabulary rather than a generic parse error.
  private val createTriggerRe =
    ("""(?is)^\s*CREATE\s+(TEMP(?:ORARY)?\s+)?TRIGGER\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)\s+""" +
      """(BEFORE\s+|AFTER\s+|INSTEAD\s+OF\s+)?(DELETE|INSERT|UPDATE(?:\s+OF\s+(.+?))?)\s+""" +
      """ON\s+(\S+)\s*(FOR\s+EACH\s+ROW\s*)?(?:WHEN\s+(.+?)\s*)?""" +
      """BEGIN\s+(.+?)\s*END\s*;?\s*$""").r

  /** Parse a SQLite CREATE TRIGGER statement. Throws on anything that
    * isn't one; `INSTEAD OF` (view triggers) is refused explicitly. */
  def parseCreateTrigger(stmt: String): TriggerDef = {
    val m = createTriggerRe.findFirstMatchIn(stmt).getOrElse(
      throw new IllegalArgumentException(s"cannot parse CREATE TRIGGER statement: $stmt"))
    // unspecified timing = BEFORE (lang_createtrigger.html, probed);
    // INSTEAD OF parses here and is validated against its target at
    // creation time (views only — WriteTxn.createTrigger)
    val timing = Option(m.group(4)).map(_.trim.toUpperCase.replaceAll("\\s+", " "))
      .getOrElse("BEFORE")
    val eventFull = m.group(5).trim.toUpperCase
    val event =
      if (eventFull.startsWith("UPDATE")) "UPDATE"
      else if (eventFull.startsWith("INSERT")) "INSERT" else "DELETE"
    val ofCols = Option(m.group(6)).map(
      SqlLexer.splitTopLevel(_).map(c => SqlScript.unquoteIdent(c.trim)))
      .getOrElse(Nil)
    TriggerDef(
      name = SqlScript.unquoteIdent(m.group(3).trim),
      table = SqlScript.unquoteIdent(m.group(7)),
      timing = timing,
      event = event,
      ofColumns = ofCols,
      when = Option(m.group(9)).map(_.trim),
      body = SqlScript.split(m.group(10)),
      temp = m.group(1) != null,
      ifNotExists = m.group(2) != null,
      sql = stmt.trim.stripSuffix(";").trim)
  }

  /** Point a trigger's ON clause at a renamed table, regenerating the
    * catalog sql — the [[retargetIndex]] rule applied to triggers
    * (SQLite ≥3.25 rewrites these on `ALTER TABLE … RENAME`).
    * References to the old name *inside the body* are left as written,
    * matching pre-3.25 SQLite; documented in WriteTxn. */
  def retargetTrigger(tg: TriggerDef, table: String): TriggerDef = {
    def q(id: String) = "\"" + id.replace("\"", "\"\"") + "\""
    val evt = tg.event match {
      case "UPDATE" if tg.ofColumns.nonEmpty =>
        s"UPDATE OF ${tg.ofColumns.map(q).mkString(", ")}"
      case e => e
    }
    tg.copy(table = table,
      sql = s"CREATE TRIGGER ${q(tg.name)} ${tg.timing} $evt ON ${q(table)}" +
        tg.when.map(w => s" WHEN $w").getOrElse("") +
        s" BEGIN ${tg.body.mkString("; ")}; END")
  }

  /** A parsed plain CREATE INDEX: named columns only, ascending, no
    * WHERE — the shape the store can record in table meta and the
    * export can materialize as a real index B-tree. */
  final case class IndexDef(
      name: String, table: String, columns: Seq[String],
      unique: Boolean, ifNotExists: Boolean, sql: String)

  // \)\s*$ excludes partial indexes (…(cols) WHERE …) by construction
  private val createIndexRe =
    """(?is)^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)\s+ON\s+(.+?)\s*\((.*)\)\s*$""".r

  /** Parse a CREATE INDEX statement into a recordable definition.
    * Returns None for the shapes the store accepts only as no-op hints
    * (expression/DESC/COLLATE columns, partial indexes) — exporting
    * those with plain-ascending key order would hand SQLite a
    * misordered tree. */
  def parseCreateIndex(stmt: String): Option[IndexDef] =
    createIndexRe.findFirstMatchIn(stmt).flatMap { m =>
      val cols = SqlLexer.splitTopLevel(m.group(5)).map(_.trim)
      val plain = cols.nonEmpty && cols.forall { c =>
        // a single bare/quoted identifier token: no expressions, no
        // DESC/COLLATE qualifiers
        !c.contains("(") && c.split("\\s+").length == 1
      }
      if (!plain) None
      else Some(IndexDef(
        SqlScript.unquoteIdent(m.group(3)),
        SqlScript.unquoteIdent(m.group(4)),
        cols.map(SqlScript.unquoteIdent),
        unique = m.group(1) != null,
        ifNotExists = m.group(2) != null,
        sql = stmt.trim))
    }

  /** Point an index definition at a (renamed) table, regenerating its
    * CREATE INDEX text — SQLite rewrites the catalog sql on
    * `ALTER TABLE … RENAME TO`, and an exported sqlite_master row
    * saying `ON oldname` is a malformed schema to real SQLite. */
  def retargetIndex(ix: IndexDef, table: String): IndexDef = {
    def q(id: String) = "\"" + id.replace("\"", "\"\"") + "\""
    ix.copy(table = table,
      sql = s"CREATE ${if (ix.unique) "UNIQUE " else ""}INDEX ${q(ix.name)} " +
        s"ON ${q(table)} (${ix.columns.map(q).mkString(", ")})")
  }

  /** Does `sql` reference `ident` as a COLUMN? Any quoted identifier
    * spelling it, or a bare one that is neither a function call (a
    * following `(`) nor a qualifier (a following `.`). Conservative by
    * construction; used by the ALTER DROP COLUMN reference checks. */
  private[engine] def referencesIdent(sql: String, ident: String): Boolean = {
    val toks = SqlLexer.tokens(sql)
    toks.indices.exists(i => isColumnRef(toks, i) && toks(i).value.equalsIgnoreCase(ident))
  }

  private def isColumnRef(toks: IndexedSeq[SqlLexer.Tok], i: Int): Boolean =
    toks(i).isName && !toks.lift(i + 1).exists(n => n.isPunct('(') || n.isPunct('.'))

  /** Rewrite COLUMN references to `from` as `to` in a SQL fragment:
    * bare and quoted identifier tokens, skipping string literals,
    * function-call names, and dot-qualifiers like the table in `t.x` —
    * but renaming the x of `NEW.x`. A quoted reference keeps its
    * quoting. This is SQLite's ≥3.25 RENAME COLUMN rewrite at token
    * level — exact for the unambiguous references the engine stores
    * (checks, generated expressions, trigger bodies, view texts). */
  private[engine] def renameIdentIn(sql: String, from: String, to: String): String =
    SqlLexer.rewrite(sql) { (toks, i) =>
      val t = toks(i)
      if (!isColumnRef(toks, i) || !t.value.equalsIgnoreCase(from)) None
      else Some((i + 1, t.quote match {
        case 0 => to
        case '[' => s"[$to]"
        case q => s"$q${to.replace(q.toString, s"$q$q")}$q"
      }))
    }

  /** The declared type text of a column definition (tokens between the
    * name and the first constraint keyword) — what STRICT validation
    * and its error texts quote verbatim. */
  private[engine] def declaredType(defn: String): String = {
    val tokens = tokenizeColumnDef(defn)
    val constraintStart = tokens.indexWhere(t =>
      Set("PRIMARY", "NOT", "NULL", "UNIQUE", "CHECK", "DEFAULT", "COLLATE",
        "REFERENCES", "AUTOINCREMENT", "GENERATED", "AS").contains(t.toUpperCase))
    (if (constraintStart < 0) tokens.drop(1)
     else tokens.slice(1, constraintStart)).mkString(" ")
  }

  /** A column definition's whitespace-separated words, keeping a
    * quoted name (`"a b"`) whole and parenthesized type args
    * (`varchar(100)`) attached to their type word. */
  private def tokenizeColumnDef(defn: String): Seq[String] = {
    val toks = SqlLexer.tokens(defn)
    val starts = toks.indices.filter(i => i == 0 || (toks(i).depth == 0 &&
      !toks(i).isPunct(')') && toks(i).start > toks(i - 1).end))
    starts.indices.map { k =>
      val last = if (k + 1 < starts.length) starts(k + 1) - 1 else toks.length - 1
      defn.substring(toks(starts(k)).start, toks(last).end)
    }
  }
}
