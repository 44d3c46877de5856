package graft.engine

import org.scalatest.funsuite.AnyFunSuite

class SqlUtilSpec extends AnyFunSuite {

  // --------------------------------------------------- SqlValue (client.py)

  test("sql_value: basic renderings (client.py:110-131)") {
    assert(SqlValue.render(null) == "null")
    assert(SqlValue.render(None) == "null")
    assert(SqlValue.render(true) == "1")
    assert(SqlValue.render(false) == "0")
    assert(SqlValue.render(42) == "42")
    assert(SqlValue.render(4.5) == "4.5")
    assert(SqlValue.render("plain") == "'plain'")
    assert(SqlValue.render("it's") == "'it''s'")
    assert(SqlValue.render("a''b") == "'a''''b'")
    assert(SqlValue.render("bytes".getBytes("UTF-8")) == "'bytes'")
  }

  test("sql_value: datetime renders as sqlite datetime() literal") {
    val dt = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    assert(SqlValue.render(dt) == "datetime('2024-01-02T03:04:05')")
  }

  test("sql_value: unknown type raises (client.py:128-131)") {
    intercept[IllegalArgumentException](SqlValue.render(new Object))
  }

  test("sql_value: single-quote doubling round-trips through a SQL parser") {
    // property: for any string, the rendered literal splits as one token
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val s = rnd.alphanumeric.take(rnd.nextInt(20)).mkString + ("'" * rnd.nextInt(3))
      val lit = SqlValue.render(s)
      assert(lit.head == '\'' && lit.last == '\'')
      // un-escaping restores the original
      assert(lit.substring(1, lit.length - 1).replace("''", "'") == s)
    }
  }

  test("template: positional %s substitution (client.py:237-240)") {
    assert(SqlValue.template("select * from t where a = %s and b = %s", Seq(1, "x'y"))
      == "select * from t where a = 1 and b = 'x''y'")
    assert(SqlValue.template("100%% of %s", Seq("it")) == "100% of 'it'")
    intercept[IllegalArgumentException](SqlValue.template("%s %s", Seq(1)))
    intercept[IllegalArgumentException](SqlValue.template("%s", Seq(1, 2)))
  }

  // ------------------------------------------------------------- SqlScript

  test("split: statements on top-level semicolons") {
    assert(SqlScript.split("select 1; select 2;") == Seq("select 1", "select 2"))
    assert(SqlScript.split("select 1") == Seq("select 1"))
  }

  test("split: semicolons inside literals and comments don't split") {
    assert(SqlScript.split("select 'a;b'; select 2") == Seq("select 'a;b'", "select 2"))
    assert(SqlScript.split("select \"a;b\" from t") == Seq("select \"a;b\" from t"))
    assert(SqlScript.split("select 1 -- trailing; comment\n; select 2")
      == Seq("select 1", "select 2"))
    assert(SqlScript.split("select 1 /* c1; c2 */; select 2") == Seq("select 1", "select 2"))
    assert(SqlScript.split("select 'it''s; fine'") == Seq("select 'it''s; fine'"))
  }

  test("firstWord and unquoteIdent") {
    assert(SqlScript.firstWord("  SELECT * from t") == "SELECT")
    assert(SqlScript.firstWord("\ninsert into t") == "INSERT")
    assert(SqlScript.unquoteIdent("\"tbl\"") == "tbl")
    assert(SqlScript.unquoteIdent("`tbl`") == "tbl")
    assert(SqlScript.unquoteIdent("[tbl]") == "tbl")
    assert(SqlScript.unquoteIdent(" plain ") == "plain")
  }

  test("splitTopLevel: respects parens and quotes") {
    assert(SqlLexer.splitTopLevel("a, f(b, c), 'x,y'") == Seq("a", "f(b, c)", "'x,y'"))
  }

  // ------------------------------------------------------------- SqliteDdl

  test("parse reference test DDL (test_read.py:21)") {
    val td = SqliteDdl.parseCreateTable(
      "CREATE TABLE test (id INTEGER PRIMARY KEY AUTOINCREMENT, test varchar(4))")
    assert(td.name == "test")
    assert(td.schema.fieldNames.toSeq == Seq("id", "test"))
    assert(td.schema("id").dataType.typeName == "long")
    assert(td.schema("test").dataType.typeName == "string")
    assert(td.primaryKey == Seq("id"))
    assert(td.autoIncrement.contains("id"))
  }

  test("INTEGER PRIMARY KEY without AUTOINCREMENT is still rowid-auto") {
    val td = SqliteDdl.parseCreateTable("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    assert(td.autoIncrement.contains("id"))
  }

  test("type affinity mapping (sqlite datatype3 §3.1)") {
    assert(SqliteDdl.affinity("INT").typeName == "long")
    assert(SqliteDdl.affinity("BIGINT").typeName == "long")
    assert(SqliteDdl.affinity("VARCHAR(100)").typeName == "string")
    assert(SqliteDdl.affinity("TEXT").typeName == "string")
    assert(SqliteDdl.affinity("BLOB").typeName == "binary")
    assert(SqliteDdl.affinity("").typeName == "binary")
    assert(SqliteDdl.affinity("REAL").typeName == "double")
    assert(SqliteDdl.affinity("DOUBLE PRECISION").typeName == "double")
    assert(SqliteDdl.affinity("DATETIME").typeName == "string")
    assert(SqliteDdl.affinity("NUMERIC").typeName == "double")
    // FLOATING POINT ends in "INT" — sqlite's own documented quirk
    assert(SqliteDdl.affinity("FLOATING POINT").typeName == "long")
  }

  test("table-level PRIMARY KEY and IF NOT EXISTS") {
    val td = SqliteDdl.parseCreateTable(
      "CREATE TABLE IF NOT EXISTS t (a INT, b TEXT, PRIMARY KEY (a, b))")
    assert(td.ifNotExists)
    assert(td.primaryKey == Seq("a", "b"))
    assert(td.autoIncrement.isEmpty)
  }

  test("constraints don't leak into the schema") {
    val td = SqliteDdl.parseCreateTable(
      "CREATE TABLE t (a INT NOT NULL, b TEXT DEFAULT 'x', UNIQUE (b), CHECK (a > 0))")
    assert(td.schema.fieldNames.toSeq == Seq("a", "b"))
  }

  test("column names that start with a constraint keyword stay columns") {
    val td = SqliteDdl.parseCreateTable("CREATE TABLE t (id INTEGER PRIMARY KEY, " +
      "unique_id TEXT, check_ts TEXT, constraints INT, \"primary key\" TEXT, " +
      "CONSTRAINT pos CHECK (id > 0), UNIQUE (unique_id))")
    assert(td.schema.fieldNames.toSeq ==
      Seq("id", "unique_id", "check_ts", "constraints", "primary key"))
    assert(td.uniques == Seq(Seq("unique_id")))
    assert(td.checks.map(_.label) == Seq("pos"))
  }

  // ------------------------------------------------------------ JsonShape

  test("json string escaping is ujson ensure_ascii compatible") {
    assert(JsonShape.str("a/b") == "\"a/b\"") // escape_forward_slashes=False
    assert(JsonShape.str("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(JsonShape.str("tab\there") == "\"tab\\there\"")
    assert(JsonShape.str("café") == "\"caf\\u00e9\"")
  }
}
