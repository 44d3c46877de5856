package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SqlLexer._

/** The SQLite lexer and its shared queries; pure, no SparkSession. */
class SqlLexerSpec extends AnyFunSuite {

  private def kinds(sql: String): Seq[(Kind, String)] =
    tokens(sql).map(t => (t.kind, t.text))

  test("words, numbers, punctuation; offsets index the source") {
    val sql = "SELECT a_1, 3.5e-2 FROM t WHERE x<=0x1F"
    assert(kinds(sql) == Seq(Word -> "SELECT", Word -> "a_1", Punct -> ",",
      Number -> "3.5e-2", Word -> "FROM", Word -> "t", Word -> "WHERE", Word -> "x",
      Punct -> "<", Punct -> "=", Number -> "0x1F"))
    tokens(sql).foreach(t => assert(sql.substring(t.start, t.end) == t.text))
    assert(kinds(".5 1. 7") == Seq(Number -> ".5", Number -> "1.", Number -> "7"))
  }

  test("string literals: '' is the only escape, backslash is ordinary") {
    val Seq(s) = tokens("'it''s \\ fine'")
    assert(s.kind == Str && s.value == "it's \\ fine" && s.quote == '\'')
    assert(kinds("'a' 'b'") == Seq(Str -> "'a'", Str -> "'b'"))
  }

  test("quoted identifiers in all three forms, with doubled-quote escapes") {
    val Seq(d, b, k) = tokens("\"a \"\"b\"\"\" `c ``d` [e \"f]")
    assert(d.kind == Ident && d.quote == '"' && d.value == "a \"b\"")
    assert(b.kind == Ident && b.quote == '`' && b.value == "c `d")
    // a bracket has no escape: its quote characters are plain
    assert(k.kind == Ident && k.quote == '[' && k.value == "e \"f")
    assert(Seq(d, b, k).forall(_.isName))
  }

  test("blobs, and x as an ordinary word") {
    assert(kinds("x'0aFF' X'' xy x") ==
      Seq(Blob -> "x'0aFF'", Blob -> "X''", Word -> "xy", Word -> "x"))
  }

  test("parameters: ?, ?N, :name, @name, $name") {
    assert(kinds("? ?12 :a @b $c_1 a$b") == Seq(Param -> "?", Param -> "?12",
      Param -> ":a", Param -> "@b", Param -> "$c_1", Word -> "a$b"))
    assert(kinds(": 1") == Seq(Punct -> ":", Number -> "1"))
  }

  test("both comment styles are skipped, and split tokens like whitespace") {
    assert(kinds("a-- x 'y\nb/* c ; ' */c") == Seq(Word -> "a", Word -> "b", Word -> "c"))
    assert(kinds("a - -1") == Seq(Word -> "a", Punct -> "-", Punct -> "-", Number -> "1"))
    assert(kinds("a/b") == Seq(Word -> "a", Punct -> "/", Word -> "b"))
  }

  test("nested parens: every token records its depth, pairs match") {
    val toks = tokens("f(a, (b), g(c(d))) e")
    assert(toks.map(_.depth) == Seq(0, 0, 1, 1, 1, 2, 1, 1, 1, 1, 2, 2, 3, 2, 1, 0, 0))
    assert(matchParen(toks, 1) == 15)
    assert(matchParenBack(toks, 15) == 1)
    assert(matchParen(toks, 9) == 14)
    assert(matchParen(tokens("f(a"), 1) == -1)
    // a stray close paren does not push later tokens below depth 0
    assert(tokens(") a").map(_.depth) == Seq(0, 0))
  }

  test("unterminated input runs to the end of the text") {
    assert(kinds("a 'b c") == Seq(Word -> "a", Str -> "'b c"))
    assert(tokens("'b c").head.value == "b c")
    assert(kinds("\"b c") == Seq(Ident -> "\"b c"))
    assert(kinds("[b c") == Seq(Ident -> "[b c"))
    assert(kinds("x'0a") == Seq(Blob -> "x'0a"))
    assert(kinds("a /* b") == Seq(Word -> "a"))
    assert(kinds("a -- b") == Seq(Word -> "a"))
    assert(tokens("").isEmpty && tokens(null).isEmpty)
  }

  test("top-level keyword queries ignore literals, quotes, comments and parens") {
    val sql = "SET a = 'WHERE', \"where\" = (SELECT 1 WHERE 1) /* WHERE */ WHERE(b)"
    assert(firstTopLevel(sql, "where") == sql.lastIndexOf("WHERE("))
    assert(lastTopLevel(sql, "WHERE") == sql.lastIndexOf("WHERE("))
    assert(firstTopLevel("a = 1", "WHERE") == -1)
    assert(hasWord("x IN (SELECT 1)", "select") && !hasWord("'select' [select]", "select"))
  }

  test("splitTopLevel splits on top-level separators or keywords only") {
    assert(splitTopLevel("a, f(b, c), 'x,y', [p,q] -- r,s") ==
      Seq("a", "f(b, c)", "'x,y'", "[p,q] -- r,s"))
    assert(splitTopLevelAt("a AND (b AND c) AND'AND'")(_.is("AND")) ==
      Seq("a", "(b AND c)", "'AND'"))
  }

  test("rewrite replaces token runs and copies everything else verbatim") {
    val sql = "a /* keep */ NEW.x + 'NEW.y' + new.\"z\""
    val out = rewrite(sql) { (toks, i) =>
      if (toks(i).is("new") && toks(i + 1).isPunct('.'))
        Some((i + 3, "<" + toks(i + 2).value + ">"))
      else None
    }
    assert(out == "a /* keep */ <x> + 'NEW.y' + <z>")
    assert(rewrite(sql)((_, _) => None) eq sql)
  }

  test("blankLiterals keeps offsets; keepIdents keeps quoted names") {
    val sql = "a 'b' \"c\" [d] x'00' -- e\nf"
    val blanked = blankLiterals(sql)
    assert(blanked.length == sql.length)
    assert(blanked.split("\\s+").toSeq == Seq("a", "f"))
    assert(blankLiterals(sql, keepIdents = true).split("\\s+").toSeq ==
      Seq("a", "c", "d", "f"))
  }

  test("split: statements, comments as whitespace, trigger bodies whole") {
    assert(SqlScript.split("a; ;b /* ; */ c;-- d;\n") == Seq("a", "b c"))
    val trig = "CREATE TRIGGER tg AFTER INSERT ON t BEGIN " +
      "UPDATE t SET c = CASE WHEN 1 THEN 2 ELSE 3 END; " +
      "SELECT CASE 1 WHEN 1 THEN 'end;' END; END"
    assert(SqlScript.split(trig + "; SELECT 1") == Seq(trig, "SELECT 1"))
    val temp = "create temp trigger [end] before delete on t begin delete from u; end"
    assert(SqlScript.split(temp + ";insert into t values(1)") ==
      Seq(temp, "insert into t values(1)"))
    // an unterminated trigger body keeps the rest of the script
    assert(SqlScript.split("CREATE TRIGGER g BEGIN SELECT 1; SELECT 2").length == 1)
  }
}
