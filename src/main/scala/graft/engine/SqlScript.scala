package graft.engine

import scala.collection.mutable.ArrayBuffer

/** SQL script utilities: statement splitting over [[SqlLexer]]'s
  * tokens, and identifier unquoting.
  *
  * The reference write path accepts whole scripts and hands them to
  * `executescript` (trough/write.py:33-40); the read path requires
  * exactly one statement (trough/read.py:58). Splitting is the one piece
  * of SQL-text handling both sides need before Spark's parser takes over.
  */
object SqlScript {

  /** Split a script into trimmed, non-empty statements on `;` tokens
    * (so never inside a literal, quoted identifier or comment); each
    * comment becomes one space. A `CREATE TRIGGER … BEGIN …; …; END`
    * statement stays ONE statement: its body semicolons don't split
    * until the trigger's own END (CASE…END pairs inside the body
    * tracked, so a CASE's END can't close the trigger early — SQLite's
    * parser rule, the same token scan sqlite3's `.read` does). */
  def split(script: String): Seq[String] = {
    val toks = SqlLexer.tokens(script)
    val stmts = ArrayBuffer[String]()
    var first = 0
    for (i <- 0 to toks.length) {
      if (i == toks.length || (toks(i).isPunct(';') && !triggerNeedsMore(toks.slice(first, i)))) {
        if (i > first) {
          val sb = new StringBuilder(toks(first).text)
          for (k <- first + 1 until i) {
            val gap = script.substring(toks(k - 1).end, toks(k).start)
            sb.append(if (gap.forall(_.isWhitespace)) gap else " ").append(toks(k).text)
          }
          stmts += sb.toString
        }
        first = i + 1
      }
    }
    stmts.toSeq
  }

  /** Is `stmt` an unfinished CREATE TRIGGER statement — i.e. its
    * BEGIN…END body hasn't reached the trigger's own END yet? CASE
    * increments and END decrements a depth counter so only the depth-0
    * END terminates the trigger. */
  private def triggerNeedsMore(stmt: Seq[SqlLexer.Tok]): Boolean = {
    val words = stmt.filter(_.kind == SqlLexer.Word).map(_.lower)
    val isTrigger = words.length >= 2 && words(0) == "create" &&
      (words(1) == "trigger" ||
        ((words(1) == "temp" || words(1) == "temporary") &&
          words.length >= 3 && words(2) == "trigger"))
    val beginAt = words.indexOf("begin")
    if (!isTrigger || beginAt < 0) return false // malformed: the parser refuses it
    var depth = 0
    words.drop(beginAt + 1).foreach {
      case "case" => depth += 1
      case "end" => if (depth > 0) depth -= 1 else return false // trigger closed
      case _ => ()
    }
    true
  }

  /** First keyword of a statement, uppercased (dispatch key). */
  def firstWord(stmt: String): String = {
    val m = "^\\s*([A-Za-z]+)".r.findFirstMatchIn(stmt)
    m.map(_.group(1).toUpperCase).getOrElse("")
  }

  /** Strip SQLite identifier quoting: `x`, "x", [x]. */
  def unquoteIdent(s: String): String = {
    val t = s.trim
    // single quotes included: SQLite's documented keyword quirk accepts
    // a 'string' in identifier position as an identifier, and its own
    // shadow-table DDL uses that form (CREATE TABLE 'ft_data'(...))
    if (t.length >= 2 && (
      (t.head == '"' && t.last == '"') || (t.head == '`' && t.last == '`') ||
      (t.head == '\'' && t.last == '\'') || (t.head == '[' && t.last == ']')))
      t.substring(1, t.length - 1)
    else t
  }
}
