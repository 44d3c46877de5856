package graft.engine

import scala.collection.mutable.ArrayBuffer

/** SQLite's lexical rules (tokenize.c), kept in this one module.
  *
  * The reference never lexes SQL itself: reads go to `cursor.execute`
  * (trough/read.py:63-67) and scripts to `executescript`
  * (trough/write.py:40), so SQLite's single tokenizer decides quoting,
  * comments and keyword boundaries. Every text-level step of this engine
  * (statement splitting, DDL parsing, dialect rewrites, the write path's
  * clause splitting) asks the same questions through the token stream
  * below instead of stepping through the characters itself.
  *
  * Rules: whitespace and comments (`--` to end of line, `/* … */`, an
  * unterminated one running to the end) separate tokens and are dropped.
  * `'…'` is a string with `''` as its only escape; `x'…'` a blob; `"…"`
  * and `` `…` `` are quoted identifiers with doubled-quote escapes, and
  * `[…]` one with no escape. An unterminated quote runs to the end of
  * the text. Parameters are `?`, `?N`, `:name`, `@name` and `$name`.
  * Any other non-word character is a one-character punctuation token,
  * so operators such as `<=` or `->` are adjacent punctuation tokens.
  */
object SqlLexer {

  sealed trait Kind
  /** A bare identifier or keyword. */
  case object Word extends Kind
  case object Number extends Kind
  /** A `'…'` string literal. */
  case object Str extends Kind
  /** An `x'…'` blob literal. */
  case object Blob extends Kind
  /** A `"…"`, `` `…` `` or `[…]` identifier. */
  case object Ident extends Kind
  case object Param extends Kind
  case object Punct extends Kind

  /** One token: its kind, its source text `text == sql.substring(start,
    * end)`, and the paren depth it sits at (a paren pair sits at the
    * depth of its surroundings, so top-level parens have depth 0). */
  final case class Tok(kind: Kind, text: String, start: Int, end: Int, depth: Int) {
    def lower: String = text.toLowerCase(java.util.Locale.ROOT)
    /** Is this the bare keyword `w` (any case)? */
    def is(w: String): Boolean = kind == Word && text.equalsIgnoreCase(w)
    def isPunct(c: Char): Boolean = kind == Punct && text.charAt(0) == c
    /** A bare or quoted identifier. */
    def isName: Boolean = kind == Word || kind == Ident
    def isLiteral: Boolean = kind == Str || kind == Blob || kind == Number
    /** The opening quote character of a string or quoted identifier. */
    def quote: Char = if (kind == Str || kind == Ident) text.charAt(0) else 0
    /** The name or string content: quotes stripped, doubled quotes
      * undoubled; a Word is its own value. */
    def value: String = kind match {
      case Str | Ident =>
        val q = text.charAt(0)
        val close = if (q == '[') ']' else q
        val body =
          if (text.length >= 2 && text.last == close) text.substring(1, text.length - 1)
          else text.substring(1)
        if (q == '[') body else body.replace(s"$q$q", q.toString)
      case _ => text
    }
  }

  private def isIdChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '$' || c >= 0x80

  /** The tokens of `sql`, comments and whitespace dropped. */
  def tokens(sql: String): IndexedSeq[Tok] = {
    val out = ArrayBuffer[Tok]()
    val n = if (sql == null) 0 else sql.length
    def at(i: Int): Char = if (i < n) sql.charAt(i) else 0
    // end of a quoted run opened at i; `doubling` = a doubled close
    // quote is an escape
    def quoted(i: Int, close: Char, doubling: Boolean): Int = {
      var j = i + 1
      while (j < n) {
        if (sql.charAt(j) == close) {
          if (doubling && at(j + 1) == close) j += 2 else return j + 1
        } else j += 1
      }
      n
    }
    def idEnd(i: Int): Int = { var j = i; while (j < n && isIdChar(sql.charAt(j))) j += 1; j }
    def digitsEnd(i: Int): Int = { var j = i; while (j < n && sql.charAt(j).isDigit) j += 1; j }
    var depth = 0
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && at(i + 1) == '-') {
        val e = sql.indexOf('\n', i)
        i = if (e < 0) n else e
      } else if (c == '/' && at(i + 1) == '*') {
        val e = sql.indexOf("*/", i + 2)
        i = if (e < 0) n else e + 2
      } else {
        val (kind, end) = c match {
          case '\'' => (Str, quoted(i, '\'', doubling = true))
          case '"' | '`' => (Ident, quoted(i, c, doubling = true))
          case '[' => (Ident, quoted(i, ']', doubling = false))
          case 'x' | 'X' if at(i + 1) == '\'' => (Blob, quoted(i + 1, '\'', doubling = false))
          case _ if c.isDigit || (c == '.' && at(i + 1).isDigit) =>
            var j = i
            if (c == '0' && (at(i + 1) == 'x' || at(i + 1) == 'X')) j = idEnd(i + 2)
            else {
              j = digitsEnd(j)
              if (at(j) == '.') j = digitsEnd(j + 1)
              if ((at(j) == 'e' || at(j) == 'E') && (at(j + 1).isDigit ||
                  ((at(j + 1) == '+' || at(j + 1) == '-') && at(j + 2).isDigit)))
                j = digitsEnd(j + 2)
            }
            (Number, idEnd(j)) // trailing word chars: SQLite's illegal token
          case '?' => (Param, digitsEnd(i + 1))
          case ':' | '@' | '$' if isIdChar(at(i + 1)) => (Param, idEnd(i + 1))
          case _ if isIdChar(c) => (Word, idEnd(i))
          case _ => (Punct, i + 1)
        }
        if (c == ')' && kind == Punct) depth = math.max(0, depth - 1)
        out += Tok(kind, sql.substring(i, end), i, end, depth)
        if (c == '(' && kind == Punct) depth += 1
        i = end
      }
    }
    out.toVector
  }

  /** Index of the `)` matching the `(` at token `open`, or -1. */
  def matchParen(toks: IndexedSeq[Tok], open: Int): Int = {
    val d = toks(open).depth
    var j = open + 1
    while (j < toks.length) {
      if (toks(j).depth == d && toks(j).isPunct(')')) return j
      j += 1
    }
    -1
  }

  /** Index of the `(` matching the `)` at token `close`, or -1. */
  def matchParenBack(toks: IndexedSeq[Tok], close: Int): Int = {
    val d = toks(close).depth
    var j = close - 1
    while (j >= 0) {
      if (toks(j).depth == d && toks(j).isPunct('(')) return j
      j -= 1
    }
    -1
  }

  /** Source offset of the first top-level (depth 0) keyword `kw`, or -1. */
  def firstTopLevel(sql: String, kw: String): Int =
    tokens(sql).find(t => t.depth == 0 && t.is(kw)).map(_.start).getOrElse(-1)

  /** Source offset of the last top-level keyword `kw`, or -1. */
  def lastTopLevel(sql: String, kw: String): Int =
    tokens(sql).findLast(t => t.depth == 0 && t.is(kw)).map(_.start).getOrElse(-1)

  /** Does `sql` hold the bare keywords `ws` in a row (outside literals,
    * quoted identifiers and comments)? */
  def hasWord(sql: String, ws: String*): Boolean = {
    val toks = tokens(sql)
    toks.indices.exists(i => ws.indices.forall(k => toks.lift(i + k).exists(_.is(ws(k)))))
  }

  /** Split `sql` at its top-level tokens matching `sep`; the pieces are
    * source spans, trimmed, empty ones dropped. */
  def splitTopLevelAt(sql: String)(sep: Tok => Boolean): Seq[String] = {
    val parts = ArrayBuffer[String]()
    var last = 0
    tokens(sql).foreach { t =>
      if (t.depth == 0 && sep(t)) { parts += sql.substring(last, t.start); last = t.end }
    }
    parts += sql.substring(last)
    parts.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Split on a top-level punctuation character (commas by default). */
  def splitTopLevel(sql: String, sep: Char = ','): Seq[String] =
    splitTopLevelAt(sql)(_.isPunct(sep))

  /** `sql` rewritten token by token: `edit(toks, i)` either leaves
    * token `i` alone (None) or replaces tokens `[i, end)` by an image
    * (`Some((end, image))`), the scan resuming at `end`. Whitespace and
    * comments between untouched tokens are copied verbatim. */
  def rewrite(sql: String)(edit: (IndexedSeq[Tok], Int) => Option[(Int, String)]): String = {
    val toks = tokens(sql)
    val sb = new java.lang.StringBuilder(sql.length + 8)
    var last = 0
    var i = 0
    while (i < toks.length) edit(toks, i) match {
      case Some((end, img)) =>
        sb.append(sql, last, toks(i).start).append(img)
        last = toks(end - 1).end
        i = end
      case None => i += 1
    }
    if (last == 0) sql else sb.append(sql, last, sql.length).toString
  }

  /** `sql` with string and blob literals, quoted identifiers and
    * comments overwritten by spaces (same length, so offsets carry
    * over), for keyword scans that must not look inside them. With
    * `keepIdents` a quoted identifier keeps its name and loses only
    * its quote characters, for scans that match column references. */
  def blankLiterals(sql: String, keepIdents: Boolean = false): String = {
    val b = new Array[Char](sql.length)
    java.util.Arrays.fill(b, ' ')
    tokens(sql).foreach { t =>
      val keep = t.kind match {
        case Str | Blob => false
        case Ident => keepIdents
        case _ => true
      }
      if (keep) sql.getChars(t.start, t.end, b, t.start)
      if (keep && t.kind == Ident) {
        b(t.start) = ' '
        if (t.end - 1 > t.start && sql.charAt(t.end - 1) == (if (t.quote == '[') ']' else t.quote))
          b(t.end - 1) = ' '
      }
    }
    new String(b)
  }
}
