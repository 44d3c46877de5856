"""Checkers: every answer the program gave is compared with a computation
made apart from it.

- serve_mixed: each read against the benchmark's own model of the segment:
  real sqlite3 over a copy of the same generated `.sqlite` file that
  replays the same write scripts in the same order. At the end each
  segment exported by the program must hold the model's rows and pass
  `PRAGMA integrity_check`.
- analytics_suite: each query's answer against DuckDB running
  `SparkEntry.oracleSql`, comparing column names, column types and sorted
  rows the way the repository's tools/check.py does.

Each checker returns a list of problems; an empty list means correct.
"""
import base64
import datetime
import decimal
import glob
import json
import math
import os
import re
import sqlite3


# ---------------------------------------------------------------- sqlite3

def seed_crawled_status(code):
    """trough's SEEDCRAWLEDSTATUS, after the reference implementation."""
    if code is None:
        return "Not crawled (None)"
    c = int(code)
    if 300 <= c < 400:
        return "Redirected"
    if c >= 400:
        return "Crawled (HTTP error %d)" % c
    if c > 0:
        return "Crawled"
    if c in (0, -5003, -5004):
        return "Not crawled (queued)"
    if c == -9998:
        return "Not crawled (blocked by robots)"
    return "Not crawled (%d)" % c


def regexp(expr, item):
    if item is None:
        return False
    return re.search(expr, item) is not None


def connect(path=":memory:"):
    con = sqlite3.connect(path)
    con.create_function("SEEDCRAWLEDSTATUS", 1, seed_crawled_status)
    con.create_function("REGEXP", 2, regexp)
    return con


def expected(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _same_value(exp, got):
    if exp is None or got is None:
        return exp is None and got is None
    if isinstance(exp, bool) or isinstance(got, bool):
        return type(exp) is type(got) and exp == got
    if isinstance(exp, float) or isinstance(got, float):
        if not (isinstance(exp, float) and isinstance(got, float)):
            return False
        return exp == got or abs(exp - got) <= 1e-9 * max(abs(exp), abs(got))
    return type(exp) is type(got) and exp == got


def compare_json(cols, rows, body, ordered):
    """Compares a read response (the JSON array of row objects) with the
    expected column names and rows; returns a problem or None."""
    try:
        got = json.loads(body)
    except (TypeError, ValueError) as e:
        return "response is not JSON: %s" % e
    if not isinstance(got, list):
        return "response is not a JSON array"
    for r in got:
        if not isinstance(r, dict) or list(r.keys()) != cols:
            return "row columns %s, expected %s" % (
                list(r.keys()) if isinstance(r, dict) else type(r).__name__, cols)
    got_rows = [tuple(r[c] for c in cols) for r in got]
    exp_rows = [tuple(r) for r in rows]
    if len(got_rows) != len(exp_rows):
        return "%d rows, expected %d" % (len(got_rows), len(exp_rows))
    if not ordered:
        key = lambda t: json.dumps(t, sort_keys=True, default=str)
        got_rows, exp_rows = sorted(got_rows, key=key), sorted(exp_rows, key=key)
    for g, e in zip(got_rows, exp_rows):
        if not all(_same_value(x, y) for x, y in zip(e, g)):
            return "row %r, expected %r" % (g, e)
    return None


def is_ordered(sql):
    return re.search(r"\bORDER\s+BY\b", sql, re.I) is not None


def load_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def load_model(inputs, segs):
    model = {}
    for seg in segs:
        src = sqlite3.connect(os.path.join(inputs, "segments", seg + ".sqlite"))
        con = connect()
        src.backup(con)
        src.close()
        model[seg] = con
    return model


def row_bytes(row):
    return sum(len(v.encode()) if isinstance(v, str) else 8 if isinstance(v, int) else 0
               for v in row)


_SET = re.compile(r"\bSET\s+(.*?)\s+WHERE\b", re.I | re.S)
_ASSIGN = re.compile(r"\w+\s*=\s*('(?:[^']|'')*'|-?\d+(?:\.\d+)?|NULL)", re.I)


def script_bytes(sql):
    """Bytes of the row data a write script carries, counted as row_bytes
    counts them: every row of an `INSERT ... VALUES` (also the ones that
    `OR IGNORE` drops), and the new values of an `UPDATE ... SET`."""
    con = sqlite3.connect(":memory:")
    try:
        m = re.search(r"\bVALUES\b", sql, re.I)
        if sql.lstrip().upper().startswith("INSERT") and m:
            rows = con.execute(sql[m.start():]).fetchall()
        else:
            m = _SET.search(sql)
            lits = _ASSIGN.findall(m.group(1)) if m else []
            rows = [con.execute("SELECT " + ", ".join(lits)).fetchone()] if lits else []
    finally:
        con.close()
    return sum(row_bytes(r) for r in rows)


def check_serve_mixed(inputs, records, export_dir):
    """Replays every client's executed ops, in order, on the model.
    Returns (problems, user bytes held by the model at the end, user bytes
    carried by the write scripts of the timed window)."""
    segs = sorted(os.path.basename(p)[:-len(".sqlite")]
                  for p in glob.glob(os.path.join(inputs, "segments", "*.sqlite")))
    model = load_model(inputs, segs)
    problems = []
    window_bytes = sum(script_bytes(r["sql"]) for r in records
                       if r["kind"] == "write" and not r["warm"])
    by_client = {}
    for r in records:
        by_client.setdefault(r["client"], []).append(r)
    for c, recs in sorted(by_client.items()):
        recs.sort(key=lambda r: r["idx"])
        if [r["idx"] for r in recs] != list(range(len(recs))):
            problems.append("client %d: the op log has gaps" % c)
            continue
        for r in recs:
            where = "client %d op %d %s %r" % (c, r["idx"], r["seg"], r["sql"][:60])
            if r["status"] != 200:
                problems.append("%s: status %s %s" % (where, r["status"], (r["body"] or "")[:200]))
                break
            con = model[r["seg"]]
            if r["kind"] == "write":
                con.execute(r["sql"])
                con.commit()
                if r["body"] != "OK\n":
                    problems.append("%s: write answered %r" % (where, r["body"]))
            else:
                cols, rows = expected(con, r["sql"])
                p = compare_json(cols, rows, r["body"], is_ordered(r["sql"]))
                if p:
                    problems.append("%s: %s" % (where, p))
    user_bytes = 0
    for seg in segs:
        rows = model[seg].execute("SELECT * FROM dedup").fetchall()
        user_bytes += sum(row_bytes(r) for r in rows)
        problems += check_export(os.path.join(export_dir, seg + ".sqlite"), rows, seg)
        model[seg].close()
    return problems, user_bytes, window_bytes


def check_export(path, model_rows, seg):
    if not os.path.exists(path):
        return ["%s: no exported .sqlite" % seg]
    con = sqlite3.connect(path)
    try:
        ic = con.execute("PRAGMA integrity_check").fetchall()
        if ic != [("ok",)]:
            return ["%s: integrity_check %r" % (seg, ic[:3])]
        got = con.execute("SELECT * FROM dedup").fetchall()
    except sqlite3.DatabaseError as e:
        return ["%s: exported file unreadable: %s" % (seg, e)]
    finally:
        con.close()
    key = lambda t: tuple((v is None, type(v).__name__, v if v is not None else 0) for v in t)
    g, e = sorted(got, key=key), sorted(model_rows, key=key)
    if len(g) != len(e):
        return ["%s: export holds %d rows, model %d" % (seg, len(g), len(e))]
    for a, b in zip(g, e):
        if len(a) != len(b) or not all(_same_value(y, x) for x, y in zip(a, b)):
            return ["%s: exported row %r, model %r" % (seg, a, b)]
    return []


# ---------------------------------------------------------------- DuckDB

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    """Cell normalisation of tools/check.py."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return repr(v)


def answer(rel):
    """(sorted column names, {column: type}, sorted normalised rows)."""
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    rows = sorted(tuple(norm_cell(v) for v in r)
                  for r in rel.select(", ".join('"%s"' % c for c in cols)).fetchall())
    return {"columns": cols, "types": {c: types[c] for c in cols}, "rows": rows}


def duck(corpus):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(corpus, t + ".parquet")
        if os.path.exists(p):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    return con


def oracle_answers(corpus, oracle_sql):
    """DuckDB's answer to every oracle query (a query that errors maps to
    its error text)."""
    con = duck(corpus)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = answer(con.sql(sql))
        except Exception as e:  # a broken oracle query fails its check below
            out[name] = {"error": "%s: %s" % (type(e).__name__, str(e)[:300])}
    con.close()
    return out


def compare_answers(name, exp, got):
    if "error" in exp:
        return "%s: oracle failed: %s" % (name, exp["error"])
    if got["columns"] != exp["columns"]:
        return "%s: columns %s, oracle %s" % (name, got["columns"], exp["columns"])
    grows = [tuple(r) for r in got["rows"]]
    erows = [tuple(r) for r in exp["rows"]]
    if grows != erows:
        if len(grows) != len(erows):
            return "%s: %d rows, oracle %d" % (name, len(grows), len(erows))
        for g, e in zip(grows, erows):
            if g != e:
                return "%s: row %s, oracle %s" % (name, g, e)
    mism = {c: (got["types"][c], exp["types"][c]) for c in exp["columns"]
            if got["types"][c] != exp["types"][c]}
    if mism:
        return "%s: column types differ %s" % (name, mism)
    return None


def from_json(v):
    """A value of the program's JSON answer, as DuckDB's Python client
    would hand the same value over."""
    if isinstance(v, list):
        return [from_json(x) for x in v]
    if isinstance(v, dict):
        if len(v) == 1:
            (k, x), = v.items()
            if k == "$d":
                return decimal.Decimal(x)
            if k == "$ts":
                return datetime.datetime.fromisoformat(x)
            if k == "$date":
                return datetime.date.fromisoformat(x)
            if k == "$f":
                return float(x)
            if k == "$b":
                return base64.b64decode(x)
            if k == "$map":
                return {from_json(a): from_json(b) for a, b in x}
        return {k: from_json(x) for k, x in v.items()}
    return v


def answer_from_json(doc):
    """`answer()` of the program's JSON answer."""
    names = [c for c, _ in doc["columns"]]
    cols = sorted(names)
    idx = [names.index(c) for c in cols]
    types = dict(doc["columns"])
    rows = sorted(tuple(norm_cell(from_json(r[i])) for i in idx) for r in doc["rows"])
    return {"columns": cols, "types": {c: types[c] for c in cols}, "rows": rows}


def check_analytics(expected_answers, results_dir):
    problems = []
    for name in sorted(expected_answers):
        path = os.path.join(results_dir, name + ".json")
        if not os.path.exists(path):
            problems.append("%s: no answer" % name)
            continue
        with open(path) as f:
            got = answer_from_json(json.load(f))
        p = compare_answers(name, expected_answers[name], got)
        if p:
            problems.append(p)
    return problems
