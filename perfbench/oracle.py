"""DuckDB expected answers for analytics_suite, cached per dataset.

A dataset is the corpus `gen.py` makes from one seed. Its expected answers
are DuckDB's results for `SparkEntry.oracleSql`, kept under
perfbench/.work/oracle/ and keyed by the seed, the generator's source and
the oracle SQL text, so a change to any of them makes them anew.

    python3 perfbench/oracle.py --seed 1

makes the answers for one seed anew (it builds the program to read the
oracle SQL from it).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

CACHE = os.path.join(HERE, ".work", "oracle")


def cache_path(seed, oracle_sql):
    h = hashlib.sha256()
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    h.update(json.dumps(oracle_sql, sort_keys=True).encode())
    return os.path.join(CACHE, "seed%d-sf%g-%s.json" % (seed, gen.ANALYTICS_SF, h.hexdigest()[:16]))


def expected(seed, corpus, oracle_sql, force=False):
    path = cache_path(seed, oracle_sql)
    if not force and os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    answers = check.oracle_answers(corpus, oracle_sql)
    os.makedirs(CACHE, exist_ok=True)
    tmp = path + ".tmp%d" % os.getpid()
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.replace(tmp, path)
    return json.loads(json.dumps(answers))


def program_oracle_sql(classpath):
    """`SparkEntry.oracleSql`, read from the built program."""
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        out = os.path.join(d, "oracle_sql.json")
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main",
                        "oracle-sql", out],
                       check=True, stdout=subprocess.DEVNULL)
        with open(out) as f:
            return json.load(f)


def main():
    import build
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    sql = program_oracle_sql(build.build())
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        gen.gen_analytics(a.seed, d)
        answers = expected(a.seed, d, sql, force=True)
    bad = sorted(k for k, v in answers.items() if "error" in v)
    print("%d oracle answers written to %s; %d failed %s" % (
        len(answers), cache_path(a.seed, sql), len(bad), bad))


if __name__ == "__main__":
    main()
