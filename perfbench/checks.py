"""Output checks made outside graft.

Batch queries: every timed execution's parquet output is compared, as a
multiset, with the query's DuckDB oracle (``SparkEntry.oracleSql``) run
on the same generated input. Integers, strings and timestamps must match
exactly; doubles that differ are matched with a relative tolerance of
1e-9 (see README). A few oracles are too costly to run whole in every
run; they are run on a fixed share of the keys (``SAMPLED``), and the
graft output is restricted to the same keys.
"""
import glob
import math
import os
import re
from collections import namedtuple

import duckdb
import pyarrow.parquet as pq

Verdict = namedtuple("Verdict", "pass_no query ok errored why")

REL_TOL = 1e-9

# query -> (table, key predicate for the oracle's input, restriction of
# the graft output to the same keys)
SAMPLED = {
    "p7_kleene": ("events", "user_id % 4 = 0",
                  "a_id IN (SELECT event_id FROM events WHERE user_id % 4 = 0)"),
}


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    # spills, if any, stay in the run's work directory
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(data), 'duckdb_tmp')}'")
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def _oracle_sql(query, sql):
    if query not in SAMPLED:
        return sql
    table, pred, _ = SAMPLED[query]
    return re.sub(rf"\b{table}\b", f"(SELECT * FROM {table} WHERE {pred})", sql)


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _tolerant_equal(extra, missing):
    """Rows left over on each side of an exact EXCEPT ALL pair up once
    doubles are allowed their tolerance."""
    if len(extra) != len(missing):
        return False

    def key(r):
        return tuple((0, "") if isinstance(v, float) else (1, repr(v)) for v in r) + \
            tuple(v for v in r if isinstance(v, float))
    for x, y in zip(sorted(extra, key=key), sorted(missing, key=key)):
        if len(x) != len(y) or not all(_close(u, v) for u, v in zip(x, y)):
            return False
    return True


def _parts(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def compare(con, got_dir, restrict=None):
    """Compare one output directory with the TEMP table ``want``."""
    want_cols = [c[0] for c in con.execute("SELECT * FROM want LIMIT 0").description]
    parts = _parts(got_dir)
    if not parts:
        return False, "no output files"
    files = "[" + ",".join(f"'{p}'" for p in parts) + "]"
    where = f" WHERE {restrict}" if restrict else ""
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet({files}){where}")
    got_cols = [c[0] for c in con.execute("SELECT * FROM got LIMIT 0").description]
    if sorted(got_cols) != sorted(want_cols):
        return False, f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    sel = ", ".join(f'"{c}"' for c in sorted(want_cols))
    extra = con.execute(f"SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want").fetchall()
    missing = con.execute(f"SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got").fetchall()
    if not extra and not missing:
        return True, ""
    if _tolerant_equal(extra, missing):
        return True, ""
    why = f"{len(extra)} rows not in oracle, {len(missing)} oracle rows missing"
    if extra:
        why += f"; first extra {extra[0]}"
    if missing:
        why += f"; first missing {missing[0]}"
    return False, why


def check_batch(wl, data, inputs, work, passes, oracle):
    con = _connect(data)
    verdicts = []
    for q in wl.queries:
        sql = oracle.get(q)
        if sql is None:
            raise SystemExit(f"perfbench: {q} has no oracle")
        con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {_oracle_sql(q, sql)}")
        n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
        ratio_why = _row_ratio(wl, q, n_want, inputs)
        restrict = SAMPLED[q][2] if q in SAMPLED else None
        for p in passes:
            run = next(r for r in p["queries"] if r["name"] == q)
            if "error" in run:
                verdicts.append(Verdict(p["pass"], q, False, True, run["error"]))
                continue
            ok, why = compare(con, os.path.join(work, "out", f"pass{p['pass']}", q), restrict)
            if ok and ratio_why:
                ok, why = False, ratio_why
            verdicts.append(Verdict(p["pass"], q, ok, False, why))
    con.close()
    return verdicts


# below this many predicted rows a seeded draw is too small for +-25 %
RATIO_MIN_ROWS = 200


def _row_ratio(wl, q, n_rows, inputs):
    """Non-empty output whose size matches the derivation (README table)."""
    if n_rows == 0:
        return "oracle and output are empty"
    at_one, kind = wl.rows[q]
    expect = at_one * (inputs["scale"] if kind == "linear" else 1.0)
    if expect >= RATIO_MIN_ROWS and not 0.75 * expect <= n_rows <= 1.25 * expect:
        return f"{n_rows} rows, derivation predicts {expect:.0f} +-25%"
    return ""


def stream_twin_rows(rep, inputs):
    """Each streaming twin reads every staged event plus its sentinel
    (traced runs: the rows come from StreamingQueryListener)."""
    out = []
    for p in rep["passes"]:
        for q in p["queries"]:
            t = q.get("trace")
            if t and q["name"].startswith("s") and q["name"][1].isdigit():
                n = t["streamInputRows"]
                out.append(Verdict(p["pass"], q["name"], n == inputs["events"] + 1, False,
                                   f"stream input rows {n} != {inputs['events']} events + sentinel"))
    return out


def drop_one_row(out_dir):
    """Negative test: rewrite the first non-empty part file minus its first row."""
    for f in _parts(out_dir):
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(1), f)
            return
    raise SystemExit(f"perfbench: nothing to perturb under {out_dir}")
