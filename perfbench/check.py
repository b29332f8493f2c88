"""Correctness checks, run on results read back after the timed window.

Batch queries with an oracle are compared with DuckDB over the same tier
files: same column names, same rows in the same order, floats equal to a
relative 1e-9. The rows-only queries are compared with fingerprints pinned
in `fingerprints.json`: row count plus an order-insensitive row hash.
Admission verdicts must equal the `pipe_ingest_incr` catalog entry's DuckDB
oracle over the same corpus and the planted verdict counts, with non-empty
band state.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return v


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, [tuple(_norm(col[i]) for col in data) for i in range(table.num_rows)]


def compare(actual, expected):
    """None when equal, else what differs."""
    ca, ra = rows(actual)
    ce, re = rows(expected)
    if ca != ce:
        return f"columns {ca} != {ce}"
    if len(ra) != len(re):
        return f"{len(ra)} rows != {len(re)}"
    for i, (x, y) in enumerate(zip(ra, re)):
        if not all(_same(a, b) for a, b in zip(x, y)):
            return f"row {i}: {x} != {y}"
    return None


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in v.items()) + "}"
    return repr(v)


def fingerprint(table):
    """Row count plus the sum, mod 2^64, of a 64-bit hash of each row."""
    cols, rs = rows(table)
    total = 0
    for r in rs:
        line = "|".join(_canon(v) for v in r)
        total += int(hashlib.sha256(line.encode()).hexdigest()[:16], 16)
    return {"rows": len(rs), "hash": f"{total % 2**64:016x}", "columns": cols}


def check_batch(tier, results_dir, oracle_sql, names):
    """{query: None when correct, else the reason}."""
    pins = json.load(open(os.path.join(HERE, "fingerprints.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tier}/{t}.parquet')")
    out = {}
    for name in names:
        path = os.path.join(results_dir, name)
        if not os.path.exists(path):
            out[name] = "no result"
            continue
        actual = pq.read_table(path)
        if name in oracle_sql:
            out[name] = compare(actual, con.execute(oracle_sql[name]).arrow())
        elif name in pins:
            fp = fingerprint(actual)
            out[name] = None if fp == pins[name] else f"fingerprint {fp} != {pins[name]}"
        else:
            out[name] = "neither an oracle nor a pinned fingerprint"
    con.close()
    return out


def band_state_rows(state_dir):
    files = glob.glob(f"{state_dir}/**/bands/**/*.parquet", recursive=True)
    return sum(pq.read_metadata(f).num_rows for f in files)


def check_admission(run_dir, corpus, oracle_sql, planted):
    """(docs checked, failures, reasons)."""
    got = {r[0]: r for r in rows(pq.read_table(f"{run_dir}/verdicts",
                                               columns=["doc_id", "source", "lang", "verdict"]))[1]}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus}/documents.parquet')")
    want = {r[0]: r for r in rows(con.execute(oracle_sql).arrow())[1]}
    con.close()
    reasons = []
    bad = sum(1 for d in want if got.get(d) != want[d]) + len(set(got) - set(want))
    if bad:
        reasons.append(f"{bad} streamed verdicts differ from the pipe_ingest_incr oracle")
    counts = {}
    for r in got.values():
        counts[r[3]] = counts.get(r[3], 0) + 1
    if counts != planted["counts"]:
        bad += 1
        reasons.append(f"verdict counts {counts} != planted {planted['counts']}")
    if band_state_rows(f"{run_dir}/state") == 0:
        bad += 1
        reasons.append("band state is empty")
    return len(want), bad, reasons


if __name__ == "__main__":
    # Re-pin: python3 perfbench/check.py <results dir> <query>...
    import sys
    pins = {q: fingerprint(pq.read_table(os.path.join(sys.argv[1], q))) for q in sys.argv[2:]}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
