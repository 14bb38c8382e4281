"""DuckDB oracle answers for the ``query_mix`` workload and the comparator.

Answers come from DuckDB running each query's portable SQL
(``__spark_entry__.oracle_sql()``) over the same parquet files Spark
reads; no engine code runs. They are cached under the benchmark's work
directory, keyed by the data directory, its manifest and the oracle
text. Results compare by the corpus rule: same columns, same row
count, and equal values order-insensitively after rounding floats to
6 places.

Write the answers anew for one seed with::

    python3 perfbench/oracle.py --seed 7
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys


def norm_cell(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):  # arrays, and structs (a Spark Row is a tuple)
        return [norm_cell(x) for x in v]
    return str(v)


def normalize(cols: list[str], rows) -> dict:
    """Columns sorted by name, each row's cells in that order, rows
    sorted; JSON round-tripped so cached and fresh answers compare
    with identical representations."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[norm_cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return json.loads(json.dumps({"cols": sorted(cols), "rows": out}))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``, else what differs."""
    if got["cols"] != want["cols"]:
        return f"columns differ: got {got['cols']} want {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count differs: got {len(got['rows'])} want {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if not _close(a, b):
            return f"row {i} differs: got {a} want {b}"
    return None


def _duckdb(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _key(data_dir: str, sql: str) -> str:
    with open(os.path.join(data_dir, "manifest.json"), encoding="utf-8") as fh:
        manifest = fh.read()
    blob = "\0".join([os.path.abspath(data_dir), manifest, sql])
    return hashlib.sha256(blob.encode()).hexdigest()[:24]


def answers(data_dir: str, sqls: dict[str, str], cache_dir: str, fresh: bool = False) -> dict[str, dict]:
    """Normalized DuckDB answer per query name, from the cache unless
    ``fresh``."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sqls.items():
        path = os.path.join(cache_dir, f"{name}-{_key(data_dir, sql)}.json")
        if not fresh and os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                out[name] = json.load(fh)
            continue
        if con is None:
            con = _duckdb(data_dir)
        cur = con.execute(sql)
        out[name] = normalize([d[0] for d in cur.description], cur.fetchall())
        tmp = f"{path}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(out[name], fh)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    entry = workloads.load_entry()
    data_dir = workloads.star_data(args.seed)
    sqls = {q: entry.oracle_sql()[q] for q in workloads.QUERIES}
    got = answers(data_dir, sqls, workloads.ORACLE_DIR, fresh=True)
    print(f"wrote {len(got)} answers for {data_dir}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
