"""Output checks: registry queries against their DuckDB oracle, the movies
pipeline against the ground truth its generator planted."""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0.0:
            return "-0.0"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rows(table, cols):
    key = lambda row: [(v is None, str(type(v)), repr(v)) for v in row]
    data = [table.column(c).to_pylist() for c in cols]
    return sorted((tuple(_norm(v) for v in row) for row in zip(*data)), key=key)


def oracle(inputs, outputs, sql_by_op):
    """{op: error or None}: each op's Spark output (parquet under `outputs`)
    compared, as a sorted multiset of rows, with its oracle SQL run in
    DuckDB over the same input tables."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{inputs}/{f}'")
    res = {}
    for op, sql in sql_by_op.items():
        try:
            exp = con.execute(sql).fetch_arrow_table()
            got = pq.read_table(os.path.join(outputs, op))
        except Exception as e:   # noqa: BLE001 - reported as a failed check
            res[op] = f"unreadable: {str(e)[:200]}"
            continue
        ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
        if ecols != gcols:
            res[op] = f"columns differ: oracle={ecols} spark={gcols}"
        elif exp.num_rows != got.num_rows:
            res[op] = f"rows differ: oracle={exp.num_rows} spark={got.num_rows}"
        elif _rows(exp, ecols) != _rows(got, gcols):
            res[op] = "values differ"
        else:
            res[op] = None
    return res


def movies(truth_path, parquet_dir):
    """None if the loaded movies table matches the planted truth: the same
    surviving imdb ids, and per movie the kaggle id, the gap-filled budget,
    revenue and runtime (parsed from wiki money and runtime strings), the
    release date, and the ten rating-level counts. Else an error string."""
    truth = json.load(open(truth_path))["movies"]
    t = pq.read_table(parquet_dir)
    levels = [f"rating_{i // 2}_{5 * (i % 2)}" for i in range(1, 11)]
    cols = ["imdb_id", "kaggle_id", "budget", "revenue", "runtime",
            "release_date"] + levels
    missing = [c for c in cols if c not in t.column_names]
    if missing:
        return f"missing columns {missing}"
    got = {r["imdb_id"]: r for r in t.select(cols).to_pylist()}
    if len(got) != t.num_rows:
        return "duplicate imdb_id rows"
    if set(got) != set(truth):
        return (f"surviving movies differ: {len(set(got) - set(truth))} extra, "
                f"{len(set(truth) - set(got))} missing")
    bad, first = 0, None
    for imdb, exp in truth.items():
        g = got[imdb]
        same = (g["kaggle_id"] == exp["kaggle_id"]
                and all(g[k] == exp[k] for k in ("budget", "revenue", "runtime"))
                and str(g["release_date"]) == exp["release_date"]
                and [g[c] for c in levels] == exp["ratings"])
        bad += not same
        if not same and first is None:
            first = f"{imdb}: expected {exp}, got {g}"
    return f"{bad} of {len(truth)} movies differ, first {first}" if bad else None
