"""Output checks of the benchmark (no timing in here).

- queries: each result's row count and an order-insensitive hash of its rows,
  compared with `expected/queries_sf<sf>.json`. Those expectations are
  recorded once with `python3 perfbench/run.py --record-queries`, which refuses to
  write them unless every result matches the query's DuckDB oracle.
- train_weekly: clean row count and leaderboard families, compared with
  `expected/train_weekly.json` (the store is one fixed dataset). The winner
  and its test RMSE are compared too, but a difference is reported as a
  reproducibility finding (`ml.winner_reproducible`), not as a failed check.

The scrape_weekly checks run inside the harness process (Main.scala), where
the listing generator can say what every link's state must be.
"""
import csv
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

FAMILIES = {"linear_regression", "ridge", "lasso", "random_forest", "gbt"}


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _typename(t):
    t = str(t)
    return "INT" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t


def digest(rel):
    """(row count, column signature, order-insensitive row hash) of a DuckDB
    relation; columns are taken in name order, floats to 9 significant
    digits, integer widths up to 64 bits treated alike."""
    cols, types = rel.columns, rel.types
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    sig = ",".join(f"{cols[i]}:{_typename(types[i])}" for i in order)
    return len(rows), sig, h


def _result(con, results, q):
    return con.sql(f"SELECT * FROM read_parquet('{results}/{q}/*.parquet')")


def queries(run, execution, results, names, expected_file):
    want = {}
    if os.path.exists(expected_file):
        with open(expected_file) as f:
            want = json.load(f)["queries"]
    con = duckdb.connect()
    for q in names:
        try:
            got = dict(zip(("rows", "columns", "hash"), digest(_result(con, results, q))))
        except duckdb.Error as e:
            run.check(execution, q, False, f"unreadable result: {e}")
            continue
        exp = want.get(q)
        run.check(execution, q, exp == got, f"got {got} want {exp}")


def _expected(expected_file, key):
    if not os.path.exists(expected_file):
        return None
    with open(expected_file) as f:
        return json.load(f).get(key)


def clean(run, execution, work, expected_file):
    """PreprocessJob's output: rows, and the columns the model reads."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(work, "clean", "clean.parquet"))
    need = {"Price", "Living_area", "Number_of_bedrooms", "landSurface", "epc_encoded",
            "State_of_building_encoded"}
    run.check(execution, "clean_columns", need <= set(t.column_names),
              f"missing {sorted(need - set(t.column_names))}")
    want = _expected(expected_file, "clean_rows")
    run.check(execution, "clean_rows", t.num_rows == want, f"got {t.num_rows} want {want}")


def leaderboard(run, execution, work, expected_file):
    """ModelJob's leaderboard: every family, and a winner that beats the mean
    predictor. Returns whether the winner and its test RMSE equal the
    recorded ones, with a message: on one fixed store they should, and when
    they do not, that is a reproducibility finding, reported as such and
    never re-seeded around."""
    import pyarrow.parquet as pq
    price = [p for p in pq.read_table(os.path.join(work, "clean", "clean.parquet"))
             .column("Price").to_pylist() if p is not None]
    with open(glob.glob(os.path.join(work, "model", "leaderboard", "*.csv"))[0]) as f:
        board = list(csv.DictReader(f))
    families = sorted(r["model"] for r in board)
    winner = board[0]  # the leaderboard is ordered by CV RMSE
    mean = sum(price) / len(price)
    sd = math.sqrt(sum((p - mean) ** 2 for p in price) / len(price))
    run.check(execution, "leaderboard_families", set(families) == FAMILIES, f"got {families}")
    run.check(execution, "winner_beats_mean", float(winner["test_rmse"]) < sd,
              f"test rmse {winner['test_rmse']} vs price sd {sd:.1f}")
    got = {"model": winner["model"], "test_rmse": winner["test_rmse"]}
    want = _expected(expected_file, "winner")
    return got == want, f"winner {got}, recorded {want}"


def record(data, results, oracle_json, names, out):
    """Write the query expectations, if every result matches its oracle."""
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected, bad = {}, []
    for q in names:
        got = digest(_result(con, results, q))
        want = digest(con.sql(oracle[q]))
        print(f"{q}: spark {got[0]} rows, oracle {want[0]} rows, "
              f"{'match' if got == want else 'MISMATCH'}", file=sys.stderr)
        if got != want:
            bad.append(q)
        expected[q] = dict(zip(("rows", "columns", "hash"), got))
    if bad:
        raise SystemExit(f"not recorded: {bad} differ from the DuckDB oracle")
    with open(out, "w") as f:
        json.dump({"note": "recorded by `python3 perfbench/run.py --record-queries`; every "
                           "result matched its DuckDB oracle", "queries": expected},
                  f, indent=1, sort_keys=True)
        f.write("\n")
