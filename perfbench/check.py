"""Correctness checks, made apart from the program.

Batch workloads: each output is compared with DuckDB running the query's
`SparkEntry.oracleSql` over the same parquet, by row count, column names
and the typed value hash of `tools/check_oracle.py`.

Streaming workload: the DWS table, the LogSplit outputs and the dim
tables are compared with what the generator computed from its own
events and ops.
"""
import glob
import importlib.util
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _oracle_lib(root):
    """norm/table_hash from the repo's own oracle replay tool."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _read(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None, None
    cur = con.execute("SELECT * FROM read_parquet(?)", [files])
    return [d[0] for d in cur.description], cur.fetchall()


def check_batch(root, run, tables, ops, rounds):
    """Returns a list of problems (empty when every output matches)."""
    lib = _oracle_lib(root)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
    with open(os.path.join(run, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, _ in ops:
        if name not in oracle:
            problems.append(f"{name}: no oracle SQL")
            continue
        cur = con.execute(oracle[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        want = (len(orows), sorted(ocols), lib.table_hash(orows, ocols))
        for r in range(rounds):
            cols, rows = _read(con, os.path.join(run, "out", f"r{r}", name))
            if cols is None:
                problems.append(f"r{r}/{name}: no output")
                continue
            got = (len(rows), sorted(cols), lib.table_hash(rows, cols))
            if got != want:
                problems.append(f"r{r}/{name}: rows {got[0]} vs {want[0]}, "
                                f"cols {got[1] == want[1]}, hash {got[2]} vs {want[2]}")
    return problems


def check_stream(run, exp, rounds, harness):
    """Returns (problems, failed keys per round). A same-second CDC key
    whose image differs from the in-order replay is a failed operation,
    not a problem."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    problems, failed = [], []
    if harness["dropped_by_watermark"] != 0:
        problems.append(f"{harness['dropped_by_watermark']} rows dropped by watermark")
    for r in range(rounds):
        base = os.path.join(run, "out", f"r{r}")
        # DWS: per-(window, vc) page count and during_time sum
        _, rows = _read(con, os.path.join(base, "check", "dws"))
        got = sorted([list(x) for x in rows or []])
        if got != exp["dws"]:
            extra = [x for x in got if x not in exp["dws"]][:3]
            miss = [x for x in exp["dws"] if x not in got][:3]
            problems.append(f"r{r}/dws: {len(got)} rows vs {len(exp['dws'])}; "
                            f"extra {extra} missing {miss}")
        # LogSplit: counts of every split
        counts = {}
        for name in ("dirty", "page", "start", "err", "display", "action"):
            files = glob.glob(os.path.join(base, "out", "split", name, "*.parquet"))
            counts[name] = con.execute("SELECT count(*) FROM read_parquet(?)",
                                       [files]).fetchone()[0] if files else 0
            if counts[name] != exp[name]:
                problems.append(f"r{r}/split/{name}: {counts[name]} vs {exp[name]}")
        if counts["dirty"] + counts["page"] + counts["start"] != exp["lines"]:
            problems.append(f"r{r}/split: dirty+clean != {exp['lines']} input lines")
        # dims: the in-order replay, deleted keys absent
        ties = exp["ties"]
        for sink, want in exp["dims"].items():
            cols = next(c.split(",") for _, s, c, _ in exp["config"] if s == sink)
            files = glob.glob(os.path.join(base, "out", "dims", sink, "*.parquet"))
            rows = con.execute(
                f"SELECT {', '.join(cols)} FROM read_parquet(?) WHERE NOT __deleted",
                [files]).fetchall() if files else []
            got = sorted(list(x) for x in rows if x[0] not in ties["images"]
                         or sink != ties["table"])
            if got != want:
                extra = [x for x in got if x not in want][:2]
                miss = [x for x in want if x not in got][:2]
                problems.append(f"r{r}/dims/{sink}: {len(got)} rows vs {len(want)}; "
                                f"extra {extra} missing {miss}")
            if sink == ties["table"]:
                by_key = {x[0]: list(x) for x in rows if x[0] in ties["images"]}
                bad = [k for k, img in ties["images"].items()
                       if by_key.get(k) != [img[c] for c in ties["columns"]]]
                failed.append(len(bad))
    return problems, failed
