"""DuckDB oracle check for one benchmark run.

Each query's output (parquet, written by the harness outside the timed
region) is compared with the query's oracle SQL evaluated by DuckDB over
the same generated tables, using the comparator of the engine's local
correctness gate (`tools/check_local.py`: its canonical row rendering,
order-insensitive). Both sides are reduced to a SHA-256
of the canonical rows.

Oracle results are cached per (input directory, SQL text), so an input
seed is oracled once; SQL that reads the run's own artifacts (persisted
fits, written indexes) is evaluated against that run every time.
"""
import hashlib
import importlib.util
import json
import re
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from gen import TABLES

ROOT = Path(__file__).resolve().parent.parent


def _comparator():
    spec = importlib.util.spec_from_file_location(
        "graft_check_local", ROOT / "tools" / "check_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_frame


canon_frame = _comparator()


def frame_hash(df):
    """(sorted column names, SHA-256 of the canonical sorted rows)."""
    h = hashlib.sha256()
    for row in canon_frame(df):
        h.update(json.dumps(row).encode())
        h.update(b"\n")
    return sorted(df.columns), h.hexdigest()


def connect(data_dir, temp_dir=None):
    con = duckdb.connect()
    con.execute("SET memory_limit = '3GB'")
    if temp_dir:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute("SET max_temp_directory_size = '2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


_CTE = re.compile(r"(?m)(^|,\s*|WITH\s+)(\w+) AS \(")


def run_sql(con, sql):
    """Evaluate with every CTE materialized once: the same result, but
    without the re-expansion of CTEs referenced by later CTEs, which
    makes the iterative oracles (e.g. HITS) exhaust DuckDB's memory."""
    try:
        return con.execute(_CTE.sub(r"\1\2 AS MATERIALIZED (", sql)).df()
    except duckdb.ParserException:
        return con.execute(sql).df()


def oracle_hash(con, sql, cache_dir=None, volatile_marker=None):
    """Hash of the oracle result; cached unless `volatile_marker` occurs
    in the SQL (it reads files of the current run)."""
    cacheable = cache_dir is not None and not (volatile_marker and volatile_marker in sql)
    path = None
    if cacheable:
        path = Path(cache_dir) / (hashlib.sha256(sql.encode()).hexdigest() + ".json")
        if path.is_file():
            got = json.loads(path.read_text())
            return got["columns"], got["hash"]
    cols, digest = frame_hash(run_sql(con, sql))
    if path is not None:
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"columns": cols, "hash": digest}))
        tmp.replace(path)
    return cols, digest


def check(data_dir, outputs_dir, oracle_sql, cache_dir=None, volatile_marker=None,
          temp_dir=None):
    """Return {query: None if it matches, else a one-line reason}."""
    con = connect(data_dir, temp_dir)
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        files = sorted((Path(outputs_dir) / name).glob("*.parquet"))
        try:
            got_cols, got = frame_hash(pq.read_table(files).to_pandas())
        except Exception as e:  # missing or unreadable output
            verdicts[name] = f"output unreadable: {str(e)[:160]}"
            continue
        try:
            want_cols, want = oracle_hash(con, sql, cache_dir, volatile_marker)
        except Exception as e:
            verdicts[name] = f"oracle error: {str(e)[:160]}"
            continue
        if got_cols != want_cols:
            verdicts[name] = f"columns differ: {got_cols} vs {want_cols}"
        elif got != want:
            verdicts[name] = "rows differ from the oracle"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
