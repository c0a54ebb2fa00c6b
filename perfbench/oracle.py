"""DuckDB oracle for the benchmark's outputs.

Each workload's oracle SQL comes from the program's own registry
(`SparkEntry.oracleSql`), written by the benchmark JVM next to the
outputs as `oracle_sql.json`. DuckDB evaluates it over the same parquet
inputs; the program's outputs are never read by the oracle side.

- cf_batch: the written neighbour table must equal DuckDB's
  q_vector_pipeline as a multiset, cell-exact (compared through a row
  count plus the sum of 64-bit row hashes over canonically typed cells),
  and must have the properties the method guarantees (see CF_PROPERTIES).
- session_panel: every query's output must equal its oracle under
  scripts/check.py's comparison: same column names, same row count,
  cells equal in emitted row order, floats bit-exact.

DuckDB results are cached under perfbench/oracle/, keyed by the SQL text
and the bytes of the input files, so a run normally reads a small file
instead of re-running the oracle; a key with no cached result is
evaluated live. Entries for keys no longer in use are never read;
delete perfbench/oracle/ before rebuilding to drop them. Rebuild with

    python3 perfbench/run.py --workload cf_batch --seed 1 --seconds 1 --trace 0 --refresh-oracle
    python3 perfbench/run.py --workload session_panel --seed 1 --seconds 1 --trace 0 --refresh-oracle
"""
import glob
import hashlib
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

CACHE = Path(__file__).resolve().parent / "oracle"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CF_COLUMNS = ("item_x::BIGINT, item_y::BIGINT, corr + 0.0, cos_sim + 0.0, "
              "reg_corr + 0.0, jaccard + 0.0, n::BIGINT, n_x::BIGINT, "
              "n_y::BIGINT, rn::BIGINT")
"""Canonical cell types for the multiset hash; `+ 0.0` folds -0.0
into 0.0, which check.py's float comparison also treats as equal."""

CF_PROPERTIES = {
    "corr_in_range": "NOT (corr BETWEEN -1 AND 1)",
    "reg_corr_shrunk": "abs(reg_corr) > abs(corr)",
    "jaccard_in_range": "NOT (jaccard > 0 AND jaccard <= 1)",
    "n_within_raters": "n > least(n_x, n_y)",
    "rank_dense_by_corr": "rn <> expected_rn",
}
"""Violation predicates, counted over the written table; expected_rn is
the row number per item_x by corr descending, then item_y ascending."""


def connect(tmp_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET memory_limit = '3GB'")
    return con


def register(con, sf_dir: Path):
    for t in TABLES:
        f = sf_dir / f"{t}.parquet"
        if f.exists():
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{f}'")


def inputs_digest(sf_dir: Path) -> bytes:
    h = hashlib.sha256()
    for f in sorted(sf_dir.glob("*.parquet")):
        h.update(f.name.encode() + b"\0" + hashlib.sha256(f.read_bytes()).digest())
    return h.digest()


def cache_file(sql: str, sf_dir: Path, digest: bytes, ext: str) -> Path:
    """The cache entry of one oracle, keyed by its SQL text and inputs."""
    key = hashlib.sha256(sql.encode() + b"\0" + digest).hexdigest()[:20]
    return CACHE / f"{sf_dir.name}__{key}.{ext}"


def _fingerprint(con, relation_sql: str):
    rows, fp = con.execute(
        f"SELECT count(*), sum(hash({CF_COLUMNS})::HUGEINT)::VARCHAR "
        f"FROM ({relation_sql})").fetchone()
    return {"rows": rows, "hash_sum": fp}


def check_cf(out_dir: Path, sf_dir: Path, oracle_sql: dict, tmp_dir: Path,
             refresh: bool = False):
    """Problems found in the cf_batch table (empty when correct), and
    where the oracle figure came from."""
    sql = oracle_sql["q_vector_pipeline"]
    cached = cache_file(sql, sf_dir, inputs_digest(sf_dir), "json")
    con = connect(tmp_dir)
    table = f"read_parquet('{out_dir}/*.parquet')"
    violations = ", ".join(f"count(*) FILTER (WHERE {p}) AS {k}"
                           for k, p in CF_PROPERTIES.items())
    got = con.execute(
        f"SELECT count(*), sum(hash({CF_COLUMNS})::HUGEINT)::VARCHAR, {violations} "
        f"FROM (SELECT *, row_number() OVER (PARTITION BY item_x "
        f"ORDER BY corr DESC, item_y) AS expected_rn FROM {table})").fetchone()
    problems = [f"{k}: {v} rows" for k, v in zip(CF_PROPERTIES, got[2:]) if v]
    if cached.exists() and not refresh:
        want, source = json.loads(cached.read_text()), "cached"
    else:
        register(con, sf_dir)
        want, source = _fingerprint(con, sql), "live"
        if refresh:
            CACHE.mkdir(exist_ok=True)
            cached.write_text(json.dumps(want, indent=1) + "\n")
    if got[0] != want["rows"]:
        problems.append(f"rows: {got[0]} written, oracle {want['rows']}")
    elif got[1] != want["hash_sum"]:
        problems.append("cells differ from the oracle (multiset hash)")
    return problems, source


def _load_spark(out_dir: Path, name: str):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(s: pd.DataFrame, d: pd.DataFrame):
    """scripts/check.py's comparison; None when equal, else the first
    difference found."""
    s = s.reindex(sorted(s.columns), axis=1)
    d = d.reindex(sorted(d.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs oracle {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs oracle {len(d)}"
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            if not np.array_equal(sv.astype(float), dv.astype(float)):
                return f"column {c}: float cells differ"
        else:
            eq = pd.Series(sv).astype(object).eq(pd.Series(dv).astype(object))
            if not eq.all():
                return f"column {c}: {int((~eq).sum())} cells differ"
    return None


def check_panel(out_dir: Path, sf_dir: Path, oracle_sql: dict, tmp_dir: Path,
                refresh: bool = False):
    """{query: problem or None} and {query: 'cached' | 'live'}."""
    con = None
    problems, sources = {}, {}
    digest = inputs_digest(sf_dir)
    for name, sql in sorted(oracle_sql.items()):
        cached = cache_file(sql, sf_dir, digest, "parquet")
        if cached.exists() and not refresh:
            want, sources[name] = pd.read_parquet(cached), "cached"
        else:
            if con is None:
                con = connect(tmp_dir)
                register(con, sf_dir)
            want, sources[name] = con.execute(sql).df(), "live"
            if refresh:
                CACHE.mkdir(exist_ok=True)
                want.to_parquet(cached, index=False)
                # the cached copy must compare equal to the live result
                assert compare(pd.read_parquet(cached), want) is None, name
        got = _load_spark(out_dir, name)
        problems[name] = "no output" if got is None else compare(got, want)
    return problems, sources
