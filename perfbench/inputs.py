"""Benchmark inputs: the committed fixture tables, their checksums, and
references.

The tables under ``data/<scale>`` are byte copies of the project's
synthetic test tables at that scale (see TESTDATA.md); their sha256 is
checked against ``inputs.json`` on every run. Each query's reference result comes from its DuckDB oracle in the
registry, computed once per (oracle text, input checksums) and cached
in ``.bench_build/perfbench`` (git-ignored); results are compared exactly
as ``tools/check.py`` does it: typed, exact and order-insensitive.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import pickle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data")
MANIFEST = os.path.join(HERE, "inputs.json")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def checksums(data_dir: str) -> dict[str, str]:
    return {
        name: _sha256(os.path.join(data_dir, name))
        for name in sorted(os.listdir(data_dir))
        if name.endswith(".parquet")
    }


def tables(scale: str) -> str:
    """Directory of the fixture tables at ``scale`` (e.g. ``"sf0.01"``),
    after checking them against the manifest."""
    with open(MANIFEST) as f:
        expected = json.load(f)[scale]
    data_dir = os.path.join(DATA, scale)
    got = checksums(data_dir) if os.path.isdir(data_dir) else {}
    if got != expected:
        bad = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
        raise SystemExit(f"perfbench: {scale} tables differ from inputs.json: {bad}")
    return data_dir


def load_check_module():
    """``tools/check.py``, whose comparison helpers define "correct"."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_repo_check", os.path.join(ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def references(scale: str, data_dir: str, queries: dict, check) -> dict[str, dict]:
    """Oracle reference per query name: column names, DuckDB types, and
    the order-insensitive row key of ``tools/check.py``."""
    path = os.path.join(BUILD, "refs", f"{scale}.pkl")
    cached: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path, "rb") as f:
            cached = pickle.load(f)
    inputs_sha = json.dumps(checksums(data_dir), sort_keys=True)
    sha = {
        name: hashlib.sha256((q.oracle + inputs_sha).encode()).hexdigest()
        for name, q in queries.items()
    }
    todo = {name: q for name, q in queries.items() if cached.get(name, {}).get("sha") != sha[name]}
    if todo:
        import duckdb
        from appeals_data_spark.catalog import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        for name, q in todo.items():
            rel = con.sql(q.oracle)
            cols = [c.lower() for c in rel.columns]
            rows = rel.fetchall()
            cached[name] = {
                "sha": sha[name],
                "cols": cols,
                "types": [str(t) for t in rel.types],
                "nrows": len(rows),
                "key": check._rows_key(rows, cols),
            }
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "wb") as f:
            pickle.dump(cached, f)
        os.replace(f"{path}.tmp{os.getpid()}", path)
    return {name: cached[name] for name in queries}


def mismatch(ref: dict, columns: list[str], dtypes, rows, check) -> str | None:
    """Why a Spark result differs from its reference, or None if equal."""
    lint = check._decimal_lint(dtypes)
    if lint:
        return "decimal scale: " + ", ".join(lint)
    cols = [c.lower() for c in columns]
    if sorted(cols) != sorted(ref["cols"]):
        return f"schema {sorted(cols)} vs {sorted(ref['cols'])}"
    spark_types = {c.lower(): t for c, t in dtypes}
    for col, duck_t in zip(ref["cols"], ref["types"]):
        if not check._types_compatible(duck_t, spark_types[col]):
            return f"type {col}: duckdb {duck_t} vs spark {spark_types[col]}"
    if len(rows) != ref["nrows"]:
        return f"rows {len(rows)} vs {ref['nrows']}"
    if check._rows_key([tuple(r) for r in rows], cols) != ref["key"]:
        return "values differ"
    return None
