"""Correctness reference for the query workloads.

Each ``queries()`` result is reduced to (row count, sorted column
names, digest of its order-insensitive stringified rows), the three
facts the project's own oracle harness compares. The DuckDB side runs
``oracle_sql()`` over the same parquet files once per data directory
and program version: results are cached in ``oracle.json`` next to the
data, keyed by a hash of the program's sources.

The oracle runs in a child process (``python3 oracle.py DATA_DIR
KEY...``), so the benchmark process imports the program only inside
its timed set-up.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    return str(v)


def summarize(df: pd.DataFrame) -> dict:
    """Row count, sorted column names and an order-insensitive digest."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "cols": cols, "digest": digest}


def mismatch(got: dict, want: dict) -> str | None:
    """None when a result summary matches the oracle's, else why not."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["digest"] != want["digest"]:
        return "values differ"
    return None


def program_hash() -> str:
    """Hash of every program source file the oracles depend on."""
    h = hashlib.md5()
    files = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(ROOT, "umls2rdf_spark", "**", "*.py"), recursive=True)
    )
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def expected(data_dir: str, keys: list[str]) -> dict:
    """Oracle summaries for ``keys``, computed in a child process when
    the cache lacks them for this program version."""
    path = os.path.join(data_dir, "oracle.json")
    version = program_hash()
    cache = _load(path)
    if cache.get("program") != version or not set(keys) <= set(cache.get("keys", {})):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), data_dir, *keys],
            check=True,
        )
        cache = _load(path)
    return {k: cache["keys"][k] for k in keys}


def program_oracles(data_dir: str) -> dict[str, str]:
    """The program's ``oracle_sql()``, made valid for ``data_dir``.

    ``ann_ivf_topk``'s oracle embeds IVF centroids that the program
    trains at import time on one fixed embeddings file. They are
    retrained here on ``data_dir``'s embeddings with the program's own
    exact-arithmetic replica, so the oracle checks this data. If those
    internals are gone, the oracle is used unchanged.
    """
    import __spark_entry__ as entry
    from umls2rdf_spark.plans import llm_demos

    sqls = entry.oracle_sql()
    old = getattr(llm_demos, "_CENT_VALUES", None)
    train = getattr(llm_demos, "_trained_centroids_sf001", None)
    if old is None or train is None or "ann_ivf_topk" not in sqls:
        return sqls
    saved = llm_demos._SF001_EMB_PARQUET
    llm_demos._SF001_EMB_PARQUET = os.path.join(data_dir, "embeddings.parquet")
    try:
        cents = train()
    finally:
        llm_demos._SF001_EMB_PARQUET = saved
    new = ", ".join(
        f"({i}, {j + 1}, {c})" for i, row in enumerate(cents)
        for j, c in enumerate(row)
    )
    sqls["ann_ivf_topk"] = sqls["ann_ivf_topk"].replace(old, new)
    return sqls


def compute(data_dir: str, keys: list[str]) -> None:
    """Run the oracles for ``keys`` in DuckDB and write the cache."""
    import duckdb

    sys.path.insert(0, ROOT)
    path = os.path.join(data_dir, "oracle.json")
    version = program_hash()
    cache = _load(path)
    if cache.get("program") != version:
        cache = {"program": version, "keys": {}}
    sqls = program_oracles(data_dir)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        for k in keys:
            if k not in cache["keys"]:
                cache["keys"][k] = summarize(con.execute(sqls[k]).fetchdf())
    finally:
        con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)


if __name__ == "__main__":
    compute(sys.argv[1], sys.argv[2:])
