"""Benchmark inputs: the project's fixture tables plus oracle-pinned
expected outputs.

``data/<scale>/<table>.parquet`` are byte-for-byte copies of the
project's seed-42 fixture tables (the ones the DuckDB oracle tests and
``bench.py`` read), limited to the tables and scales the workloads use:

* ``sf0.001`` — lineitem, documents, embeddings, customer (warm passes);
* ``sf0.01`` — lineitem, documents, embeddings (``curation_batch``);
* ``sf0.1`` — customer (``speed_layer_ingest``).

The expected output of every query a workload runs is pinned from the
query's DuckDB oracle as a row count and an order-insensitive value hash,
the same canonical form the project's oracle harness uses. The pins are
built once per checkout under ``.bench_build/perfbench/pins-<digest>.json``
(the digest covers the tables and the oracle SQL, so a change to either
rebuilds them).
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import pandas as pd

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: scale directory names, by role
WARM_SF = "sf0.001"
CURATION_SF = "sf0.01"
STREAM_SF = "sf0.1"


def _norm_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    try:
        if pd.isna(v):
            return "␀"
    except (TypeError, ValueError):
        pass
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns in name order, rows
    sorted after cell normalization."""
    cols = sorted(pdf.columns)
    lines = sorted("\x1f".join(_norm_cell(v) for v in row)
                   for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def matches(pin: dict, pdf: pd.DataFrame) -> bool:
    """Whether a result has the pinned row count and value hash."""
    return len(pdf) == pin["rows"] and value_hash(pdf) == pin["hash"]


def _tables(scale: str) -> dict[str, str]:
    return {os.path.basename(p)[:-len(".parquet")]: p for p in
            sorted(glob.glob(os.path.join(DATA, scale, "*.parquet")))}


def _digest(oracles: dict[str, tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(DATA, "*", "*.parquet"))):
        h.update(os.path.relpath(path, DATA).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(json.dumps(oracles, sort_keys=True).encode())
    return h.hexdigest()[:16]


def ensure_pins(build_dir: str,
                oracles: dict[str, tuple[str, str]]) -> dict[str, dict]:
    """Build (or reuse) the pins: ``oracles`` maps a pin key to (scale
    dir name, DuckDB SQL); the result maps it to ``{"rows", "hash"}``."""
    import duckdb

    path = os.path.join(build_dir, f"pins-{_digest(oracles)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    pins = {}
    for key, (scale, sql) in sorted(oracles.items()):
        con = duckdb.connect()
        try:
            for name, table in _tables(scale).items():
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"'{table}'")
            pdf = con.execute(sql).df()
        finally:
            con.close()
        pins[key] = {"rows": len(pdf), "hash": value_hash(pdf)}
    os.makedirs(build_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return pins
