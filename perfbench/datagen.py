"""Seeded inputs for the benchmark.

The base tables are the engine's own sf0.01 and sf0.001 test tables
(content seed 42), committed byte for byte under ``tables/`` so that a
run reads nothing outside its checkout. ``read_base`` loads them.

``key_shift(tables, replicas)`` is the key-shift transform of
``scripts/scale_probe.py``'s ``_blowup``, ported to pyarrow so that no
Spark time is spent on inputs and later script deletions cannot break
the benchmark. Every replica index ``i`` offsets the keys of every table
consistently on both sides of each join, glues ``r{i}`` onto every
document word (so shingle sets of different replicas are disjoint) and
rotates each embedding by ``i`` dimensions (norm- and in-replica-dot-
preserving, but replica centroids are no longer bit-equal). As in
``_blowup``, customer and supplier names are copied, not derived from
the shifted keys. N replicas are N times the keys, not N copies of one
cluster.

``materialize`` writes a table set once to a directory and leaves a
``_manifest.json`` (row counts and content hashes) that later runs
reuse. ``code_hash`` names the generator version, so a change to this
file or to the base tables lands in a fresh directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
DIM = 64
BASE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def base_dir(sf: str) -> str:
    """Directory of the committed test tables at scale factor ``sf``
    (``"0.01"`` or ``"0.001"``)."""
    return os.path.join(BASE_ROOT, f"sf{sf}")


def read_base(sf: str) -> dict[str, pa.Table]:
    d = base_dir(sf)
    return {n: pq.read_table(os.path.join(d, f"{n}.parquet")) for n in TABLES}


def _shift(col: pa.ChunkedArray, offset: int) -> np.ndarray:
    return col.to_numpy() + np.int64(offset)


#: Key offset per replica index, per table and column (``_blowup``'s
#: strides): order keys and document/vector ids by i·10⁹, event ids by
#: i·10¹², customer, part and user keys by i·10⁷, supplier keys by i·10⁵,
#: labels by i·10⁶ (so i stays below 2147 for an int32 label). nation
#: and region are fixed-cardinality dimensions and are copied once.
SHIFTS = {
    "customer": {"c_custkey": 10**7},
    "supplier": {"s_suppkey": 10**5},
    "part": {"p_partkey": 10**7},
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**7},
    "lineitem": {"l_orderkey": 10**9, "l_partkey": 10**7, "l_suppkey": 10**5},
    "events": {"event_id": 10**12, "user_id": 10**7},
    "documents": {"doc_id": 10**9},
    "embeddings": {"vec_id": 10**9, "label": 10**6},
}


def _replace(t: pa.Table, col: str, values) -> pa.Table:
    i = t.schema.get_field_index(col)
    return t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))


def key_shift(tables: dict[str, pa.Table], replicas: list[int]) -> dict[str, pa.Table]:
    """Concatenate one key-shifted copy of ``tables`` per replica index."""
    out = {"region": tables["region"], "nation": tables["nation"]}
    for name, cols in SHIFTS.items():
        parts = []
        for i in replicas:
            t = tables[name]
            for col, stride in cols.items():
                t = _replace(t, col, _shift(t[col], i * stride))
            if name == "documents":
                suffix = f"r{i}"
                text = [" ".join(w + suffix for w in s.split(" ")) for s in t["text"].to_pylist()]
                t = _replace(t, "text", text)
            if name == "embeddings":
                d = i % DIM
                vec = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
                vec = np.concatenate([vec[:, d:], vec[:, :d]], axis=1)
                if (i // DIM) % 2 == 1:
                    vec = vec[:, ::-1]
                t = _replace(t, "embedding", list(np.ascontiguousarray(vec)))
            parts.append(t)
        out[name] = pa.concat_tables(parts)
    return {n: out[n] for n in TABLES}


def content_hash(table: pa.Table) -> str:
    """Order-sensitive hash of a table's schema and values."""
    h = hashlib.sha256(str(table.schema).encode())
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


def manifest(tables: dict[str, pa.Table]) -> dict[str, dict]:
    return {
        n: {"rows": t.num_rows, "hash": content_hash(t.combine_chunks())}
        for n, t in tables.items()
    }


def code_hash() -> str:
    """Hash of this generator's source and of the base table files."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)]
    for root, _, names in sorted(os.walk(BASE_ROOT)):
        paths += [os.path.join(root, n) for n in sorted(names)]
    for path in paths:
        h.update(os.path.relpath(path, BASE_ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def materialize(out_dir: str, make) -> dict[str, dict]:
    """Write ``make()``'s tables under ``out_dir`` unless a finished copy
    is there already; returns the manifest. ``make`` is only called when
    the directory has to be (re)built."""
    path = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    tables = make()
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    man = manifest(tables)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return man


def seed_offset(seed: int) -> int:
    """First replica index of a seed: seeds differ in their key offsets,
    and every index stays below 2147 (int32 labels) for up to 16 replicas."""
    return 1 + (seed % 100) * 16
