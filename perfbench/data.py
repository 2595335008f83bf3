"""Benchmark input data.

`perfbench/fixtures/sf0.01` is a copy of the engine's sf0.01 oracle
corpus (TPC-H-style tables plus events, documents and embeddings; about
60k lineitem rows). Larger scales are made from it by replication with
key shifting, the model of the engine's `graft.ScaleUp`: replica i adds
i * 10,000,000 to every key column, so foreign keys stay replica-local,
per-key group sizes keep their shape and cardinality grows with the
factor; region and nation are copied once. The copy is written here with
pyarrow rather than by the engine, so the program under test never
produces its own benchmark input, and it is deterministic: the same
factor gives byte-identical files.
"""
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = "perfbench/fixtures/sf0.01"
OFFSET = 10_000_000
# a scaled table is a directory of at most FILES parquet files, as
# ScaleUp's sf1 copy of sf0.1 is (24 files per table)
FILES = 24
ROW_GROUP = 128 * 1024
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}


def _replicate(base, keys, i):
    if i == 0:
        return base
    cols = []
    for name in base.column_names:
        c = base[name]
        if name in keys:
            c = pc.add(c, pa.scalar(i * OFFSET, c.type))
        cols.append(c)
    return pa.table(cols, names=base.column_names)


def scaled(root, factor, dest):
    """Writes the fixture scaled by `factor` to `dest` (once) and checks
    every table's row count; returns `dest`."""
    done = os.path.join(dest, "_counts.json")
    if os.path.exists(done):
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    src = os.path.join(root, FIXTURE)
    counts = {}
    for table, keys in KEYS.items():
        base = pq.read_table(os.path.join(src, f"{table}.parquet"))
        out = os.path.join(dest, f"{table}.parquet")
        os.makedirs(out, exist_ok=True)
        reps = factor if keys else 1
        files = min(reps, FILES)
        for j in range(files):
            part = pa.concat_tables([_replicate(base, keys, i) for i in
                                     range(j * reps // files, (j + 1) * reps // files)])
            pq.write_table(part, os.path.join(out, f"part-{j:04d}.parquet"),
                           row_group_size=ROW_GROUP)
        n = sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
                for f in os.listdir(out))
        want = base.num_rows * reps
        if n != want:
            raise RuntimeError(f"{table}: {n} rows written, {want} expected")
        counts[table] = n
    with open(done, "w") as f:
        json.dump(counts, f)
    return dest
