"""Seeded input generator: key-shifted replicas of a base fixture.

A replica factor N copies every fact table N times and shifts its key
columns by a per-replica stride, so join and group cardinalities grow with
N the way real data does instead of duplicating rows. Small dimension
tables (region, nation) are copied unchanged.

The seed decides only the physical layout: the order in which replicas
are concatenated and a full row permutation of each table. Sizes, key
cardinalities and duplicate-family sizes are the same for every seed, so
seeds differ in layout, not in the amount of work.

Every table is written as one parquet file with row groups of at most
``ROW_GROUP_ROWS`` rows (SNAPPY), the layout of the base fixtures;
``sources.tables.fanout_small`` branches on the row-group count, so the
layout is fixed and recorded in ``layout.json`` next to the tables.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASES = {
    "sf0.01": os.path.join(HERE, "base", "sf0.01"),
    "sf0.001": os.path.join(HERE, "base", "sf0.001"),
}
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
ROW_GROUP_ROWS = 1 << 20

# Key columns shifted per replica (replica r adds r * stride). Strides
# exceed every key in the base fixtures, so replicas never collide, and all
# tables shift one key space together so joins stay consistent.
KEY_SHIFTS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000, "l_suppkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}


def dataset_name(base: str, factor: int, seed: int) -> str:
    """Directory basename, unique per base, factor and seed. Queries that
    write scratch files key them by this basename."""
    return f"pb_{base.replace('.', '')}_x{factor}_s{seed}"


def _replica(table: pa.Table, name: str, rep: int) -> pa.Table:
    if rep == 0:
        return table
    for col, stride in KEY_SHIFTS[name].items():
        i = table.schema.get_field_index(col)
        shifted = pc.add(table.column(i), pa.scalar(rep * stride, table.schema.field(i).type))
        table = table.set_column(i, table.schema.field(i), shifted)
    if name == "documents":
        # near-duplicate text per replica, so dedup work scales with N
        i = table.schema.get_field_index("text")
        text = pc.binary_join_element_wise(table.column(i), pa.scalar(f" r{rep}"), "")
        table = table.set_column(i, table.schema.field(i), text)
    return table


def build(base: str, factor: int, seed: int, out_root: str) -> str:
    """Write the replica set for (base, factor, seed) under ``out_root``
    and return its directory. An existing complete directory is reused."""
    out = os.path.join(out_root, dataset_name(base, factor, seed))
    marker = os.path.join(out, "layout.json")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    layout = {"base": base, "factor": factor, "seed": seed, "tables": {}}
    for name in TABLES:
        src = pq.read_table(os.path.join(BASES[base], f"{name}.parquet"))
        if name in KEY_SHIFTS and factor > 1:
            order = rng.permutation(factor)
            src = pa.concat_tables([_replica(src, name, int(r)) for r in order])
        src = src.take(pa.array(rng.permutation(src.num_rows)))
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(src, path, row_group_size=ROW_GROUP_ROWS, compression="snappy")
        meta = pq.ParquetFile(path).metadata
        layout["tables"][name] = {
            "rows": meta.num_rows,
            "row_groups": meta.num_row_groups,
            "bytes": os.path.getsize(path),
        }
    with open(os.path.join(tmp, "layout.json"), "w") as f:
        json.dump(layout, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out
