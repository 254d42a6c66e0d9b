"""Input tables of the batch workload.

perfbench/data/sf0.01 is a copy of the seed-42 TESTDATA tables at sf0.01.
The batch workload reads them as they are, except documents and
embeddings, which are scaled up with scripts/make_sf1.py's own
mutate_documents and mutate_embeddings: replica r rotates letters by r
(documents) or vectors by r dimensions (embeddings), so similarity
structure inside a replica is replica 0's. Replica r shifts doc_id/vec_id
by r times the table's own key space (make_sf1 uses sf0.1's), so replicas
do not collide. Deterministic; no RNG.
"""
import hashlib
import importlib.util
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
MAKE_SF1 = os.path.join(os.path.dirname(HERE), "scripts", "make_sf1.py")


def _make_sf1():
    """scripts/make_sf1.py as a module (its module level only reads argv)."""
    spec = importlib.util.spec_from_file_location("make_sf1", MAKE_SF1)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def replicate(table, key, replicas, mutate):
    """`replicas` copies of `table`, copy r with `key` shifted by r key
    spaces and passed through mutate(t, r)."""
    stride = pc.max(table.column(key)).as_py() + 1
    parts = []
    for r in range(replicas):
        t = table.set_column(table.column_names.index(key), key,
                             pc.add(table.column(key), r * stride))
        parts.append(mutate(t, r))
    return pa.concat_tables(parts)


def ensure_tables(out_dir, replicas):
    """Write the workload's tables into out_dir, once per input: every
    sf0.01 table, with documents and embeddings x`replicas`."""
    if not 1 <= replicas <= 26:
        raise ValueError("letter rotation gives at most 26 distinct replicas")
    names = sorted(f for f in os.listdir(BASE) if f.endswith(".parquet"))
    h = hashlib.sha256(str(replicas).encode())
    for path in [os.path.join(BASE, n) for n in names] + [MAKE_SF1]:
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out_dir, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in ("documents.parquet", "embeddings.parquet"):
            shutil.copyfile(os.path.join(BASE, name), os.path.join(out_dir, name))
    sf1 = _make_sf1()
    for name, key, mutate in (("documents", "doc_id", sf1.mutate_documents),
                              ("embeddings", "vec_id", sf1.mutate_embeddings)):
        t = replicate(pq.read_table(os.path.join(BASE, f"{name}.parquet")),
                      key, replicas, mutate)
        # several row groups, so scans split across tasks
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(500, t.num_rows // 16))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out_dir
