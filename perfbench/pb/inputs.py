"""Seeded input derivation.

The committed tables under ``data/<sf>/`` are the engine's test tables
reduced to the tables and columns the benchmark's queries read at that
scale factor (so not every scale factor has every table). A seed relabels every
key column with a permutation of that key's own values, applied the same
way in every table that carries it, so joins, degree distributions and
table sizes are kept while the ids the queries see (and so hash
partitioning, tie-breaks and source picks) change. Seed 0 is the identity:
the tables as committed.
"""
import os
import random
import shutil

import duckdb
import pyarrow as pa

# key name -> (table, column) pairs that carry it
KEYS = {
    "custkey": [("orders", "o_custkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "partkey": [("lineitem", "l_partkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "doc_id": [("documents", "doc_id")],
}


def tables(data_dir):
    """The tables present under ``data_dir``, one ``<name>.parquet`` each."""
    return sorted(f[:-len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))


def permutation(values, seed, key):
    """Map each of ``values`` to another of them, seeded by (seed, key).

    Seed 0 maps every value to itself."""
    vals = sorted(values)
    if seed == 0:
        return dict(zip(vals, vals))
    shuffled = list(vals)
    random.Random(f"{seed}:{key}").shuffle(shuffled)
    return dict(zip(vals, shuffled))


def derive(src_dir, dst_dir, seed):
    """Write the seed's tables to ``dst_dir`` (atomically: a half-written
    directory is never left under the final name)."""
    if os.path.isdir(dst_dir):
        return dst_dir
    tmp = dst_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    present = tables(src_dir)
    for t in present:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src_dir}/{t}.parquet')")
    mapped = {}  # (table, column) -> mapping table name
    for key, cols in KEYS.items():
        cols = [(t, c) for t, c in cols if t in present]
        if not cols:
            continue
        values = set()
        for t, c in cols:
            values.update(v for (v,) in con.execute(f"SELECT DISTINCT {c} FROM {t}").fetchall())
        perm = permutation(values, seed, key)
        con.register(f"map_{key}", pa.table({"k": pa.array(list(perm.keys()), pa.int64()),
                                             "v": pa.array(list(perm.values()), pa.int64())}))
        for t, c in cols:
            mapped[(t, c)] = f"map_{key}"
    for t in present:
        names = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        sel, joins = [], []
        for i, c in enumerate(names):
            m = mapped.get((t, c))
            if m:
                sel.append(f"m{i}.v AS {c}")
                joins.append(f"JOIN {m} m{i} ON m{i}.k = s.{c}")
            else:
                sel.append(f"s.{c}")
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM "
            f"(SELECT *, row_number() OVER () AS rn__ FROM {t}) s {' '.join(joins)} ORDER BY s.rn__) "
            f"TO '{tmp}/{t}.parquet' (FORMAT parquet)")
    con.close()
    os.rename(tmp, dst_dir)
    return dst_dir
