"""Rebuild ``golden.json``: the DuckDB oracle digest of every contract
query the ``curate`` and ``dedup_delta`` workloads run (plus their
recompute twins), over ``perfbench/data``.

The oracle takes ~40 s per capstone query, too long to run inside a
benchmark run, and the workloads' seeds only permute row order, which
the results do not depend on. This script checks that claim on the
oracle side: it digests each query over the vendored tables and over a
permuted copy and refuses to write a golden when the two disagree.

    python3 perfbench/make_golden.py

Run it after changing ``perfbench/data`` or a query's contract. It uses
``oracle_sql()``, which writes its own fixtures under the system temp
directory.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))
sys.path.insert(0, BENCH_DIR)

QUERIES = (
    "q73_curated_corpus_v4",
    "q79_curated_corpus_v5",
    "q66_exact_dedup_delta",
    "q71_minhash_lsh_delta",
    "q75_embedding_near_dup_delta",
    "q22_minhash_lsh_pairs",
    "q64_embedding_near_dup_lsh",
)


def oracle_digests(sf_dir: str) -> dict[str, str]:
    import duckdb

    import __spark_entry__
    from digest import frame_digest

    os.environ["SPARK_GRAFT_CONTRACT_SF"] = sf_dir
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for q in QUERIES:
        out[q] = frame_digest(con.execute(oracles[q]).df())
        print(f"{q}: {out[q]}", flush=True)
    con.close()
    return out


def main() -> int:
    import numpy as np
    import pyarrow.parquet as pq

    from workloads import CONTRACT_TABLES, DATA, GOLDEN, _md5_files

    src = [os.path.join(DATA, f"{t}.parquet") for t in CONTRACT_TABLES]
    base = oracle_digests(DATA)
    with tempfile.TemporaryDirectory() as tmp:
        rng = np.random.default_rng(1)
        for t, path in zip(CONTRACT_TABLES, src):
            tbl = pq.read_table(path)
            tbl = tbl.take(rng.permutation(tbl.num_rows))
            pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"), row_group_size=tbl.num_rows)
        permuted = oracle_digests(tmp)
    if permuted != base:
        print("oracle results depend on row order; golden not written", file=sys.stderr)
        return 1
    with open(GOLDEN, "w") as fh:
        json.dump({"inputs_md5": _md5_files(src), "queries": base}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
