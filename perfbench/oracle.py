"""DuckDB oracle hashes for the analytics workload, and the canonical
result hash both engines are compared by.

Run as its own process (``python3 perfbench/oracle.py <sf_dir> <out>``):
in-process DuckDB inflates later Spark timings several-fold, so the
benchmark never imports duckdb itself.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

#: The 13 headline queries (one per operator family), as in bench.py.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q10_returned_items",
    "q_cube_flag_status",
    "q_window_frames",
    "q_topk_orders_per_customer",
    "q_events_session",
    "q_asof_click_purchase",
    "q_minhash_lsh_pairs_capped",
    "q_text_tfidf_top_term",
    "q_knn_bruteforce",
    "q_shard_grid",
]
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _cell(v) -> str:
    """Engine-neutral canonical form of one value (strict to the ulp)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v + 0.0)  # -0.0 -> 0.0
    if isinstance(v, bool):
        return str(int(v))
    try:
        import pandas as pd

        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass  # array-like cells: fall through to str()
    return str(v)


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: sorted column names,
    row count and the sorted canonical rows."""
    cols = sorted(pdf.columns)
    rows = sorted(zip(*[[_cell(v) for v in pdf[c].tolist()] for c in cols]))
    h = hashlib.sha256(json.dumps([cols, len(pdf)]).encode())
    for row in rows:
        h.update(json.dumps(row).encode())
    return h.hexdigest()


def main(sf_dir: str, out: str) -> None:
    import duckdb

    sys.path.insert(0, os.getcwd())
    from aind_exaspim_data_transformation_spark.queries import ORACLES

    hashes = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in HEADLINE:
            hashes[name] = result_hash(con.execute(ORACLES[name]).df())
    finally:
        con.close()
    with open(out, "w") as f:
        json.dump(hashes, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
