"""Record the contract_docs reference: row count and order-insensitive row
hash of every contract query's DuckDB oracle twin (``oracle_sql()``) over
the fixed documents table, at each scale. Run from the checkout root after a
change to the documents generator or to a query's oracle:

    python3 perfbench/make_reference.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), os.getcwd()]

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from workloads import CONTRACT_QUERIES, REFERENCE, SIZES, documents, row_hash  # noqa: E402


def main() -> int:
    oracle = entry.oracle_sql()
    ref = {}
    for scale in SIZES.values():
        docs, _gold = documents(scale["docs"])
        with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
            path = os.path.join(tmp, "documents.parquet")
            docs.to_parquet(path, index=False)
            con = duckdb.connect()
            try:
                con.execute(f"create view documents as select * from '{path}'")
                outs = {q: con.sql(oracle[q]).df() for q in CONTRACT_QUERIES}
            finally:
                con.close()
        ref[str(len(docs))] = {q: {"rows": len(df), "hash": row_hash(df)} for q, df in outs.items()}
    with open(REFERENCE, "w") as fh:
        json.dump(ref, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
