"""Write the benchmark's fixed subset of the sf0.1 fixture tables.

The parquet files next to this script are the benchmark's input
content. They were written by

    python3 perfbench/fixtures/subset.py <sf0.1 fixture directory>

and are committed, because a benchmark run reads only inside its
checkout. The subset is fixed (no seed) and keeps every join intact:

- ``orders``: the first half by ``o_orderkey``; ``lineitem``: every line
  of those orders;
- ``events``: the first half by ``event_id`` (the first 15 of 30 days);
- ``documents``: every near-duplicate group (connected component of the
  ``d_ngram_jaccard_pairs`` pairs over all fixture documents) whose
  smallest ``doc_id`` is a multiple of 10: about a tenth of the
  documents, with whole groups, so duplicates stay as common as in the
  fixture and every group keeps all its members;
- ``embeddings``: the first 500 rows by ``vec_id``;
- ``region``, ``nation``, ``supplier``, ``customer`` and ``part``: whole.

Rows and columns are copied as they are, schema metadata included.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
WHOLE = ("region", "nation", "supplier", "customer", "part")
DOCUMENT_GROUP_STRIDE = 10


def first_by(table, key: str, n: int):
    return table.sort_by(key).slice(0, n)


def near_duplicate_groups(src: str) -> dict[int, int]:
    """``doc_id -> smallest doc_id of its group`` for the documents whose
    group has more than one member, from the registry's DuckDB oracle
    for the Jaccard pairs (3-word shingles, Jaccard at least 0.5)."""
    from sparkflow_spark.oracle import duckdb_connection
    from sparkflow_spark.queries import load_all

    sql = load_all()["d_ngram_jaccard_pairs"].oracle
    root: dict[int, int] = {}

    def find(x: int) -> int:
        while root.get(x, x) != x:
            x = root[x]
        return x

    for a, b, _ in duckdb_connection(src).execute(sql).fetchall():
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in root}


def subset(src: str) -> dict:
    read = lambda name: pq.read_table(os.path.join(src, f"{name}.parquet"))  # noqa: E731
    out = {name: read(name) for name in WHOLE}
    orders = read("orders")
    out["orders"] = first_by(orders, "o_orderkey", orders.num_rows // 2)
    lineitem = read("lineitem")
    out["lineitem"] = lineitem.filter(pc.is_in(lineitem["l_orderkey"], out["orders"]["o_orderkey"]))
    events = read("events")
    out["events"] = first_by(events, "event_id", events.num_rows // 2)
    out["embeddings"] = first_by(read("embeddings"), "vec_id", 500)
    documents = read("documents")
    group = near_duplicate_groups(src)
    smallest = [group.get(d, d) for d in documents["doc_id"].to_pylist()]
    keep = [i for i, g in enumerate(smallest) if g % DOCUMENT_GROUP_STRIDE == 0]
    out["documents"] = documents.take(keep).sort_by("doc_id")
    return out


def main(src: str) -> None:
    for name, table in subset(src).items():
        pq.write_table(table, os.path.join(HERE, f"{name}.parquet"), compression="zstd")
        print(name, table.num_rows)


if __name__ == "__main__":
    main(sys.argv[1])
