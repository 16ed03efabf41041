"""Seeded ``documents`` table for the ``geo_join`` and ``iterative_ingest``
workloads, made from the sf0.01 testdata ``documents`` table (TESTDATA.md),
a copy of which is ``data/documents_sf0.01.parquet``: 500 documents of
10 to 99 words over a 31-word vocabulary.

The table is written ``copies`` times with every ``doc_id`` shifted, as
``bench._replicated_docs`` does: copy ``r`` adds ``r * 500`` plus a
seeded offset common to all copies.  The seed therefore moves every
synthetic geo mention the registry derives from ``doc_id``, while the
texts, and so the MinHash buckets and near-duplicate components of the
``iterative_ingest`` workload, are the testdata's own.

Run ``python3 perfbench/gen_tables.py --seed 7 --out DIR --copies 4``.
"""

from __future__ import annotations

import argparse
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.01.parquet")


def generate(out_dir: str, seed: int, copies: int) -> tuple[int, int]:
    """Write ``documents.parquet`` into ``out_dir``; returns its rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    src = pq.read_table(SOURCE)
    offset = random.Random(seed).randrange(1_000_000)
    ids = src.schema.get_field_index("doc_id")
    table = pa.concat_tables(
        src.set_column(ids, "doc_id", pc.add(src["doc_id"], offset + r * src.num_rows)) for r in range(copies)
    )
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--copies", type=int, default=1)
    args = ap.parse_args()
    print(generate(args.out, args.seed, args.copies))


if __name__ == "__main__":
    main()
