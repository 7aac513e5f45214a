"""Sequence packing: greedy token-budget bin packing of documents into
fixed-capacity training sequences.

LLM pre-training consumes fixed-length sequences; feeding one document
per sequence wastes most of the context window on padding. The standard
fix packs documents back-to-back into sequences of ``budget`` tokens
(documents stay atomic — no splits — matching the common
"greedy first-fit in arrival order" packer).

Greedy packing is inherently a stateful scan (each placement depends on
the running fill), which no window function expresses. The distributed
shape: bucket documents deterministically (``doc_id % n_buckets``), scan
each bucket independently with one Arrow-batched ``applyInPandas`` —
buckets give the parallelism, the per-bucket scan is the irreducible
sequential part. At 100 TB choose ``n_buckets`` so a bucket's rows fit
one task comfortably (~1M docs/bucket); the shuffle is a single hash
partition on the bucket key, near-uniform by construction.

Determinism: bucket assignment and the within-bucket ``doc_id`` sort
are pure functions of the data, so output is stable under input
repartitioning, retries, and corpus append order — the same guarantee
as ops/sampling's hash-threshold splits. The identical greedy dynamics
replay in ANSI SQL as a per-bucket recursive CTE (the DuckDB oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OUT_SCHEMA = (
    "bucket int, doc_id bigint, n_tokens bigint, "
    "seq_id bigint, seq_offset bigint"
)


def pack_sequences(
    df: DataFrame, budget: int, id_col: str = "doc_id",
    tokens_col: str = "n_tokens", n_buckets: int = 64,
) -> DataFrame:
    """Assign every document a ``(bucket, seq_id, seq_offset)`` packing
    position: documents are bucketed by ``doc_id % n_buckets``, scanned
    in ``doc_id`` order within the bucket, and appended to the current
    sequence while it fits; a document that would overflow starts the
    next sequence. A document longer than ``budget`` occupies a
    sequence of its own (callers truncate downstream — the packer never
    splits).

    Input needs ``id_col`` (integral) and ``tokens_col`` (precomputed
    token counts, e.g. ops/text.token_count). Output: one row per doc —
    ``(bucket, doc_id, n_tokens, seq_id, seq_offset)`` with ``seq_id``
    numbered from 0 per bucket and ``seq_offset`` the token position
    inside the sequence.
    """
    base = df.select(
        F.pmod(F.col(id_col), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq, fill = 0, 0
        seq_ids, offsets = [], []
        # Plain loop over the Arrow batch: greedy fill has no closed
        # form (each step depends on the running remainder). O(rows)
        # python-side per bucket — size buckets accordingly.
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > budget:
                seq += 1
                fill = 0
            seq_ids.append(seq)
            offsets.append(fill)
            fill += int(n)
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["seq_offset"] = pd.Series(offsets, dtype="int64")
        return pdf
    return base.groupBy("bucket").applyInPandas(pack, _OUT_SCHEMA)
