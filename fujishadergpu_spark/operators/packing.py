"""Sequence packing for LM pretraining batches.

Pretraining consumes fixed-length token sequences; packing many short
documents into one sequence (instead of padding each) is the standard
throughput lever (T5, Raffel et al. 2020 §2.2 "packing"; GPT-style
pipelines concat-and-chunk). This operator assigns every document to
a (pack_group, seq_id, seq_pos) slot under a token budget using the
deterministic NEXT-FIT rule: scan documents in ascending id order
within a group, append to the current sequence while it fits, else
open a new sequence. A document longer than the whole budget gets its
own sequence and an ``overflow`` flag (the caller decides whether to
chunk it — this operator never silently truncates).

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; this extends the LLM-data-pipeline
family (the training-data-pipeline mandate; README capability table).

Scale shape (100 TB corpus). Packing is sequential by nature, so the
corpus is sharded into INDEPENDENT pack groups (``pmod(id, groups)``
— at production scale ``pmod(xxhash64(id), groups)`` with groups
sized so one group's (id, n_tokens) pairs fit one task, ~10^6 rows /
16 MB per group at 10^12 docs). Each group packs alone inside one
``applyInPandas`` task carrying one integer of running state — no
cross-group coordination, so the stage scales linearly with
executors. Only (id, n_tokens) enters the shuffle: 16 B per row; the
text itself is later joined back by id for sequence assembly. The
per-group assignment is a sequential Python ``for`` over a plain
int64 NumPy array (next-fit is inherently order-dependent — each
decision reads the running accumulator the previous one wrote, so
there is no exact vectorization); the loop touches ints only, never
row objects or strings, and one group's pass is bounded by the
group-sizing rule above (~10^6 ints per task; cost pinned by the
tests/test_packing.py scaling smoke).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import ws_tokens

PACK_SCHEMA = (
    "doc_id long, pack_group int, seq_id long, seq_pos long, "
    "n_tokens long, overflow boolean"
)


def _pack_group(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    n = pdf["n_tokens"].to_numpy(np.int64)
    seq = np.zeros(len(n), np.int64)
    pos = np.zeros(len(n), np.int64)
    cur_seq, acc = 0, 0
    for i in range(len(n)):
        if acc > 0 and acc + n[i] > budget:
            cur_seq += 1
            acc = 0
        seq[i] = cur_seq
        pos[i] = acc
        acc += n[i]
    pdf["seq_id"] = seq
    pdf["seq_pos"] = pos
    pdf["overflow"] = pdf["n_tokens"] > budget
    return pdf[["doc_id", "pack_group", "seq_id", "seq_pos", "n_tokens", "overflow"]]


def _pack_group_ffd(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """First-fit-decreasing within one group (Krell et al. 2021 run
    offline bin packing for exactly this; FFD uses <= 11/9 OPT + 6/9
    bins vs next-fit's 2 OPT): docs sorted by (n_tokens desc, doc_id)
    each take the FIRST already-open sequence with room, else open a
    new one. The scan keeps one int64 array of per-sequence remaining
    capacity; worst case O(n·bins) per group — fine at the documented
    ~10^6-docs-per-group sizing (fill is high, so open-bin count stays
    small); a capacity-indexed tree drops it to O(n log n) if a
    pathological group ever shows up. Ints only, one task per group,
    same 16-byte shuffle rows as next-fit."""
    pdf = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    n = pdf["n_tokens"].to_numpy(np.int64)
    seq = np.zeros(len(n), np.int64)
    pos = np.zeros(len(n), np.int64)
    remaining: list[int] = []
    for i in range(len(n)):
        placed = False
        for b, cap in enumerate(remaining):
            if n[i] <= cap:
                seq[i] = b
                pos[i] = budget - cap
                remaining[b] = cap - n[i]
                placed = True
                break
        if not placed:
            seq[i] = len(remaining)
            pos[i] = 0
            # an overflow doc occupies its own (over-full) sequence and
            # leaves no room — same policy as next-fit
            remaining.append(max(budget - int(n[i]), 0))
    pdf["seq_id"] = seq
    pdf["seq_pos"] = pos
    pdf["overflow"] = pdf["n_tokens"] > budget
    return pdf[["doc_id", "pack_group", "seq_id", "seq_pos", "n_tokens", "overflow"]]


_PACKERS = {"nextfit": _pack_group, "ffd": _pack_group_ffd}


def pack_sequences(
    docs: DataFrame,
    budget: int,
    groups: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "nextfit",
) -> DataFrame:
    """Packing plan: (id, pack_group, seq_id, seq_pos, n_tokens,
    overflow) for every document.

    ``seq_id`` counts sequences within the group, ``seq_pos`` is the
    document's token offset inside its sequence. Deterministic: group
    = id mod groups; ``strategy``:

    - ``nextfit`` (default, the hash-oracled mode): scan ascending id,
      append while it fits, else open a new sequence — the streaming
      concat-and-chunk rule, one integer of running state.
    - ``ffd``: first-fit-decreasing — the offline bin-packing rule
      with the 11/9-OPT guarantee; strictly better fill on mixed
      lengths, requires the group's sizes up front (it sorts), no SQL
      twin (iterative argmin state) so it is pytest-pinned against a
      pure-Python reference instead.

    Invariants for both (pinned in tests/test_packing.py):
    non-overflow sequences fill <= budget; a doc is flagged overflow
    iff longer than the whole budget, and sits alone in its sequence.
    """
    if strategy not in _PACKERS:
        raise ValueError(f"unknown strategy {strategy!r} (nextfit/ffd)")
    packer = _PACKERS[strategy]
    tk = ws_tokens(F.col(text_col))
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(groups)).cast("int").alias("pack_group"),
        F.size(tk).cast("bigint").alias("n_tokens"),
    )
    # explicit repartition before the grouped map: AQE's byte-based
    # coalescing would fold the tiny-but-stateful groups onto one task
    # (the applyInPandas pitfall pinned in tests/test_plan_shape.py)
    return (
        keyed.repartition(groups, "pack_group")
        .groupBy("pack_group")
        .applyInPandas(lambda pdf: packer(pdf, budget), PACK_SCHEMA)
    )


def packing_stats(plan: DataFrame, budget: int) -> DataFrame:
    """Per-group packing efficiency: sequences used, tokens packed,
    fill ratio vs the budget, and overflow count (documents longer
    than the whole budget, each alone in its own sequence)."""
    per_seq = plan.groupBy("pack_group", "seq_id").agg(
        F.sum("n_tokens").alias("_seq_tokens"),
        F.sum(F.col("overflow").cast("int")).alias("_overflow"),
    )
    return (
        per_seq.groupBy("pack_group")
        .agg(
            F.count("*").alias("n_sequences"),
            F.sum("_seq_tokens").alias("n_tokens"),
            (
                F.sum("_seq_tokens").cast("double")
                / (F.count("*") * F.lit(budget)).cast("double")
            ).alias("fill_ratio"),
            F.sum("_overflow").cast("bigint").alias("n_overflow"),
        )
    )
