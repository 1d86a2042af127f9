"""Custom stateful operator (``applyInPandasWithState``): online sequence
packing, whose per-source state is one running token count.

Statistics need no custom state: the reference's unwindowed continuous CTAS
``SELECT 'singleton' AS id, SKEWNESS(val) ... GROUP BY id EMIT CHANGES``
(AllUdafIT.java:593-600) is an ordinary update-mode aggregation of the sum
Columns in ``stats/spark_agg.py``, whose state store holds the reference's
accumulator struct and resumes exactly from a checkpoint.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

PACKING_STATE = StructType([StructField("cum_tokens", LongType())])


def _packing_schema() -> StructType:
    return StructType([
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("n_tok", LongType()),
        StructField("start_tok", LongType()),
        StructField("first_seq", LongType()),
        StructField("last_seq", LongType()),
    ])


def streaming_sequence_packing(
    df: DataFrame,
    seq_len: int = 2048,
    part_col: str = "source",
    order_cols: Sequence[str] = ("ts", "doc_id"),
) -> DataFrame:
    """ONLINE concat-and-chunk sequence packing: as documents stream in,
    each is assigned its exact placement in the fixed-length training
    layout (start offset, first/last chunk id) — the streaming twin of
    ``functions.token_ops.sequence_packing``, byte-identical on a
    drained corpus when arrival order matches ``order_cols``.

    State per ``part_col`` key is ONE long (the cumulative token count),
    so state size is bounded by the number of sources — no timeout
    needed. Within a micro-batch the group's rows are ordered by
    ``order_cols`` before placement, so replays of a batch from the same
    state are deterministic (exactly-once through the usual sink)."""
    import pandas as pd

    out_schema = _packing_schema()
    order = list(order_cols)

    def update(key, pdfs, state: GroupState):
        cum = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(order)
        n = rows["n_tok"].to_numpy("int64")
        starts = cum + n.cumsum() - n
        cum = int(cum + n.sum())
        state.update((cum,))
        yield pd.DataFrame({
            "doc_id": rows["doc_id"].astype(str),
            "source": [key[0]] * len(rows),
            "n_tok": n,
            "start_tok": starts,
            "first_seq": starts // seq_len,
            "last_seq": (starts + n - 1) // seq_len,
        })

    return df.groupBy(part_col).applyInPandasWithState(
        update, out_schema, PACKING_STATE, "append", GroupStateTimeout.NoTimeout
    )
