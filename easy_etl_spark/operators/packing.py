"""Sequence packing for LM training: concatenate the token stream in a
deterministic document order and split it into fixed-length training
sequences ("concat-and-split" packing). Each document is assigned the
sequence its first token lands in, from its exclusive running token
offset.

The exact global prefix sum is ``ranking.global_running_offset`` —
no single-partition window; operators/ranking.py holds the account of
the partition-offset scheme and its pin. Beyond the reference's
surface (exit99/easy-etl has no text pipeline); part of the
BASELINE.json north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranking import global_running_offset


def pack_sequences(
    tokens_df: DataFrame,
    seq_len: int,
    *,
    n_col: str = "n_tokens",
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign each doc the training sequence containing its first
    token: ``seq_id = floor(start_ofs / seq_len)``."""
    ofs = global_running_offset(tokens_df, n_col, order_col)
    return ofs.withColumn("seq_id", F.floor(F.col("start_ofs") / seq_len))
