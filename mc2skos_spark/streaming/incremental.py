"""Conversation-completeness gate over transcript turns.

A conversation's turns can land in different files, and a file-based
micro-batch can deliver a later turn before an earlier one, so a
conversation may only be reassembled and extracted once all of its
turns are present.  :func:`complete_conversations` is that predicate;
the registered query ``st_completeness_gate`` runs it batch-expressed
against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def complete_conversations(turns: DataFrame) -> DataFrame:
    """``(conv_id)`` of conversations that are COMPLETE in ``turns``:
    the predicate that decides exactly-once extraction.

    A conversation is complete iff its turns cover the contiguous range
    0..max AND the max turn is the terminal marker (assistant says
    "done").  The marker alone is not enough: file-based micro-batches
    split a conversation's rows arbitrarily, so later turn_idx values
    can arrive in an *earlier* batch than earlier ones.  Duplicate
    (conv_id, turn_idx) deliveries are tolerated (count_distinct), so
    the gate may run on raw merged state before dedup.
    """
    terminal = F.max(F.when((F.col("role") == "assistant") &
                            (F.col("text") == "done"),
                            F.col("turn_idx")))
    return (turns.groupBy("conv_id")
            .agg(F.count_distinct("turn_idx").alias("n_turns"),
                 F.max("turn_idx").alias("max_idx"),
                 terminal.alias("done_idx"))
            .filter((F.col("done_idx") == F.col("max_idx")) &
                    (F.col("n_turns") == F.col("max_idx") + 1))
            .select("conv_id"))
