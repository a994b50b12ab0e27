"""Stable-ordered turn reassembly per conversation.

Transcript analog of the reference's stable processing order + paragraph
reassembly: ``node_order SERIAL`` / ``ORDER BY node_order`` (reference
``scrapeMI.py:68``, ``processingHelpers.py:59-65``) becomes a window over
``(turn_idx, ts)``; ``NodeText.to_list_text()`` paragraph-index sort +
join (reference ``pydanticModels.py:287-296``) becomes
``array_sort(collect_list(struct(...)))`` + ``concat_ws``.

Scale notes (10^12 turns): the only shuffle is the hash repartition on
``conv_id``; the window and the grouped aggregation reuse that partitioning
(co-planned, one exchange). Hot conversations (FIXTURES.md requires one conv
holding ~10% of rows) are handled by *chunked* reassembly: a first
aggregation on ``(conv_id, chunk = turn_idx div chunk_size)`` bounds
per-group state, then a second, tiny aggregation stitches ordered chunks —
the salting strategy SURVEY §2.10 / §7.4.1 calls for, with order preserved
because chunk ranges align with turn ranges.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import rules


@pandas_udf(T.StringType())
def clean_text_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched text normalization (reference scrapingHelpers.py:196-220).

    Shares ``rules.clean_text`` with the oracle so the two cannot drift.
    """
    return texts.map(rules.clean_text)


def conv_root_col(conv_id: Column) -> Column:
    """Column form of rules.conv_root_id."""
    return F.concat(F.lit("conv="), conv_id)


def ordered_turns(
    transcripts: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dedup + stable order + clean.

    - exact ``(conv_id, turn_idx)`` duplicates resolved first-writer-wins by
      ``(ts, md5(text))`` (reference dedup_skip, scrapingHelpers.py:110-114);
      collision count is recoverable as ``dup_rank > 1`` rows upstream;
    - ``ord`` is the stable ordinal (row_number over turn_idx) — the
      ``node_order SERIAL`` analog;
    - ``clean_text`` added via the shared Arrow UDF.
    """
    df = transcripts
    if num_partitions:
        df = df.repartition(num_partitions, "conv_id")
    # md5 tie-break matches the oracle and keeps full text out of sort keys
    w_dup = Window.partitionBy("conv_id", "turn_idx").orderBy("ts", F.md5("text"))
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.withColumn("dup_rank", F.row_number().over(w_dup))
        .filter(F.col("dup_rank") == 1)
        .drop("dup_rank")
        .withColumn("ord", F.row_number().over(w_ord))
        .withColumn("clean_text", clean_text_udf("text"))
    )


def reassemble_documents(
    ordered: DataFrame, chunk_size: int = 1024, sep: str = "\n"
) -> DataFrame:
    """Per-conversation document text: ``conv_id, doc_text, n_turns``.

    Two-phase chunked aggregation (skew-safe): phase 1 groups on
    ``(conv_id, chunk)`` so no single reduce task holds a whole hot
    conversation; phase 2 stitches the ordered chunks. Equivalent to a plain
    ``collect_list`` + sort but with bounded per-group memory at 10^12-turn
    scale (SURVEY §7.4.1).
    """
    chunked = (
        ordered.withColumn("chunk", (F.col("turn_idx") / F.lit(chunk_size)).cast("long"))
        .groupBy("conv_id", "chunk")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "clean_text"))),
                    lambda s: s["clean_text"],
                ),
            ).alias("chunk_text"),
            F.count("*").alias("chunk_turns"),
        )
    )
    return (
        chunked.groupBy("conv_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
            ).alias("doc_text"),
            F.sum("chunk_turns").cast("long").alias("n_turns"),
        )
    )
