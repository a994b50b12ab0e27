"""The derive engine must reproduce the pure-Python oracle exactly —
triples, deduped/cleaned turns and hierarchy nodes — on every input
(duplicates, hot-conversation skew, a conversation spanning many Arrow
batches, dirty text), and its output must not depend on the partition
count."""

from __future__ import annotations

import pandas as pd

from open_source_legislation_spark import oracle, schemas, synth
from open_source_legislation_spark.plans.pipeline import run_pipeline

def _rows(pdf: pd.DataFrame, cols: list[str]) -> set[tuple]:
    """Row set of a pandas frame with NaN/NaT read as None (Spark's null)."""
    return {
        tuple(None if pd.isna(v) else v for v in row)
        for row in pdf[cols].itertuples(index=False)
    }


def _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf):
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    res = run_pipeline(spark, tdf, entity_dict_df)
    try:
        triples = set(
            map(tuple, res.triples.select("subj", "pred", "obj").collect())
        )
        turns = set(
            map(tuple, res.turns.select("conv_id", "turn_idx", "clean_text").collect())
        )
        nodes = set(
            map(
                tuple,
                res.nodes.select("node_id", "level_classifier", "parent", "status")
                .collect(),
            )
        )
    finally:
        res.cleanup()
    o = oracle.run_oracle(pdf, entity_dict_pd)
    assert triples  # non-empty
    assert triples == _rows(o["triples"], ["subj", "pred", "obj"])
    assert turns == _rows(o["turns"], ["conv_id", "turn_idx", "clean_text"])
    assert nodes == _rows(
        o["nodes"], ["node_id", "level_classifier", "parent", "status"]
    )


def test_engines_equivalent_base(spark, entity_dict_df, entity_dict_pd):
    pdf = synth.make_transcripts(seed=13, n_turns_target=900)
    _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf)


def test_engines_equivalent_skewed_dups(spark, entity_dict_df, entity_dict_pd):
    pdf = synth.make_transcripts(
        seed=99, n_turns_target=1500, hot_fraction=0.35, dup_fraction=0.08
    )
    _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf)


def test_engine_matches_oracle_on_giant_conv(spark, entity_dict_df, entity_dict_pd):
    """45% of all turns in one conversation, duplicates included, through
    64-row Arrow batches: the hot conversation spans many batches, so the
    state kernel's cross-batch carry (stack, id counts, open node, defs
    scope, ordinals) must be exact for the oracle match to hold."""
    pdf = synth.make_transcripts(
        seed=31, n_turns_target=1200, hot_fraction=0.45, dup_fraction=0.06
    )
    hot = pdf.groupby("conv_id").size().idxmax()
    assert pdf[pdf.conv_id == hot].turn_idx.max() >= 120
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf)
    finally:
        spark.conf.set(key, old)


def test_stream_engine_partitioning_invariant(spark, entity_dict_df):
    """Output must not depend on the partition count (state stitching across
    Arrow batches and partition boundaries)."""
    pdf = synth.make_transcripts(seed=5, n_turns_target=700)
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    # tiny Arrow batches force conversations to span batch boundaries inside
    # a partition — the kernel's cross-batch state carry must be exact
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        base = None
        for nparts in (1, 3, 16):
            res = run_pipeline(spark, tdf, entity_dict_df, num_partitions=nparts)
            got = set(
                map(tuple, res.triples.select("subj", "pred", "obj").collect())
            )
            res.cleanup()
            if base is None:
                base = got
            else:
                assert got == base, f"partition count {nparts} changed the output"
    finally:
        spark.conf.set(key, old)
