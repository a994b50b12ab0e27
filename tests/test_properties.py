"""Property-based tests (SURVEY §5.2 item 5).

- pure-rules properties run hundreds of hypothesis examples (no Spark);
- Spark-level properties (input-order invariance, repartition invariance,
  duplicate-injection determinism) run a few seeded examples — each costs a
  pipeline run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from open_source_legislation_spark import oracle, rules, schemas, synth

# ---------------------------------------------------------------------------
# Pure-rules properties (fast, many examples)
# ---------------------------------------------------------------------------

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300
)


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_clean_text_idempotent(s):
    once = rules.clean_text(s)
    assert rules.clean_text(once) == once


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_rules_total_on_arbitrary_unicode(s):
    """No rule kernel may throw on any input row (a crash in a pandas UDF
    kills the whole task at scale)."""
    c = rules.clean_text(s)
    rules.parse_hierarchy_marker(c)
    rules.is_definitions_header(c)
    rules.extract_mentions(c)
    rules.extract_definitions(c, True)
    rules.extract_definitions(c, False)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_defs_scope_closed_is_subset_of_open(s):
    """extract_definitions(t, False) must equal the scope-open result minus
    emphasized entries — the invariant the stream engine's JVM-side filter
    relies on (extract.derive_nodes_stream)."""
    c = rules.clean_text(s)
    open_defs = rules.extract_definitions(c, True)
    closed = rules.extract_definitions(c, False)
    assert closed == [d for d in open_defs if d["kind"] != "emphasized"]


# ---------------------------------------------------------------------------
# Spark-level properties (few seeded examples)
# ---------------------------------------------------------------------------


def _triples_set(spark, pdf, parts=None):
    from open_source_legislation_spark.plans.pipeline import run_pipeline

    ed = spark.createDataFrame(
        synth.make_entity_dictionary(), schema=schemas.ENTITY_DICTIONARY
    )
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    res = run_pipeline(spark, tdf, ed, num_partitions=parts)
    out = set(map(tuple, res.triples.select("subj", "pred", "obj").collect()))
    res.cleanup()
    return out


@settings(
    max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_input_order_and_partitioning_invariance(spark, seed):
    base = synth.make_transcripts(seed=seed, n_turns_target=250)
    rng = np.random.default_rng(seed + 1)
    shuffled = base.iloc[rng.permutation(len(base))].reset_index(drop=True)
    assert _triples_set(spark, base, parts=2) == _triples_set(
        spark, shuffled, parts=7
    )


@settings(
    max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_duplicate_injection_deterministic(spark, seed):
    """Re-injecting exact duplicates never changes the output (first-writer
    -wins dedup), and the run is reproducible — both vs the oracle."""
    base = synth.make_transcripts(seed=seed, n_turns_target=250)
    rng = np.random.default_rng(seed + 2)
    dup_rows = base.iloc[rng.choice(len(base), size=len(base) // 5)]
    dup = pd.concat([base, dup_rows], ignore_index=True)
    dup = dup.iloc[rng.permutation(len(dup))].reset_index(drop=True)

    got = _triples_set(spark, dup)
    assert got == _triples_set(spark, base)

    ed = synth.make_entity_dictionary()
    o = oracle.run_oracle(dup, ed)
    exp = set(
        map(tuple, o["triples"][["subj", "pred", "obj"]].itertuples(index=False))
    )
    assert oracle.precision_recall(got, exp) == (1.0, 1.0)


@settings(
    max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_engine_property_matches_oracle_on_hot_conv(spark, seed):
    """Random input with a hot conversation and duplicates: the derive
    engine's triples equal the oracle's under arbitrary seeds, not just
    the fixture in test_engines_equivalent."""
    pdf = synth.make_transcripts(
        seed=seed, n_turns_target=400, hot_fraction=0.4, dup_fraction=0.05
    )
    got = _triples_set(spark, pdf)
    o = oracle.run_oracle(pdf, synth.make_entity_dictionary())
    exp = set(
        map(tuple, o["triples"][["subj", "pred", "obj"]].itertuples(index=False))
    )
    assert oracle.precision_recall(got, exp) == (1.0, 1.0)
