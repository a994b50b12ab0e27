"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG-construction DAG end-to-end on transcripts
derived from the driver's sf0.001 ``documents`` table; ``queries`` /
``oracle_sql`` expose the SURVEY.md §2 operator inventory plus the
training-data-pipeline operators with DuckDB oracles.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (pre-shuffle payload Arrow kernel →
    conv_id shuffle + sort → sequential state pass (dedup, ordinals,
    hierarchy) → broadcast linking) over transcripts
    synthesized from the sf0.001 documents table; returns the triples frame.
    """
    from open_source_legislation_spark import schemas, synth
    from open_source_legislation_spark.plans.pipeline import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # documents → transcript rows: conv per source, turns ordered by doc_id,
    # text enriched with a deterministic citation + section heading so every
    # extraction stage has work to do.
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .cast("int")
        .alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit("Section 1."),
                    (F.col("doc_id") % 5 + 1).cast("string"),
                    F.lit(" Scope. "),
                ),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.lit(" See "),
            (F.col("doc_id") % 50 + 1).cast("string"),
            F.lit(" CFR Part "),
            (100 + (F.col("doc_id") % 5) * 5).cast("string"),
            F.lit("."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    entity_dict = spark.createDataFrame(
        synth.make_entity_dictionary(), schema=schemas.ENTITY_DICTIONARY
    )
    res = run_pipeline(spark, transcripts, entity_dict)
    return res.triples


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from open_source_legislation_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    # resolve_oracle_sql materializes the data-dependent oracles
    # (sim_ivf_build trains its k-means model on the gate data) against
    # $SPARK_GRAFT_ORACLE_SF_DIR, defaulting to the driver's sf0.01 gate.
    from open_source_legislation_spark.queries import resolve_oracle_sql

    return resolve_oracle_sql()
