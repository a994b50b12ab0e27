"""Per-turn text equality under stable turn ordering — THE row invariant
(BASELINE.json input_hint), plus dedup, dense ordinals, chunk-salted
per-node text reassembly and order-independence properties of the derive
engine (``extract.derive_nodes_stream`` / ``extract.node_text_agg``)."""

from pyspark.sql import functions as F

from open_source_legislation_spark import oracle, rules
from open_source_legislation_spark.operators import extract


def test_per_turn_text_equality(spark, transcripts_df, transcripts_pd, entity_dict_pd):
    """Derived (conv_id, turn_idx) → clean_text equals the oracle's
    ordered, deduped, cleaned turn set exactly."""
    derived = extract.derive_nodes_stream(transcripts_df)
    got = {
        (r["conv_id"], r["turn_idx"]): r["clean_text"]
        for r in derived.select("conv_id", "turn_idx", "clean_text").collect()
    }
    o = oracle.run_oracle(transcripts_pd, entity_dict_pd)
    exp = {
        (r.conv_id, r.turn_idx): r.clean_text
        for r in o["turns"].itertuples(index=False)
    }
    assert got == exp


def test_dedup_first_writer_wins(spark, transcripts_df):
    derived = extract.derive_nodes_stream(transcripts_df)
    dups = (
        derived.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
    # synth injects ~1% duplicates, so dedup must have removed rows
    assert derived.count() < transcripts_df.count()


def test_ord_is_dense_per_conv(spark, transcripts_df):
    derived = extract.derive_nodes_stream(transcripts_df)
    bad = (
        derived.groupBy("conv_id")
        .agg(F.max("ord").alias("mx"), F.count("*").alias("n"))
        .filter(F.col("mx") != F.col("n"))
        .count()
    )
    assert bad == 0


def test_reassemble_documents_order(spark, transcripts_df):
    """Chunked (skew-safe) per-node text reassembly equals a single-phase
    ordered collect — chunk boundaries must not disturb turn order."""
    derived = extract.derive_nodes_stream(transcripts_df)
    docs = extract.node_text_agg(derived, chunk_size=7)
    direct = (
        derived.filter(F.col("node_id").isNull())
        .groupBy("current_node")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "clean_text"))),
                    lambda s: s["clean_text"],
                ),
            ).alias("doc_text")
        )
    )
    got = {r["node_id"]: r["node_text"] for r in docs.collect()}
    exp = {r["current_node"]: r["doc_text"] for r in direct.collect()}
    assert got == exp
    # the stitch phase is exercised: some node spans more than one chunk
    assert docs.filter(F.col("n_paragraphs") > 7).count() > 0
    assert docs.count() == (
        derived.filter(F.col("node_id").isNull())
        .select("current_node")
        .distinct()
        .count()
    )


def test_order_independence_under_repartition(spark, transcripts_df):
    """Shuffled input order / different partitioning → identical output
    (SURVEY §5.2 property 5)."""
    a = extract.derive_nodes_stream(transcripts_df, num_partitions=3)
    b = extract.derive_nodes_stream(transcripts_df.repartition(17), num_partitions=None)
    cols = ["conv_id", "turn_idx", "clean_text", "ord"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_clean_udf_matches_rules(spark, transcripts_df):
    sample = transcripts_df.limit(200).withColumn(
        "c", extract.turn_payload_udf("text").getField("clean_text")
    )
    for r in sample.select("text", "c").collect():
        assert r["c"] == rules.clean_text(r["text"])
