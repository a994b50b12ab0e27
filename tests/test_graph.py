"""Graph materialization + the reference's SQL invariants
(reference CLAUDE.md:437-452) as DataFrame assertions."""

from collections import Counter, deque

import pytest
from pyspark.sql import functions as F

from open_source_legislation_spark.operators import extract, graph
from open_source_legislation_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, transcripts_df, entity_dict_df):
    return run_pipeline(spark, transcripts_df, entity_dict_df)


def test_no_orphans(result):
    assert graph.orphan_nodes(result.nodes).count() == 0


def test_null_parent_only_roots(result):
    assert graph.null_parent_violations(result.nodes).count() == 0
    roots = result.nodes.filter(F.col("parent").isNull())
    assert roots.count() == result.nodes.select("conv_id").distinct().count()


def test_counts_by_level_distribution(result):
    counts = {r["level_classifier"]: r["n"] for r in graph.counts_by_level(result.nodes).collect()}
    assert counts.get("conv", 0) > 0
    assert counts.get("section", 0) > 0
    assert counts.get("chapter", 0) > 0


def test_children_are_ordered_and_complete(result):
    ch = graph.children_agg(result.nodes)
    n_edges = result.nodes.filter(F.col("parent").isNotNull()).count()
    total_children = ch.select(
        F.sum(F.size("direct_children")).alias("s")
    ).collect()[0]["s"]
    assert total_children == n_edges


def test_siblings_exclude_self(result):
    sib = graph.siblings_agg(result.nodes)
    bad = sib.filter(F.array_contains("siblings", F.col("node_id"))).count()
    assert bad == 0


def test_edges_rel_vocabulary(result):
    rels = {r["rel"] for r in result.edges.select("rel").distinct().collect()}
    assert rels == {"child_of", "cites"}


def test_incoming_references_reverse_edges(result):
    inc = graph.incoming_references(result.edges)
    n_cites = result.edges.filter("rel = 'cites'").select("src", "dst").distinct().count()
    total = inc.select(F.sum(F.size("incoming_references"))).collect()[0][0]
    assert total == n_cites


def test_status_values(result):
    statuses = {r["status"] for r in result.nodes.select("status").distinct().collect()}
    assert statuses <= {"valid", "reserved", "repealed", "renumbered"}
    assert "reserved" in statuses  # synth injects [Reserved] sections


def test_version_suffix_determinism(spark, entity_dict_df):
    """Same section heading twice in one conv → second gets -v_2
    (reference scrapingHelpers.py:61-115)."""
    rows = [
        ("c1", 0, "user", "Section 1.1 First", None),
        ("c1", 1, "user", "Section 1.1 Second time", None),
        ("c1", 2, "user", "Section 1.1 Third time", None),
    ]
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["ts"] = pd.Timestamp("2026-01-01")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    from open_source_legislation_spark import schemas

    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    derived = extract.derive_nodes_stream(tdf)
    ids = [r["node_id"] for r in derived.orderBy("turn_idx").collect()]
    assert ids == [
        "conv=c1/section=1.1",
        "conv=c1/section=1.1-v_2",
        "conv=c1/section=1.1-v_3",
    ]


def test_pagerank_int_exact_and_hub_ranked(spark):
    from open_source_legislation_spark.operators import graph

    # star: everyone points at 0, plus a 1->2 edge; 0 must out-rank all
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (1, 2)], "src long, dst long"
    )
    got = {r.node: r.rank for r in graph.pagerank_int(edges, iters=3).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[0] == max(got.values())
    assert got[2] > got[1]            # 2 has an in-edge, 1 has none
    assert got[1] == got[3] == got[4] == 150_000  # no in-edges -> hold mass
    # exact integer determinism: same values under a different partitioning
    again = {
        r.node: r.rank
        for r in graph.pagerank_int(edges.repartition(7), iters=3).collect()
    }
    assert got == again
    # self-loops and duplicate edges are ignored
    noisy = spark.createDataFrame(
        [(1, 0), (1, 0), (0, 0), (2, 0), (3, 0), (4, 0), (1, 2)],
        "src long, dst long",
    )
    assert {r.node: r.rank for r in graph.pagerank_int(noisy, iters=3).collect()} == got


def test_triangle_counts_match_bruteforce(spark):
    from itertools import combinations
    import random

    from open_source_legislation_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    edges = {(rng.randrange(20), rng.randrange(20)) for _ in range(120)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = {x for p in und for x in p}
    brute = {n: 0 for n in nodes}
    for a, b, c in combinations(sorted(nodes), 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            for x in (a, b, c):
                brute[x] += 1
    assert got == brute


def _py_label_propagation(edges, iters):
    """Synchronous LPA reference: most frequent neighbor label, ties to
    the smallest label."""
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(iters):
        lab = {
            n: max(
                Counter(lab[m] for m in adj[n]).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for n in adj
        }
    return lab


def _py_pagerank(edges, iters, base=1_000_000, damping_ppm=850_000):
    """The exact-integer recurrence from the ``pagerank_int`` docstring."""
    e = {p for p in edges if p[0] != p[1]}
    nodes = {x for p in e for x in p}
    outdeg = Counter(a for a, _ in e)
    ranks = {n: base for n in nodes}
    for _ in range(iters):
        incoming = Counter()
        for a, b in e:
            incoming[b] += ranks[a] // outdeg[a]
        ranks = {
            n: (base - damping_ppm) + damping_ppm * incoming[n] // base
            for n in nodes
        }
    return ranks


def _py_bfs(edges, seeds, max_hops):
    """Min hop distance (<= max_hops) from the seed set, seeds at 0."""
    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in seeds}
    q = deque((s, 0) for s in seeds)
    while q:
        n, d = q.popleft()
        if d >= max_hops:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = d + 1
                q.append((m, d + 1))
    return dist


def test_label_propagation_matches_bruteforce(spark):
    import random

    from open_source_legislation_spark.operators.graph import label_propagation

    rng = random.Random(11)
    edges = {(rng.randrange(15), rng.randrange(15)) for _ in range(40)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.label for r in label_propagation(e, iters=2).collect()}
    assert got == _py_label_propagation(edges, 2)


def test_graph_analytics_empty_edges(spark):
    """PageRank, triangles, and LPA all degrade to empty results on an
    empty edge set — no crash, stable schemas."""
    from open_source_legislation_spark.operators.graph import (
        label_propagation,
        pagerank_int,
        triangle_counts,
    )

    e = spark.createDataFrame([], "src long, dst long")
    assert pagerank_int(e, iters=1).count() == 0
    tri = triangle_counts(e)
    assert tri.count() == 0
    assert tri.columns == ["node", "n_triangles"]
    assert label_propagation(e, iters=1).count() == 0


def test_bfs_distances_match_bruteforce(spark):
    import random

    from open_source_legislation_spark.operators.graph import bfs_distances

    rng = random.Random(3)
    edges = {(rng.randrange(30), rng.randrange(30)) for _ in range(70)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    out = bfs_distances(e, seeds, max_hops=3)
    got = {r.node: r.dist for r in out.collect()}
    _unpersist(out)
    assert got == _py_bfs(edges, {0, 1}, 3)


def _ring_edges(spark, n=30):
    return spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 7) % n) for i in range(n)],
        "src long, dst long",
    )


def _unpersist(df):
    for h in getattr(df, "_osl_persists", []):
        h.unpersist()


def _plan_len(df):
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def _ring_pairs(e):
    return [(r["src"], r["dst"]) for r in e.collect()]


def test_iterative_loops_lineage_bounded_at_high_iters(spark):
    """The iters=25 regime: the evolving frame's plan is truncated every
    cadence's worth of iterations, so plan size stays BOUNDED — it does
    not grow with iterations and stays below the pure (untruncated)
    plan one cadence long — instead of stacking 25 join/agg subtrees (the
    iterative-DataFrame failure mode at scale); the results equal plain
    Python references."""
    e = _ring_edges(spark)
    pairs = _ring_pairs(e)

    pr = {n: graph.pagerank_int(e, iters=n) for n in (25, 9, 8)}
    assert _plan_len(pr[25]) <= 1.05 * _plan_len(pr[9])
    assert _plan_len(pr[25]) < _plan_len(pr[8])
    got = {r["node"]: r["rank"] for r in pr[25].collect()}
    for df in pr.values():
        _unpersist(df)
    assert got == _py_pagerank(pairs, 25)

    lp = {n: graph.label_propagation(e, iters=n) for n in (25, 9, 8)}
    assert _plan_len(lp[25]) <= 1.05 * _plan_len(lp[9])
    assert _plan_len(lp[25]) < _plan_len(lp[8])
    got = {r["node"]: r["label"] for r in lp[25].collect()}
    for df in lp.values():
        _unpersist(df)
    assert got == _py_label_propagation(pairs, 25)

    # BFS truncates every 3 hops; 9 and 12 hops both end three pure hops
    # after their last checkpoint, so their plans must match in size
    seeds = spark.createDataFrame([(0,)], "node long")
    b9 = graph.bfs_distances(e, seeds, max_hops=9)
    b12 = graph.bfs_distances(e, seeds, max_hops=12)
    assert _plan_len(b12) <= 1.05 * _plan_len(b9)
    got12 = {r["node"]: r["dist"] for r in b12.collect()}
    _unpersist(b9)
    _unpersist(b12)
    assert got12 == _py_bfs(pairs, {0}, 12)


def test_bfs_distances_plan_bounded_at_default_settings(spark):
    """``settled`` and ``frontier`` embed each other, so an untruncated
    BFS plan grows ~3x per hop (1.9M characters at 8 hops). At default
    settings an 8-hop walk must already be truncated: plan size is
    checked BEFORE any action, then the result against Python BFS."""
    e = _ring_edges(spark)
    seeds = spark.createDataFrame([(0,)], "node long")
    out = graph.bfs_distances(e, seeds, max_hops=8)
    assert _plan_len(out) < 20_000
    got = {r["node"]: r["dist"] for r in out.collect()}
    _unpersist(out)
    assert got == _py_bfs(_ring_pairs(e), {0}, 8)


def _stored_rdd_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_iterative_loops_release_storage(spark, tmp_path):
    """Every cache and lineage checkpoint a loop creates is either released
    inside the loop or handed over via ``_osl_persists`` — through the
    operators that wrap connected components too: after collect +
    unpersisting the handles, block storage holds exactly the RDDs it
    held before the call."""
    from open_source_legislation_spark import queries
    from open_source_legislation_spark.operators import canonicalize, dedup

    e = _ring_edges(spark)
    seeds = spark.createDataFrame([(0,)], "node long")
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i % 5, i) for i in range(20)], "user_id long, event_id long"
    ).write.parquet(f"{sf_dir}/events.parquet")
    # 10~11 and 11~12 are verified near-dup pairs at bands=8 (see
    # test_dedup_scale), so the CC loop runs over a non-empty pair set
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "alpha beta gamma delta epsilon zeta eta iota"),
            (12, "beta gamma delta epsilon zeta eta iota kappa mu"),
            (30, "completely different words about unrelated topics here"),
        ],
        "doc_id long, text string",
    )
    builds = {
        # 17 iterations: the checkpoint at 8 is released inside the loop,
        # the one at 16 is handed over
        "pagerank_int": lambda: graph.pagerank_int(e, iters=17),
        "label_propagation": lambda: graph.label_propagation(e, iters=17),
        "bfs_distances": lambda: graph.bfs_distances(e, seeds, max_hops=8),
        "triangle_counts": lambda: graph.triangle_counts(e),
        "connected_components": lambda: canonicalize.connected_components(e),
        "q_cc_alias": lambda: queries.q_cc_alias(spark, sf_dir),
        "dedup_cluster_keep": lambda: dedup.near_dup_clusters(
            docs, num_perm=16, bands=8, threshold=0.5
        ),
    }
    for name, build in builds.items():
        before = _stored_rdd_ids(spark)
        df = build()
        df.collect()
        _unpersist(df)
        assert _stored_rdd_ids(spark) == before, name


def test_pipeline_cleanup_releases_alias_cc_storage(
    spark, transcripts_df, entity_dict_df, alias_edges_df
):
    """``run_pipeline(alias_edges=)`` runs connected components inside
    the triples plan; ``PipelineResult.cleanup()`` releases the checkpoint
    it hands over."""
    before = _stored_rdd_ids(spark)
    res = run_pipeline(
        spark, transcripts_df, entity_dict_df, alias_edges=alias_edges_df
    )
    assert res.triples.filter(F.col("pred") == "alias_of").count() > 0
    res.cleanup()
    assert _stored_rdd_ids(spark) == before
