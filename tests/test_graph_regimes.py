"""Graph edge-generation regimes: the bitmap path and the bucket-join
dispatch target must produce the identical edge set, the 2-hop queries'
wedge-join fallbacks must match their bitmap paths exactly, and the
all-pairs join must keep its heavy predicates OUT of the join condition
(test-time AND via the debug-mode runtime assertion)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bfs_etl_sep2025_spark import registry
from bfs_etl_sep2025_spark.operators import _fixpoint, graph
from bfs_etl_sep2025_spark.operators._barrier import (
    PLAN_ASSERT_CONF,
    assert_no_join_pushdown,
    barrier_filter,
)
from bfs_etl_sep2025_spark.operators.graph import (
    _edges,
    _edges_bucket_join,
)
from bfs_etl_sep2025_spark.tables import load

SF = "/root/testdata/sf0.01"


def _occ(spark):
    return (
        load(spark, SF, "events")
        .select("user_id", "event_type", F.col("ts").cast("date").alias("day"))
        .distinct()
    )


def test_bucket_join_dispatch_target_matches_bitmap_path(spark):
    """The many-buckets regime dispatches to _edges_bucket_join; its edge
    set must be row-identical to the bitmap path's (popcount of AND ==
    join group count, by construction — asserted here on real data)."""
    bitmap = {(r.u, r.v) for r in _edges(spark, SF).collect()}
    join = {(r.u, r.v) for r in _edges_bucket_join(_occ(spark)).collect()}
    assert bitmap == join
    assert len(bitmap) > 0  # non-degenerate fixture


def test_allpairs_join_condition_carries_no_popcount(spark):
    """barrier_filter must keep the shared-bucket threshold above the
    join: the BroadcastNestedLoopJoin condition line contains only the
    id inequality, never the bit_count chain (the bound-condition path is
    not whole-stage-codegen'd — the pathology measured at sf1)."""
    df = _edges(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    join_lines = [l for l in plan.splitlines() if "NestedLoopJoin" in l]
    assert join_lines, "expected a broadcast all-pairs join in the plan"
    for line in join_lines:
        assert "bit_count" not in line, "popcount pushed into join condition"


@pytest.mark.parametrize(
    "name",
    ["graph_pagerank", "graph_connected_components", "dedup_minhash_clusters"],
)
def test_fixpoint_broadcast_regime_matches_shuffle(spark, monkeypatch, name):
    """No fixture is big enough to pass the broadcast guard's edge-row leg
    (2M symmetric rows), so the sf0.01 graphs run the shuffle join. With
    the leg forced to 0 the per-node state is broadcast every round (the
    spy sees it: the graph memo is already built, so every broadcast in
    the second run is the fixpoint's), and the rows must be identical."""
    fn = registry.all_specs()[name].fn
    want = [tuple(r) for r in fn(spark, SF).collect()]
    hints = []
    real = F.broadcast
    monkeypatch.setattr(F, "broadcast", lambda df: hints.append(df) or real(df))
    monkeypatch.setattr(_fixpoint, "_MIN_BROADCAST_EDGE_ROWS", 0)
    got = [tuple(r) for r in fn(spark, SF).collect()]
    assert hints, "the forced regime did not broadcast"
    assert got == want and len(want) > 0


def test_triangle_wedge_fallback_matches_bitmap(spark, monkeypatch):
    """Past the adjacency-bitmap bound, graph_triangle_count dispatches to
    the degree-ordered wedge join; with the guard lowered to 64 nodes the
    sf0.01 graph (~145 nodes) takes the fallback, which must return the
    identical (n_edges, n_triangles) row as the bitmap path."""
    want = graph.graph_triangle_count(spark, SF).collect()[0]
    monkeypatch.setattr(graph, "_MAX_ADJ_WORDS", 1)
    got = graph.graph_triangle_count(spark, SF).collect()[0]
    assert (got.n_edges, got.n_triangles) == (want.n_edges, want.n_triangles)
    assert want.n_triangles > 0  # non-degenerate fixture


def test_linkpred_wedge_fallback_matches_bitmap(spark, monkeypatch):
    """Same equivalence for common-neighbors link prediction: the wedge
    fallback's top-20 (fully tie-broken ordering) must be row-identical to
    the bitmap path's."""
    want = [tuple(r) for r in graph.graph_link_prediction_cn(spark, SF).collect()]
    monkeypatch.setattr(graph, "_MAX_ADJ_WORDS", 1)
    got = [tuple(r) for r in graph.graph_link_prediction_cn(spark, SF).collect()]
    assert got == want
    assert len(want) == 20


def test_jaccard_wedge_fallback_matches_bitmap(spark, monkeypatch):
    """Jaccard link prediction dispatches like CN: the sparse wedge path
    (guard lowered) must produce the bitmap path's exact top-20 — counts,
    degrees, and the IEEE-divided jaccard included."""
    want = [
        tuple(r)
        for r in graph.graph_link_prediction_jaccard(spark, SF).collect()
    ]
    monkeypatch.setattr(graph, "_MAX_ADJ_WORDS", 1)
    got = [
        tuple(r)
        for r in graph.graph_link_prediction_jaccard(spark, SF).collect()
    ]
    assert got == want
    assert len(want) == 20


def test_runtime_plan_assert_catches_pushdown(spark):
    """assert_no_join_pushdown must raise on a plan where the popcount
    threshold WAS pushed into the nested-loop join condition (the exact
    pathology the barrier exists to prevent) — built here by filtering
    without the barrier."""
    a = spark.range(4).select(
        F.col("id").alias("u"),
        F.array((F.col("id") % 3).cast("bigint")).alias("ma"),
    )
    b = spark.range(4).select(
        F.col("id").alias("v"),
        F.array((F.col("id") % 5 + 1).cast("bigint")).alias("mb"),
    )
    bad = (
        a.join(F.broadcast(b), F.col("u") < F.col("v"))
        .select(
            "u",
            "v",
            F.expr(
                "bit_count(element_at(ma, 1) & element_at(mb, 1))"
            ).alias("s"),
        )
        .filter(F.col("s") > 0)
    )
    with pytest.raises(AssertionError, match="pushdown barrier violated"):
        assert_no_join_pushdown(bad)


def test_runtime_plan_assert_flag_passes_barriered_plan(spark):
    """With spark.bfs.debug.planAssert=true, barrier_filter self-checks its
    optimized plan at construction time and passes when the barrier held —
    and the guarded result equals the unbarriered filter's rows."""
    a = spark.range(4).select(
        F.col("id").alias("u"),
        F.array((F.col("id") % 3).cast("bigint")).alias("ma"),
    )
    b = spark.range(4).select(
        F.col("id").alias("v"),
        F.array((F.col("id") % 5 + 1).cast("bigint")).alias("mb"),
    )
    scored = a.join(F.broadcast(b), F.col("u") < F.col("v")).select(
        "u",
        "v",
        F.expr("bit_count(element_at(ma, 1) & element_at(mb, 1))").alias("s"),
    )
    spark.conf.set(PLAN_ASSERT_CONF, "true")
    try:
        good = barrier_filter(scored, F.col("s") > 0)
        rows = {(r.u, r.v) for r in good.collect()}
    finally:
        spark.conf.set(PLAN_ASSERT_CONF, "false")
    assert rows == {
        (u, v)
        for u in range(4)
        for v in range(4)
        if u < v and ((u % 3) & (v % 5 + 1)) != 0
    }


def test_nlj_condition_parser_units():
    """The balanced-paren condition extractor (ADVICE r6): only the bound
    condition is returned — never output lists after it, never a bare join
    type; ExistenceJoin's own parens don't confuse the head."""
    from bfs_etl_sep2025_spark.operators._barrier import _nlj_condition

    line = (
        ":- BroadcastNestedLoopJoin BuildRight, Inner, "
        "((u#1 < v#2) AND bit_count(x#3) > 0) [plan_id=7]"
    )
    assert _nlj_condition(line) == "((u#1 < v#2) AND bit_count(x#3) > 0)"
    # condition-less joins: bare, with type, with trailing output list
    assert _nlj_condition("BroadcastNestedLoopJoin BuildRight") is None
    assert _nlj_condition("BroadcastNestedLoopJoin BuildRight, Cross") is None
    assert _nlj_condition("BroadcastNestedLoopJoin BuildLeft, Inner") is None
    # the r6 false-positive shape: heavy token in a printed column list,
    # not in any condition (no ", (" follows the head)
    assert (
        _nlj_condition(
            "BroadcastNestedLoopJoin BuildRight, Inner "
            "[bit_count(mask#9) AS deg#10]"
        )
        is None
    )
    # ExistenceJoin prints parens in the TYPE; the condition follows
    assert (
        _nlj_condition(
            "BroadcastNestedLoopJoin BuildRight, "
            "ExistenceJoin(exists#407), (a#1 = b#2)"
        )
        == "(a#1 = b#2)"
    )
    # truncated plan line: keep the tail rather than under-matching
    assert _nlj_condition(
        "BroadcastNestedLoopJoin BuildRight, Inner, (bit_count(x#3"
    ) == "(bit_count(x#3"


def test_graph_memo_sees_rewritten_files(spark, tmp_path):
    """The graph memo is keyed on the files under ``sf_dir``: after
    ``events.parquet`` is rewritten with a third of its rows, a query
    answers from the new file, exactly as a cleared memo does."""
    import shutil

    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    before = tuple(graph.graph_triangle_count(spark, sf).collect()[0])
    events = pq.read_table(f"{sf}/events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 3), f"{sf}/events.parquet")
    got = tuple(graph.graph_triangle_count(spark, sf).collect()[0])
    graph.clear_edge_memo()
    want = tuple(graph.graph_triangle_count(spark, sf).collect()[0])
    assert want != before  # the rewrite changes the answer
    assert got == want
    graph.clear_edge_memo()


_GRAPH_QUERIES = sorted(
    n for n, spec in registry.all_specs().items() if spec.family == "graph"
)


@pytest.mark.parametrize("name", _GRAPH_QUERIES)
def test_graph_query_answers_the_empty_graph(spark, tmp_path, name):
    """On a graph with no edges every graph query returns its defined empty
    answer: ``(0, 0)`` for the triangle count, no rows for the rest (BFS
    stops at its empty seed layer)."""
    import shutil

    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    events = pq.read_table(f"{sf}/events.parquet")
    pq.write_table(events.slice(0, 0), f"{sf}/events.parquet")
    try:
        fn = registry.all_specs()[name].fn
        got = [tuple(r) for r in fn(spark, sf).collect()]
    finally:
        graph.clear_edge_memo()
    assert got == ([(0, 0)] if name == "graph_triangle_count" else [])


def test_bfs_stops_at_first_empty_layer_and_returns_at_the_cap(
    spark, monkeypatch
):
    """BFS stops at its first empty hop layer: the sf0.01 graph runs out of
    new nodes before the hop cap. A hop cap the graph outruns returns the
    capped distances, the same rows as the uncapped answer's first hops,
    and never raises. (The empty graph, where the first empty layer is the
    seed layer, is test_graph_query_answers_the_empty_graph.)"""
    full = [tuple(r) for r in graph.graph_bfs_distances(spark, SF).collect()]
    assert 1 < max(d for _, d in full) < graph._BFS_MAX
    monkeypatch.setattr(graph, "_BFS_MAX", 1)
    capped = [tuple(r) for r in graph.graph_bfs_distances(spark, SF).collect()]
    assert capped == [(u, d) for u, d in full if d <= 1]
