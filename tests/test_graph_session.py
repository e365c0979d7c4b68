"""Unit tests for the round-4 graph/sessionization operators.

PageRank vectors are computed by hand-unrolling the exact integer
recurrence on a 4-node graph; sessionization vectors come from a
handwritten timeline with boundary-exact gaps.
"""

import datetime as dt

import pytest

from mc2skos_spark.operators.graph import SCALE, pagerank
from mc2skos_spark.operators.sessionize import (event_micros,
                                                session_stats, sessionize)


def _reference_pagerank(edges, iterations, damping_pct=85):
    """Driver-side integer-exact reimplementation (plain Python)."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    od = {}
    for s, _ in edges:
        od[s] = od.get(s, 0) + 1
    base = (SCALE * (100 - damping_pct)) // (100 * n)
    r = {v: SCALE // n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += (r[s] * damping_pct) // (100 * od[s])
        r = {v: base + contrib[v] for v in nodes}
    return r


@pytest.mark.parametrize("iterations", [1, 3])
def test_pagerank_matches_integer_reference(spark, iterations):
    # diamond + dangling sink: 1->2, 1->3, 2->4, 3->4 (4 has no out)
    edges = [(1, 2), (1, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank(df, iterations=iterations).collect()}
    assert got == _reference_pagerank(edges, iterations)


def test_pagerank_multigraph_counts_parallel_edges(spark):
    # two parallel 1->2 edges and one 1->3: node 2 gets 2/3 of 1's mass
    edges = [(1, 2), (1, 2), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank(df, iterations=1).collect()}
    assert got == _reference_pagerank(edges, 1)
    assert got[2] > got[3]


def test_pagerank_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=100)


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def test_sessionize_gap_boundary_is_exclusive(spark):
    # user 1: events at 0, 60 (gap == 3600s exactly -> SAME session),
    # then 121 (gap 3660s > 3600 -> new session).  user 2: single event.
    rows = [(1, 10, _ts(0)), (1, 11, _ts(60)), (1, 12, _ts(121)),
            (2, 20, _ts(5))]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz")
    got = {(r["user_id"], r["event_id"]): r["session_id"]
           for r in sessionize(df, gap_seconds=3600).collect()}
    assert got == {(1, 10): 1, (1, 11): 1, (1, 12): 2, (2, 20): 1}


def test_sessionize_ties_break_on_event_id(spark):
    # two events at the identical timestamp: deterministic order, one
    # session, regardless of input row order
    rows = [(1, 11, _ts(0)), (1, 10, _ts(0))]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz")
    out = sessionize(df, gap_seconds=60).collect()
    assert {r["session_id"] for r in out} == {1}


def test_session_stats_rollup(spark):
    rows = [(1, 10, _ts(0)), (1, 11, _ts(30)), (1, 12, _ts(200)),
            (2, 20, _ts(5))]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz")
    out = {(r["user_id"], r["session_id"]): r
           for r in session_stats(df, gap_seconds=3600).collect()}
    s11 = out[(1, 1)]
    assert s11["n_events"] == 2
    assert s11["duration_us"] == 30 * 60 * 1_000_000
    assert out[(1, 2)]["n_events"] == 1
    assert out[(2, 1)]["n_events"] == 1


def test_event_micros_matches_ntz_epoch(spark):
    df = spark.createDataFrame([(dt.datetime(1970, 1, 1, 0, 0, 1),)],
                               "ts timestamp_ntz")
    assert df.select(event_micros("ts").alias("us")).first()["us"] \
        == 1_000_000


def test_sessionize_rejects_nonpositive_gap(spark):
    df = spark.createDataFrame([(1, 1, _ts(0))],
                               "user_id long, event_id long, ts timestamp_ntz")
    with pytest.raises(ValueError):
        sessionize(df, gap_seconds=0)


def _tri_frame(spark, pairs, path=None):
    """triangle_counts over ``pairs``; with ``path``, over a parquet
    table of them written there and read back."""
    from mc2skos_spark.operators.graph import triangle_counts
    df = spark.createDataFrame(pairs, "src long, dst long")
    if path is not None:
        df.write.parquet(path)
        df = spark.read.parquet(path)
    return triangle_counts(df)


def _tri(spark, pairs, path=None):
    return {r["node"]: r["n_triangles"]
            for r in _tri_frame(spark, pairs, path).collect()}


def _brute_triangles(pairs):
    """Per-node triangle counts of the undirected simple graph under
    ``pairs``, by enumerating every id-ordered node triple's edges."""
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = sorted({n for e in und for n in e})
    out: dict = {}
    for i, a in enumerate(nodes):
        for j, b in enumerate(nodes[i + 1:], i + 1):
            if (a, b) not in und:
                continue
            for c in nodes[j + 1:]:
                if (a, c) in und and (b, c) in und:
                    for v in (a, b, c):
                        out[v] = out.get(v, 0) + 1
    return out


def _random_edges(seed, n_nodes=60, n_edges=300):
    """Seeded random edges with reversed copies, duplicates and
    self-loops mixed in."""
    import random
    rng = random.Random(seed)
    pairs = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
             for _ in range(n_edges - 30)]
    pairs += [(b, a) for a, b in rng.sample(pairs, 10)]
    pairs += rng.sample(pairs, 10)
    pairs += [(v, v) for v in rng.sample(range(n_nodes), 10)]
    assert len(pairs) == n_edges
    return pairs


def test_triangles_k4_complete_graph(spark):
    # K4: four triangles, each node in exactly three
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert _tri(spark, edges) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_square_has_none(spark):
    assert _tri(spark, [(0, 1), (1, 2), (2, 3), (3, 0)]) == {}


def test_triangles_canonicalize_directions_dups_loops(spark):
    # one triangle given as mixed directions + duplicates + self-loop
    edges = [(1, 2), (2, 1), (3, 2), (1, 3), (1, 1), (1, 3)]
    assert _tri(spark, edges) == {1: 1, 2: 1, 3: 1}


def test_triangles_random_graph_matches_brute_force(spark):
    pairs = _random_edges(seed=17)
    want = _brute_triangles(pairs)
    assert sum(want.values()) > 0
    assert _tri(spark, pairs) == want


def test_triangles_read_parquet_input_once(spark, tmp_path):
    # the edge set and its orientation are computed once, so the
    # result's plan holds at most one scan of the input, not one per
    # reference to the edge set
    pairs = _random_edges(seed=29)
    res = _tri_frame(spark, pairs, str(tmp_path / "edges"))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 1, plan
    assert {r["node"]: r["n_triangles"] for r in res.collect()} == \
        _brute_triangles(pairs)


def test_triangles_hub_orientation_bounds_wedges(spark):
    # star hub (no triangles) + one pendant triangle: the hub's high
    # degree must not generate hub-apex wedges
    star = [(100, i) for i in range(10, 30)]
    tri = [(0, 1), (1, 2), (2, 0)]
    got = _tri(spark, star + tri)
    assert got == {0: 1, 1: 1, 2: 1}


def _reference_pagerank_dangling(edges, iterations, damping_pct=85):
    """Mass-conserving variant: each round the dangling nodes' summed
    rank is damped and split N ways (exact integer div)."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    od = {}
    for s, _ in edges:
        od[s] = od.get(s, 0) + 1
    dangling = [v for v in nodes if v not in od]
    base = (SCALE * (100 - damping_pct)) // (100 * n)
    r = {v: SCALE // n for v in nodes}
    for _ in range(iterations):
        dm = sum(r[v] for v in dangling)
        share = (dm * damping_pct) // (100 * n)
        contrib = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += (r[s] * damping_pct) // (100 * od[s])
        r = {v: base + contrib[v] + share for v in nodes}
    return r


@pytest.mark.parametrize("iterations", [1, 3])
def test_pagerank_dangling_redistribution(spark, iterations):
    """Hand-unrolled vector: diamond + dangling sink — node 4's damped
    mass must come back uniformly instead of leaking, raising every
    node by exactly (dm*85)//(100*4) per round."""
    edges = [(1, 2), (1, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank(df, iterations=iterations,
                             redistribute_dangling=True).collect()}
    exp = _reference_pagerank_dangling(edges, iterations)
    assert got == exp
    leak = _reference_pagerank(edges, iterations)
    assert all(got[v] > leak[v] for v in got)   # strictly more mass
    # round-1 closed form: every node gains share = (dm*85)//(100*4)
    # where dm is node 4's initial rank SCALE//4
    if iterations == 1:
        share = ((SCALE // 4) * 85) // (100 * 4)
        assert all(got[v] - leak[v] == share for v in got)
    # mass conservation (up to integer-div truncation, strictly
    # bounded by one unit per node per term)
    assert abs(sum(got.values()) - SCALE) < 3 * len(got) * iterations
