"""Transitive closure (skosify transitive=True analog) and the
range-partitioned global rank operator."""

import pytest
from pyspark.sql import Window, functions as F

from mc2skos_spark.core import constants as C
from mc2skos_spark.operators.closure import (broader_transitive,
                                             transitive_closure)
from mc2skos_spark.operators.extract import (extract_triples,
                                             triples_from_extracted)
from mc2skos_spark.operators.rank import global_rank
from mc2skos_spark.plans import schemas
from mc2skos_spark.sources.synth import make_transcript_rows
from mc2skos_spark.sources.transcripts import reassemble_records

pytestmark = pytest.mark.spark


def test_transitive_closure_chain_and_dag(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),          # chain depth 3
         ("x", "c"),                                  # dag merge
         ("p", "q")],
        ["src", "dst"])
    got = {(r["src"], r["dst"]) for r in transitive_closure(edges).collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"),
                   ("b", "c"), ("b", "d"), ("c", "d"),
                   ("x", "c"), ("x", "d"), ("p", "q")}
    # idempotent: closing a closed set adds nothing — and the count
    # that materializes the edge list seeds the fixpoint test, so a
    # closed input (here also a one-level hierarchy) needs ONE round
    closed = spark.createDataFrame([(s, d) for s, d in got], ["src", "dst"])
    assert transitive_closure(closed, max_rounds=1).count() == len(got)
    one_level = spark.createDataFrame(
        [("a", "r"), ("b", "r"), ("c", "s")], ["src", "dst"])
    assert transitive_closure(one_level, max_rounds=1).count() == 3
    # a depth-3 chain cannot close in one round: the loop raises rather
    # than return the partial closure
    with pytest.raises(RuntimeError, match="did not converge in 1 round"):
        transitive_closure(edges, max_rounds=1)


def test_transitive_closure_deep_chain_log_rounds(spark):
    """A depth-40 chain closes within the doubling loop's round budget
    (iterative doubling: path length doubles per round → ~6 rounds)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["src", "dst"])
    out = transitive_closure(edges, max_rounds=8)
    assert out.count() == 40 * 41 // 2


def test_connected_components_raises_at_round_budget(spark):
    """A 64-vertex chain needs several label-propagation rounds; with a
    budget of one the loop raises instead of returning partial labels,
    and with the default budget it labels every vertex 0."""
    from mc2skos_spark.operators.canonicalize import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge in 1 round"):
        connected_components(edges, max_rounds=1)
    labels = connected_components(edges).collect()
    assert len(labels) == 64 and {r["comp"] for r in labels} == {0}


def test_transitive_closure_random_graph_matches_python(spark):
    """Seeded random digraph (with cycles) vs a pure-Python BFS
    reachability oracle — the doubling loop must agree exactly,
    including (v, v) self-pairs for vertices on cycles."""
    import random
    rng = random.Random(99)
    edges = {(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(60)}
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    expected = set()
    for s in {e[0] for e in edges}:
        seen: set[int] = set()
        stack = list(adj.get(s, ()))
        while stack:
            v = stack.pop()
            if v in seen:
                continue
            seen.add(v)
            stack.extend(adj.get(v, ()))
        expected |= {(s, v) for v in seen}
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
    assert got == expected


def test_mapping_from_edges_random_graph_matches_union_find(spark):
    """Seeded random undirected graph over string ids vs a pure-Python
    union-find: every non-root vertex maps to the minimum id of its
    component.  ``mapping_from_edges`` reads that minimum straight off
    the ``comp`` label of ``connected_components``."""
    import random

    from mc2skos_spark.operators.canonicalize import mapping_from_edges
    rng = random.Random(7)
    ids = ["u:%03d" % rng.randint(0, 999) for _ in range(80)]
    edges = {(rng.choice(ids), rng.choice(ids)) for _ in range(70)}
    parent = {v: v for e in edges for v in e}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)   # root = min member
    expected = {(v, find(v)) for v in parent if find(v) != v}
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    got = {(r["uri"], r["canonical"])
           for r in mapping_from_edges(df).collect()}
    assert expected and got == expected


def _class_record(notation, parent=None):
    parent_sf = ('<subfield code="e">%s</subfield>' % parent) if parent else ""
    return (
        '<record xmlns="http://www.loc.gov/MARC21/slim">'
        '<leader>00000nw  a2200000n  4500</leader>'
        '<controlfield tag="001">r%s</controlfield>'
        '<controlfield tag="008">091203aaaaaaaa</controlfield>'
        '<datafield tag="084" ind1="0" ind2=" ">'
        '<subfield code="a">ddc</subfield>'
        '<subfield code="c">23</subfield></datafield>'
        '<datafield tag="153" ind1=" " ind2=" ">'
        '<subfield code="a">%s</subfield>%s'
        '<subfield code="j">Caption %s</subfield></datafield>'
        '</record>') % (notation, notation, parent_sf, notation)


def test_broader_transitive_multi_hop_from_marc(spark):
    """004.35 → 004.3 → 004 asserted broader chain; the closure must add
    the 004.35 → 004 skos:broaderTransitive hop (skosify transitive=True,
    /root/reference/examples/skosify.cfg:3)."""
    recs = [("r004", _class_record("004")),
            ("r004.3", _class_record("004.3", parent="004")),
            ("r004.35", _class_record("004.35", parent="004.3"))]
    rows = make_transcript_rows(recs, seed=5)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    triples = triples_from_extracted(extract_triples(reassemble_records(df)))
    tc = broader_transitive(triples)
    got = {(r["subj"], r["obj"]) for r in tc.collect()}
    ddc = "http://dewey.info/class/%s/e23/"
    assert (ddc % "004.35", ddc % "004.3") in got
    assert (ddc % "004.3", ddc % "004") in got
    assert (ddc % "004.35", ddc % "004") in got, "multi-hop edge missing"
    assert all(r["pred"] == C.SKOS + "broaderTransitive"
               for r in tc.collect())


def test_global_rank_matches_global_window(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id"))
    via_window = {(r["k"], r["id"]): r["rk"] for r in
                  df.withColumn("rk", F.row_number().over(
                      Window.orderBy("k", "id"))).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        ranked = global_rank(df, ["k", "id"], rank_col="rk")
        via_rank = {(r["k"], r["id"]): r["rk"] for r in ranked.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert via_rank == via_window
    # and the plan has no single-partition global window: every window
    # is keyed by the physical partition id
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan.upper() or "__pid" in plan


def test_cycle_members_planted_cycle(spark):
    """A broader-hierarchy with one back-edge: exactly the vertices on
    the directed cycle are reported, tree-only vertices are not."""
    from mc2skos_spark.operators.closure import cycle_members
    tree = [(i, i // 2) for i in range(1, 32)]        # binary tree → root
    edges = spark.createDataFrame(tree + [(1, 27)], ["src", "dst"])
    got = {r["vertex"] for r in cycle_members(edges).collect()}
    assert got == {1, 3, 6, 13, 27}                   # 27→13→6→3→1→27
    # acyclic input → empty report
    acyclic = spark.createDataFrame(tree, ["src", "dst"])
    assert cycle_members(acyclic).count() == 0


def test_broader_cycle_warnings_channel_shape(spark):
    """skos:broader cycles land in the warning channel as
    (record_id, reason) rows; literals and other predicates ignored."""
    from mc2skos_spark.operators.closure import broader_cycle_warnings
    b = C.SKOS + "broader"
    rows = [("u:a", b, "u:b", False), ("u:b", b, "u:c", False),
            ("u:c", b, "u:a", False),                 # the cycle
            ("u:d", b, "u:a", False),                 # feeds in, not on it
            ("u:a", C.SKOS + "prefLabel", "A", True),
            ("u:x", b, "not-a-uri-literal", True)]    # literal obj ignored
    triples = spark.createDataFrame(
        [(s, p, o, lit, None, None, None, "r") for s, p, o, lit in rows],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string, component_pos int, "
        "record_id string")
    got = {(r["record_id"], r["reason"])
           for r in broader_cycle_warnings(triples).collect()}
    assert got == {("u:a", "skos:broader cycle"),
                   ("u:b", "skos:broader cycle"),
                   ("u:c", "skos:broader cycle")}


def test_iterative_loops_leave_session_conf_untouched(spark):
    """The union-find and doubling loops must NOT read-modify-write
    spark.sql.shuffle.partitions: a session shared by concurrent query
    threads keeps its own shuffle width for the loop's whole duration
    (loops pin width via explicit repartition on their join inputs).
    The session runs at a width the loops never pick (``loop_width`` is
    8 at this size), so a loop that wrote its width into the session
    would be observed."""
    import threading
    import time

    from mc2skos_spark.operators.canonicalize import connected_components

    conf_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf_key)
    session_width = "5"
    observed: set[str] = set()
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            observed.add(spark.conf.get(conf_key))
            time.sleep(0.005)

    spark.conf.set(conf_key, session_width)
    poller = threading.Thread(target=poll)
    poller.start()
    try:
        edges = spark.createDataFrame(
            [(i, i // 2) for i in range(1, 200)], ["src", "dst"])
        cc = connected_components(edges)
        assert cc.count() == 200          # vertices 0..199, one component
        tc = transitive_closure(edges)
        assert tc.count() > 199
    finally:
        stop.set()
        poller.join()
        final = spark.conf.get(conf_key)
        spark.conf.set(conf_key, before)
    assert final == session_width
    assert observed == {session_width}, \
        "loop leaked its width into the session"
