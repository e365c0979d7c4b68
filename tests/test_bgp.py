"""BGP (basic-graph-pattern) matching over (subj, pred, obj) triple
tables (operators/bgp.py): shared-variable joins, constant pushdown,
repeated-variable-within-pattern equality, product rejection — and a
run over the KG pipeline's OWN extracted triples, since querying the
materialized graph is the operator's reason to exist."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.operators.bgp import bgp_match

pytestmark = pytest.mark.spark

TRIPLES = [
    ("a", "broader", "b"),
    ("b", "broader", "c"),
    ("a", "prefLabel", "Alpha"),
    ("b", "prefLabel", "Beta"),
    ("c", "prefLabel", "Gamma"),
    ("x", "knows", "x"),
    ("x", "knows", "y"),
]


def _t(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string,"
                                          " obj string")


def test_two_pattern_join(spark):
    out = bgp_match(_t(spark), [("?c", "broader", "?p"),
                                ("?p", "prefLabel", "?l")])
    assert set(out.columns) == {"c", "p", "l"}
    assert {tuple(r) for r in out.select("c", "p", "l").collect()} == {
        ("a", "b", "Beta"), ("b", "c", "Gamma")}


def test_constant_subject_pushdown(spark):
    out = bgp_match(_t(spark), [("a", "?rel", "?o")])
    assert {tuple(r) for r in out.select("rel", "o").collect()} == {
        ("broader", "b"), ("prefLabel", "Alpha")}
    # the constant reaches the scan as a pushable filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_repeated_variable_within_pattern(spark):
    out = bgp_match(_t(spark), [("?s", "knows", "?s")])
    assert [r["s"] for r in out.collect()] == ["x"]


def test_three_pattern_chain_and_bag_semantics(spark):
    out = bgp_match(_t(spark), [("?a", "broader", "?b"),
                                ("?b", "broader", "?c"),
                                ("?c", "prefLabel", "?l")])
    assert {tuple(r) for r in out.select("a", "b", "c", "l")
            .collect()} == {("a", "b", "c", "Gamma")}


def test_disconnected_pattern_rejected(spark):
    with pytest.raises(ValueError, match="no variable"):
        bgp_match(_t(spark), [("?a", "broader", "?b"),
                              ("?x", "knows", "?y")])
    # explicit opt-in gives the product
    out = bgp_match(_t(spark), [("?a", "broader", "?b"),
                                ("?x", "knows", "?y")],
                    allow_product=True)
    assert out.count() == 4          # 2 broader rows x 2 knows rows


def test_bad_patterns(spark):
    with pytest.raises(ValueError, match="empty"):
        bgp_match(_t(spark), [])
    with pytest.raises(ValueError, match="triple"):
        bgp_match(_t(spark), [("?a", "b")])
    with pytest.raises(ValueError, match="bare"):
        bgp_match(_t(spark), [("?", "p", "?o")])


def test_over_extracted_kg_triples(spark):
    """Run a BGP against triples the pipeline itself extracted: every
    concept with a broader parent and a prefLabel — cross-checked
    against the straightforward DataFrame join."""
    import __spark_entry__ as entry
    triples = (entry.queries()["kg_golden_triples"](spark, "")
               .select("subj", "pred", "obj"))
    skos = "http://www.w3.org/2004/02/skos/core#"
    out = bgp_match(triples, [("?c", skos + "broader", "?p"),
                              ("?c", skos + "prefLabel", "?l")])
    b = triples.filter(F.col("pred") == skos + "broader")
    lbl = triples.filter(F.col("pred") == skos + "prefLabel")
    expect = (b.select(F.col("subj").alias("c"), F.col("obj").alias("p"))
              .join(lbl.select(F.col("subj").alias("c"),
                               F.col("obj").alias("l")), "c"))
    got = {tuple(r) for r in out.select("c", "p", "l").collect()}
    want = {tuple(r) for r in expect.select("c", "p", "l").collect()}
    assert got == want and got     # non-vacuous


def test_optional_group_left_join(spark):
    """SPARQL OPTIONAL: rows without the optional binding survive with
    nulls; a multi-pattern optional group joins internally first."""
    t = _t(spark)
    out = bgp_match(t, [("?c", "broader", "?p")],
                    optional=[[("?p", "prefLabel", "?l")],
                              [("?p", "broader", "?g"),
                               ("?g", "prefLabel", "?gl")]])
    rows = {r["c"]: (r["p"], r["l"], r["g"], r["gl"])
            for r in out.collect()}
    assert rows["a"] == ("b", "Beta", "c", "Gamma")
    assert rows["b"] == ("c", "Gamma", None, None)   # c has no parent
    with pytest.raises(ValueError, match="optional group"):
        bgp_match(t, [("?c", "broader", "?p")],
                  optional=[[("?x", "knows", "?y")]])


def test_property_path_plus_and_star(spark):
    """SPARQL 1.1 closure paths: broader+ reaches every ancestor
    (set semantics), broader* adds the zero-length identity over the
    graph's terms, and a repeated variable over a closure path finds
    hierarchy cycles."""
    from mc2skos_spark.operators.bgp import plus, star

    t = _t(spark)
    out = bgp_match(t, [("?c", plus("broader"), "?anc")])
    assert {tuple(r) for r in out.select("c", "anc").collect()} == {
        ("a", "b"), ("a", "c"), ("b", "c")}

    # constant object: everything strictly below c
    below = bgp_match(t, [("?c", plus("broader"), "c")])
    assert sorted(r["c"] for r in below.collect()) == ["a", "b"]

    # star adds (term, term) for every graph term — a is its own
    # 0-length ancestor even though nothing points at it
    zs = bgp_match(t, [("a", star("broader"), "?anc")])
    assert sorted(r["anc"] for r in zs.collect()) == ["a", "b", "c"]

    # acyclic hierarchy: no (?x broader+ ?x) binding; add a back-edge
    # and the cycle members appear
    assert bgp_match(t, [("?x", plus("broader"), "?x")]).count() == 0
    cyc = _t(spark).unionByName(spark.createDataFrame(
        [("c", "broader", "a")], "subj string, pred string, obj string"))
    got = bgp_match(cyc, [("?x", plus("broader"), "?x")])
    assert sorted(r["x"] for r in got.collect()) == ["a", "b", "c"]


def test_property_path_seq_alt_inv_opt(spark):
    """Sequence = join composition, alternative = union (bag),
    inverse = swapped positions, zero_or_one = step ∪ identity —
    each cross-checked against its hand-built relation."""
    from mc2skos_spark.operators.bgp import (alt, inv, plus, seq,
                                             zero_or_one)

    t = _t(spark)
    # broader/prefLabel: grandparent-free label-of-parent chain
    out = bgp_match(t, [("?c", seq("broader", "prefLabel"), "?l")])
    assert {tuple(r) for r in out.select("c", "l").collect()} == {
        ("a", "Beta"), ("b", "Gamma")}

    # seq composing a closure: label of EVERY ancestor
    out = bgp_match(t, [("?c", seq(plus("broader"), "prefLabel"), "?l")])
    assert {tuple(r) for r in out.select("c", "l").collect()} == {
        ("a", "Beta"), ("a", "Gamma"), ("b", "Gamma")}

    # alternative keeps both relations (bag union)
    out = bgp_match(t, [("a", alt("broader", "prefLabel"), "?o")])
    assert sorted(r["o"] for r in out.collect()) == ["Alpha", "b"]

    # inverse: children of b via ^broader
    out = bgp_match(t, [("b", inv("broader"), "?child")])
    assert [r["child"] for r in out.collect()] == ["a"]

    # zero_or_one: parent plus self
    out = bgp_match(t, [("a", zero_or_one("broader"), "?o")])
    assert sorted(r["o"] for r in out.collect()) == ["a", "b"]

    # a path pattern joins with plain patterns on shared variables
    out = bgp_match(t, [("?c", plus("broader"), "?anc"),
                        ("?anc", "prefLabel", "?l")])
    assert {(r["c"], r["l"]) for r in out.collect()} == {
        ("a", "Beta"), ("a", "Gamma"), ("b", "Gamma")}

    with pytest.raises(ValueError, match="at least two"):
        seq("broader")
    with pytest.raises(TypeError, match="Path"):
        bgp_match(t, [("?a", 42, "?b")])


def test_select_query_algebra(spark):
    """SPARQL 1.1 SELECT stages in spec order: BIND → FILTER →
    Group/Aggregate → HAVING → DISTINCT → ORDER → Slice."""
    from mc2skos_spark.operators.bgp import select_query
    t = _t(spark)
    # FILTER over a joined binding
    out = select_query(t, [("?c", "broader", "?p"),
                           ("?p", "prefLabel", "?l")],
                       filter="l != 'Beta'")
    assert [tuple(r) for r in out.select("c", "p", "l").collect()] == [
        ("b", "c", "Gamma")]
    # BIND is an Extend usable by a later FILTER
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       bind={"l2": "lower(l)"}, filter="l2 = 'beta'")
    assert [r["s"] for r in out.collect()] == ["b"]
    # grouped aggregates: COUNT(*), COUNT(DISTINCT), GROUP_CONCAT
    out = select_query(
        t, [("?s", "?p", "?o")], group_by=["p"],
        aggregates={"n": ("count", None),
                    "n_subj": ("count_distinct", "s"),
                    "objs": ("group_concat", "o", "|")},
        order_by=["-n", "p"])
    rows = [tuple(r) for r in out.collect()]
    assert rows == [("prefLabel", 3, 3, "Alpha|Beta|Gamma"),
                    ("broader", 2, 2, "b|c"),
                    ("knows", 2, 1, "x|y")]
    # implicit single group (no group_by)
    one = select_query(t, [("?s", "broader", "?o")],
                       aggregates={"n": ("count", None),
                                   "mx": ("max", "o")})
    assert [tuple(r) for r in one.collect()] == [(2, "c")]
    # HAVING over the aggregate alias
    out = select_query(t, [("?s", "?p", "?o")], group_by=["p"],
                       aggregates={"n_subj": ("count_distinct", "s")},
                       having="n_subj >= 2", order_by=["p"])
    assert [r["p"] for r in out.collect()] == ["broader", "prefLabel"]
    # DISTINCT + ORDER + LIMIT/OFFSET slice
    out = select_query(t, [("?s", "?p", "?o")], distinct=True,
                       order_by=["s", "p", "o"], limit=2, offset=1)
    assert len(out.collect()) == 2
    # guards
    with pytest.raises(ValueError, match="distinct=True"):
        select_query(t, [("?s", "?p", "?o")], group_by=["p"])
    with pytest.raises(ValueError, match="unknown aggregate"):
        select_query(t, [("?s", "?p", "?o")],
                     aggregates={"n": ("median", "o")})
    with pytest.raises(ValueError, match="requires aggregates"):
        select_query(t, [("?s", "?p", "?o")], having="true")
    with pytest.raises(ValueError, match="offset without limit"):
        select_query(t, [("?s", "?p", "?o")], offset=3)


def test_union_groups(spark):
    """SPARQL UNION: multiset-additive union by variable name, a
    branch's unbound variables null; composes with the later SELECT
    stages (aggregate over the unioned bag)."""
    from mc2skos_spark.operators.bgp import select_query, union_groups
    t = _t(spark)
    out = union_groups(t,
                       [("?s", "broader", "?o")],
                       [("?s", "knows", "?k")])
    assert set(out.columns) == {"s", "o", "k"}
    rows = {(r["s"], r["o"], r["k"]) for r in out.collect()}
    assert rows == {("a", "b", None), ("b", "c", None),
                    ("x", None, "x"), ("x", None, "y")}
    # bag semantics: x knows two targets -> two rows survive distinct-free
    assert out.count() == 4
    # via select_query: count per subject over both branches
    agg = select_query(t, [("?s", "broader", "?o")],
                       union=([("?s", "knows", "?k")],),
                       group_by=["s"],
                       aggregates={"n": ("count", None)},
                       order_by=["s"])
    assert [tuple(r) for r in agg.collect()] == [
        ("a", 1), ("b", 1), ("x", 2)]
    # (patterns, optional) pair branch
    out2 = union_groups(
        t, [("?s", "knows", "?k")],
        ([("?s", "broader", "?o")], [[("?o", "prefLabel", "?l")]]))
    assert {(r["s"], r["l"]) for r in out2.collect()} == {
        ("x", None), ("a", "Beta"), ("b", "Gamma")}
    with pytest.raises(ValueError, match="at least two"):
        union_groups(t, [("?s", "knows", "?k")])


def test_negation_exists_not_exists_minus(spark):
    """SPARQL negation: FILTER EXISTS = left-semi, FILTER NOT EXISTS =
    left-anti, MINUS = anti on shared vars but IDENTITY on disjoint
    domains (the spec's observable MINUS vs NOT-EXISTS difference)."""
    from mc2skos_spark.operators.bgp import select_query
    t = _t(spark)
    # concepts that HAVE a narrower child (something broader-pointing
    # at them): b and c
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       exists=([("?x", "broader", "?s")],),
                       order_by=["s"])
    assert [r["s"] for r in out.collect()] == ["b", "c"]
    # concepts WITHOUT a child: a
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       not_exists=([("?x", "broader", "?s")],))
    assert [r["s"] for r in out.collect()] == ["a"]
    # MINUS with a shared variable behaves like the anti join
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       minus=([("?s", "broader", "?p")],))
    assert sorted(r["s"] for r in out.collect()) == ["c"]
    # MINUS with a DISJOINT group is the identity (NOT EXISTS would
    # empty the result here, since the group matches)
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       minus=([("?x", "knows", "?y")],))
    assert out.count() == 3
    with pytest.raises(ValueError, match="NOT EXISTS"):
        select_query(t, [("?s", "prefLabel", "?l")],
                     not_exists=([("?x", "knows", "?y")],))
    # negation composes with aggregation: children per parent among
    # parents that are not themselves children
    out = select_query(t, [("?c", "broader", "?p")],
                       not_exists=([("?p", "broader", "?gp")],),
                       group_by=["p"],
                       aggregates={"n": ("count", None)})
    assert [tuple(r) for r in out.collect()] == [("c", 1)]


def test_values_and_negated_property_set(spark):
    """VALUES inline data joins (or extends) the solution; !(p1|p2)
    scans the predicate complement."""
    from mc2skos_spark.operators.bgp import bgp_match, negated, select_query
    t = _t(spark)
    # VALUES constrains via the shared variable (broadcast join)
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       values=(("s",), [("a",), ("c",)]),
                       order_by=["s"])
    assert [(r["s"], r["l"]) for r in out.collect()] == [
        ("a", "Alpha"), ("c", "Gamma")]
    # multi-var VALUES rows must match pairwise
    out = select_query(t, [("?s", "prefLabel", "?l")],
                       values=(("s", "l"),
                               [("a", "Alpha"), ("b", "WRONG")]))
    assert [(r["s"], r["l"]) for r in out.collect()] == [("a", "Alpha")]
    # disjoint VALUES extends every solution (spec join)
    out = select_query(t, [("?s", "broader", "?o")],
                       values=(("tag",), [("x",), ("y",)]))
    assert out.count() == 4 and set(out.columns) == {"s", "o", "tag"}
    # negated property set: everything except broader and knows = prefLabel
    out = bgp_match(t, [("?s", negated("broader", "knows"), "?v")])
    assert {(r["s"], r["v"]) for r in out.collect()} == {
        ("a", "Alpha"), ("b", "Beta"), ("c", "Gamma")}
    with pytest.raises(TypeError, match="plain predicate"):
        negated(negated("x"))
    with pytest.raises(ValueError, match="at least one"):
        negated()


def test_projection_before_distinct(spark):
    from mc2skos_spark.operators.bgp import select_query
    t = _t(spark)
    # without projection: 2 distinct (s, o) broader rows; projecting to
    # the predicate-sharing parent THEN distinct → collapse
    out = select_query(t, [("?s", "broader", "?o"),
                           ("?o", "prefLabel", "?l")],
                       project=["o"], distinct=True, order_by=["o"])
    assert out.columns == ["o"]
    assert [r["o"] for r in out.collect()] == ["b", "c"]


def test_construct_ask_query_forms(spark):
    """The remaining SPARQL query forms: CONSTRUCT materializes a
    template graph per solution (null-position instantiations dropped,
    result a SET); ASK is an early-exit existence probe."""
    from mc2skos_spark.operators.bgp import ask_query, construct_query
    t = _t(spark)
    # rule: narrower is the inverse of broader, plus a type marker
    got = construct_query(
        t, [("?p", "narrower", "?c"), ("?c", "a", "Concept")],
        [("?c", "broader", "?p")])
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("b", "narrower", "a"), ("c", "narrower", "b"),
                    ("a", "a", "Concept"), ("b", "a", "Concept")}
    # unbound OPTIONAL var: that template triple drops, others emit
    got = construct_query(
        t, [("?s", "label", "?l"), ("?s", "kind", "node")],
        [("?s", "knows", "?o")],
        optional=[[("?s", "prefLabel", "?l")]])
    assert {tuple(r) for r in got.collect()} == {
        ("x", "kind", "node")}           # x has no prefLabel
    # CONSTRUCT result is a SET even when solutions repeat
    got = construct_query(t, [("?s", "kind", "node")],
                          [("?s", "knows", "?o")])
    assert got.count() == 1
    with pytest.raises(ValueError, match="not bound"):
        construct_query(t, [("?s", "p", "?nope")],
                        [("?s", "knows", "?o")])
    # ASK
    assert ask_query(t, [("a", "broader", "?p")]) is True
    assert ask_query(t, [("c", "broader", "?p")]) is False
    assert ask_query(t, [("?s", "prefLabel", "?l")],
                     filter="l = 'Gamma'") is True


def test_materialize_rules_fixpoint(spark):
    """Forward chaining to fixpoint: a recursive transitivity rule
    closes a depth-4 chain (doubling rounds), an inverse rule derives
    narrower, and a diverging rule hits the max_rounds guard."""
    from mc2skos_spark.operators.bgp import materialize_rules
    chain = [("n%d" % i, "broader", "n%d" % (i + 1)) for i in range(4)]
    t = spark.createDataFrame(chain, "subj string, pred string,"
                                     " obj string")
    rules = [
        # seed: broader ⊆ broaderT
        ([("?a", "broaderT", "?b")], [("?a", "broader", "?b")]),
        # recursive transitivity over the DERIVED predicate
        ([("?a", "broaderT", "?c")],
         [("?a", "broaderT", "?b"), ("?b", "broaderT", "?c")]),
        # inverse
        ([("?b", "narrower", "?a")], [("?a", "broader", "?b")]),
    ]
    out = materialize_rules(t, rules)
    rows = {tuple(r) for r in out.collect()}
    closure = {("n%d" % i, "broaderT", "n%d" % j)
               for i in range(4) for j in range(i + 1, 5)}
    assert {r for r in rows if r[1] == "broaderT"} == closure
    assert {r for r in rows if r[1] == "narrower"} == {
        ("n%d" % (i + 1), "narrower", "n%d" % i) for i in range(4)}
    assert {r for r in rows if r[1] == "broader"} == set(chain)
    # idempotent: running again derives nothing new
    again = materialize_rules(out, rules)
    assert again.count() == out.count()
    # a rule body reading no derived predicate needs ONE round: the
    # inverse over a one-level hierarchy derives only narrower, which
    # no body reads, so no empty-delta round is run
    flat = spark.createDataFrame(
        [("c1", "broader", "top"), ("c2", "broader", "top")],
        "subj string, pred string, obj string")
    inverse = materialize_rules(flat, rules[2:], max_rounds=1)
    assert {tuple(r) for r in inverse.collect()} == {
        ("c1", "broader", "top"), ("c2", "broader", "top"),
        ("top", "narrower", "c1"), ("top", "narrower", "c2")}
    # divergence guard: a rule minting fresh terms forever
    div = [([("?b", "broader", "?new")],
            [("?a", "broader", "?b")],
            {"bind": {"new": "concat(b, 'x')"}})]
    with pytest.raises(RuntimeError, match="did not converge"):
        materialize_rules(t, div, max_rounds=3)


def test_materialize_rules_semi_naive_equals_naive(spark):
    """Round-7 perf rewrite: from round 2 on each plain rule is
    evaluated once per pattern position with that pattern pointed at
    the previous delta (pattern_sources).  The closed graph must be
    IDENTICAL to full re-evaluation — pinned on a deep chain (many
    doubling rounds, so the semi-naive path is exercised repeatedly)
    and on a kwargs rule that takes the full-evaluation fallback."""
    from mc2skos_spark.operators.bgp import (construct_query,
                                             materialize_rules)

    def naive(triples, rules, max_rounds=25):
        norm = [(r[0], r[1], {} if len(r) == 2 else r[2])
                for r in rules]
        graph = (triples.select("subj", "pred", "obj").distinct()
                 .localCheckpoint(eager=False))
        for _ in range(max_rounds):
            derived = None
            for template, where, kwargs in norm:
                d = construct_query(graph, template, where, **kwargs)
                derived = d if derived is None \
                    else derived.unionByName(d)
            new = (derived.distinct()
                   .join(graph, ["subj", "pred", "obj"], "left_anti")
                   .localCheckpoint())
            if new.limit(1).count() == 0:
                return graph
            graph = graph.unionByName(new).localCheckpoint(eager=False)
        raise RuntimeError("no converge")

    chain = [("x%d" % i, "p", "x%d" % (i + 1)) for i in range(33)]
    t = spark.createDataFrame(chain, "subj string, pred string,"
                                     " obj string")
    rules = [
        ([("?a", "pT", "?b")], [("?a", "p", "?b")]),
        ([("?a", "pT", "?c")], [("?a", "pT", "?b"), ("?b", "pT", "?c")]),
        # kwargs rule: full-evaluation fallback path each round
        ([("?b", "inv", "?a")], [("?a", "p", "?b")],
         {"filter": "a != b"}),
    ]
    got = {tuple(r) for r in materialize_rules(t, rules).collect()}
    exp = {tuple(r) for r in naive(t, rules).collect()}
    assert got == exp
    # and the closure really is the full chain closure
    assert {r for r in got if r[1] == "pT"} == {
        ("x%d" % i, "pT", "x%d" % j)
        for i in range(34) for j in range(i + 1, 34)}
    # chained predicates p→q→r→s: each round's delta holds only the
    # predicate the NEXT rule reads, so a body pattern is live in
    # exactly one round — skipping the dead ones must drop nothing
    chained = [([("?a", "q", "?b")], [("?a", "p", "?b")]),
               ([("?a", "r", "?b")], [("?a", "q", "?b")]),
               ([("?a", "s", "?c")], [("?a", "r", "?b"),
                                      ("?b", "p", "?c")])]
    got = {tuple(r) for r in materialize_rules(t, chained).collect()}
    assert got == {tuple(r) for r in naive(t, chained).collect()}
    assert {r for r in got if r[1] == "s"} == {
        ("x%d" % i, "s", "x%d" % (i + 2)) for i in range(32)}
