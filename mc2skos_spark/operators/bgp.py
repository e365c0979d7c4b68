"""Basic-graph-pattern (BGP) matching over materialized triples —
the SELECT/WHERE core of SPARQL (Pérez, Arenas & Gutierrez,
"Semantics and Complexity of SPARQL", ISWC 2006) as a relational
plan over the pipeline's ``(subj, pred, obj)`` tables (the
kg_construct north star materializes the graph exactly in that
shape; the reference emits the same triples through rdflib,
`/root/reference/mc2skos/record.py` via `process_record`).

Each triple pattern is ONE filtered scan of the triple table:
constants become pushed-down predicate filters (partition-pruning
when the table is partitioned by ``pred``, which the Icebergish
triple sink is), variables project to columns, and shared variables
across patterns become equi-join keys.  A BGP of k patterns is
therefore k scans + (k−1) hash joins — Catalyst reorders and
AQE broadcasts the small filtered sides, which is the textbook
distributed-SPARQL plan (SPARQLGX, Graux et al. 2016 compiles BGPs
to exactly this Spark shape).

Scale notes: selective patterns (constant ``pred`` + constant
``subj``/``obj``) shrink to broadcast size after pushdown; the join
graph never materializes the full triple table more than once per
pattern.  Patterns with NO shared variable with everything matched
so far would need a cartesian product — rejected by default
(``allow_product=False``) because an unconstrained product is never
what a 100 TB query means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_POS = ("subj", "pred", "obj")


class Path:
    """A SPARQL 1.1 property-path expression for a pattern's predicate
    position — built via the module-level combinators ``seq``/``alt``/
    ``inv``/``plus``/``star``/``zero_or_one`` rather than parsed from
    string syntax (predicate URIs contain ``/`` and ``|``, so an
    in-string path grammar would be ambiguous against real vocabularies
    like ``http://…/core#broader``)."""

    __slots__ = ("kind", "parts")

    def __init__(self, kind: str, parts: tuple):
        self.kind = kind
        self.parts = parts

    def __repr__(self):
        return "Path(%s, %r)" % (self.kind, self.parts)


def seq(*steps) -> Path:
    """Path sequence ``p1/p2/…`` — composition via equi-joins."""
    if len(steps) < 2:
        raise ValueError("seq needs at least two steps")
    return Path("seq", steps)


def alt(*alts) -> Path:
    """Path alternative ``p1|p2|…`` — union of the step relations."""
    if len(alts) < 2:
        raise ValueError("alt needs at least two alternatives")
    return Path("alt", alts)


def inv(step) -> Path:
    """Inverse path ``^p`` — swap subject and object."""
    return Path("inv", (step,))


def plus(step) -> Path:
    """One-or-more ``p+`` — transitive closure (iterative doubling:
    O(log diameter) self-join rounds, set semantics per the spec)."""
    return Path("plus", (step,))


def star(step) -> Path:
    """Zero-or-more ``p*`` — ``p+`` ∪ the zero-length path (every RDF
    term in the graph paired with itself, per SPARQL's zero-length
    semantics; costs one distinct over the graph's terms)."""
    return Path("star", (step,))


def zero_or_one(step) -> Path:
    """``p?`` — the step's edges ∪ the zero-length identity."""
    return Path("opt", (step,))


def negated(*preds: str) -> Path:
    """Negated property set ``!(p1|p2|…)`` — every edge whose
    predicate is NOT one of the named IRIs (a filtered scan, the
    complement pushes down like any constant filter).  Only plain
    IRIs may be negated, per the SPARQL 1.1 grammar."""
    if not preds:
        raise ValueError("negated needs at least one predicate IRI")
    if not all(isinstance(p, str) for p in preds):
        raise TypeError("negated takes plain predicate IRIs only "
                        "(the SPARQL grammar does not nest paths "
                        "under !)")
    return Path("neg", preds)


def _graph_terms(triples: DataFrame) -> DataFrame:
    """Every RDF term of the graph as (src, dst) identity pairs —
    the zero-length path relation (subjects ∪ objects, set semantics)."""
    terms = (triples.select(F.col("subj").alias("t"))
             .unionByName(triples.select(F.col("obj").alias("t")))
             .distinct())
    return terms.select(F.col("t").alias("src"), F.col("t").alias("dst"))


def _path_edges(triples: DataFrame, expr) -> DataFrame:
    """Compile a path expression to its binary relation ``(src, dst)``.

    A plain string is one filtered scan of the triple table (the
    predicate constant pushes down exactly like a non-path pattern);
    combinators compose relations with joins/unions; ``plus``/``star``
    reuse the iterative-doubling ``transitive_closure`` operator —
    set semantics, as SPARQL 1.1 prescribes for closure paths."""
    if isinstance(expr, str):
        return (triples.filter(F.col("pred") == F.lit(expr))
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")))
    if not isinstance(expr, Path):
        raise TypeError("predicate must be a string or a Path "
                        "combinator, got %r" % (expr,))
    if expr.kind == "seq":
        rel = _path_edges(triples, expr.parts[0])
        for step in expr.parts[1:]:
            nxt = _path_edges(triples, step)
            rel = (rel.alias("a")
                   .join(nxt.alias("b"), F.col("a.dst") == F.col("b.src"))
                   .select(F.col("a.src").alias("src"),
                           F.col("b.dst").alias("dst")))
        return rel
    if expr.kind == "alt":
        rel = _path_edges(triples, expr.parts[0])
        for step in expr.parts[1:]:
            rel = rel.unionByName(_path_edges(triples, step))
        return rel
    if expr.kind == "inv":
        rel = _path_edges(triples, expr.parts[0])
        return rel.select(F.col("dst").alias("src"),
                          F.col("src").alias("dst"))
    if expr.kind == "plus":
        from mc2skos_spark.operators.closure import transitive_closure
        return transitive_closure(_path_edges(triples, expr.parts[0]))
    if expr.kind == "star":
        from mc2skos_spark.operators.closure import transitive_closure
        return (transitive_closure(_path_edges(triples, expr.parts[0]))
                .unionByName(_graph_terms(triples)).distinct())
    if expr.kind == "opt":
        return (_path_edges(triples, expr.parts[0])
                .unionByName(_graph_terms(triples)).distinct())
    if expr.kind == "neg":
        return (triples.filter(~F.col("pred").isin(*expr.parts))
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")))
    raise ValueError("unknown path kind %r" % expr.kind)


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def bgp_match(triples: DataFrame, patterns, optional=(),
              allow_product: bool = False,
              pattern_sources=None) -> DataFrame:
    """Match a list of ``(subj, pred, obj)`` triple patterns against
    a triple DataFrame with columns ``subj, pred, obj``.

    Terms starting with ``?`` are variables; anything else is matched
    as a literal constant.  Returns one column per distinct variable
    (named without the ``?``), one row per binding (bag semantics —
    callers wanting set semantics add ``.distinct()``, matching
    SPARQL's default vs ``SELECT DISTINCT``).

    A variable repeated WITHIN one pattern (e.g. ``("?x", "knows",
    "?x")``) constrains that pattern to rows where the positions are
    equal, per SPARQL semantics.

    The predicate position also accepts a SPARQL 1.1 property-path
    ``Path`` (the ``seq``/``alt``/``inv``/``plus``/``star``/
    ``zero_or_one`` combinators): the path compiles to a binary
    ``(src, dst)`` relation — sequences are equi-joins, alternatives
    unions, ``plus``/``star`` the iterative-doubling transitive
    closure — and the pattern then binds/filters its subject and
    object against that relation exactly like a plain pattern (so
    ``("?x", plus("broader"), "?x")`` finds hierarchy cycles).
    A path predicate cannot itself be a variable.

    ``optional`` is a list of pattern GROUPS (each a list of
    patterns), one per SPARQL ``OPTIONAL { ... }`` block: each group
    is matched as its own BGP and LEFT-joined on the variables it
    shares with the mandatory part — unmatched bindings keep the row
    with the group's exclusive variables null, per SPARQL's leftjoin
    algebra.  A group must share at least one variable (an
    unconstrained optional product is rejected like a disconnected
    mandatory pattern).

    ``pattern_sources``: optional list aligned with ``patterns``;
    a non-None entry replaces the triple table for THAT pattern's
    scan (semi-naive rule evaluation points one pattern at the
    per-round delta while the rest read the accumulated graph).
    """
    if not patterns:
        raise ValueError("empty BGP")
    if pattern_sources is not None and \
            len(pattern_sources) != len(patterns):
        raise ValueError("pattern_sources must align with patterns")
    bound: DataFrame | None = None
    seen_vars: set[str] = set()
    for idx, pat in enumerate(patterns):
        if len(pat) != 3:
            raise ValueError("pattern must be a (subj, pred, obj) "
                             "triple, got %r" % (pat,))
        src = triples
        if pattern_sources is not None and \
                pattern_sources[idx] is not None:
            src = pattern_sources[idx]
        if isinstance(pat[1], Path):
            # property-path pattern: compile the path to a (src, dst)
            # relation, then bind subject/object over it
            scan = _path_edges(src, pat[1])
            positions = (("src", pat[0]), ("dst", pat[2]))
        elif not isinstance(pat[1], str):
            raise TypeError("predicate must be a string or a Path "
                            "combinator, got %r" % (pat[1],))
        else:
            scan = src
            positions = tuple(zip(_POS, pat))
        proj: dict[str, str] = {}      # var name -> first position
        for pos, term in positions:
            if _is_var(term):
                name = term[1:]
                if not name:
                    raise ValueError("bare '?' variable in %r" % (pat,))
                if name in proj:       # repeated var inside pattern
                    scan = scan.filter(F.col(pos) == F.col(proj[name]))
                else:
                    proj[name] = pos
            else:
                scan = scan.filter(F.col(pos) == F.lit(term))
        step = scan.select(*[F.col(pos).alias(name)
                             for name, pos in proj.items()])
        if bound is None:
            bound, seen_vars = step, set(proj)
            continue
        keys = sorted(seen_vars & set(proj))
        if keys:
            bound = bound.join(step, keys)
        elif allow_product:
            bound = bound.crossJoin(step)
        else:
            raise ValueError(
                "pattern %r shares no variable with the patterns "
                "before it — an unconstrained product; reorder the "
                "BGP or pass allow_product=True" % (pat,))
        seen_vars |= set(proj)
    for group in optional:
        sub = bgp_match(triples, group, allow_product=allow_product)
        keys = sorted(seen_vars & set(sub.columns))
        if not keys:
            raise ValueError(
                "optional group %r shares no variable with the "
                "mandatory patterns — an unconstrained product"
                % (group,))
        bound = bound.join(sub, keys, "left")
        seen_vars |= set(sub.columns)
    return bound


# SPARQL 1.1 aggregate functions → the Spark aggregate expression that
# implements the spec's definition.  GROUP_CONCAT sorts its input
# (collect_list order is partition-nondeterministic; the spec leaves
# order implementation-defined, and a sorted concat is the only
# distributed-deterministic choice).  SAMPLE is min for the same reason.
_AGG_FNS = {
    "count": lambda v: F.count(F.lit(1)) if v is None else F.count(v),
    "count_distinct": lambda v: F.count_distinct(F.col(v)),
    "sum": lambda v: F.sum(v),
    "min": lambda v: F.min(v),
    "max": lambda v: F.max(v),
    "avg": lambda v: F.avg(v),
    "sample": lambda v: F.min(v),
    "group_concat": lambda v, sep=" ": F.array_join(
        F.sort_array(F.collect_list(v)), sep),
}


def union_groups(triples: DataFrame, *groups,
                 allow_product: bool = False) -> DataFrame:
    """SPARQL ``{ A } UNION { B } …`` — each group is its own BGP
    (a pattern list, or ``(patterns, optional)`` pair); the union is
    by VARIABLE NAME with a group's unbound variables null, per the
    spec's Union over solution mappings with disjoint domains.  Bag
    semantics (SPARQL's Union is multiset-additive)."""
    if len(groups) < 2:
        raise ValueError("union_groups needs at least two groups")
    rels = []
    for g in groups:
        pats, opt = (g if isinstance(g, tuple) else (g, ()))
        rels.append(bgp_match(triples, pats, optional=opt,
                              allow_product=allow_product))
    out = rels[0]
    for rel in rels[1:]:
        out = out.unionByName(rel, allowMissingColumns=True)
    return out


def select_query(triples: DataFrame, patterns, optional=(),
                 union: tuple = (),
                 exists: tuple = (),
                 not_exists: tuple = (),
                 minus: tuple = (),
                 values: tuple | None = None,
                 bind: dict | None = None,
                 filter=None,
                 group_by: list[str] | None = None,
                 aggregates: dict | None = None,
                 having=None,
                 project: list[str] | None = None,
                 distinct: bool = False,
                 order_by: list[str] | None = None,
                 limit: int | None = None,
                 offset: int = 0,
                 allow_product: bool = False,
                 pattern_sources=None) -> DataFrame:
    """The SPARQL 1.1 SELECT query form over :func:`bgp_match` — the
    spec's algebra stages applied in its prescribed order (§18.2:
    pattern → BIND/Extend → FILTER → Group/Aggregate → HAVING →
    select-expressions → DISTINCT → ORDER BY → Slice), each one the
    DataFrame operator that already means exactly that:

    * ``union``: further pattern groups (each a pattern list or a
      ``(patterns, optional)`` pair) UNIONed with the main group
      before the later stages — :func:`union_groups`, variables
      unbound in a branch come through null.
    * ``values``: ``((var, …), [row, …])`` — the ``VALUES`` inline-data
      block, joined into the solution on its shared variables (a
      broadcast join: inline data is tiny by construction; with no
      shared variable it extends every solution, the spec's
      disjoint-domain join).  ``UNDEF`` has no SQL analog here: a
      ``None`` cell joins as null (non-matching), not as the spec's
      wildcard.
    * ``exists`` / ``not_exists``: pattern groups — ``FILTER [NOT]
      EXISTS { … }``, a LEFT SEMI / LEFT ANTI join on the variables
      the group shares with the solution (the probe side never
      shuffles more than its join keys; a group sharing NO variable is
      rejected like a disconnected pattern).
    * ``minus``: pattern groups — SPARQL ``MINUS { … }``.  Same anti
      join when variables are shared; with DISJOINT domains MINUS is
      the IDENTITY (the spec removes a solution only when some
      compatible mapping shares at least one variable), which is the
      observable difference from NOT EXISTS — honored here: a
      no-shared-variable minus group is a no-op, not an error.
      Caveat (both forms): a solution variable left NULL by an
      OPTIONAL is treated as non-matching by the join (SQL null
      semantics), where SPARQL's compatibility treats unbound as
      wildcard — apply negation before OPTIONAL groups when that
      distinction matters.
    * ``bind``: ``{var: sql_expr}`` — ``BIND(expr AS ?var)``, an
      Extend; evaluated in insertion order so later binds may use
      earlier ones (whole-stage-codegen projections, free at scale).
    * ``filter``: a SQL boolean expression string (or Column) over the
      binding variables — pushes down THROUGH the joins to the triple
      scans whenever it references a single pattern's variables, which
      is what makes a selective FILTER cheap at 100 TB.
    * ``group_by`` + ``aggregates``: ``{out_name: (fn, var)}`` with fn
      in ``count`` (var None = COUNT(*)), ``count_distinct``, ``sum``,
      ``min``, ``max``, ``avg``, ``sample``, ``group_concat`` (optional
      third tuple item = separator) — one partial-combine hash
      aggregate, never a global sort.  ``aggregates`` without
      ``group_by`` is the spec's implicit single group.
    * ``having``: post-aggregate boolean SQL over group keys and
      aggregate aliases.
    * ``project``: variable names to keep — ``SELECT ?x ?y`` — applied
      BEFORE DISTINCT per the spec, so ``distinct=True`` deduplicates
      the projected rows (and Catalyst prunes the dropped columns all
      the way down to the scans).
    * ``order_by``: variable names, ``-name`` for DESC — a total-order
      spec; combined with ``limit`` Spark plans TakeOrdered (top-k per
      partition + k-merge), never a global sort at scale.
    * ``limit``/``offset``: the Slice.  OFFSET without LIMIT is
      rejected (an unbounded offset forces a global sort-and-skip —
      never what a 100 TB query means).

    FILTER error semantics: SPARQL maps expression ERRORS to
    unbound/false; under Spark's ANSI mode a throwing expression
    (overflow, bad cast) fails the job instead — use ``try_*``
    functions in filters that can error on real data.
    """
    if union:
        if pattern_sources is not None:
            raise ValueError("pattern_sources cannot align across "
                             "union groups — pass it on a single-group "
                             "query")
        out = union_groups(triples, (patterns, optional), *union,
                           allow_product=allow_product)
    else:
        out = bgp_match(triples, patterns, optional=optional,
                        allow_product=allow_product,
                        pattern_sources=pattern_sources)
    if values is not None:
        var_names, rows = values
        if not var_names or not rows:
            raise ValueError("values needs ((var, ...), [row, ...])")
        vdf = out.sparkSession.createDataFrame(
            [tuple(r) if isinstance(r, (tuple, list)) else (r,)
             for r in rows], list(var_names))
        keys = sorted(set(out.columns) & set(var_names))
        out = (out.join(F.broadcast(vdf), keys) if keys
               else out.crossJoin(F.broadcast(vdf)))
    for kind, groups in (("semi", exists), ("anti", not_exists)):
        for group in groups:
            sub = bgp_match(triples, group, allow_product=allow_product)
            keys = sorted(set(out.columns) & set(sub.columns))
            if not keys:
                raise ValueError(
                    "FILTER %sEXISTS group %r shares no variable with "
                    "the solution — its truth would be constant"
                    % ("NOT " if kind == "anti" else "", group))
            out = out.join(sub, keys, "left_" + kind)
    for group in minus:
        sub = bgp_match(triples, group, allow_product=allow_product)
        keys = sorted(set(out.columns) & set(sub.columns))
        if keys:          # disjoint-domain MINUS is the identity
            out = out.join(sub, keys, "left_anti")
    for name, expr in (bind or {}).items():
        out = out.withColumn(
            name, expr if not isinstance(expr, str) else F.expr(expr))
    if filter is not None:
        out = out.filter(filter)
    if aggregates:
        aggs = []
        for name, spec in aggregates.items():
            fn, var = spec[0], spec[1]
            if fn not in _AGG_FNS:
                raise ValueError("unknown aggregate %r (have: %s)"
                                 % (fn, ", ".join(sorted(_AGG_FNS))))
            col = _AGG_FNS[fn](var, *spec[2:]) if fn == "group_concat" \
                else _AGG_FNS[fn](var)
            aggs.append(col.alias(name))
        out = (out.groupBy(*group_by).agg(*aggs) if group_by
               else out.agg(*aggs))
    elif group_by:
        raise ValueError("group_by without aggregates — SPARQL's "
                         "implicit-group projection is just DISTINCT "
                         "over the group keys; pass distinct=True")
    if having is not None:
        if not aggregates:
            raise ValueError("having requires aggregates")
        out = out.filter(having)
    if project:
        # SELECT ?x ?y — the spec applies select-expressions BEFORE
        # DISTINCT, so distinct=True deduplicates the projected rows
        out = out.select(*project)
    if distinct:
        out = out.distinct()
    if order_by:
        out = out.orderBy(*[F.col(c[1:]).desc() if c.startswith("-")
                            else F.col(c) for c in order_by])
    if offset and limit is None:
        raise ValueError("offset without limit forces a global "
                         "sort-and-skip; bound the slice")
    if limit is not None:
        out = out.offset(offset).limit(limit) if offset else \
            out.limit(limit)
    return out


def construct_query(triples: DataFrame, template, patterns,
                    **select_kwargs) -> DataFrame:
    """The SPARQL 1.1 CONSTRUCT query form — and, read as a rule
    engine, one materialization step: ``CONSTRUCT { template } WHERE
    { patterns }`` evaluates the WHERE part like :func:`select_query`
    (every keyword it takes — optional/union/negation/filter/values —
    passes through) and instantiates each TEMPLATE triple pattern once
    per solution, emitting a ``(subj, pred, obj)`` graph:

    * a ``?var`` term pulls the binding's column;
    * any other term is a constant IRI/literal;
    * solutions leaving any template position NULL are dropped for
      that template triple (the spec: instantiations with unbound
      variables are omitted), others still emit;
    * the result is DISTINCT per the spec (CONSTRUCT builds a GRAPH —
      a set of triples, unlike SELECT's bag of solutions).

    Scale shape: one projection per template triple over the one
    evaluated WHERE relation (lineage shared, not recomputed) + a
    union + one hash-distinct keyed (subj, pred, obj).  Feeding the
    output back through another ``construct_query`` — or unioning it
    with the source graph — is exactly how rule-based SKOS inference
    materializes (``operators/expand.py`` is the hand-built special
    case).
    """
    if not template:
        raise ValueError("empty CONSTRUCT template")
    bindings = select_query(triples, patterns, **select_kwargs)

    def term(t, pos):
        if _is_var(t):
            name = t[1:]
            if name not in bindings.columns:
                raise ValueError("template var %s not bound by the "
                                 "WHERE patterns (%s)" %
                                 (t, bindings.columns))
            return F.col(name).alias(pos)
        return F.lit(t).alias(pos)

    parts = []
    for pat in template:
        if len(pat) != 3:
            raise ValueError("template triple must have 3 terms: %r"
                             % (pat,))
        row = bindings.select(term(pat[0], "subj"),
                              term(pat[1], "pred"),
                              term(pat[2], "obj"))
        parts.append(row.filter(F.col("subj").isNotNull()
                                & F.col("pred").isNotNull()
                                & F.col("obj").isNotNull()))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def ask_query(triples: DataFrame, patterns, **select_kwargs) -> bool:
    """SPARQL ASK — does at least one solution exist?  Evaluated with
    an early-exit ``limit(1)``: Spark stops scanning as soon as any
    task yields a row, so a satisfiable ASK over 100 TB touches a
    sliver of it."""
    return bool(select_query(triples, patterns, **select_kwargs)
                .limit(1).take(1))


def materialize_rules(triples: DataFrame, rules,
                      max_rounds: int = 25) -> DataFrame:
    """Forward-chaining rule materialization to FIXPOINT — the datalog
    step CONSTRUCT implies: each rule is ``(template, where_patterns)``
    or ``(template, where_patterns, select_kwargs)``; every round
    evaluates all rules against the CURRENT graph, anti-joins out the
    triples already present, and unions the genuinely new ones in;
    stops when a round derives nothing.

    Convergence shape: a self-recursive transitivity rule
    (``(?a p ?b) ∧ (?b p ?c) → (?a p ?c)``) DOUBLES reachable path
    length per round because round k's derivations join round k's
    derivations — O(log diameter) rounds, the same curve as the
    closure operator.  Non-recursive rules (inverses, type markers,
    scheme membership) whose bodies read no predicate they derive
    finish in ONE round: see the predicate test below.

    Iteration discipline (the `_cc_loop` shape): each round's new-delta
    is lazily ``localCheckpoint``-marked and materialized BY the
    convergence action itself — a per-predicate count of the delta, so
    one action per round both tests the fixpoint (no predicates → no
    new triples) and names what the delta holds — since at bench
    scale iterative wall time is job count — and the accumulated graph
    re-checkpoints each round so the plan does not grow.  Every
    per-round shuffle is keyed (subj, pred, obj) — hash joins and
    distincts only, no driver-side data.

    Evaluation is SEMI-NAIVE from round 2 on (classic datalog): a
    conclusion is genuinely new only if at least one of its premises
    is from the previous round's delta, so each eligible rule with k
    patterns is evaluated k times with ONE pattern pointed at the
    delta (``pattern_sources``) and the rest at the accumulated graph
    — per-round cost tracks the delta, not the whole graph.  The
    derived set is provably identical to full re-evaluation: any
    instantiation whose premises all predate the delta was already
    derived (and anti-joined away) in an earlier round, so the
    per-round new-triple sets — and therefore the fixpoint, the round
    count, and the divergence guard — are unchanged (pytest pins
    semi-naive == naive on a deep chain).  A delta-sourced pattern
    whose predicate is a constant the previous round did not derive
    filters the delta on a predicate it does not contain, so it is
    provably empty and is not planned at all; when every rule is plain
    and no pattern is left live, the next round could derive nothing
    and the loop returns without running it.  Rules using property paths,
    OPTIONAL/UNION or other select kwargs fall back to full
    evaluation for that rule (delta-restricting a closure path is not
    sound), still anti-joined the same way.

    Raises after ``max_rounds`` non-converged rounds (a graph whose
    closure has not fixed by then signals a rule deriving unbounded
    fresh terms — a bug, not a bigger budget)."""
    norm = []
    for rule in rules:
        if len(rule) == 2:
            template, where = rule
            kwargs = {}
        else:
            template, where, kwargs = rule
        plain = (not kwargs
                 and all(len(p) == 3 and isinstance(p[1], str)
                         for p in where))
        norm.append((template, where, kwargs, plain))
    if not norm:
        raise ValueError("materialize_rules needs at least one rule")
    graph = (triples.select("subj", "pred", "obj").distinct()
             .localCheckpoint(eager=False))
    all_plain = all(plain for *_, plain in norm)
    delta = None          # None -> full evaluation (round 1)
    live = None           # per rule: the delta-scanned pattern indices
    for _ in range(max_rounds):
        derived = None
        for r, (template, where, kwargs, plain) in enumerate(norm):
            if delta is None or not plain:
                parts = [construct_query(graph, template, where,
                                         **kwargs)]
            else:
                parts = []
                for i in live[r]:
                    sources = [None] * len(where)
                    sources[i] = delta
                    parts.append(construct_query(
                        graph, template, where,
                        pattern_sources=sources))
            for d in parts:
                derived = d if derived is None else derived.unionByName(d)
        # one action per round (the tc/pagerank loop shape): the
        # per-predicate count materializes the LAZY checkpoint itself —
        # every partition computes and pins under it — and its rows are
        # both the convergence test and the next round's live predicates
        new = (derived.distinct()
               .join(graph, ["subj", "pred", "obj"], "left_anti")
               .localCheckpoint(eager=False))
        fresh = {row["pred"] for row in
                 new.groupBy("pred").count().collect()}
        if not fresh:
            return graph
        graph = graph.unionByName(new).localCheckpoint(eager=False)
        delta = new
        live = [[i for i, p in enumerate(where)
                 if _is_var(p[1]) or p[1] in fresh] if plain else []
                for _, where, _, plain in norm]
        if all_plain and not any(live):
            return graph
    raise RuntimeError(
        "rule materialization did not converge in %d rounds — a rule "
        "is deriving unbounded fresh triples" % max_rounds)
