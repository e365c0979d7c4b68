"""Every public name and option of the package has a caller outside the
tests — pure Python, no JVM.

Callers are the package, the jobs, the tools, the benchmarks and
``__spark_entry__.py``.  Only code refers to a name: an ``ast.Name``, an
attribute name, an imported name, or a string constant that is exactly
one identifier (``jobs/sparql_query.py`` dispatches path operators with
``getattr(bgp, obj["op"])``).  Comments, docstrings and other bare
string statements do not count.

The names are the package's public top-level functions and classes and
the public methods of its public classes.  A method is reached only by
an attribute name (``obj.lineage()``), never by a variable or a dict key
that shares its name.  A method that overrides a pyspark base-class
method is reached, because Spark calls it.  The options are the
defaulted parameters of those functions, methods and class
``__init__``s.  A parameter is set by keyword, by position or through
``functools.partial``; a call with ``*args`` or ``**kwargs`` sets every
parameter.  An argument that only passes on the caller's own defaulted
parameter (same default), or its own ``**kwargs``, sets the option only
where that parameter is set.

A name only tests reach is dead weight unless ``KEPT`` gives the reason
it stays.  An option no caller outside the tests sets is a constant in
disguise unless it belongs to a ``KEPT`` name and a test sets it (tests
are a kept name's only callers), or ``KEPT_OPTIONS`` gives the reason it
stays.
"""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mc2skos_spark"
TESTS = ROOT / "tests"
CALLER_DIRS = ("mc2skos_spark", "jobs", "tools", "perfbench")
CALLER_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")

#: names only tests reach that stay, each with the reason it stays
KEPT = {
    "train_bpe_merges": "the training half of the BPE family whose "
                        "encoder is benchmarked",
    "linked_canonical_mapping": "the north-star path from entity links "
                                "to union-find canonicalization",
    "synth_media": "generates the multimodal test data",
    "precision_recall": "the paper's P/R >= 0.95 triple metric",
    "process_records": "the record-at-a-time reference twin the "
                       "property tests compare the Spark pipeline to",
    "word_ngrams": "the pure-Python twin the n-gram column tests "
                   "compare against",
    "dup_token_fraction": "the pure-Python twin the repetition tests "
                          "compare against",
    "top_ngram_fraction": "the pure-Python twin the repetition tests "
                          "compare against",
    "interval_join": "the batch twin the streaming interval join is "
                     "checked against",
    "train_quality_classifier": "the training half of the classifier "
                                "whose file jobs/curate.py loads",
    "save_classifier": "writes the classifier file jobs/curate.py loads",
    "IcebergishCatalog.invalidate": "simulates a killed driver for the "
                                    "resume tests",
    "IcebergishCatalog.lineage": "the queryable per-partition lineage the "
                                 "north_rule names; test_scale_paths "
                                 "checks it",
}

#: options no caller outside the tests sets that stay, each with the
#: reason it stays
KEPT_OPTIONS = {
    "transitive_closure.max_rounds": "a loop that does not converge "
                                     "raises at this bound",
    "connected_components.max_rounds": "a loop that does not converge "
                                       "raises at this bound",
    "IcebergishCatalog.read.snapshot_id": "VERSION AS OF reads a pinned "
                                          "snapshot",
    "pagerank.damping_pct": "a model parameter",
    "scored_sameas_edges.threshold": "a model parameter, the label "
                                     "similarity cutoff "
                                     "linked_canonical_mapping passes on",
    "process_record.options": "the reference API's conversion flags, "
                              "which the record-level tests drive",
    "streaming_session_stats.watermark_delay": "a deployment setting",
    "stream_interval_join.watermark_delay": "a deployment setting",
    "turn_rate_metrics.watermark_delay": "a deployment setting",
    "incremental_semantic_pairs.batch_id": "the exactly-once replay "
                                           "guard, same contract as "
                                           "append_batch_to_index",
    "make_transcript_rows.max_chunks": "the shape of the generated "
                                       "test data",
    "make_transcript_rows.skew_factor": "the shape of the generated "
                                        "test data",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _parse_all(paths):
    return {p.relative_to(ROOT): ast.parse(p.read_text(), str(p))
            for p in paths}


def _package_trees():
    return _parse_all(sorted(PACKAGE.rglob("*.py")))


def _caller_trees():
    paths = [p for d in CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    return list(_parse_all(paths + [ROOT / f for f in CALLER_FILES]).values())


def _test_trees():
    return list(_parse_all(sorted(TESTS.rglob("*.py"))).values())


def references(tree, method=False):
    """Every name the code of ``tree`` refers to.  With ``method``, only
    the attribute names: code reaches a method through an attribute, and
    a variable or a dict key that shares its name does not reach it."""
    if method:
        return {n.attr for n in ast.walk(tree)
                if isinstance(n, ast.Attribute)}
    prose = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier() and id(node) not in prose):
            refs.add(node.value)
    return refs


# -- options ----------------------------------------------------------------
# An option is keyed ``(callee, param)``: ``callee`` is the name a call
# uses (the class name for ``__init__``, the method name for a method).

class _Def:
    """A ``def`` as its callers see it."""

    def __init__(self, fn, cls):
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in fn.decorator_list)
        self.callee = (cls.name if cls and fn.name == "__init__"
                       else fn.name)
        a = fn.args
        pos = (a.posonlyargs + a.args)[1 if cls and not static else 0:]
        pos = list(enumerate(pos))[len(pos) - len(a.defaults):]
        #: defaulted parameter -> (its position in a call or None when it
        #: is keyword-only, its default as source)
        self.defaulted = {p.arg: (i, ast.dump(d))
                          for (i, p), d in zip(pos, a.defaults)}
        self.defaulted.update((p.arg, (None, ast.dump(d))) for p, d in
                              zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None)
        self.kwarg = a.kwarg.arg if a.kwarg else None


def _defs(tree, cls=None):
    """Every ``(def node, _Def)`` in ``tree``, methods included."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, _FUNCS):
            yield node, _Def(node, cls)
            yield from _defs(node)
        elif isinstance(node, ast.ClassDef):
            yield from _defs(node, node)
        else:
            yield from _defs(node, cls)


def _callee(func, aliases):
    if isinstance(func, ast.Name):
        return aliases.get(func.id, func.id)
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(tree):
    """``(call, callee, positional args, enclosing _Def)`` for every call
    in ``tree``; ``partial(f, ...)`` counts as a call of ``f``."""
    aliases = {a.asname: a.name.rpartition(".")[2]
               for node in ast.walk(tree)
               if isinstance(node, (ast.Import, ast.ImportFrom))
               for a in node.names if a.asname}
    owner = {}
    for node, d in _defs(tree):
        for sub in ast.walk(node):
            owner[id(sub)] = d  # innermost def wins: it is walked last
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        callee, args = _callee(node.func, aliases), node.args
        if callee == "partial" and args:
            callee, args = _callee(args[0], aliases), args[1:]
        if callee is not None:
            yield node, callee, args, owner.get(id(node))


def set_keys(trees, via=()):
    """Every ``(callee, param)`` a call in ``trees`` sets.  A call sets a
    parameter by keyword, by position or through ``*args``/``**kwargs``.
    An argument that only passes on a defaulted parameter of the
    enclosing ``def`` with the same default (``f(x=x)``), or a
    ``f(**kwargs)`` of its own ``**kwargs``, sets it only where that
    parameter is set.  Calls in ``via`` pass parameters on but set none
    themselves."""
    sigs = {}
    for tree in (*trees, *via):
        for _, d in _defs(tree):
            for param, pd in d.defaulted.items():
                sigs.setdefault(d.callee, {}).setdefault(param, set()).add(pd)
    direct, every, edges, forwards = set(), set(), {}, {}
    for tree in (*trees, *via):
        own = any(tree is t for t in trees)
        for call, callee, args, enc in _calls(tree):
            sig = sigs.get(callee, {})
            given = [(k.arg, k.value) for k in call.keywords if k.arg]
            given += [(param, args[i]) for param, pds in sig.items()
                      for i, _ in pds if i is not None and i < len(args)]
            star = any(isinstance(a, ast.Starred) for a in args)
            for k in call.keywords:
                if k.arg is not None:
                    continue
                if (enc and isinstance(k.value, ast.Name)
                        and k.value.id == enc.kwarg):
                    forwards.setdefault(enc.callee, set()).add(callee)
                else:
                    star = True
            if star and own:
                every.add(callee)
            for param, value in given:
                mine = (enc.defaulted.get(value.id)
                        if enc and isinstance(value, ast.Name) else None)
                if mine and mine[1] in {dump for _, dump in
                                        sig.get(param, ())}:
                    edges.setdefault((enc.callee, value.id), set()).add(
                        (callee, param))
                elif own:
                    direct.add((callee, param))
    done, todo = set(), list(direct)
    for callee in every:
        todo += [(callee, p) for p in sigs.get(callee, ())]
    while todo:
        key = todo.pop()
        if key in done:
            continue
        done.add(key)
        todo += edges.get(key, ())
        todo += [(c, key[1]) for c in forwards.get(key[0], ())]
    return done


def _pyspark_overrides(cls, tree):
    """Method names ``cls`` inherits from a pyspark base class."""
    imported = {a.asname or a.name: node.module
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("pyspark")
                for a in node.names}
    names = set()
    for base in cls.bases:
        if isinstance(base, ast.Name) and base.id in imported:
            mod = importlib.import_module(imported[base.id])
            names.update(dir(getattr(mod, base.id)))
    return names


def inventory(trees):
    """``(names, options)`` of the package ``trees``.  ``names`` maps each
    public name (``Class.method`` for a method) to ``(word, path)``, the
    word code must use to reach it.  ``options`` maps each defaulted
    parameter (``func.param``, ``Class.method.param``, ``Class.param``
    for ``__init__``) to ``((callee, param), path)``.  Overrides of
    pyspark methods are left out: Spark calls them."""
    names, options = {}, {}

    def add(qual, word, fn, cls, path):
        names.setdefault(qual, (word, path))
        d = _Def(fn, cls)
        for param in d.defaulted:
            options.setdefault("%s.%s" % (qual, param),
                               ((d.callee, param), path))

    for path, tree in trees.items():
        for node in tree.body:
            if getattr(node, "name", "_").startswith("_"):
                continue
            if isinstance(node, _FUNCS):
                add(node.name, node.name, node, None, path)
                continue
            if not isinstance(node, ast.ClassDef):
                continue
            names.setdefault(node.name, (node.name, path))
            spark = _pyspark_overrides(node, tree)
            for fn in node.body:
                if not isinstance(fn, _FUNCS) or fn.name in spark:
                    continue
                if fn.name == "__init__":
                    add(node.name, node.name, fn, node, path)
                elif not fn.name.startswith("_"):
                    add("%s.%s" % (node.name, fn.name), fn.name, fn, node,
                        path)
    return names, options


def unreached(package, callers):
    """``{name: path}`` for every public name of the ``package`` trees
    that no tree in ``callers`` refers to; a method needs an attribute
    reference."""
    names, _ = inventory(package)
    words = set().union(*(references(t) for t in callers))
    attrs = set().union(*(references(t, method=True) for t in callers))
    return {n: str(path) for n, (word, path) in names.items()
            if word not in (attrs if "." in n else words)}


def unset_options(package, callers, tests, kept):
    """``{option: path}`` for every option of the ``package`` trees that no
    call in ``callers`` sets, less those of ``kept`` names that a call in
    ``tests`` sets: tests are the only callers of a kept name."""
    _, options = inventory(package)
    by_callers = set_keys(callers)
    by_tests = set_keys(tests, via=package.values())
    return {q: str(path) for q, (key, path) in options.items()
            if key not in by_callers
            and not (q.rpartition(".")[0] in kept and key in by_tests)}


def _unreached():
    return unreached(_package_trees(), _caller_trees())


def _unset_options():
    return unset_options(_package_trees(), _caller_trees(), _test_trees(),
                         KEPT)


def test_every_public_name_has_a_caller():
    unreached = {n: p for n, p in _unreached().items() if n not in KEPT}
    assert not unreached, (
        "public names only tests reach (delete them, or add them to "
        "KEPT with a reason): %s" % sorted(unreached.items()))


def test_kept_names_are_still_test_only():
    unreached = _unreached()
    stale = sorted(n for n in KEPT if n not in unreached)
    assert not stale, ("KEPT entries that are gone or now have a caller: "
                       "%s" % stale)


def test_every_option_has_a_caller():
    unset = {q: p for q, p in _unset_options().items()
             if q not in KEPT_OPTIONS}
    assert not unset, (
        "options no caller outside the tests sets (make them constants, "
        "or add them to KEPT_OPTIONS with a reason): %s"
        % sorted(unset.items()))


def test_kept_options_still_lack_a_caller():
    unset = _unset_options()
    stale = sorted(q for q in KEPT_OPTIONS if q not in unset)
    assert not stale, ("KEPT_OPTIONS entries that are gone or now have a "
                       "caller: %s" % stale)


# -- the resolver itself ----------------------------------------------------

_DEFS = ast.parse("def f(a, x=0, *, y=1):\n    pass\n")


def _set_by(source):
    _, options = inventory({Path("m.py"): _DEFS})
    keys = set_keys([ast.parse(source)], via=[_DEFS])
    return {q for q, (key, _) in options.items() if key in keys}


def test_docstring_mention_is_no_reference():
    prose = references(ast.parse('"""f is mentioned."""\n# f(x=1)\n'
                                 'def g():\n    """Calls f."""\n'))
    assert "f" not in prose
    assert "f" in references(ast.parse('getattr(m, "f")\n'))


def test_aliased_import_sets_the_original_option():
    assert _set_by("from m import f as g\ng(1, x=1)\n") == {"f.x"}
    assert _set_by("import m\nm.f(1, 2)\n") == {"f.x"}
    assert _set_by("f(1)\n") == set()


def test_partial_sets_the_option():
    assert _set_by("from functools import partial\npartial(f, y=1)\n") \
        == {"f.y"}
    assert _set_by("import functools\nfunctools.partial(f, 1, 2)\n") \
        == {"f.x"}


def test_star_call_sets_every_option():
    assert _set_by("f(**kw)\n") == {"f.x", "f.y"}
    assert _set_by("f(*args)\n") == {"f.x", "f.y"}


def test_passed_on_option_is_set_only_where_its_caller_sets_it():
    wrapper = "def w(a, x=0, **kw):\n    return f(a, x=x, **kw)\n"
    assert _set_by(wrapper + "w(1)\n") == set()
    assert _set_by(wrapper + "w(1, x=2)\n") == {"f.x"}
    assert _set_by(wrapper + "w(1, y=2)\n") == {"f.y"}
    # a different default is a setting of its own
    assert _set_by("def w(a, x=5):\n    return f(a, x=x)\nw(1)\n") \
        == {"f.x"}


def test_pyspark_override_is_reached():
    tree = ast.parse("from pyspark.sql.datasource import DataSourceReader\n"
                     "class R(DataSourceReader):\n"
                     "    def read(self, partition, k=1):\n        pass\n"
                     "    def extra(self, k=1):\n        pass\n")
    names, options = inventory({Path("m.py"): tree})
    assert "R.read" not in names and "R.extra" in names
    assert set(options) == {"R.extra.k"}


def _unset(source, tests, kept=()):
    # the package is among its own callers
    return set(unset_options({Path("m.py"): _DEFS},
                             [_DEFS, ast.parse(source)], [ast.parse(tests)],
                             kept))


def test_option_nobody_sets_fails():
    assert _unset("f(1)\n", "f(1)\n") == {"f.x", "f.y"}
    assert _unset("f(1, 2)\n", "f(1, y=2)\n") == {"f.y"}


def test_option_a_test_sets_passes_only_on_a_kept_name():
    assert _unset("", "f(1, y=2)\n") == {"f.x", "f.y"}
    assert _unset("", "f(1, y=2)\n", kept={"f"}) == {"f.x"}


def test_method_is_reached_only_through_an_attribute():
    cls = ast.parse("class C:\n    def lineage(self, t=None):\n"
                    "        pass\n")

    def reached(source):
        return "C.lineage" not in unreached({Path("m.py"): cls},
                                            [ast.parse(source)])

    assert not reached("lineage = f()\nlineage.x\n")
    assert not reached('meta = {"lineage": []}\nmeta["lineage"]\n')
    assert reached("obj.lineage()\n")
