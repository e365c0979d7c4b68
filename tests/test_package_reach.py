"""Every public top-level function and class of the package has a caller
outside the tests — pure Python, no JVM.

A name is reached when it appears as a whole word in the package, the
jobs, the tools, the benchmarks or ``__spark_entry__.py`` on any line
other than a ``def``/``class`` line that defines it.  A helper only tests call
is dead weight unless it is on ``KEPT`` with the reason it stays.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mc2skos_spark"
CALLER_DIRS = ("mc2skos_spark", "jobs", "tools", "perfbench")
CALLER_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
_DEF_LINE = re.compile(r"^\s*(?:async\s+)?(?:def|class)\s+(\w+)")

#: test-only names that stay, each with the reason it stays
KEPT = {
    "train_bpe_merges": "the training half of the BPE family whose "
                        "encoder is benchmarked",
    "linked_canonical_mapping": "the north-star path from entity links "
                                "to union-find canonicalization",
    "synth_media": "generates the multimodal test data",
    "precision_recall": "the paper's P/R >= 0.95 triple metric",
}


def _public_names():
    names = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                names.setdefault(node.name, path.relative_to(ROOT))
    return names


def _caller_words():
    """Every whole word on a caller line, less the name a ``def`` or
    ``class`` line defines."""
    paths = [p for d in CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    paths += [ROOT / f for f in CALLER_FILES]
    words = set()
    for path in paths:
        for line in path.read_text().splitlines():
            toks = set(re.findall(r"\w+", line))
            own = _DEF_LINE.match(line)
            if own:
                toks.discard(own.group(1))
            words |= toks
    return words


def _unreached():
    words = _caller_words()
    return {name: str(path) for name, path in _public_names().items()
            if name not in words}


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
