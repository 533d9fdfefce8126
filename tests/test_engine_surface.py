"""The engine surface stays reachable, and its on-disk caches stay in the
checkout they belong to.

Every public top-level def/class in engine/*.py must be referenced from the
program: engine/ itself, the bench*.py scripts, perfbench/, tools/ or the
driver contract (__spark_entry__.py). A definition only tests reach is
dead weight the engine carries, unless it is one of the scalar references
below that a test compares the batched or JVM path against. A private
(underscore) definition is module-internal, so it only needs a reference
from anywhere, tests included.

A reference is a name, attribute or import of the definition's name outside
its own body. The scan is name-based: a same-named attribute elsewhere
counts too, so it can miss dead code, and a definition reached only through
a string (getattr) would be reported.
"""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

from engine.packaging import _REPO_ROOT

# name -> why a definition only tests reach still belongs in the engine
REFERENCE_ONLY = {
    "varint_encode": "scalar varint coder the batched codec's byte streams are checked against",
    "delta_encode": "scalar delta-gap coder the batched codec is checked against",
    "delta_decode": "inverse of delta_encode for the gap round-trip tests",
    "int_to_byte4": "Lucene SmallFloat norm byte that quantize_norm is property-tested against",
    "byte4_to_int": "inverse of int_to_byte4 for the same property test",
    "quantize_norm": "scalar Lucene norm quantizer pinned against the SmallFloat table",
    "encode_postings": "per-list posting encoder the batched encode_lists is checked against",
    "embedding_near_dups": "exact all-pairs cosine oracle embedding_near_dups_lsh recall is measured against",
}


def _files(*patterns: str) -> list[str]:
    out = []
    for p in patterns:
        out.extend(sorted(glob.glob(os.path.join(_REPO_ROOT, p), recursive=True)))
    return out


def _names(node: ast.AST) -> Counter:
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _engine_defs():
    for path in _files("engine/*.py"):
        for d in _parse(path).body:
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield os.path.basename(path), d


def _unreferenced() -> list[tuple[str, str]]:
    """(module file, name) of every definition the rules above reject,
    ignoring REFERENCE_ONLY."""
    program = Counter()
    for path in _files(
        "engine/*.py", "bench*.py", "perfbench/**/*.py", "tools/**/*.py",
        "__spark_entry__.py",
    ):
        program += _names(_parse(path))
    tests = Counter()
    for path in _files("tests/**/*.py"):
        tests += _names(_parse(path))
    out = []
    for module, d in _engine_defs():
        outside = program[d.name] - _names(d)[d.name]
        if d.name.startswith("_"):
            outside += tests[d.name]
        if outside <= 0:
            out.append((module, d.name))
    return out


def test_every_public_engine_definition_has_a_program_caller():
    dead = [
        f"{m}:{n}" for m, n in _unreferenced() if n not in REFERENCE_ONLY
    ]
    assert not dead, (
        "engine definitions no query, job or benchmark reaches (delete them, "
        "or add a scalar reference to REFERENCE_ONLY with its reason): "
        + ", ".join(dead)
    )


def test_reference_only_list_is_exact():
    """Each allowlisted name exists and still has no program caller: a
    reference the program starts calling, or one that is deleted, leaves
    the list."""
    defined = {d.name for _, d in _engine_defs()}
    unreferenced = {n for _, n in _unreferenced()}
    assert set(REFERENCE_ONLY) <= defined, set(REFERENCE_ONLY) - defined
    assert set(REFERENCE_ONLY) <= unreferenced, set(REFERENCE_ONLY) - unreferenced


def test_no_engine_path_literal_points_into_a_checkout():
    """On-disk state under a checkout is reached through
    packaging._REPO_ROOT, never through an absolute path literal: a literal
    ties every checkout on a host to one shared (and, with fresh=True,
    deleted) directory."""
    bad = []
    for path in _files("engine/*.py"):
        for n in ast.walk(_parse(path)):
            if not (isinstance(n, ast.Constant) and isinstance(n.value, str)):
                continue
            s = n.value
            if s.startswith(_REPO_ROOT + os.sep) or (
                s.startswith("/") and "/data/" in s
            ):
                bad.append(f"{os.path.basename(path)}:{n.lineno}: {s!r}")
    assert not bad, bad


def test_fixture_index_cache_lives_in_this_checkout(spark, sf_dir):
    from engine.registry import _indexed

    root = os.path.realpath(_indexed(spark, sf_dir).root)
    data = os.path.realpath(os.path.join(_REPO_ROOT, "data"))
    assert os.path.commonpath([root, data]) == data, (root, data)
    assert os.path.isfile(os.path.join(root, "manifest.json")), root
