"""The registry's public contract and its shared-frame store.

The contract half pins what `__spark_entry__.py` exposes: the ordered
`queries()` names and a sha256 of every `oracle_sql()` text (the oracle
texts are fingerprinted by their consumers), so a refactor of
`engine/registry.py` cannot rename, reorder or reword a query unnoticed.
Write the golden with `python tests/test_registry_contract.py` and commit
tests/golden/registry_contract.json.

The store half checks the one cache every shared registry frame lives in:
an entry whose persisted frames `spark.catalog.clearCache()` dropped is
rebuilt on its next access, one `clear()` (or `.clear()` on any of the names
`bench.py` clears) empties every kind, and the analyzer is part of a corpus
entry's key."""

import hashlib
import json
import os
import sys

import pytest
from pyspark import StorageLevel

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "registry_contract.json")


def contract() -> dict:
    from engine import registry

    return {
        "queries": list(registry.queries()),
        "oracle_sha256": {
            name: hashlib.sha256(sql.encode()).hexdigest()
            for name, sql in registry.oracle_sql().items()
        },
    }


def test_queries_order_is_pinned():
    with open(GOLDEN) as f:
        want = json.load(f)["queries"]
    assert contract()["queries"] == want


def test_oracle_sql_texts_are_pinned():
    with open(GOLDEN) as f:
        want = json.load(f)["oracle_sha256"]
    got = contract()["oracle_sha256"]
    assert list(got) == list(want)
    assert [n for n in want if got[n] != want[n]] == []


def test_corpus_entry_rebuilt_after_clear_cache(spark, sf_dir):
    from engine.registry import _built_corpus

    _built_corpus(spark, sf_dir)
    spark.catalog.clearCache()
    ts = _built_corpus(spark, sf_dir)[2]
    assert ts.storageLevel != StorageLevel.NONE


@pytest.mark.parametrize(
    "name", ["_SHARED", "_CORPUS_CACHE", "_INDEX_CACHE", "_FR_CORPUS_CACHE"]
)
def test_one_clear_empties_every_kind(spark, sf_dir, name):
    from engine import registry

    registry._built_corpus(spark, sf_dir)
    registry._built_corpus(spark, sf_dir, "french")
    registry._field_base(spark, sf_dir, "source")
    registry._tf_positions(spark, sf_dir)
    registry._indexed(spark, sf_dir)
    registry._ivf_assigned(spark, sf_dir)
    kinds = {key[0] for key in registry._SHARED}
    assert kinds >= {"corpus", "field", "tf_positions", "index", "ivf"}
    getattr(registry, name).clear()
    assert len(registry._SHARED) == 0


def test_analyzers_get_distinct_entries(spark, sf_dir):
    from pyspark.sql import functions as F

    from engine.registry import _SHARED, _built_corpus, _cache_key

    std = _built_corpus(spark, sf_dir)
    eng = _built_corpus(spark, sf_dir, "english")
    assert std[2] is not eng[2]
    analyzers = {
        key[1]
        for key in _SHARED
        if key[0] == "corpus" and key[2:] == _cache_key(spark, sf_dir)
    }
    assert analyzers >= {"standard", "english"}
    # the english entry really is english-analyzed: its stopwords are gone
    assert std[2].filter(F.col("term") == "the").count() == 1
    assert eng[2].filter(F.col("term") == "the").count() == 0


if __name__ == "__main__":
    with open(GOLDEN, "w") as f:
        json.dump(contract(), f, indent=1)
        f.write("\n")
    print(f"wrote {GOLDEN}")
