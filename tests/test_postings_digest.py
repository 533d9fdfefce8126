"""Byte identity of every posting row the write path produces: the index
build, segment merge, streaming compaction and expunge must reproduce the
frozen digests in tests/golden/postings_digest.json (written by
tests/gen_postings_digest.py), so a codec or kernel rewrite cannot move
index sizes, scores or ranks. The same run checks the term_dict layout each
writer publishes."""

import json
import os

import pyarrow.parquet as pq
import pytest

from tests.gen_postings_digest import GOLDEN, digests


def term_dict_layout_faults(root: str) -> list[str]:
    """Faults of a published term_dict against its layout: terms sorted
    within each file, and no two files' term ranges overlapping."""
    d = os.path.join(root, "term_dict")
    faults, ranges = [], []
    for name in sorted(os.listdir(d)):
        if name.startswith(("_", ".")):
            continue
        terms = pq.read_table(os.path.join(d, name), columns=["term"])["term"].to_pylist()
        if any(a > b for a, b in zip(terms, terms[1:])):
            faults.append(f"{name}: terms not sorted")
        if terms:
            ranges.append((terms[0], terms[-1], name))
    ranges.sort()
    for (_, hi, a), (lo, _, b) in zip(ranges, ranges[1:]):
        if lo <= hi:
            faults.append(f"{a} and {b}: term ranges overlap")
    return faults


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    layouts = {}
    got = digests(
        spark, str(tmp_path_factory.mktemp("digest")),
        on_publish=lambda case, root: layouts.__setitem__(case, term_dict_layout_faults(root)),
    )
    return got, layouts


def test_write_path_postings_are_byte_identical(written):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = written[0]
    assert sorted(got) == sorted(want)
    for case in want:
        diff = sorted(
            k for k in set(want[case]) | set(got[case])
            if want[case].get(k) != got[case].get(k)
        )
        assert not diff, (case, len(diff), diff[:5])


def test_every_writer_publishes_sorted_term_dict(written):
    """build_index, update_by_query, compact and expunge_deletes all write
    term_dict range-partitioned and sorted by term."""
    layouts = written[1]
    assert sorted(layouts) == [
        "build_index", "build_index.update_by_query", "build_index_merge", "compact", "expunge",
    ]
    assert layouts == {case: [] for case in layouts}
