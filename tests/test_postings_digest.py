"""Byte identity of every posting row the write path produces: the index
build, segment merge, streaming compaction and expunge must reproduce the
frozen digests in tests/golden/postings_digest.json (written by
tests/gen_postings_digest.py), so a codec or kernel rewrite cannot move
index sizes, scores or ranks."""

import json

from tests.gen_postings_digest import GOLDEN, digests


def test_write_path_postings_are_byte_identical(spark, tmp_path):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = digests(spark, str(tmp_path))
    assert sorted(got) == sorted(want)
    for case in want:
        diff = sorted(
            k for k in set(want[case]) | set(got[case])
            if want[case].get(k) != got[case].get(k)
        )
        assert not diff, (case, len(diff), diff[:5])
