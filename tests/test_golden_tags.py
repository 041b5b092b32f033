"""Golden tags: the exact BIO tags of the zero-shot kernel and of both
committed trained artifacts on a fixed sentence set
(tests/fixtures/golden_tags.json, written by tools/record_golden_tags.py).
A kernel change that moves any single tag fails here."""

from __future__ import annotations

import json
import os
import sys

from ner4cti_spark.kernel.tagger import MAX_SEQ_LEN

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "tools"))

import record_golden_tags as rec  # noqa: E402


def _fixture() -> dict:
    with open(rec.FIXTURE, encoding="utf-8") as f:
        return json.load(f)


def test_fixture_covers_edge_cases():
    sents = _fixture()["sentences"]
    assert 200 <= len(sents) <= 300
    assert [] in sents
    assert any(len(s) > MAX_SEQ_LEN for s in sents)
    assert any(not t.isascii() for s in sents for t in s)


def test_tags_equal_golden():
    fx = _fixture()
    got = rec.tag_all(fx["sentences"])
    assert set(got) == set(fx["tags"]) == {"zero_shot", "dnrti", "malwaredb"}
    for model, want in fx["tags"].items():
        diff = [i for i, (g, w) in enumerate(zip(got[model], want)) if g != w]
        assert len(got[model]) == len(want) and not diff, (
            f"{model}: {len(diff)} sentences changed tags, first {diff[:5]}")
