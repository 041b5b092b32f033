"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest jobbench/tests -q
"""

from __future__ import annotations

import ast
import json
import os
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import jobs  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402


# ---------------------------------------------------------------- generators

@pytest.mark.parametrize("kind", ["cti_prose", "code_ioc"])
def test_corpus_generators_are_deterministic_per_seed(kind):
    fn = getattr(gen, kind)
    a, b, c = fn(5, 12), fn(5, 12), fn(6, 12)
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]
    # repo names (hence lineage buckets) do not depend on the seed
    assert [r["repo"] for r in a[0]] == [r["repo"] for r in c[0]]


def test_dataprep_generator_is_deterministic_per_seed():
    (ta, pa_), (tb, pb), (tc, pc) = (gen.dataprep(s, 200, 60, 30) for s in (3, 3, 4))
    assert pa_ == pb and pa_ != pc
    for name in ta:
        assert ta[name].equals(tb[name])
    assert not ta["documents"].equals(tc["documents"])
    assert all(a < b for a, b in pa_)


@pytest.mark.parametrize("kind", ["cti_prose", "code_ioc"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_workload_property_holds(kind, seed):
    rows, gold = getattr(gen, kind)(seed, 60)
    rf = jobs.assert_property(kind, rows, gold)
    assert (rf < 0.02) if kind == "cti_prose" else (rf > 0.4)


def test_planted_gold_points_at_its_surface():
    for kind in ("cti_prose", "code_ioc"):
        rows, gold = getattr(gen, kind)(9, 20)
        text = {r["path"]: r["content"].split("\n") for r in rows}
        for path, sent, b, e, _etype, surface in gold:
            assert text[path][sent].split()[b:e] == surface.split()


# -------------------------------------------------------------------- checks

def test_triple_digest_ignores_order_and_duplicates():
    t = [("a", "mentions", "x"), ("b", "has_type", "malware"), ("x", "same_as", "y")]
    d = checks.triple_digest(t)
    assert d == checks.triple_digest(list(reversed(t)) + t[:1])
    assert d[0] == 3
    assert checks.triple_digest(t[:2] + [("x", "same_as", "z")]) != d
    # field boundaries matter: ("ab", "c") is not ("a", "bc")
    assert checks.triple_digest([("ab", "c", "d")]) != checks.triple_digest([("a", "bc", "d")])


def test_precision_recall():
    gold = [("p", 0, 1, 2, "malware"), ("p", 1, 0, 1, "tool"), ("q", 0, 3, 5, "tool")]
    assert checks.precision_recall(gold, gold) == (1.0, 1.0)
    p, r = checks.precision_recall(gold[:2] + [("p", 0, 1, 3, "malware")], gold)
    assert (p, r) == pytest.approx((2 / 3, 2 / 3))
    assert checks.precision_recall([], gold) == (0.0, 0.0)
    # etype is part of the key
    assert checks.precision_recall([("p", 0, 1, 2, "tool")], gold[:1]) == (0.0, 0.0)


def test_frame_mismatch_is_order_insensitive_and_typed():
    a = pd.DataFrame({"x": [1, 2], "y": [0.5, 0.25]})
    assert checks.frame_mismatch(a, a.iloc[::-1][["y", "x"]]) is None
    assert checks.frame_mismatch(a, a.assign(y=[0.5, 0.26])) is not None
    assert checks.frame_mismatch(a, a.assign(x=[1.0, 2.0])) is not None


# ----------------------------------------------------------------- event log

def test_event_log_parser_on_recorded_log():
    """The log was recorded from local[2] Spark with AQE on, then trimmed to
    the events and fields the parser reads. Group "tagged" wrote a
    repartition -> mapInPandas frame, then aggregated the same frame:
    both actions re-ran the MapInPandas stage over the 40 shuffled rows.
    Group "plain" counted a range."""
    groups = spans.parse_event_log(os.path.join(BENCH, "tests", "data", "eventlog_tiny.json"))
    tag = groups["tagged"]
    assert (tag["jobs"], tag["stages"]) == (5, 5)
    assert [s["records_in"] for s in tag["tag_stages"]] == [40, 40]
    assert all(s["duration_s"] > 0 for s in tag["tag_stages"])
    assert tag["shuffle_bytes"] > 0 and tag["executor_run_ms"] > 0
    assert tag["spill_bytes"] == 0
    plain = groups["plain"]
    assert (plain["jobs"], plain["stages"]) == (2, 2) and plain["tag_stages"] == []


# ------------------------------------------------------------ instrumentation

def test_layer_spans_wrap_the_engine_calls_and_restore_them():
    from ner4cti_spark import lineage, pipeline

    def attrs():
        return lineage.write_checkpoint, pipeline.link_entities, pipeline.candidate_pairs_sql

    before = attrs()
    seen: dict = {}
    with jobs._layer_spans(None, seen):
        assert all(a is not b for a, b in zip(attrs(), before))
    assert attrs() == before
    with pytest.raises(RuntimeError), jobs._layer_spans(None, seen):
        raise RuntimeError
    assert attrs() == before


def test_kernel_probe_times_the_kernels_own_tag_call():
    from ner4cti_spark.kernel import tagger
    from ner4cti_spark.kernel.weights import build_weights
    from ner4cti_spark.pipeline import PipelineConfig

    decoders = tagger.viterbi_decode, tagger.greedy_decode
    rows, _ = gen.cti_prose(1, 4)
    probe = jobs.kernel_probe(build_weights(), PipelineConfig(), jobs._sentences(rows))
    assert all(probe[k] > 0 for k in ("kernel.lexicon_s", "kernel.neural_s",
                                      "kernel.decode_s", "per_sentence_s"))
    assert (tagger.viterbi_decode, tagger.greedy_decode) == decoders


# ------------------------------------------------------------ metric contract

def test_no_end_to_end_metric_comes_from_a_time_bounded_loop():
    """The measured work is a fixed sequence: no `while` loop anywhere in
    the measuring modules, and `--seconds` is parsed but never read."""
    for mod in ("run.py", "jobs.py", "leaves.py", "spans.py"):
        with open(os.path.join(BENCH, mod), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        assert not any(isinstance(n, ast.While) for n in ast.walk(tree)), mod
        reads = [n for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute) and n.attr == "seconds"]
        assert not reads, f"{mod} reads .seconds"


def test_benchmark_json_matches_the_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == {
        k: v[:3] for k, v in metrics.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert [w["name"] for w in bench["workloads"]] == list(jobs.DOCS)
