"""Linking variants: ml-vs-sql LSH agreement, greedy decode, skew salting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def alias_surfaces(spark):
    from ner4cti_spark.kernel.gazetteer import alias_rows

    return spark.createDataFrame(
        [(e, a) for e, _c, a in alias_rows()], "etype string, surface string"
    ).withColumn("freq", F.lit(1))


def test_ml_and_sql_lsh_agree_on_high_similarity(spark, alias_surfaces):
    """pyspark.ml MinHashLSH and the SQL-portable banding implementation
    must agree on clearly-similar pairs (LSH families differ, so compare
    at a threshold where both have ~certain recall)."""
    from ner4cti_spark.linking.minhash_lsh import candidate_pairs_ml, candidate_pairs_sql

    sql_pairs = {
        (r["surface_a"], r["surface_b"])
        for r in candidate_pairs_sql(alias_surfaces, sim_threshold=0.7).collect()
    }
    ml_pairs = {
        (r["surface_a"], r["surface_b"])
        for r in candidate_pairs_ml(alias_surfaces, sim_threshold=0.7).collect()
    }
    assert ("TrickBot", "Trickbot") in {tuple(sorted(p)) for p in sql_pairs}
    # high-similarity pairs: both families should find the same set
    assert sql_pairs == ml_pairs, (sql_pairs ^ ml_pairs)


def test_greedy_decode_pipeline_path(spark):
    """decode='greedy' (W7, utils.py:10-20) runs the full pipeline and
    finds the planted entities (greedy == viterbi when lexicon margins
    dominate)."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.pipeline import PipelineConfig, run_pipeline

    corpus = generate_corpus(spark, n_docs=40).cache()
    tv = run_pipeline(spark, corpus, PipelineConfig(decode="viterbi"))["triples"]
    tg = run_pipeline(spark, corpus, PipelineConfig(decode="greedy"))["triples"]
    a = tv.select("subj", "pred", "obj")
    b = tg.select("subj", "pred", "obj")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_salted_repartition_spreads_hot_repo(spark):
    """The hot repo (repo-0000 holds ~half the files by construction)
    must not pin a single partition: with salting, the largest partition
    stays within a small factor of the mean."""
    from ner4cti_spark.corpus import generate_corpus
    from ner4cti_spark.operators.sentencize import sentencize, with_sha256
    from ner4cti_spark.tagging import salted_repartition

    sents = sentencize(with_sha256(generate_corpus(spark, n_docs=400)))
    n_part = 16
    salted = salted_repartition(sents, n_part)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in sizes]
    total = sum(counts)
    mean = total / n_part
    assert max(counts) < 2.5 * mean, counts
    # un-salted single-column partitioning for contrast: hot repo pins one
    unsalted = sents.repartition(n_part, F.col("repo"))
    u_sizes = [
        r["count"]
        for r in unsalted.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
    ]
    assert max(u_sizes) > max(counts), (u_sizes, counts)


def test_exact_pairs_normalized_equality(spark, alias_surfaces):
    """Standalone exact-normalization pair generator (the edge-based form
    of what canonicalize folds into node ids)."""
    from ner4cti_spark.linking.minhash_lsh import exact_pairs

    rows = exact_pairs(alias_surfaces).collect()
    pairs = {tuple(sorted((r["surface_a"], r["surface_b"]))) for r in rows}
    assert ("APT 28", "APT28") in pairs
    assert ("Cobalt Strike", "CobaltStrike") in {tuple(sorted(p)) for p in pairs}
    assert all(r["jaccard"] == 1.0 for r in rows)


def test_canonicalize_distributed_path_matches_small(spark, alias_surfaces, monkeypatch):
    """Above DRIVER_THRESHOLD edges canonicalize takes the distributed
    fixpoint and counts the surfaces in a separate job; the alias table
    and stats["n_surfaces"] must equal the small (driver) path's."""
    from ner4cti_spark.linking import components
    from ner4cti_spark.linking.minhash_lsh import candidate_pairs_sql

    pairs = candidate_pairs_sql(alias_surfaces, sim_threshold=0.5).cache()

    def run():
        stats: dict = {}
        rows = components.canonicalize(alias_surfaces, pairs, stats).collect()
        return {tuple(r) for r in rows}, stats["n_surfaces"]

    small, n_small = run()
    calls = []
    real = components._distributed_cc
    monkeypatch.setattr(components, "_distributed_cc",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    monkeypatch.setattr(components, "DRIVER_THRESHOLD", 2)
    big, n_big = run()
    assert calls, "the distributed path did not run"
    assert small == big
    assert n_small == n_big == alias_surfaces.count()
    pairs.unpersist()
