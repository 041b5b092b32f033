"""Shingle-scan cache hygiene: repeated dedup queries must reuse ONE
persisted (doc_id, shs) scan per corpus instead of registering a fresh
cache entry per call (the round-2 leak: a long session running many
dedup queries accumulated persisted RDDs until LRU eviction)."""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(SF_DIR) and os.path.exists(SF_DIR_01)),
    reason="driver-generated testdata fixtures absent",
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dedup_queries_share_one_cached_scan(spark):
    from ner4cti_spark import dataprep_queries as D

    # first round populates the module-level cache
    D.q_dedup_minhash(spark, SF_DIR).count()
    D.q_ngram_jaccard(spark, SF_DIR).count()
    before = _n_persistent(spark)
    # second round must not register any new persisted RDD
    D.q_dedup_minhash(spark, SF_DIR).count()
    D.q_ngram_jaccard(spark, SF_DIR).count()
    assert _n_persistent(spark) <= before


def test_simhash_neardup_shares_one_cached_signature(spark):
    from ner4cti_spark import dataprep_queries as D

    D.q_simhash_neardup(spark, SF_DIR).count()
    before = _n_persistent(spark)
    D.q_simhash_neardup(spark, SF_DIR).count()
    assert _n_persistent(spark) <= before


def test_shingle_cache_evicts_on_corpus_switch(spark):
    from ner4cti_spark import dataprep_queries as D

    D._doc_shingle_arrays(spark, SF_DIR).count()
    base = _n_persistent(spark)
    # switching corpora unpersists the old entry: count stays flat
    D._doc_shingle_arrays(spark, SF_DIR_01).count()
    assert _n_persistent(spark) <= base
    # switch back — still flat
    D._doc_shingle_arrays(spark, SF_DIR).count()
    assert _n_persistent(spark) <= base


@pytest.mark.parametrize("cached", ["_simhash_sigs", "_ivf_embeddings"])
def test_simhash_and_ivf_caches_evict_on_corpus_switch(spark, cached):
    from ner4cti_spark import dataprep_queries as D

    build = getattr(D, cached)
    build(spark, SF_DIR).count()
    base = _n_persistent(spark)
    build(spark, SF_DIR_01).count()
    assert _n_persistent(spark) <= base
    build(spark, SF_DIR).count()
    assert _n_persistent(spark) <= base


def test_embedding_ivf_unpersists_fit_cache(spark):
    """The Lloyd fit persists the vector set for its (eager) lifetime
    and must release it before returning the search plan — repeated
    embedding_ivf calls keep the persistent-RDD count flat."""
    from ner4cti_spark import dataprep_queries as D

    D.q_embedding_ivf(spark, SF_DIR).count()
    before = _n_persistent(spark)
    D.q_embedding_ivf(spark, SF_DIR).count()
    assert _n_persistent(spark) <= before
