"""Every metric the benchmark reports, with the layer it measures and the
end-to-end metric (and workload) it should move. BENCHMARK.json lists
the same names, units and directions; a test keeps the two in step.

Entries: name -> (unit, better, layer, should move).
"""

from __future__ import annotations

LEAVES = ("embedding_ivf", "dedup_minhash", "ngram_jaccard", "dedup_simhash",
          "simhash_neardup", "connected_components", "graph_pagerank")

# Untraced runs; each is taken once, at a fixed position in the run.
END_TO_END: dict[str, tuple[str, str, float, str]] = {
    # name: (unit, better, bound, what it is)
    "setup_s": ("s", "lower", 0.25,
                "Spark start + input generation and parquet write + weight broadcast"),
    "job_s": ("s", "lower", 0.25,
              "checkpointed run_pipeline(out_dir=...) through the triples count, the first "
              "job of a fresh session, timed as job.py times it"),
    "triples_per_s": ("1/s", "higher", 0.25, "triples / job_s: the north-star headline"),
    "worker_rss_mb": ("MB", "lower", 0.1,
                      "summed peak RSS of the Python workers after the job: kernel LRU, "
                      "sentence and feature caches"),
    "mention_precision": ("ratio", "higher", 0.02, "exact-span precision vs planted gold"),
    "mention_recall": ("ratio", "higher", 0.02, "exact-span recall vs planted gold"),
}

_P = "cti_prose"
_C = "code_ioc"
_SETUP = "setup_s on both workloads"

# Traced runs. name: (unit, better, layer (module), should move)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "setup.spark_s": ("s", "lower", "session.get_spark", _SETUP),
    "setup.input_s": ("s", "lower", "benchmark input generation + parquet write", _SETUP),
    "setup.broadcast_s": ("s", "lower", "pipeline.broadcast_weights", _SETUP),
    "sentencize.s": ("s", "lower", "operators.sentencize", f"job_s on {_P}"),
    "sentencize.sentences": ("count", "higher", "operators.sentencize", f"job_s on {_P}"),
    "tag.s": ("s", "lower", "tagging + kernel", f"job_s on {_P}; little on {_C}"),
    "tag.sentences_per_s": ("1/s", "higher", "tagging + kernel", f"job_s on {_P}"),
    "tag.mentions": ("count", "higher", "tagging + kernel", "mention_recall on both"),
    "tag.repeat_frac": ("ratio", "higher", "input property (sentence cache reach)",
                        f"job_s on {_C} vs {_P}"),
    "tag.jobs": ("count", "lower", "tagging + kernel", f"job_s on {_P}"),
    "tag.shuffle_bytes": ("bytes", "lower", "tagging (salted repartition)", f"job_s on {_P}"),
    "tag.executor_run_s": ("s", "lower", "tagging + kernel", f"job_s on {_P}; worker_rss_mb"),
    "kernel.lexicon_s": ("s", "lower", "kernel.tagger.lexicon_emissions", f"job_s on {_P}"),
    "kernel.neural_s": ("s", "lower", "kernel.tagger.neural_emissions", f"job_s on {_P}"),
    "kernel.decode_s": ("s", "lower", "kernel.crf.viterbi_decode", f"job_s on {_P}"),
    "tag.overhead_x": ("ratio", "lower", "tagging (Spark + Arrow boundary vs kernel)",
                       f"job_s on {_P}"),
    "link.s": ("s", "lower", "linking (minhash_lsh, components)", f"job_s on {_C}"),
    "link.surfaces": ("count", "lower", "linking", f"job_s on {_C}"),
    "link.identity_surfaces": ("count", "lower", "linking", f"job_s on {_C}"),
    "link.candidate_pairs": ("count", "lower", "linking.minhash_lsh", f"job_s on {_C}"),
    "link.jobs": ("count", "lower", "linking", f"job_s on {_C}"),
    "link.stages": ("count", "lower", "linking", f"job_s on {_C}"),
    "link.shuffle_bytes": ("bytes", "lower", "linking", f"job_s on {_C}"),
    "emit.s": ("s", "lower", "graph", f"job_s on {_C}"),
    "emit.triples": ("count", "higher", "graph", "triples_per_s on both"),
    "emit.jobs": ("count", "lower", "graph", f"job_s on {_C}"),
    "emit.stages": ("count", "lower", "graph", f"job_s on {_C}"),
    "emit.shuffle_bytes": ("bytes", "lower", "graph", f"job_s on {_C}"),
    "emit.spill_bytes": ("bytes", "lower", "graph", f"job_s on {_C}"),
    "checkpoint.mentions_s": ("s", "lower", "lineage.write_checkpoint",
                              f"job_s on both, most on {_P}"),
    "checkpoint.triples_s": ("s", "lower", "lineage.write_checkpoint", "job_s on both"),
    "checkpoint.jobs": ("count", "lower", "lineage", "job_s on both"),
    "checkpoint.files": ("count", "lower", "lineage", "job_s on both"),
    "checkpoint.bytes": ("bytes", "lower", "lineage", "job_s on both"),
    "checkpoint.tag_passes": ("count", "lower", "lineage.write_checkpoint",
                              f"job_s on both, most on {_P}"),
    "resume.s": ("s", "lower", "lineage (filter_resumable, stage replace)",
                 f"none end-to-end; traced {_C} runs only"),
    "resume.retagged_sentences": ("count", "lower", "lineage.filter_resumable",
                                  f"none end-to-end; traced {_C} runs only"),
    "resume.retag_frac": ("ratio", "lower", "lineage.filter_resumable",
                          f"none end-to-end; traced {_C} runs only"),
    **{f"query.{q}_s": ("s", "lower", "dataprep_queries / linking.pagerank",
                        f"none end-to-end; traced {_P} runs only") for q in LEAVES},
    **{f"query.{q}.jobs": ("count", "lower", "dataprep_queries / linking.pagerank",
                           f"none end-to-end; traced {_P} runs only") for q in LEAVES},
    "trace.stage_sum_s": ("s", "lower", "run (control)", "none"),
    "trace.overhead_frac": ("ratio", "lower", "run (control)", "none"),
    "jvm_rss_mb": ("MB", "lower", "run (control)", "none"),
    "box.calib_s": ("s", "lower", "run (control)", "none"),
    "box.calib_drift": ("ratio", "lower", "run (control)", "none"),
}
