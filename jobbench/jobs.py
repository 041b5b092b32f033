"""The pipeline workloads. Position 1 of every run is the job ``job.py``
runs: ``run_pipeline(out_dir=...)`` through the triples count, in a
fresh session; all end-to-end metrics come from it and its checks.

Traced runs then go on (nothing after position 1 feeds an end-to-end
metric): on code_ioc a simulated crash and the resume; then the job
again, warm, on a fresh output directory: one pass each of sentencize
and of the tag layer alone, then ``run_pipeline`` itself with spans
wrapped around the calls it makes (see ``_layer_spans``); on cti_prose
the dataprep leaves.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import checks
import gen

# Buckets whose tag-stage lineage rows the crash deletes. Fixed, and repo
# names do not depend on the seed, so every seed re-tags the same repos.
DROP_BUCKETS = (3, 11, 19, 27, 35, 43, 51, 59)
PR_FLOOR = 0.98
# corpus size per workload: cti_prose puts the tag stage level with link
# (ahead when the checkpoint's second tag pass misses the sentence cache)
# while a run stays near a minute; code_ioc's link + emit work is set by
# its unique indicators, whatever the size
DOCS = {"cti_prose": 280, "code_ioc": 150}
KERNEL_SAMPLE = 1024


def _sentences(rows: list[dict]) -> list[list[str]]:
    return [line.split() for r in rows for line in r["content"].split("\n") if line.split()]


def assert_property(kind: str, rows: list[dict], gold: gen.Gold) -> float:
    """Each workload's defining input property; returns repeat_frac."""
    rf = gen.repeat_frac(rows)
    types = {g[4] for g in gold}
    if kind == "cti_prose":
        if rf > 0.02 or not types <= set(gen.NAMED_TYPES):
            raise RuntimeError(f"cti_prose input lost its property: repeat_frac={rf:.3f} types={types}")
    else:
        surf = {(g[4], g[5]) for g in gold}
        ident = sum(1 for et, _ in surf if et in gen.IDENTITY_TYPES)
        if ident < 0.8 * len(surf) or rf < 0.4:
            raise RuntimeError(f"code_ioc input lost its property: identity {ident}/{len(surf)} "
                               f"repeat_frac={rf:.3f}")
    return rf


def kernel_probe(weights: dict, cfg, sents: list[list[str]]) -> dict[str, float]:
    """Driver-side kernel phases over a fixed sentence sample, no Spark:
    ``TaggerKernel.tag`` itself, with timers wrapped around the emission
    methods and the decoders it calls."""
    from ner4cti_spark.kernel import tagger

    k = tagger.TaggerKernel(weights, neural_scale=cfg.neural_scale, decode=cfg.decode,
                            sent_cache=False)
    spent = {"lexicon": 0.0, "neural": 0.0, "decode": 0.0}

    def timed(phase: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spent[phase] += time.perf_counter() - t0
        return wrapper

    k.lexicon_emissions = timed("lexicon", k.lexicon_emissions)
    k.neural_emissions = timed("neural", k.neural_emissions)
    decoders = tagger.viterbi_decode, tagger.greedy_decode
    tagger.viterbi_decode = timed("decode", decoders[0])
    tagger.greedy_decode = timed("decode", decoders[1])
    sample = sents[:KERNEL_SAMPLE]
    try:
        t0 = time.perf_counter()
        k.tag(sample)
        total = time.perf_counter() - t0
    finally:
        tagger.viterbi_decode, tagger.greedy_decode = decoders
    return {"kernel.lexicon_s": spent["lexicon"], "kernel.neural_s": spent["neural"],
            "kernel.decode_s": spent["decode"], "per_sentence_s": total / len(sample)}


def drop_tag_lineage(spark, out_dir: str, buckets) -> None:
    """The simulated crash: the tag-stage lineage rows of `buckets` vanish,
    as if those buckets' commits never happened."""
    from pyspark.sql import functions as F

    path = os.path.join(out_dir, "_lineage")
    keep = spark.read.parquet(path).filter(
        ~((F.col("stage") == "tag") & F.col("partition_key").isin([str(b) for b in buckets])))
    keep.coalesce(1).write.parquet(path + ".crash")
    shutil.rmtree(path)
    os.rename(path + ".crash", path)


def _triples_digest(spark, out_dir: str):
    pdf = spark.read.parquet(os.path.join(out_dir, "triples")).select("subj", "pred", "obj").toPandas()
    return checks.triple_digest(zip(pdf["subj"], pdf["pred"], pdf["obj"]))


def _plain_job(spark, corpus, cfg, out_dir, bc) -> tuple[float, int]:
    from ner4cti_spark.pipeline import run_pipeline

    t0 = time.perf_counter()
    out = run_pipeline(spark, corpus, cfg, out_dir=out_dir, weights_bc=bc)
    n = out["triples"].count()
    return time.perf_counter() - t0, n


@contextmanager
def _layer_spans(tracer, seen: dict):
    """Spans around the calls ``run_pipeline`` makes, by thin wrappers on
    the module attributes it looks up; the engine's own code does the work.

    - ``checkpoint.<table>``: each ``lineage.write_checkpoint`` call.
    - ``link``: ``link_entities``, plus materializing the alias table it
      returns (cached, so the triples stage reuses it): that work belongs
      to linking, not to the first action that happens to touch it.
    - ``emit``: one noop write of the triples frame just before its
      checkpoint, the graph layer alone.

    `seen` receives the linking stats and the fuzzy candidate-pair frame
    ``link_entities`` builds."""
    from ner4cti_spark import lineage, pipeline

    saved = lineage.write_checkpoint, pipeline.link_entities, pipeline.candidate_pairs_sql

    def write_checkpoint(spark, df, out_dir, table, stage, mode="append"):
        if table == "triples":
            with tracer.span("emit"):
                df.write.format("noop").mode("overwrite").save()
        with tracer.span(f"checkpoint.{table}"):
            saved[0](spark, df, out_dir, table=table, stage=stage, mode=mode)

    def link_entities(mentions, cfg, stats=None):
        with tracer.span("link"):
            entities = saved[1](mentions, cfg, stats=stats).cache()
            entities.count()
        seen["stats"] = stats
        return entities

    def candidate_pairs_sql(*args, **kwargs):
        seen["candidate_pairs"] = saved[2](*args, **kwargs)
        return seen["candidate_pairs"]

    lineage.write_checkpoint = write_checkpoint
    pipeline.link_entities, pipeline.candidate_pairs_sql = link_entities, candidate_pairs_sql
    try:
        yield
    finally:
        lineage.write_checkpoint = saved[0]
        pipeline.link_entities, pipeline.candidate_pairs_sql = saved[1:]


def _traced_job(run, corpus, cfg, out_dir, bc, bc_tag) -> int:
    """The job again, warm: one pass of sentencize and of the tag layer
    alone, then ``run_pipeline(out_dir=...)`` itself under layer spans;
    returns the triple count."""
    from ner4cti_spark.operators.sentencize import sentencize, with_sha256
    from ner4cti_spark.pipeline import extract_mentions, run_pipeline
    from pyspark.sql import functions as F

    tr = run.tracer
    with tr.span("sentencize"):
        run.layer["sentencize.sentences"] = sentencize(with_sha256(corpus)).count()
    with tr.span("tag"):
        (extract_mentions(run.spark, corpus, cfg, weights_bc=bc_tag)
         .write.format("noop").mode("overwrite").save())
    seen: dict = {}
    with _layer_spans(tr, seen):
        out = run_pipeline(run.spark, corpus, cfg, out_dir=out_dir, weights_bc=bc)
    n = out["triples"].count()
    run.layer["link.surfaces"] = seen["stats"]["n_surfaces"]
    run.layer["link.identity_surfaces"] = out["entities"].filter(
        F.col("etype").isin(*gen.IDENTITY_TYPES)).count()
    run.layer["link.candidate_pairs"] = seen["candidate_pairs"].count()
    out["entities"].unpersist()
    return n


def run_pipeline_workload(run, kind: str) -> None:
    from ner4cti_spark.pipeline import PipelineConfig, broadcast_weights

    in_dir = os.path.join(run.work, "input")
    out_dir = os.path.join(run.work, "job")
    cfg = PipelineConfig()

    spark = run.start_spark()
    with run.setup_step("setup.input_s"):
        rows, gold = getattr(gen, kind)(run.seed, DOCS[kind])
        rf = assert_property(kind, rows, gold)
        gen.write_corpus(rows, in_dir)
    # one fresh broadcast per pass, like a fresh job.py process: a shared
    # one would let the executor sentence cache serve the later passes
    names = ["job"]
    if run.trace:
        names += ["layers", "tag"] + (["resume"] if kind == "code_ioc" else [])
    with run.setup_step("setup.broadcast_s"):
        bc = {name: broadcast_weights(spark, cfg) for name in names}
    corpus = spark.read.parquet(in_dir)

    # ---- position 1: the job, as job.py runs it; every end-to-end metric
    job_s, n_triples = _plain_job(spark, corpus, cfg, out_dir, bc["job"])
    run.attempt()
    run.metric("job_s", job_s)
    run.metric("triples_per_s", n_triples / job_s)

    mentions = (spark.read.parquet(os.path.join(out_dir, "mentions"))
                .select("path", "sent_id", "begin", "end", "etype").toPandas())
    p, r = checks.precision_recall(checks.mention_keys(mentions),
                                   [(g[0], g[1], g[2], g[3], g[4]) for g in gold])
    run.metric("mention_precision", p)
    run.metric("mention_recall", r)
    run.check("mention P/R reach the gold floor", p >= PR_FLOOR and r >= PR_FLOOR,
              f"P={p:.4f} R={r:.4f} floor={PR_FLOOR}")
    bad = checks.lineage_mismatches(spark, out_dir)
    run.check("job lineage matches checkpointed rows", not bad, "; ".join(bad))
    run.metric("worker_rss_mb", run.worker_rss())
    if not run.trace:
        return

    # ---- traced runs go on: crash + resume of that job, then the layers
    clean = _triples_digest(spark, out_dir)
    run.check("job wrote its triples", clean[0] == n_triples > 0,
              f"{clean[0]} distinct vs {n_triples} counted")
    dropped = _crash_and_resume(run, corpus, cfg, out_dir, bc["resume"], clean) \
        if kind == "code_ioc" else []

    layers_dir = os.path.join(run.work, "layers")
    n_layer_triples = _traced_job(run, corpus, cfg, layers_dir, bc["layers"], bc["tag"])
    run.attempt()
    run.check("traced job writes the job's triple set",
              _triples_digest(spark, layers_dir) == clean, "digest differs")
    if kind == "cti_prose":
        from leaves import run_leaves

        run_leaves(run)
    _layer_metrics(run, kind, rows, corpus, cfg, layers_dir, len(mentions), rf,
                   n_layer_triples, dropped)


def _crash_and_resume(run, corpus, cfg, out_dir, bc, clean) -> list[int]:
    """Simulated crash of the finished job, then the resume; returns the
    populated buckets whose lineage the crash dropped."""
    spark = run.spark
    before = checks.bucket_files(os.path.join(out_dir, "mentions"))
    dropped = sorted(set(DROP_BUCKETS) & set(before))
    run.check("crash drops at least one populated bucket", bool(dropped), str(sorted(before)))
    drop_tag_lineage(spark, out_dir, DROP_BUCKETS)
    with run.tracer.span("resume"):
        _plain_job(spark, corpus, cfg, out_dir, bc)
    run.attempt()
    resumed = _triples_digest(spark, out_dir)
    run.check("resumed triple set equals the clean job's", resumed == clean,
              f"{resumed} vs {clean}")
    after = checks.bucket_files(os.path.join(out_dir, "mentions"))
    rewritten = sorted(b for b in after if after[b] != before.get(b))
    run.check("resume rewrote exactly the dropped buckets",
              rewritten == dropped and set(after) == set(before),
              f"rewritten {rewritten} dropped {dropped}")
    bad = checks.lineage_mismatches(spark, out_dir)
    run.check("resume lineage matches checkpointed rows", not bad, "; ".join(bad))
    return dropped


def _layer_metrics(run, kind, rows, corpus, cfg, out_dir, n_mentions, rf,
                   n_triples, dropped) -> None:
    """Per-layer metrics of a traced pipeline run (after all timed work)."""
    from ner4cti_spark import lineage
    from ner4cti_spark.kernel.weights import build_weights
    from ner4cti_spark.operators.sentencize import sentencize, with_sha256
    from pyspark.sql import functions as F

    L, sp = run.layer, run.tracer.spans
    expect_retag = (lineage.with_bucket(sentencize(with_sha256(corpus)))
                    .filter(F.col("bucket").isin(*dropped)).count()) if dropped else 0
    probe = kernel_probe(build_weights(cfg.profile), cfg, _sentences(rows))
    files = [os.path.join(d, f) for t in ("mentions", "triples", "_lineage")
             for d, _, fs in os.walk(os.path.join(out_dir, t)) for f in fs
             if f.endswith(".parquet")]
    ev = run.stop_and_read_event_log()

    def g(name: str) -> dict:
        return ev.get(name, {})

    sent = L["sentencize.sentences"]
    L.update({
        "sentencize.s": sp["sentencize"]["s"],
        "tag.s": sp["tag"]["s"],
        "tag.sentences_per_s": sent / sp["tag"]["s"],
        "tag.mentions": n_mentions,
        "tag.repeat_frac": rf,
        "tag.jobs": sp["tag"]["jobs"],
        "tag.shuffle_bytes": g("tag").get("shuffle_bytes", 0),
        "tag.executor_run_s": g("tag").get("executor_run_ms", 0) / 1000.0,
        "kernel.lexicon_s": probe["kernel.lexicon_s"],
        "kernel.neural_s": probe["kernel.neural_s"],
        "kernel.decode_s": probe["kernel.decode_s"],
        "tag.overhead_x": sp["tag"]["s"] / (probe["per_sentence_s"] * sent),
        "link.s": sp["link"]["s"],
        "link.jobs": sp["link"]["jobs"],
        "link.stages": sp["link"]["stages"],
        "link.shuffle_bytes": g("link").get("shuffle_bytes", 0),
        "emit.s": sp["emit"]["s"],
        "emit.triples": n_triples,
        "emit.jobs": sp["emit"]["jobs"],
        "emit.stages": sp["emit"]["stages"],
        "emit.shuffle_bytes": g("emit").get("shuffle_bytes", 0),
        "emit.spill_bytes": g("emit").get("spill_bytes", 0),
        "checkpoint.mentions_s": sp["checkpoint.mentions"]["s"],
        "checkpoint.triples_s": sp["checkpoint.triples"]["s"],
        "checkpoint.jobs": sp["checkpoint.mentions"]["jobs"] + sp["checkpoint.triples"]["jobs"],
        "checkpoint.files": len(files),
        "checkpoint.bytes": sum(os.path.getsize(f) for f in files),
        "checkpoint.tag_passes": len(g("checkpoint.mentions").get("tag_stages", [])),
    })
    if dropped:
        retagged = sum(s["records_in"] for s in g("resume").get("tag_stages", []))
        L.update({"resume.s": sp["resume"]["s"], "resume.retagged_sentences": retagged,
                  "resume.retag_frac": retagged / expect_retag})
        run.check("resume re-tagged exactly the dropped buckets' sentences",
                  retagged == expect_retag, f"{retagged} vs {expect_retag}")
    # the job's own stages as run_pipeline runs them: the tag stage with its
    # checkpoint (tag runs twice there), linking with its alias table, emit
    # with its checkpoint
    stages = {"tag": L["checkpoint.mentions_s"], "link": L["link.s"],
              "emit": L["checkpoint.triples_s"]}
    L["trace.stage_sum_s"] = sum(stages.values())
    L["trace.overhead_frac"] = (L["sentencize.s"] + L["tag.s"] + L["emit.s"]) / L["trace.stage_sum_s"]
    # timing shares, so reported rather than counted as a check: a busy
    # box can reorder two close stages without any output being wrong
    if kind == "cti_prose":
        run.info["intended_layer_dominates"] = max(stages, key=stages.get) == "tag"
    else:
        run.info["intended_layer_dominates"] = stages["link"] + stages["emit"] > stages["tag"]
    run.info["stage_s"] = stages
