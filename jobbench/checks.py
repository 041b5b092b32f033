"""Output checks: triple digest, mention P/R against planted gold,
lineage read-back, bucket file listings, and the DuckDB oracle compare.

The pure functions here (digest, P/R, frame compare) take plain Python
or pandas values, so the tests exercise them without Spark.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd


def triple_digest(rows) -> tuple[int, int, int]:
    """Order-insensitive digest of a triple SET: (distinct count, xor and
    sum mod 2**64 of the first 60 bits of sha256(subj, pred, obj)).
    Duplicates collapse first, so only the set matters."""
    uniq = {(str(s), str(p), str(o)) for s, p, o in rows}
    x = total = 0
    for t in uniq:
        h = int(hashlib.sha256("\x1f".join(t).encode()).hexdigest()[:15], 16)
        x ^= h
        total = (total + h) % (1 << 64)
    return len(uniq), x, total


def precision_recall(pred, gold) -> tuple[float, float]:
    """Exact-span P/R over mention keys (path, sent_id, begin, end, etype).
    An empty side scores 0 for the ratio it is the base of."""
    p, g = set(pred), set(gold)
    tp = len(p & g)
    return (tp / len(p) if p else 0.0), (tp / len(g) if g else 0.0)


def mention_keys(pdf: pd.DataFrame) -> set[tuple]:
    return set(zip(pdf["path"], pdf["sent_id"].astype(int), pdf["begin"].astype(int),
                   pdf["end"].astype(int), pdf["etype"]))


def bucket_files(table_dir: str) -> dict[int, tuple]:
    """bucket → sorted (file name, size) of a bucket-partitioned table."""
    out: dict[int, tuple] = {}
    for d in sorted(os.listdir(table_dir)):
        if d.startswith("bucket="):
            path = os.path.join(table_dir, d)
            out[int(d.split("=", 1)[1])] = tuple(sorted(
                (f, os.path.getsize(os.path.join(path, f)))
                for f in os.listdir(path) if f.endswith(".parquet")))
    return out


def lineage_mismatches(spark, out_dir: str) -> list[str]:
    """Per-bucket lineage row counts read back from `_lineage` against the
    rows actually in the checkpointed tables. One lineage row per
    (stage, bucket) is expected."""
    from pyspark.sql import functions as F

    lin = (spark.read.parquet(os.path.join(out_dir, "_lineage"))
           .select("stage", F.col("partition_key").cast("int").alias("bucket"), "row_count")
           .toPandas())
    bad: list[str] = []
    for stage, table in (("tag", "mentions"), ("materialize", "triples")):
        rec = lin[lin["stage"] == stage]
        if rec["bucket"].duplicated().any():
            bad.append(f"{stage}: duplicate lineage rows")
        actual = (spark.read.parquet(os.path.join(out_dir, table))
                  .groupBy("bucket").count().toPandas())
        want = dict(zip(rec["bucket"].astype(int), rec["row_count"].astype(int)))
        got = dict(zip(actual["bucket"].astype(int), actual["count"].astype(int)))
        if want != got:
            diff = sorted(set(want.items()) ^ set(got.items()))[:4]
            bad.append(f"{stage}: lineage vs table bucket counts differ, e.g. {diff}")
    return bad


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def frame_mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows: same columns, row count,
    dtype kind per column and exact values (order-insensitive)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} vs {len(oracle_pdf)}"
    s, o = canon(spark_pdf), canon(oracle_pdf)
    for c in s.columns:
        if s[c].dtype.kind != o[c].dtype.kind:
            return f"{c}: dtype {s[c].dtype} vs {o[c].dtype}"
        if not s[c].equals(o[c].astype(s[c].dtype, copy=False)):
            return f"{c}: values differ"
    return None
