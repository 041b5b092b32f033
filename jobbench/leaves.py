"""The oracle-paired dataprep leaves, run in a fixed order in one session
on seeded tables in the ``documents`` / ``embeddings`` / ``supplier``
schema. Each leaf is collected once inside its span; the collected rows
are then checked against the leaf's DuckDB oracle from
``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import os

import checks
import gen
from metrics import LEAVES

SIZES = {"n_docs": 1000, "n_vecs": 800, "n_suppliers": 300}


def run_leaves(run) -> None:
    import duckdb

    import __spark_entry__ as entry

    sf_dir = os.path.join(run.work, "dataprep")
    tables, planted = gen.dataprep(run.seed, **SIZES)
    gen.write_tables(tables, sf_dir)
    queries, oracles = entry.queries(), entry.oracle_sql()

    out = {}
    for name in LEAVES:
        with run.tracer.span(f"query.{name}"):
            out[name] = queries[name](run.spark, sf_dir).toPandas()
        run.attempt()
        run.layer[f"query.{name}_s"] = run.tracer.spans[f"query.{name}"]["s"]
        run.layer[f"query.{name}.jobs"] = run.tracer.spans[f"query.{name}"]["jobs"]

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in LEAVES:
            bad = checks.frame_mismatch(out[name], con.execute(oracles[name]).df())
            run.check(f"{name} equals its DuckDB oracle", bad is None, str(bad))
    finally:
        con.close()
    nj = out["ngram_jaccard"]
    found = set(zip(nj["doc_a"].astype(int), nj["doc_b"].astype(int)))
    run.check("ngram_jaccard finds every planted near-duplicate pair", planted <= found,
              f"{len(planted - found)} of {len(planted)} missed")
