"""Seeded inputs: the two workload corpora and the dataprep tables.

Everything here is plain Python driven by ``random.Random(seed)``: the
same seed gives byte-identical rows and gold, and the engine only ever
sees the parquet files written from these rows.

- ``cti_prose``: report-style prose. Every line is a distinct sentence
  of pseudo-words with 1-4 planted mentions of the named types only
  (threat-actor, malware, tool, attack-pattern).
- ``code_ioc``: code files. Most lines come from a small fixed pool, so
  they repeat across files; the rest carry unique indicators (IPs,
  hashes, domains) and CVEs, with a rare named mention.
- ``dataprep``: the ``documents`` / ``embeddings`` / ``supplier``
  tables in the schema the operator queries read, with planted
  near-duplicate document pairs as gold.

Repo names do not depend on the seed, and files are dealt to repos
round-robin, so the lineage bucket of every repo (and the share of the
corpus in any fixed bucket set) is the same on every seed.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from ner4cti_spark.kernel import gazetteer

CORPUS_SCHEMA = pa.schema([
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()),
])

NAMED_TYPES = ("threat-actor", "malware", "tool", "attack-pattern")
IDENTITY_TYPES = ("cve", "indicator")

# Gold mention: (path, sent_id, begin, end, etype, surface); end exclusive.
Gold = list[tuple[str, int, int, int, str, str]]

_SYLLABLES = ["ka", "lo", "mi", "nu", "re", "sa", "ti", "vo", "ze", "bra",
              "dun", "fel", "gor", "hin", "jas", "kel", "mor", "nix", "pul",
              "qua", "rin", "sor", "tam", "vek", "wil", "yor", "zin", "ost"]
_TLDS = ["com", "net", "org", "info", "io"]
# Document shape is fixed per document index and only the content comes
# from the seed, so every seed gives the same sentence, token and
# mention counts: seeds then move timings by run-to-run noise, not size.
_PROSE_LINES = 22
_CODE_LINES = 28
_IOC_LINES = 10


def _aliases() -> dict[str, list[str]]:
    ents = gazetteer.ENTITIES
    return {et: sorted({a for al in ents[et].values() for a in al}) for et in NAMED_TYPES}


def _vocabulary() -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the run seed). Words
    that the tagger's lexicon or indicator patterns could match are
    dropped, so only planted mentions can be tagged."""
    banned = {t for k in gazetteer.phrase_index() for t in k}
    rng = random.Random(20221007)
    words: set[str] = set()
    while len(words) < 4000:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in banned and gazetteer.classify_token(w) is None:
            words.add(w)
    return sorted(words)


def _repo(i: int) -> str:
    return f"org/repo-{i:03d}"


def _commit(repo: str) -> str:
    return hashlib.sha1(repo.encode()).hexdigest()


# ----------------------------------------------------------------- cti_prose

def cti_prose(seed: int, n_docs: int, n_repos: int = 96) -> tuple[list[dict], Gold]:
    rng = random.Random(seed * 7919 + 1)
    vocab = _vocabulary()
    aliases = _aliases()
    rows: list[dict] = []
    gold: Gold = []
    for d in range(n_docs):
        repo = _repo(d % n_repos)
        path = f"reports/{d:06d}.md"
        lines: list[str] = []
        for ln in range(_PROSE_LINES):
            toks: list[str] = []
            for k in range(1 + (d + ln) % 4):
                toks += rng.sample(vocab, 4 + (d + 3 * ln + 5 * k) % 9)
                etype = rng.choice(NAMED_TYPES)
                surface = rng.choice(aliases[etype])
                n = len(surface.split())
                gold.append((path, ln, len(toks), len(toks) + n, etype, surface))
                toks += surface.split()
            toks += rng.sample(vocab, 6 + (d + ln) % 7)
            toks[0] = toks[0].capitalize()
            lines.append(" ".join(toks) + " .")
        rows.append({"repo": repo, "path": path, "commit": _commit(repo), "lang": "md",
                     "content": "\n".join(lines)})
    return rows, gold


# ------------------------------------------------------------------ code_ioc

_CODE_POOL = [
    "import os", "import sys", "import json", "from typing import Any",
    "def handle(event, context):", "    return None", "    return result",
    "    if not data:", "        continue", "    for item in items:",
    "        result.append(item)", "class Loader(object):",
    "    def __init__(self, path):", "        self.path = path",
    "int main(int argc, char **argv) {", "    return 0;", "}",
    "#include <stdio.h>", "#include <string.h>", "    free(buf);",
    "    buf = malloc(len);", "public static void main(String[] args) {",
    "    logger.info(\"started\");", "    try {", "    } catch (Exception e) {",
    "// TODO: remove debug path", "## Build", "See the notes below.",
    "    timeout = 30", "    retries = 3", "    with open(path) as fh:",
    "        payload = fh.read()", "    assert payload",
]

_IOC_TEMPLATES = [
    "BLOCK_IPS = [ {ip} , {ip} ]",
    "    hosts.add( {domain} )",
    "    known_hashes.add( {md5} )",
    "# dropper {sha256} beacons to {domain}",
    "# patched {cve} after scans from {ip}",
    "    exploit_ids = [ {cve} , {cve} ]",
    "C2 = {domain} # {ip}",
    "    sample = {md5} # seen with {cve}",
]
_NAMED_TEMPLATE = "# loader attributed to {named}"


def _ioc(rng: random.Random, vocab: list[str], kind: str) -> tuple[str, str]:
    if kind == "ip":
        return (f"{rng.randint(1, 223)}.{rng.randint(0, 255)}."
                f"{rng.randint(0, 255)}.{rng.randint(1, 254)}", "indicator")
    if kind == "md5":
        return f"{rng.getrandbits(128):032x}", "indicator"
    if kind == "sha256":
        return f"{rng.getrandbits(256):064x}", "indicator"
    if kind == "domain":
        return (f"{rng.choice(vocab)}-{rng.randint(1, 9999)}.{rng.choice(vocab)}."
                f"{rng.choice(_TLDS)}", "indicator")
    return f"CVE-{rng.randint(2014, 2024)}-{rng.randint(1000, 999999)}", "cve"


def code_ioc(seed: int, n_docs: int, n_repos: int = 96) -> tuple[list[dict], Gold]:
    rng = random.Random(seed * 7919 + 2)
    vocab = _vocabulary()
    aliases = _aliases()
    langs = ["py", "c", "java", "md"]
    rows: list[dict] = []
    gold: Gold = []
    for d in range(n_docs):
        repo = _repo(d % n_repos)
        lang = langs[d % len(langs)]
        path = f"src/mod_{d % 50:02d}/file_{d:06d}.{lang}"
        kinds = ["code"] * (_CODE_LINES - _IOC_LINES) + ["ioc"] * _IOC_LINES
        kinds[0] = "named" if d % 2 == 0 else "code"
        rng.shuffle(kinds)
        lines: list[str] = []
        n_ioc = 0
        for ln, kind in enumerate(kinds):
            if kind == "code":
                lines.append(rng.choice(_CODE_POOL))
                continue
            if kind == "named":
                etype = rng.choice(NAMED_TYPES)
                surface = rng.choice(aliases[etype])
                pre = _NAMED_TEMPLATE.split("{named}")[0].split()
                gold.append((path, ln, len(pre), len(pre) + len(surface.split()), etype, surface))
                lines.append(_NAMED_TEMPLATE.format(named=surface))
                continue
            toks: list[str] = []
            for part in _IOC_TEMPLATES[(d + n_ioc) % len(_IOC_TEMPLATES)].split():
                if part.startswith("{") and part.endswith("}"):
                    surface, etype = _ioc(rng, vocab, part[1:-1])
                    gold.append((path, ln, len(toks), len(toks) + 1, etype, surface))
                    toks.append(surface)
                else:
                    toks.append(part)
            lines.append(" ".join(toks))
            n_ioc += 1
        rows.append({"repo": repo, "path": path, "commit": _commit(repo), "lang": lang,
                     "content": "\n".join(lines)})
    return rows, gold


def write_corpus(rows: list[dict], out_dir: str, n_files: int = 8) -> None:
    """Corpus table as `n_files` parquet files, so the scan is parallel."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        part = rows[i::n_files]
        tbl = pa.Table.from_pylist(part, schema=CORPUS_SCHEMA)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def repeat_frac(rows: list[dict]) -> float:
    """Share of non-blank lines whose token sequence occurred earlier in
    the corpus: what an exact-sentence cache could serve."""
    seen: set[tuple[str, ...]] = set()
    total = repeats = 0
    for r in rows:
        for line in r["content"].split("\n"):
            toks = tuple(line.split())
            if not toks:
                continue
            total += 1
            repeats += toks in seen
            seen.add(toks)
    return repeats / max(total, 1)


# ------------------------------------------------------------------ dataprep

_DOC_WORDS = ["data", "spark", "query", "table", "row", "column", "scan", "join",
              "filter", "merge", "sort", "window", "batch", "stream", "key", "value",
              "part", "line", "order", "customer", "agg", "group", "hash", "fast",
              "slow", "big", "small", "vector", "index", "cache", "shuffle", "plan",
              "node", "task", "stage", "job", "file", "block", "page", "log"]
_DOC_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_DUP_FRAC = 0.06  # share of documents planted as a near-copy of an earlier one
_DIM, _CLUSTERS = 64, 16  # embedding width and cluster count


def dataprep(seed: int, n_docs: int, n_vecs: int, n_suppliers: int,
             ) -> tuple[dict[str, pa.Table], set[tuple[int, int]]]:
    """Tables for the dataprep leaves plus the planted near-duplicate
    document pairs (doc_a < doc_b). Each planted copy rewrites ~4% of
    its original's words, which keeps word 5-gram Jaccard near 0.6."""
    rng = random.Random(seed * 7919 + 3)
    texts: list[str] = []
    pairs: set[tuple[int, int]] = set()
    # a source is copied at most once and a copy is never a source, so
    # every planted pair is the only near-duplicate of its two documents
    sources: list[int] = []
    for d in range(n_docs):
        if len(sources) > 20 and rng.random() < _DUP_FRAC:
            src = sources.pop(rng.randrange(len(sources)))
            words = texts[src].split()
            for i in rng.sample(range(len(words)), max(1, len(words) // 25)):
                words[i] = rng.choice(_DOC_WORDS)
            texts.append(" ".join(words))
            pairs.add((src, d))
            continue
        texts.append(" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(30, 90))))
        sources.append(d)
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_DOC_LANGS) for _ in range(n_docs)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nprng = np.random.default_rng(seed * 7919 + 4)
    centers = nprng.normal(size=(_CLUSTERS, _DIM))
    labels = nprng.integers(0, _CLUSTERS, size=n_vecs)
    vecs = centers[labels] + 0.6 * nprng.normal(size=(n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    supplier = pa.table({
        "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_suppliers)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_suppliers)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_suppliers)],
    })
    return {"documents": documents, "embeddings": embeddings, "supplier": supplier}, pairs


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
