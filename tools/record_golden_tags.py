"""Record the golden-tag fixture (tests/fixtures/golden_tags.json).

The fixture pins the exact BIO tags three models give on a fixed set of
sentences, so any kernel change that moves a single tag fails
tests/test_golden_tags.py:

- ``zero_shot``: ``TaggerKernel(build_weights())`` at the default
  ``neural_scale`` (lexicon + seeded neural branch, Viterbi);
- ``dnrti`` / ``malwaredb``: the committed trained artifacts
  (ner4cti_spark/artifacts/{corpus}_crf.npz).

Sentences: distinct synthetic-corpus lines, gazetteer-built CTI
sentences, an empty sentence, one sentence over MAX_SEQ_LEN tokens and
unicode text. Re-record only when a tag change is intended:

    python tools/record_golden_tags.py
"""

from __future__ import annotations

import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIXTURE = os.path.join(ROOT, "tests", "fixtures", "golden_tags.json")


def build_sentences() -> list[list[str]]:
    from ner4cti_spark.corpus import _doc_text
    from ner4cti_spark.kernel import gazetteer

    sents: list[list[str]] = []
    seen: set[tuple[str, ...]] = set()

    def add(tokens: list[str]) -> None:
        if tuple(tokens) not in seen:
            seen.add(tuple(tokens))
            sents.append(tokens)

    # synthetic-corpus lines, tokenized as operators/sentencize.py does
    doc = 0
    while len(sents) < 170:
        for line in _doc_text(doc)[0].split("\n"):
            line = line.strip()
            if line:
                add(line.split())
        doc += 1
    sents = sents[:170]
    seen = {tuple(s) for s in sents}

    # gazetteer-built CTI sentences: every alias once, in a few frames
    rng = random.Random(7)
    frames = [
        "Analysts linked {a} to the intrusion .",
        "{a} was observed alongside {b} in the same campaign",
        "the report on {a} mentions {b} , {c} and CVE-2021-{n}",
        "{a} ( aka {b} ) used 10.{n3}.4.{n4} and update-{n}.example.net",
    ]
    aliases = [a for ents in gazetteer.ENTITIES.values()
               for al in ents.values() for a in al]
    for i, a in enumerate(aliases):
        b, c = rng.choice(aliases), rng.choice(aliases)
        text = frames[i % len(frames)].format(
            a=a, b=b, c=c, n=rng.randint(1000, 99999),
            n3=rng.randint(0, 255), n4=rng.randint(1, 254))
        add(text.split())

    # edge cases: empty input, one line past MAX_SEQ_LEN, unicode
    add([])
    long_words = ("APT28 deployed Mimikatz for credential dumping then "
                  "moved laterally with PsExec and Cobalt Strike").split()
    add([long_words[i % len(long_words)] for i in range(300)])
    for text in (
        "Группа APT28 использовала Mimikatz",
        "攻击者 Lazarus Group 利用 CVE-2017-0144 传播 WannaCry",
        "naïve café résumé with Emotet",
        "Ｆａｎｃｙ Bear and ＡＰＴ２９ are fullwidth",
        "😀 Stuxnet 🔥 spear phishing",
        "Ryuk​Ryuk zero-width joined",
        "Ελληνικά Turla και Snake",
        "العربية Sandworm Team",
    ):
        add(text.split())
    return sents


def kernels() -> dict:
    from ner4cti_spark.kernel import perceptron
    from ner4cti_spark.kernel.tagger import TaggerKernel
    from ner4cti_spark.kernel.weights import build_weights
    from ner4cti_spark.training import ARTIFACT_DIR, label_space_for

    out = {"zero_shot": TaggerKernel(build_weights())}
    for corpus in ("dnrti", "malwaredb"):
        arts, lex, _etypes = perceptron.load_artifact(
            os.path.join(ARTIFACT_DIR, f"{corpus}_crf.npz"))
        ls = label_space_for(corpus)
        w = build_weights(label_space=ls)
        w.update(arts)
        out[corpus] = TaggerKernel(w, phrases=lex, label_space=ls)
    return out


def tag_all(sents: list[list[str]]) -> dict[str, list[str]]:
    """model → one space-joined tag string per sentence."""
    return {name: [" ".join(t) for t in k.tag(sents)[0]]
            for name, k in kernels().items()}


def main() -> None:
    sents = build_sentences()
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w", encoding="utf-8") as f:
        json.dump({"sentences": sents, "tags": tag_all(sents)}, f,
                  ensure_ascii=False, indent=0)
        f.write("\n")
    print(f"{len(sents)} sentences → {FIXTURE}")


if __name__ == "__main__":
    main()
