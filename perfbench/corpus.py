"""Seeded document corpus for the `operators` probe, and the checks on
`build_corpus` output.

The documents are sentences of made-up words, with the cases each stage
of the funnel acts on: a few boilerplate paragraphs shared by many
documents (paragraph dedup), exact copies (exact dedup), copies with one
word changed (near dedup). The seed also picks the decontamination
sample: 13-word spans copied out of a few documents.

A build's output is checked for what must hold whatever the near-dedup
hashing decides: ids unique and drawn from the input, no two texts
equal, no text sharing a 13-word span with the sample, token counts as
the engine's whitespace tokenization gives them, and packing offsets
laid end to end with each document's first and last sequence where the
pack budget cuts.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass

DOCS = 300
BUILDS = 2  # timed builds after the warm-up build
PACK_BUDGET = 256  # tokens per packed sequence
NGRAM = 13  # the decontamination rule's span length
COLUMNS = ("doc_id", "text", "n_tokens", "start_offset", "first_seq", "last_seq")
_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "po", "ga", "shu")


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    return " ".join(rng.choice(words) for _ in range(n))


def _ngrams(text: str) -> set[tuple[str, ...]]:
    t = text.lower().split()
    return {tuple(t[i : i + NGRAM]) for i in range(len(t) - NGRAM + 1)}


@dataclass
class Corpus:
    docs_path: str
    bench_path: str
    ids: set
    bench_ngrams: set

    @classmethod
    def generate(cls, seed: int, out_dir: str) -> "Corpus":
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(seed)
        words = sorted({a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES})
        boiler = [_sentence(rng, words, 12) for _ in range(3)]
        texts: list[str] = []
        for _ in range(DOCS):
            r = rng.random()
            if texts and r < 0.1:  # exact copy
                texts.append(rng.choice(texts))
            elif texts and r < 0.2:  # one word changed
                t = rng.choice(texts).split(" ")
                t[rng.randrange(len(t))] = rng.choice(words)
                texts.append(" ".join(t))
            else:
                paras = [
                    _sentence(rng, words, rng.randrange(20, 80))
                    for _ in range(rng.randrange(1, 4))
                ]
                if rng.random() < 0.3:
                    paras.insert(0, rng.choice(boiler))
                texts.append("\n\n".join(paras))
        bench = []
        for t in rng.sample(texts, 5):
            body = t.split("\n\n")[-1].split(" ")
            start = rng.randrange(len(body) - NGRAM + 1)
            bench.append(" ".join(body[start : start + NGRAM + 2]))
        os.makedirs(out_dir)
        docs_path = os.path.join(out_dir, "docs.parquet")
        bench_path = os.path.join(out_dir, "bench.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(range(DOCS), pa.int64()), "text": texts}), docs_path
        )
        pq.write_table(pa.table({"text": bench}), bench_path)
        return cls(
            docs_path,
            bench_path,
            set(range(DOCS)),
            set().union(*(_ngrams(b) for b in bench)),
        )

    def frames(self, spark):
        return spark.read.parquet(self.docs_path), spark.read.parquet(self.bench_path)

    def check(self, rows) -> list[str]:
        errors = []
        ids = [r["doc_id"] for r in rows]
        if not rows:
            errors.append("empty corpus")
        if len(set(ids)) != len(ids):
            errors.append("duplicate ids")
        if not set(ids) <= self.ids:
            errors.append("ids not in the input")
        if len({r["text"] for r in rows}) != len(rows):
            errors.append("exact duplicates left")
        if any(_ngrams(r["text"]) & self.bench_ngrams for r in rows):
            errors.append("contaminated documents left")
        offset = 0
        for r in sorted(rows, key=lambda r: r["start_offset"]):
            # split(trim(text), '\s+'): trim strips spaces only
            n = len(re.split(r"\s+", r["text"].strip(" ")))
            if (
                r["n_tokens"] != n
                or r["start_offset"] != offset
                or r["first_seq"] != offset // PACK_BUDGET
                or r["last_seq"] != (offset + n - 1) // PACK_BUDGET
            ):
                errors.append(f"document {r['doc_id']} packed wrongly: {dict(r.asDict())}")
                break
            offset += n
        return errors
