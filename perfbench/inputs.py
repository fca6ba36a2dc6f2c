"""Seeded benchmark inputs and their exact answers.

Every input comes from ``--seed``: the seed picks a doc-id offset into
the frozen ``sources/pages`` rows, the planted near-duplicate copies,
the probe and bulk query spans and the decoys.  The program under test
only ever receives the generated rows.  Exact answers are computed here
on the driver, outside every timed call.
"""

from __future__ import annotations

import collections
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Corpus size: the largest that keeps a run near a minute, which the
# benchmark's time budget needs (README.md, "Sizing").  Measured against a
# 4x corpus, the per-doc part of each call at this size is ~80% of the
# fused build, 40-60% of hll_agg, cms_agg and the LSH join, and 15-25% of
# a search call; the rest is fixed per-call cost.
N_DOCS = 3000
OFFSET_SPAN = 3000        # the seed picks an offset in [0, OFFSET_SPAN)
APPEND_DOCS = 300         # the batch update_store appends
PLANTED_SHARE = 0.10      # share of base docs that get a near-dup copy
PLANT_MIN_TOKENS = 50     # only docs this long get a copy
PLANT_MIN_JACCARD = 0.9   # far above the LSH S-curve knee (~0.5 at b=16, r=4)
SPAN_BYTES = 72           # one probe/bulk query: 6 k-grams' worth of text
BULK_QUERIES = 1000
BULK_POSITIVE = 700       # the rest are decoys
# shuffled query file past the search's cogroup cap of 600k hash rows
# (5500 spans x H x (SPAN_BYTES - K + 1) = 671k rows), so the joined plan runs
JOINED_QUERIES = 5500
DECOY_ALPHABET = np.array(list("!#$%&*+-=?@^~"))  # no byte of it occurs in pages text

# Bloom store geometry: bench.py's k, h and m; a sample bucket of 512
# rather than its 2048, so the corpus spans 7 buckets, enough tasks for
# every core of a small host
K, H, M = 12, 2, 1 << 16
SAMPLE_BUCKET = 512


@dataclass
class Corpus:
    offset: int
    docs: pd.DataFrame         # doc_id (dense 0..n-1), text, lang; base + planted copies
    append: pd.DataFrame       # doc_id (dense 0..APPEND_DOCS-1), text, lang
    planted: list              # (source id, copy id, token jaccard)
    text_bytes: int
    kgram_insertions: int


def tokens(text: str) -> list[str]:
    """Token semantics of the program's token stream: split on ' ', drop ''."""
    return [t for t in text.split(" ") if t]


def kgram_insertions(texts, k: int = K, h: int = H) -> int:
    """h * sum(max(bytelen(lower(text)) - k + 1, 0)) — the Bloom build's work."""
    return h * sum(max(len(t.lower().encode()) - k + 1, 0) for t in texts)


def pages_rows(spark, offset: int, n: int) -> pd.DataFrame:
    """Rows offset..offset+n-1 of the frozen pages generator, doc ids made dense."""
    from pyspark.sql import functions as F

    from metaprofi_spark.sources.pages import generate_pages

    pages = generate_pages(spark, offset + n)
    doc_id = F.substring_index("url", "/", -1).cast("long")
    pdf = (
        pages.select(doc_id.alias("doc_id"), "text", "lang")
        .filter(F.col("doc_id") >= offset)
        .toPandas()
    )
    pdf = pdf.sort_values("doc_id", ignore_index=True)
    pdf["doc_id"] = pdf["doc_id"] - offset
    return pdf


def plant_near_dups(docs: pd.DataFrame, rng: np.random.Generator, seed: int):
    """Append near-duplicate copies of a seeded share of docs.

    A copy replaces ~2.5% of its source's token positions with fresh
    tokens that occur nowhere else, so its token-set Jaccard to the
    source stays above PLANT_MIN_JACCARD."""
    eligible = [i for i, t in enumerate(docs["text"]) if len(set(tokens(t))) >= PLANT_MIN_TOKENS]
    n_plant = min(int(round(PLANTED_SHARE * len(docs))), len(eligible))
    sources = sorted(rng.choice(eligible, size=n_plant, replace=False).tolist())
    rows, planted = [], []
    next_id = len(docs)
    for j, src in enumerate(sources):
        toks = tokens(docs.at[src, "text"])
        n_swap = max(1, len(toks) // 40)
        pos = rng.choice(len(toks), size=n_swap, replace=False)
        copy = list(toks)
        for p_i, p in enumerate(pos):
            copy[p] = f"x{seed}q{j}z{p_i}"
        a, b = set(toks), set(copy)
        jac = len(a & b) / len(a | b)
        if jac < PLANT_MIN_JACCARD:
            continue
        rows.append((next_id, " ".join(copy), docs.at[src, "lang"]))
        planted.append((int(docs.at[src, "doc_id"]), next_id, jac))
        next_id += 1
    extra = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    return pd.concat([docs, extra], ignore_index=True), planted


def make_corpus(spark, seed: int) -> Corpus:
    rng = np.random.default_rng(seed)
    offset = int(rng.integers(0, OFFSET_SPAN))
    rows = pages_rows(spark, offset, N_DOCS + APPEND_DOCS)
    base = rows.iloc[:N_DOCS].reset_index(drop=True)
    append = rows.iloc[N_DOCS:].reset_index(drop=True)
    append["doc_id"] = append["doc_id"] - N_DOCS
    docs, planted = plant_near_dups(base, rng, seed)
    return Corpus(
        offset=offset,
        docs=docs,
        append=append,
        planted=planted,
        text_bytes=int(sum(len(t.encode()) for t in docs["text"])),
        kgram_insertions=kgram_insertions(docs["text"]),
    )


def spans(docs: pd.DataFrame, rng: np.random.Generator, n: int, prefix: str, distinct: bool = True):
    """n (query_id, span text, source doc_id) from seeded docs, each from
    another doc unless ``distinct`` is False."""
    texts = docs["text"].to_numpy()
    long_enough = np.nonzero([len(t) > SPAN_BYTES for t in texts])[0]
    picks = rng.choice(long_enough, size=n, replace=not distinct)
    out = []
    for i, d in enumerate(picks):
        t = texts[d]
        s = int(rng.integers(0, len(t) - SPAN_BYTES + 1))
        out.append((f"{prefix}{i}", t[s:s + SPAN_BYTES], int(docs.at[d, "doc_id"])))
    return out


def decoys(rng: np.random.Generator, n: int, prefix: str):
    """Queries absent by construction: every byte is outside the pages alphabet."""
    return [(f"{prefix}{i}", "".join(rng.choice(DECOY_ALPHABET, SPAN_BYTES))) for i in range(n)]


def bulk_queries(docs: pd.DataFrame, rng: np.random.Generator):
    """The 1000-query file: positives and decoys, shuffled; returns
    (rows for the query DataFrame, {positive query id: source doc_id})."""
    pos = spans(docs, rng, BULK_POSITIVE, "p")
    neg = decoys(rng, BULK_QUERIES - BULK_POSITIVE, "d")
    rows = [(q, t) for q, t, _ in pos] + neg
    order = rng.permutation(len(rows))
    return [rows[i] for i in order], {q: src for q, _, src in pos}


@dataclass
class SketchTruth:
    distinct: dict            # lang -> exact distinct tokens
    token_total: dict         # lang -> exact token count
    token_counts: dict        # lang -> Counter of every token
    checked: dict             # lang -> tokens point-queried in each CMS blob
    doc_lengths: dict         # lang -> sorted exact doc lengths (chars)


def sketch_truth(docs: pd.DataFrame, rng: np.random.Generator, n_check: int = 64) -> SketchTruth:
    distinct, total, counted, checked, lengths = {}, {}, {}, {}, {}
    for lang, sub in docs.groupby("lang"):
        counts = collections.Counter()
        for t in sub["text"]:
            counts.update(tokens(t))
        keys = sorted(counts)
        pick = rng.choice(len(keys), size=min(n_check, len(keys)), replace=False)
        distinct[lang] = len(counts)
        total[lang] = sum(counts.values())
        counted[lang] = counts
        checked[lang] = [keys[i] for i in pick]
        lengths[lang] = np.sort(sub["text"].str.len().to_numpy())
    return SketchTruth(distinct, total, counted, checked, lengths)
