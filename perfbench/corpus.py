"""Seeded inputs for the benchmark workloads.

``filter_pages`` reuses the repository's FIXTURES §1 generator
(``synth.gen_pages_pdf``) over row ids offset by the seed. ``dedup_pages``
is this benchmark's own near-duplicate corpus: the FIXTURES text is a
window over a ring of about 150 seed words per language, so almost every
pair of same-language documents overlaps and the LSH chain degenerates
(see README.md). Here the overlap between documents is set on purpose.

Every value is a pure function of the seed, so the same seed gives the
same bytes.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

# filter workloads: row ids start at seed * FILTER_ID_STRIDE. The stride is
# a multiple of 100, so each corpus keeps the exact FIXTURES quality mix
# (the slice is row_id % 100); the warm-up corpus sits in the same id block
# past the timed corpus, so the two never share a document.
FILTER_ID_STRIDE = 1_000_000
WARMUP_ID_OFFSET = 900_000

# dedup corpus parameters; README.md gives the sources and the reasoning.
# The chain removes about a tenth of the docs: GPT-3's fuzzy MinHashLSH
# pass removed 10% on average (Brown et al. 2020, appendix A).
DEDUP_VOCAB = 20_000          # synthetic words; random 3-gram overlap ~ 0
DEDUP_WORDS = (80, 200)       # words per base document, uniform
CLUSTER_SHARE = 0.12          # share of base docs that seed a near-dup cluster
CLUSTER_MAX_COPIES = 8        # edited copies per seed: P(k) ~ 1/k^2, k <= 8
EDIT_RATES = (0.02, 0.25)     # per copy, uniform: word-3-gram Jaccard to its
                              # seed ~0.89..0.27, across the 0.5 threshold
EXACT_COPY_SHARE = 0.03       # extra docs that are byte copies of a base doc
# the bucket cap of the job (run_dedup's --max-bucket-size) and one
# template cluster 15% above it, so its band buckets are dropped
MAX_BUCKET_SIZE = 150
TEMPLATE_DOCS = MAX_BUCKET_SIZE * 115 // 100
TEMPLATE_WORDS = 150          # shared template body
TEMPLATE_SLOT_WORDS = 2       # per-doc unique slot appended to the template


def filter_pages(seed: int, n: int, warmup: bool = False) -> pd.DataFrame:
    """FIXTURES §1 pages for ``n`` row ids offset by the seed."""
    from data_quality_autohealer_spark import synth

    base = seed * FILTER_ID_STRIDE + (WARMUP_ID_OFFSET if warmup else 0)
    return synth.gen_pages_pdf(np.arange(base, base + n, dtype=np.uint64))


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=DEDUP_VOCAB)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def dedup_pages(seed: int, n_base: int, template_docs: int = TEMPLATE_DOCS,
                words: tuple[int, int] = DEDUP_WORDS,
                template_words: int = TEMPLATE_WORDS,
                tag: str = "d") -> tuple[pd.DataFrame, pd.DataFrame]:
    """Pages for the dedup workload plus the ground truth per doc.

    Returns ``(pages, truth)``: ``pages`` has the pages schema (url,
    warc_ts, html, text, lang); ``truth`` has ``url`` and ``group`` — the
    injected cluster a doc belongs to ('' for a distinct base doc that
    seeds nothing, 'x<i>' exact copies of base i, 'c<i>' near-dup cluster
    of base i, 't' the template cluster).
    """
    # the tag is part of the stream: the warm-up corpus shares no text
    # with the timed one (the shingle-hash memo of the Python workers
    # would otherwise be warm for the timed call)
    rng = np.random.default_rng([seed, 0xDED0, zlib.crc32(tag.encode())])
    vocab = _vocab(rng)
    texts: list[str] = []
    groups: list[str] = []
    base_words = []
    for i in range(n_base):
        w = rng.choice(vocab, size=int(rng.integers(*words)))
        base_words.append(w)
        texts.append(" ".join(w))
        groups.append("")
    seeds = rng.choice(n_base, size=int(n_base * CLUSTER_SHARE), replace=False)
    sizes = np.arange(1, CLUSTER_MAX_COPIES + 1)
    p_size = 1.0 / sizes**2
    for i, k in zip(seeds, rng.choice(sizes, size=len(seeds),
                                      p=p_size / p_size.sum())):
        groups[i] = f"c{i}"
        for rate in rng.uniform(*EDIT_RATES, size=k):
            w = base_words[i].copy()
            pos = rng.random(len(w)) < rate
            w[pos] = rng.choice(vocab, size=int(pos.sum()))
            texts.append(" ".join(w))
            groups.append(f"c{i}")
    copies = rng.choice(n_base, size=int(n_base * EXACT_COPY_SHARE))
    for i in copies:
        if not groups[i]:
            groups[i] = f"x{i}"
        texts.append(texts[i])
        groups.append(groups[i])
    template = " ".join(rng.choice(vocab, size=template_words))
    for _ in range(template_docs):
        slot = " ".join(rng.choice(vocab, size=TEMPLATE_SLOT_WORDS))
        texts.append(f"{template} {slot}")
        groups.append("t")
    n = len(texts)
    # urls are shuffled against generation order, so which member of a
    # cluster has the minimal id (the survivor) is not always the original
    order = rng.permutation(n)
    urls = np.array([f"https://dedup.example.com/{tag}/{seed}/{k:07d}"
                     for k in order], dtype=object)
    ts = np.datetime64("2026-01-01T00:00:00") + np.arange(n).astype(
        "timedelta64[s]")
    text_arr = np.array(texts, dtype=object)
    pages = pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Series(ts.astype("datetime64[ns]")).dt.tz_localize(
            "UTC"),
        "html": [("<html><body>" + t + "</body></html>").encode("utf-8")
                 for t in texts],
        "text": text_arr,
        "lang": "en",
    })
    truth = pd.DataFrame({"url": urls, "group": groups})
    return pages, truth
