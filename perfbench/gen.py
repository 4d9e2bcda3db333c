"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed
writes the same rows in the same files. Source text comes only from
``corpus/sf0.1_texts.txt.gz``, every fifth text of the project's
sf0.1 ``documents.parquet`` (doc_id % 5 == 0, in doc_id order), so
the benchmark needs no data outside its own directory.

The seed chooses which texts, positions and edits a workload gets;
the shape of each workload (document count, span-count multiset,
media and table shares, workflow mix, edit counts) is fixed, so two
seeds give inputs of the same size and cost.

Inputs are written as multi-file parquet: a single-split input would
serialize the whole pass through one scan task.
"""

from __future__ import annotations

import gzip
import math
import os
import random
from pathlib import Path
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = Path(__file__).resolve().parent / "corpus" / "sf0.1_texts.txt.gz"
N_FILES = 8

# One query per workflow (routing keywords from constants.py), so every
# workflow gets a fixed share of the large-docs workload.
QUERIES = (
    "extract data",             # mistral (validating)
    "plain text only",          # text_extraction
    "smart tables and layout",  # azure_di (validating)
    "scanned charts",           # ocr_images
    "high quality extraction",  # gemini (validating)
)

SPAN = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])


def load_texts() -> list[str]:
    with gzip.open(CORPUS, "rt", encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def write_parquet(table: pa.Table, directory: Path, n_files: int = N_FILES) -> None:
    """Write ``table`` as ``n_files`` contiguous row slices."""
    os.makedirs(directory, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, directory / f"part-{i:05d}.parquet")


# ------------------------------------------------------------ small docs


def small_docs(seed: int, n: int, texts: list[str]) -> dict[int, str]:
    """{doc_id: text} for doc_ids 0..n-1, texts resampled by seed.

    ``datagen.spansify_documents`` turns these into spans: ~2 spans a
    doc, 1 media span in 9, all five workflows, and a 25x mega-doc
    every 211th id."""
    rng = random.Random(f"small:{seed}")
    return {i: rng.choice(texts) for i in range(n)}


def visible_tokens(doc_id: int, text: str) -> list[str]:
    """The words of ``text`` that reach the spans built by
    ``datagen.spansify_documents`` (defaults: 40-word spans, every
    211th doc repeated 25x, span i an image whose text is dropped when
    (7*doc_id + i) % 9 == 3). A revision that changes only dropped
    words leaves the document's spans, and so its extraction, as is."""
    toks = text.split(" ") * (25 if doc_id % 211 == 0 else 1)
    return [
        w for i in range(max(math.ceil(len(toks) / 40), 1))
        if (7 * doc_id + i) % 9 != 3
        for w in toks[40 * i: 40 * i + 40]
    ]


def snapshot_edit(
    seed: int, base: dict[int, str], texts: list[str],
    revise: float = 0.05, add: float = 0.02, remove: float = 0.02,
) -> tuple[dict[int, str], set[int]]:
    """Snapshot B of ``base``: ``revise`` of the docs get another text
    that changes their spans, ``add`` new doc_ids appear and
    ``remove`` disappear.
    Returns (B, delta) where delta holds the revised and added ids —
    the documents an incremental refresh must re-extract."""
    rng = random.Random(f"edit:{seed}")
    n = len(base)
    ids = sorted(base)
    removed = set(rng.sample(ids, round(remove * n)))
    kept = [i for i in ids if i not in removed]
    # a doc whose only span is an image shows no text to revise
    editable = [i for i in kept if visible_tokens(i, base[i])]
    revised = rng.sample(editable, round(revise * n))
    out = {i: base[i] for i in kept}
    for i in revised:
        text = rng.choice(texts)
        while visible_tokens(i, text) == visible_tokens(i, base[i]):
            text = rng.choice(texts)
        out[i] = text
    first_new = max(ids) + 1
    added = range(first_new, first_new + round(add * n))
    for i in added:
        out[i] = rng.choice(texts)
    return dict(sorted(out.items())), set(revised) | set(added)


def text_table(docs: dict[int, str]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(list(docs), pa.int64()),
        "text": pa.array(list(docs.values()), pa.string()),
    })


# ------------------------------------------------------------ large docs


def span_counts(n: int) -> list[int]:
    """Fixed heavy-tailed multiset: 1% mega-docs of 1400-1600 spans,
    the rest log-normal quantiles with median 40 (p99 ~200)."""
    n_mega = max(1, n // 100)
    body = n - n_mega
    dist = NormalDist()
    counts = [
        max(1, round(40 * math.exp(0.7 * dist.inv_cdf((i + 0.5) / body))))
        for i in range(body)
    ]
    counts += [1400 + (200 * k) // n_mega for k in range(n_mega)]
    return counts


def _words(rng: random.Random, texts: list[str], k: int) -> list[str]:
    words: list[str] = []
    while len(words) < k:
        words += rng.choice(texts).split()
    return words[:k]


def _span_text(rng: random.Random, texts: list[str]) -> tuple[str, str]:
    """(kind, text) of one non-media span. 1.5% are short fragments
    (which trip the low-content checks), 1 in 6 is a table. Text spans
    end in a page number: the corpus vocabulary has the word "table",
    which without a digit trips the missing-numbers check, and a
    document with no problems is the one that reaches similarity."""
    r = rng.random()
    if r < 0.015:
        return "text", " ".join(_words(rng, texts, 8))
    if r < 0.015 + 1 / 6:
        rows = [f"{w} | {rng.randint(1, 999)}" for w in _words(rng, texts, 12)]
        return "table", "TABLE 1:\nName | Count\n" + "\n".join(rows)
    return "text", " ".join(_words(rng, texts, 40)) + f" page {rng.randint(1, 999)}"


def large_docs(seed: int, n: int, texts: list[str]) -> pa.Table:
    """documents(doc_id, spans, query): heavy-tailed span counts, a
    third of spans media, spans stored in scrambled order."""
    rng = random.Random(f"large:{seed}")
    counts = span_counts(n)
    rng.shuffle(counts)
    queries = [QUERIES[i % len(QUERIES)] for i in range(n)]
    rng.shuffle(queries)
    doc_ids, spans = [], []
    for d, c in enumerate(counts):
        doc_id = f"L{d:06d}"
        media = set(rng.sample(range(c), round(c / 3)))
        row = []
        for off in range(c):
            if off in media:
                kind = "image" if rng.random() < 0.5 else "page"
                row.append((kind, "", f"m-{doc_id}-{off}", off))
            else:
                kind, text = _span_text(rng, texts)
                row.append((kind, text, "", off))
        rng.shuffle(row)
        doc_ids.append(doc_id)
        spans.append([
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in row
        ])
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "spans": pa.array(spans, pa.list_(SPAN)),
        "query": pa.array(queries, pa.string()),
    })
