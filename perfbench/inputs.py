"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is written
as parquet under ``<cache>/<workload>/seed=<seed>-size=<size>-gen=<g>/``,
where ``g`` hashes this file, so editing a generator invalidates its
old entries.  A ``_key.json`` file, written last, marks a complete
entry and holds the key, so a run reuses a finished entry and
regenerates an interrupted one.  Generation uses numpy and pyarrow
only: no Spark session exists while inputs are made, so generation
time falls outside every metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_S = 1_700_000_000
GENERATOR = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:8]

# Caption and document vocabularies (the word sets of the engine's
# synthetic image table and of the `documents` table its queries read).
CAPTION_VOCAB = np.array(
    "sea boat fish net dawn harbor wave gull storm calm".split()
)
DOC_VOCAB = np.array(
    (
        "a the agg batch big column customer data fast filter group hash "
        "join key line merge order part query row scan slow small sort "
        "spark stream table value vector window"
    ).split()
)
LANGS = np.array(["en", "fr", "de", "es", "zh"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])


def cached(cache_root: Path, workload: str, seed: int, size: int, make) -> tuple[Path, dict]:
    """Return (entry dir, key record), running ``make(tmp_dir, rng)``
    only when no complete entry exists.  ``make`` returns a dict of
    facts about the input (row counts) that is stored with the key."""
    entry = cache_root / workload / f"seed={seed}-size={size}-gen={GENERATOR}"
    key_file = entry / "_key.json"
    if key_file.exists():
        return entry, json.loads(key_file.read_text())
    tmp = entry.with_name(entry.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    facts = make(tmp, np.random.default_rng([seed, size, _tag(workload)]))
    record = {"workload": workload, "seed": seed, "size": size, "generator": GENERATOR, **facts}
    (tmp / "_key.json").write_text(json.dumps(record))
    shutil.rmtree(entry, ignore_errors=True)
    os.replace(tmp, entry)
    return entry, record


def _tag(name: str) -> int:
    return sum((i + 1) * ord(c) for i, c in enumerate(name))


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us", tz="UTC"))


def _join_words(vocab: np.ndarray, lengths: np.ndarray, rng) -> list[str]:
    words = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - n:e]) for n, e in zip(lengths.tolist(), ends.tolist())]


# --------------------------------------------------------------------------
# featurize_job: skewed image table + sparse annotation labels
# --------------------------------------------------------------------------


def entity_sizes(size: int, rows_per_entity: int, rng) -> np.ndarray:
    """Zipf entity sizes summing to exactly ``size``: entity 0 is the
    hot key (5% of all rows), entity 1 is shorter than the feature
    window (the shapes of tables.synthesize_image_caption)."""
    n = max(8, size // 52)
    zipf = np.clip(rng.zipf(1.7, size=n - 2), 1, 32).astype(np.float64)
    hot = max(rows_per_entity * 8, size // 20)
    rest = size - hot - 3
    counts = np.maximum(2, np.floor(zipf * rest / zipf.sum())).astype(np.int64)
    short = rest - int(counts.sum())
    largest = np.argsort(-counts, kind="stable")
    counts[largest[: abs(short)]] += np.sign(short)
    return np.concatenate([[hot, 3], counts])


def make_images(out: Path, rng, size: int) -> dict:
    """``size`` image rows over Zipf-sized entities, plus sparse as-of
    labels.  Timestamps strictly increase per entity with
    irregular gaps, 5% of them longer than the one-hour session gap."""
    counts = entity_sizes(size, 40, rng)
    n_entities = len(counts)
    n = int(counts.sum())
    eidx = np.repeat(np.arange(n_entities), counts)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    gaps = rng.integers(30, 900, size=n).astype(np.int64)
    gaps[rng.random(n) < 0.05] += 7200
    gaps[starts] = 0
    cum = np.cumsum(gaps)
    ts = T0_S + eidx * 10_000_000 + cum - np.repeat(cum[starts], counts)

    # phash drifts by 0-5 random bit flips per version (hamming deltas)
    flips = np.zeros(n, dtype=np.int64)
    for _ in range(5):
        on = rng.random(n) < 0.5
        flips ^= np.where(on, np.left_shift(1, rng.integers(0, 62, size=n)), 0)
    flips[starts] = rng.integers(0, 2**62, size=n_entities)
    phash = np.empty(n, dtype=np.int64)
    for s, c in zip(starts.tolist(), counts.tolist()):
        phash[s:s + c] = np.bitwise_xor.accumulate(flips[s:s + c])

    ids = np.char.add("img_", np.char.zfill(np.arange(n_entities).astype(str), 6))
    sides = np.array([32, 48, 64, 96, 128], dtype=np.int32)
    images = pa.table(
        {
            "image_id": pa.array(ids[eidx]),
            "ts": _ts(ts),
            "bytes": pa.array([b""] * n, pa.binary()),
            "w": pa.array(sides[rng.integers(0, 5, size=n)]),
            "h": pa.array(sides[rng.integers(0, 5, size=n)]),
            "fmt": pa.array(np.where(rng.random(n) < 0.3, "qnt", "png")),
            "caption": pa.array(_join_words(CAPTION_VOCAB, rng.integers(0, 25, size=n), rng)),
            "phash": pa.array(phash),
        }
    )
    pq.write_table(images, out / "images.parquet", row_group_size=1 << 16)

    # 1-5 labels per entity (none for every 7th), distinct start times
    # spanning the entity's history so the as-of carry is exercised
    ann_e, ann_t = [], []
    span = np.maximum(cum[starts + counts - 1] - cum[starts], 1)
    for e in range(n_entities):
        if e % 7 == 3:
            continue
        k = int(rng.integers(1, 6))
        offs = np.sort(rng.choice(int(span[e]) + 1, size=min(k, int(span[e]) + 1), replace=False))
        ann_e.append(np.full(len(offs), e))
        ann_t.append(T0_S + e * 10_000_000 + offs - 600)
    ann_e = np.concatenate(ann_e)
    ann = pa.table(
        {
            "image_id": pa.array(ids[ann_e]),
            "start_ts": _ts(np.concatenate(ann_t)),
            "label": pa.array(rng.choice([0.0, 0.5, 1.0], size=len(ann_e))),
        }
    )
    pq.write_table(ann, out / "annotations.parquet")
    return {"rows": n, "entities": n_entities, "annotations": len(ann_e)}


# --------------------------------------------------------------------------
# corpus_prep: a `documents` table (doc_id, text, lang, source, n_chars)
# --------------------------------------------------------------------------


def make_documents(out: Path, rng, size: int) -> dict:
    """``size`` documents of 8-90 words.  The seed draws every text and
    permutes which text lands on which doc_id, so it decides which
    documents the corpus query plants as duplicates, junk and eval text."""
    lengths = rng.integers(8, 91, size=size)
    texts = np.array(_join_words(DOC_VOCAB, lengths, rng), dtype=object)
    order = rng.permutation(size)
    doc_id = np.arange(size, dtype=np.int64)
    text = texts[order]
    docs = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(text.tolist(), pa.string()),
            "lang": pa.array(LANGS[rng.choice(5, size=size, p=LANG_P)]),
            "source": pa.array(np.char.add("src", (doc_id % 20).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    pq.write_table(docs, out / "documents.parquet")
    return {"rows": size}


# --------------------------------------------------------------------------
# the at-rest window layout: per-entity value series, then strictly-later
# append batches
# --------------------------------------------------------------------------

BLOCK_ENTITIES = 512
LONG_ENTITIES = 8


def make_block_rows(out: Path, rng, size: int, n_batches: int, batch_rows: int) -> dict:
    """A base table of about ``size`` rows over 512 entities, 8 of them
    long enough (13-16k rows) to hold W=12800 windows, and ``n_batches``
    append batches of ``batch_rows`` rows, each touching a random
    quarter of the entities at timestamps after everything before it."""
    ids = np.char.add("ent_", np.char.zfill(np.arange(BLOCK_ENTITIES).astype(str), 4))
    counts = rng.integers(13_000, 16_000, size=BLOCK_ENTITIES)
    short = max(2, (size - int(counts[:LONG_ENTITIES].sum())) // (BLOCK_ENTITIES - LONG_ENTITIES))
    counts[LONG_ENTITIES:] = rng.integers(1, 2 * short, size=BLOCK_ENTITIES - LONG_ENTITIES)
    rng.shuffle(counts)
    _write_rows(out / "base.parquet", ids, np.repeat(np.arange(BLOCK_ENTITIES), counts), 0, rng)
    horizon = int(counts.max()) * 100
    for b in range(n_batches):
        touched = rng.choice(BLOCK_ENTITIES, size=BLOCK_ENTITIES // 4, replace=False)
        ent = np.sort(touched[rng.integers(0, len(touched), size=batch_rows)])
        _write_rows(out / f"batch_{b:03d}.parquet", ids, ent, horizon * (b + 1), rng)
    return {"rows": int(counts.sum()), "batches": n_batches, "batch_rows": batch_rows}


def _write_rows(path: Path, ids: np.ndarray, ent: np.ndarray, t_base: int, rng) -> None:
    n = len(ent)
    starts = np.searchsorted(ent, ent, side="left")
    rank = np.arange(n) - starts
    ts = T0_S + t_base + rank * 100 + rng.integers(0, 50, size=n)
    pq.write_table(
        pa.table(
            {
                "image_id": pa.array(ids[ent]),
                "ts": _ts(ts),
                "v": pa.array(np.round(rng.normal(size=n), 6)),
            }
        ),
        path,
    )
