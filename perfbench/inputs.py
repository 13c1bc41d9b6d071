"""Seeded inputs. The same seed gives the same files, byte for byte; the
program under test sees only these files.

* machine days: the package's own simulator (``generate_data``), one
  machine per file, the reference's input shape;
* stream drops: the same simulated days cut into 5-minute slices, staged
  as hidden files and landed by atomic rename;
* documents / embeddings: tables with the registry queries' LLM-data schemas,
  random texts over a small vocabulary with planted exact duplicates,
  and unit vectors around ten class centres, ids permuted by the seed.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from projekt_data_engineering_iubh_spark.pipeline import generate_data

DAY = "2024-08-01"
DROP_MINUTES = 5


@dataclass
class MachineDay:
    machine_id: str
    path: str
    rows: list[list]
    n_cycles: int


def simulate_machines(seed: int, *, machines: int, hours: float) -> list[MachineDay]:
    """``hours`` of events from midnight of DAY for each machine (no files)."""
    rng = random.Random(seed)
    days = []
    for m in range(machines):
        mid = f"M{m + 1:02d}"
        sim = generate_data.simulate_day(mid, DAY, hours=hours, seed=rng.randrange(2**31))
        days.append(MachineDay(mid, "", sim.rows, sim.n_cycles))
    return days


def machine_days(out_dir: str, seed: int, *, machines: int, hours: float) -> list[MachineDay]:
    """One CSV per machine, the reference's file naming."""
    days = simulate_machines(seed, machines=machines, hours=hours)
    for d in days:
        sim = generate_data.SimResult(rows=d.rows, error_rates={}, n_cycles=d.n_cycles)
        d.path = str(generate_data.write_csv(
            sim, os.path.join(out_dir, f"machine_event_logs_{d.machine_id}_{DAY}.csv")
        ))
    return days


def minute_of_day(ts: str) -> int:
    return int(ts[11:13]) * 60 + int(ts[14:16])


def stage_drops(days: list[MachineDay], src_dir: str) -> list[tuple[str, str, list[list]]]:
    """Cut the machine days into DROP_MINUTES slices (all machines per
    slice) and write each as a hidden CSV in ``src_dir``. Returns
    (hidden path, visible path, rows) in event-time order."""
    slices: dict[int, list[list]] = {}
    for d in days:
        for r in d.rows:
            slices.setdefault(minute_of_day(r[0]) // DROP_MINUTES, []).append(r)
    os.makedirs(src_dir, exist_ok=True)
    out = []
    for k in sorted(slices):
        hidden = os.path.join(src_dir, f".drop_{k:04d}.csv")
        with open(hidden, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(generate_data.HEADER)
            w.writerows(slices[k])
        out.append((hidden, os.path.join(src_dir, f"drop_{k:04d}.csv"), slices[k]))
    return out


# ---------------------------------------------------------------------------
# LLM-data tables
# ---------------------------------------------------------------------------

_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer index shard token model label split"
).split()
_STOP = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es": ("el", "la", "los", "que", "es", "una", "por"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour"),
    "zh": ("de", "shi", "bu", "le", "wo", "zai", "you"),
}
_LANG_WEIGHTS = (("en", 4), ("de", 1.5), ("es", 1.5), ("fr", 1.5), ("zh", 1.5))
EMB_DIM = 64


@dataclass
class Corpus:
    sf_dir: str
    n_docs: int
    n_vecs: int
    exact_dup_pairs: list[tuple[int, int]]  # (kept id, dropped id), kept < dropped


def _doc_text(rng: random.Random, lang: str) -> str:
    words = []
    for _ in range(rng.randint(8, 90)):
        if rng.random() < 0.25:
            words.append(rng.choice(_STOP[lang]))
        else:
            words.append(rng.choice(_VOCAB))
    text = " ".join(words)
    if rng.random() < 0.5:  # punctuation feeds the quality score
        text = text.replace(" ", ", ", rng.randint(0, 3)) + "."
    return text


def corpus(sf_dir: str, seed: int, *, n_docs: int, n_vecs: int, dup_pairs: int) -> Corpus:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one file
    each, like the scale-factor tables) under ``sf_dir``."""
    rng = random.Random(seed)
    langs, weights = zip(*_LANG_WEIGHTS)
    base = n_docs - dup_pairs
    texts, doc_langs = [], []
    for _ in range(base):
        lang = rng.choices(langs, weights)[0]
        doc_langs.append(lang)
        texts.append(_doc_text(rng, lang))
    originals = rng.sample(range(base), dup_pairs)
    for o in originals:
        texts.append(texts[o])
        doc_langs.append(doc_langs[o])
    ids = list(range(n_docs))
    rng.shuffle(ids)  # doc ids permuted by the seed
    order = list(range(n_docs))
    rng.shuffle(order)  # and the row order too
    pairs = []
    for k, o in enumerate(originals):
        a, b = ids[o], ids[base + k]
        pairs.append((min(a, b), max(a, b)))
    docs = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": [texts[i] for i in order],
            "lang": [doc_langs[i] for i in order],
            "source": [f"src{ids[i] % 20}" for i in order],
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    centres = nrng.normal(size=(10, EMB_DIM))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = centres[labels] + nrng.normal(scale=1.5, size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    vids = nrng.permutation(n_vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(vids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return Corpus(sf_dir, n_docs, n_vecs, sorted(pairs))
