"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from ``--seed``
alone: the same seed gives byte-identical files (file mtimes included,
since the stage-in pipeline derives its ``nite`` from them). The plans
record what was planted, which the output checks compare against.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word soup of the same shape as the fixture `documents` table.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
# Stage-in deliveries fall on these days (UTC), so the archive's nite
# partitions are fixed by the seed, not by the wall clock.
STAGEIN_EPOCH = 1_704_124_800  # 2024-01-01T16:00:00Z
BOILERPLATE = (
    "all rights reserved",
    "subscribe to our newsletter",
    "click here to read more",
    "share this article on social media",
    "terms of use and privacy policy",
    "cookies help us deliver our services",
)


def _rng(seed: int, stream: str) -> random.Random:
    """Independent, reproducible stream per input kind."""
    return random.Random(f"{seed}:{stream}")


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


# --------------------------------------------------------------------------
# fixture-shaped tables (events, documents, embeddings)


def events_table(seed: int, n: int, days: int = 30) -> pa.Table:
    """`events` with the fixture's schema: sequential ids, increasing
    microsecond timestamps over ``days`` days from 2024-01-01."""
    rng = np.random.default_rng(_rng(seed, "events").getrandbits(64))
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = days * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def document_texts(seed: int, n: int, dup_share: float = 0.05) -> list[str]:
    """Single-line word-soup documents; ``dup_share`` of them are copies
    of an earlier document, half exact and half with " dup" appended (the
    fixture's planted near-duplicates)."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = texts[rng.randrange(i)]
            texts.append(src if rng.random() < 0.5 else src + " dup")
        else:
            texts.append(_words(rng, 8, 100))
    return texts


def documents_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents-meta")
    texts = document_texts(seed, n)
    langs, weights = zip(*LANGS)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choices(langs, weights, k=n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit-norm float32 vectors scattered around ``labels`` centroids."""
    rng = np.random.default_rng(_rng(seed, "embeddings").getrandbits(64))
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    vecs = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the requested fixture tables, ``name -> rows``, as
    ``<out_dir>/<name>.parquet``."""
    builders = {
        "events": events_table,
        "documents": documents_table,
        "embeddings": embeddings_table,
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        pq.write_table(builders[name](seed, n), os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# stage-in area


@dataclass(frozen=True)
class StageinSizes:
    """Counts for one ingest cycle. Phase A is a fresh delivery; phase B
    re-presents ``represented`` of A's archived files beside new
    arrivals; before the quarantine replay, ``fixed`` of B's checksum
    rejects get a corrected notify file."""

    good: int = 80
    checksum: int = 6
    missing_header: int = 5
    unknown_filetype: int = 4
    missing_data: int = 3
    represented: int = 30
    fixed: int = 3


@dataclass
class StageinPhase:
    """Files of one delivery: name -> (data bytes or None, notify text)."""

    files: dict[str, tuple[bytes | None, str]] = field(default_factory=dict)
    planted: dict[str, list[str]] = field(default_factory=dict)

    def add(self, kind: str, name: str, data: bytes | None, notify: str) -> None:
        self.files[name] = (data, notify)
        self.planted.setdefault(kind, []).append(name)


def _fits(rng: random.Random, expnum: int, with_expnum: bool = True) -> bytes:
    head = f"EXPNUM = {expnum}\n" if with_expnum else ""
    head += f"OBSTYPE = {rng.choice(('object', 'zero', 'dome flat'))}\n"
    return head.encode() + rng.randbytes(rng.randint(512, 4096))


def _md5_line(data: bytes) -> str:
    return f"md5sum = {hashlib.md5(data).hexdigest()}\n"


def _phase(rng: random.Random, tag: str, s: StageinSizes) -> StageinPhase:
    ph = StageinPhase()
    base = 100_000 if tag == "a" else 200_000
    for i in range(s.good):
        if i % 5 == 4:  # one in five good files is an SN manifest
            name = f"manifest_SN_{tag}{i:05d}.json"
            data = f'{{"field": "{tag}{i}", "seq": {rng.randint(0, 99)}}}'.encode()
        else:
            name = f"DECam_{base + i:08d}.fits"
            data = _fits(rng, base + i)
        ph.add("good", name, data, _md5_line(data))
    for i in range(s.checksum):
        data = _fits(rng, base + 50_000 + i)
        ph.add("checksum", f"DECam_{base + 50_000 + i:08d}.fits", data, "md5sum = " + "0" * 32 + "\n")
    for i in range(s.missing_header):
        data = _fits(rng, base + 60_000 + i, with_expnum=False)
        ph.add("missing_header", f"DECam_{base + 60_000 + i:08d}.fits", data, _md5_line(data))
    for i in range(s.unknown_filetype):
        data = rng.randbytes(rng.randint(256, 1024))
        ph.add("unknown_filetype", f"stage_{tag}{i:05d}.dat", data, _md5_line(data))
    for i in range(s.missing_data):
        ph.add("missing_data", f"DECam_{base + 70_000 + i:08d}.fits", None, "md5sum = " + "f" * 32 + "\n")
    return ph


@dataclass
class StageinPlan:
    """Both deliveries of one ingest cycle plus the operator's fixes."""

    a: StageinPhase
    b: StageinPhase
    represented: list[str]
    fixes: dict[str, str]  # name -> corrected notify text


def stagein_plan(seed: int, sizes: StageinSizes) -> StageinPlan:
    rng = _rng(seed, "stagein")
    a = _phase(rng, "a", sizes)
    b = _phase(rng, "b", sizes)
    represented = sorted(rng.sample(a.planted["good"], sizes.represented))
    for name in represented:
        b.files[name] = a.files[name]
    fixed = sorted(rng.sample(b.planted["checksum"], sizes.fixed))
    fixes = {n: _md5_line(b.files[n][0]) for n in fixed}
    return StageinPlan(a, b, represented, fixes)


def write_phase(phase: StageinPhase, notify_dir: str, delivery_dir: str, seed: int) -> int:
    """Materialize a delivery; returns the bytes written. mtimes come from
    the seed so the nite buckets are reproducible."""
    rng = _rng(seed, "mtimes")
    os.makedirs(notify_dir, exist_ok=True)
    os.makedirs(delivery_dir, exist_ok=True)
    total = 0
    for name in sorted(phase.files):
        data, notify = phase.files[name]
        when = STAGEIN_EPOCH + rng.randrange(3 * 86_400)
        paths = [(os.path.join(notify_dir, name + ".dbb"), notify.encode())]
        if data is not None:
            paths.append((os.path.join(delivery_dir, name), data))
        for path, payload in paths:
            with open(path, "wb") as f:
                f.write(payload)
            os.utime(path, (when, when))
            total += len(payload)
    return total


# --------------------------------------------------------------------------
# rolling-dedup micro-batches


@dataclass
class RollingPlan:
    """Multi-line documents in arrival order, cut into micro-batches.
    ``copies`` maps each planted exact copy to the id it copies;
    ``near`` lists planted near-duplicate variants (one word changed)."""

    batches: list[list[tuple[int, str]]]
    copies: dict[int, int]
    near: dict[int, int]


def rolling_plan(seed: int, n_batches: int, batch_docs: int, copy_share: float = 0.08,
                 near_share: float = 0.08, boiler_share: float = 0.3) -> RollingPlan:
    """Documents are 1-4 word-soup lines; ``boiler_share`` of them carry a
    boilerplate line (each boilerplate line recurs many times per batch,
    so the line gate must strip it). Later documents include exact copies
    and one-word variants of earlier ones."""
    rng = _rng(seed, "rolling")
    docs: list[tuple[int, str]] = []
    copies: dict[int, int] = {}
    near: dict[int, int] = {}
    for doc_id in range(n_batches * batch_docs):
        r = rng.random()
        if docs and r < copy_share:
            src_id, src = docs[rng.randrange(len(docs))]
            copies[doc_id] = src_id
            docs.append((doc_id, src))
            continue
        if docs and r < copy_share + near_share:
            src_id, src = docs[rng.randrange(len(docs))]
            lines = src.split("\n")
            k = rng.randrange(len(lines))
            words = lines[k].split(" ")
            j = rng.randrange(len(words))
            words[j] = rng.choice([w for w in VOCAB if w != words[j]])
            lines[k] = " ".join(words)
            near[doc_id] = src_id
            docs.append((doc_id, "\n".join(lines)))
            continue
        lines = [_words(rng, 6, 30) for _ in range(rng.randint(1, 4))]
        if rng.random() < boiler_share:
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(BOILERPLATE))
        docs.append((doc_id, "\n".join(lines)))
    batches = [docs[i * batch_docs:(i + 1) * batch_docs] for i in range(n_batches)]
    return RollingPlan(batches, copies, near)


def write_batches(plan: RollingPlan, out_dir: str) -> list[str]:
    """One parquet dataset per micro-batch; returns their paths."""
    paths = []
    for i, batch in enumerate(plan.batches):
        path = os.path.join(out_dir, f"batch_{i:03d}")
        os.makedirs(path, exist_ok=True)
        ids, texts = zip(*batch)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            os.path.join(path, "part-0.parquet"),
        )
        paths.append(path)
    return paths
