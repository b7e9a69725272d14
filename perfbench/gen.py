"""Seeded input generators for the benchmark workloads.

Everything here is plain Python driven by ``random.Random(seed)``: the
same seed yields byte-identical inputs (see ``content_hash``), and the
engine only ever receives the generated frames or files. Each generator
also returns what it planted, so a workload can check the engine's
output against ground truth.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

# Bucket labels are multiples of the bucket width, so the first point
# of every series sits on a bucket boundary.
BASE_TS_MS = (1_700_000_000_000 // 3_600_000) * 3_600_000
STEP_MS = 10_000


@dataclass
class Fleet:
    """Series rows with one planted spike bucket per series."""

    keys: list
    ts_ms: list
    values: list
    bucket_ms: int
    spikes: dict = field(default_factory=dict)  # series_key -> spike bucket label


def fleet(seed: int, n_series: int, n_points: int, bucket_points: int) -> Fleet:
    """``n_series`` series of ``n_points`` points every ``STEP_MS``: a
    per-series level, a slow seasonal swing and unit Gaussian noise. One
    whole bucket per series (``bucket_points`` points) is lifted by 12σ,
    well clear of the noise after bucket averaging, in the middle half
    of the series so the detector has history on both sides."""
    import math

    rng = random.Random(seed)
    n_buckets = n_points // bucket_points
    bucket_ms = bucket_points * STEP_MS
    out = Fleet([], [], [], bucket_ms)
    for s in range(n_series):
        key = f"host-{s:04d}"
        level = rng.uniform(20.0, 200.0)
        phase = rng.uniform(0.0, 2 * math.pi)
        spike = rng.randrange(n_buckets // 4, 3 * n_buckets // 4)
        out.spikes[key] = BASE_TS_MS + spike * bucket_ms
        for i in range(n_points):
            v = level + 3.0 * math.sin(phase + 2 * math.pi * i / 120) + rng.gauss(0.0, 1.0)
            if i // bucket_points == spike:
                v += 12.0
            out.keys.append(key)
            out.ts_ms.append(BASE_TS_MS + i * STEP_MS)
            out.values.append(v)
    return out


@dataclass
class StreamSource:
    """Per-file row batches for a file-source replay, in arrival order."""

    files: list  # [(keys, ts_ms, values)] one entry per file
    bucket_ms: int
    n_series: int
    buckets_per_series: int
    spikes: dict = field(default_factory=dict)  # series_key -> spike bucket label


def stream_source(
    seed: int, n_series: int, n_files: int, points_per_file: int, bucket_points: int
) -> StreamSource:
    """Time-ordered files: file ``f`` holds points ``[f*P, (f+1)*P)`` of
    every series (level plus unit noise). One spike bucket per series,
    lifted by 20σ, sits in the second half of the stream: the streaming
    scorer normalizes by the running deviation, so a spike needs enough
    history before it to stand out."""
    rng = random.Random(seed)
    n_points = n_files * points_per_file
    n_buckets = n_points // bucket_points
    bucket_ms = bucket_points * STEP_MS
    keys = [f"svc-{s:04d}" for s in range(n_series)]
    levels = [rng.uniform(20.0, 200.0) for _ in keys]
    spike_of = [rng.randrange(n_buckets // 2, n_buckets - 2) for _ in keys]
    src = StreamSource([], bucket_ms, n_series, n_buckets)
    for key, b in zip(keys, spike_of):
        src.spikes[key] = BASE_TS_MS + b * bucket_ms
    for f in range(n_files):
        fk, ft, fv = [], [], []
        for key, level, spike in zip(keys, levels, spike_of):
            for i in range(f * points_per_file, (f + 1) * points_per_file):
                v = level + rng.gauss(0.0, 1.0)
                if i // bucket_points == spike:
                    v += 20.0
                fk.append(key)
                ft.append(BASE_TS_MS + i * STEP_MS)
                fv.append(v)
        src.files.append((fk, ft, fv))
    return src


def write_stream_files(src: StreamSource, directory: str) -> None:
    """Write one parquet file per micro-batch. Modification times are
    set strictly increasing, which is the order the file source admits
    files in."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for i, (k, t, v) in enumerate(src.files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        table = pa.table(
            {
                "series_key": pa.array(k, pa.string()),
                "ts_ms": pa.array(t, pa.int64()),
                "value": pa.array(v, pa.float64()),
            }
        )
        pq.write_table(table, path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))


@dataclass
class Corpus:
    """Documents plus the planted near-duplicate clusters."""

    ids: list
    texts: list
    clusters: list  # [sorted member ids]


def corpus(
    seed: int,
    n_singletons: int,
    n_decoy_pairs: int,
    n_clusters: int,
    cluster_size: int,
    words: int = 60,
) -> Corpus:
    """Random documents over a 20k-word vocabulary, so unrelated docs
    share (almost surely) no word 3-gram, plus:

    * ``n_decoy_pairs`` pairs whose second doc rewrites half the words of
      the first: 3-gram Jaccard about 0.06, well below the 0.2 verify
      threshold, yet an occasional LSH candidate, so verification has
      work to reject. Decoys are unplanted and must stay apart.
    * ``n_clusters`` clusters: a source document and ``cluster_size - 1``
      copies that each change one word (3-gram Jaccard to the source
      about 0.9).

    Doc ids are a seeded permutation, so related docs are not adjacent."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(20_000)]

    def doc():
        return [rng.choice(vocab) for _ in range(words)]

    groups = [[doc()] for _ in range(n_singletons)]
    for _ in range(n_decoy_pairs):
        a = doc()
        b = list(a)
        for p in rng.sample(range(words), words // 2):
            b[p] = rng.choice(vocab)
        groups += [[a], [b]]
    for _ in range(n_clusters):
        src = doc()
        members = [src]
        for _ in range(cluster_size - 1):
            copy = list(src)
            copy[rng.randrange(words)] = rng.choice(vocab)
            members.append(copy)
        groups.append(members)
    n_docs = sum(len(g) for g in groups)
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    out = Corpus([], [], [])
    it = iter(ids)
    for g in groups:
        member_ids = []
        for words_ in g:
            i = next(it)
            out.ids.append(i)
            out.texts.append(" ".join(words_))
            member_ids.append(i)
        if len(g) > 1:
            out.clusters.append(sorted(member_ids))
    return out


def content_hash(*columns) -> str:
    """SHA-256 over the generated columns, in order, for the seed tests
    and the run diagnostics."""
    h = hashlib.sha256()
    for col in columns:
        for v in col:
            h.update(repr(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()
