"""Inputs, ground truth, statistics and on-disk accounting for the benchmark.

Everything here is the benchmark's own model of the system under test: the
seeded corpus, the live set it expects the store to hold, numpy exact top-k
over that live set, and byte counts taken by walking directories from the
outside. Nothing here calls into ``pyrope_spark``.
"""

from __future__ import annotations

import os
import statistics
from concurrent.futures import ThreadPoolExecutor

import numpy as np

DIM = 128
K = 10
TENANT = "bench"
INDEX = "vec"

# Gaussian mixture: centres ~ N(0, CENTER_SCALE^2), points = centre + N(0, 1).
# Clusters overlap enough that an IVF probe of a few lists misses some true
# neighbours, so recall is a measured value rather than a constant 1.0.
N_CENTERS = 32
CENTER_SCALE = 0.6


class Corpus:
    """Seeded d=128 Gaussian-mixture generator. Every draw comes from one
    ``numpy.random.Generator`` so a seed fixes every input of a run."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centers = self.rng.normal(0.0, CENTER_SCALE, (N_CENTERS, DIM))

    def points(self, n: int) -> np.ndarray:
        c = self.rng.integers(0, N_CENTERS, n)
        return (self.centers[c] + self.rng.normal(0.0, 1.0, (n, DIM))).astype(np.float32)

    def jitter(self, base: np.ndarray, sigma: float) -> np.ndarray:
        return (base + self.rng.normal(0.0, sigma, base.shape)).astype(np.float32)


class LiveSet:
    """The benchmark's record of what the store must hold: id -> vector for
    live rows, plus the set of ids whose latest write is a delete."""

    def __init__(self):
        self.vec: dict[str, np.ndarray] = {}
        self.deleted: set[str] = set()
        self.tags: dict[str, tuple[str, ...]] = {}

    def put(self, ids, vecs, tags=None) -> None:
        for j, i in enumerate(ids):
            self.vec[i] = vecs[j]
            self.deleted.discard(i)
            if tags is not None:
                self.tags[i] = tags[j]

    def delete(self, ids) -> None:
        for i in ids:
            self.vec.pop(i, None)
            self.deleted.add(i)

    def matrix(self) -> tuple[list[str], np.ndarray]:
        ids = list(self.vec)
        return ids, np.stack([self.vec[i] for i in ids])

    def copy(self) -> "LiveSet":
        out = LiveSet()
        out.vec = dict(self.vec)
        out.deleted = set(self.deleted)
        out.tags = dict(self.tags)
        return out


def l2_scores(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """The program's L2 score convention: negative squared distance, in
    float64 (Q x N)."""
    q = q.astype(np.float64)
    x = x.astype(np.float64)
    return -(
        np.einsum("ij,ij->i", q, q)[:, None]
        - 2.0 * (q @ x.T)
        + np.einsum("ij,ij->i", x, x)[None, :]
    )


def exact_topk(q: np.ndarray, ids: list[str], x: np.ndarray, k: int = K) -> list[list[str]]:
    """Exact top-k ids per query row, best first. A float32 pass picks
    k + 8 candidates per query; they are re-scored and ordered in float64,
    so float32 rounding could only matter for a near-tie 8 places deep."""
    id_arr = np.asarray(ids)
    c = min(k + 8, len(ids))
    x32 = x.astype(np.float32)
    x2 = np.einsum("ij,ij->i", x32, x32)

    def block(qb: np.ndarray) -> list[list[str]]:
        s = 2.0 * (qb.astype(np.float32) @ x32.T) - x2[None, :]  # rank-equivalent to -|q-x|^2
        cand = np.argpartition(s, len(ids) - c, axis=1)[:, len(ids) - c:]
        diff = qb[:, None, :].astype(np.float64) - x[cand].astype(np.float64)
        order = np.argsort((diff * diff).sum(-1), axis=1, kind="stable")[:, :k]
        return id_arr[np.take_along_axis(cand, order, 1)].tolist()

    # numpy releases the GIL in the GEMM and the partition
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as ex:
        return [row for rows in ex.map(block, np.array_split(q, max(1, len(q) // 128)))
                for row in rows]


def recall(got: list[str], truth: list[str]) -> float:
    return len(set(got) & set(truth)) / max(len(truth), 1)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Inclusive-method quantile; needs at least two samples."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    cuts = statistics.quantiles(xs, n=100, method="inclusive")
    return float(cuts[int(round(q * 100)) - 1])


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """Bounded Zipf(s) draws over ranks 0..n_items-1."""
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def walk(path: str) -> dict[str, int]:
    """path -> size of every data file under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` markers excluded)."""
    out = {}
    if not os.path.isdir(path):
        return out
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.startswith("_"):
                continue
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class DiskLedger:
    """Storage accounting from outside the program. ``observe`` walks the
    store after a write or build; every file not seen before counts as
    written, so compaction rewrites show up as write amplification."""

    def __init__(self, store_dir: str):
        self.store_dir = store_dir
        self.seen: set[str] = set()
        self.written_bytes = 0
        self.user_bytes = 0
        self.peak_head = (0, 0)  # (files, bytes): the head just before a compaction
        self.observe()

    def observe(self, user_rows: int = 0) -> None:
        self.user_bytes += user_rows * DIM * 4
        files = walk(self.store_dir)
        for p, size in files.items():
            if p not in self.seen:
                self.seen.add(p)
                self.written_bytes += size
        head = os.path.join(self.store_dir, "head") + os.sep
        head_sizes = [size for p, size in files.items() if p.startswith(head)]
        self.peak_head = max(self.peak_head, (len(head_sizes), sum(head_sizes)))

    def layout(self) -> dict[str, int]:
        head = walk(os.path.join(self.store_dir, "head"))
        tail = walk(os.path.join(self.store_dir, "tail"))
        seg = walk(os.path.join(self.store_dir, "indexes"))
        return {
            "head_files": len(head),
            "head_bytes": sum(head.values()),
            "tail_bytes": sum(tail.values()),
            "segment_bytes": sum(seg.values()),
        }

    def write_amp(self) -> float:
        return self.written_bytes / self.user_bytes if self.user_bytes else 0.0

    def bytes_per_user_byte(self, live_rows: int) -> float:
        lay = self.layout()
        total = lay["head_bytes"] + lay["tail_bytes"] + lay["segment_bytes"]
        return total / (live_rows * DIM * 4)


def head_key_count(store_dir: str) -> int:
    """Distinct ids in the store's head parquet, read from outside with
    pyarrow (which skips ``_``/``.`` files such as a commit in progress)."""
    import pyarrow.dataset as ds

    head = os.path.join(store_dir, "head")
    if not os.path.isdir(head):
        return 0
    table = ds.dataset(head, format="parquet", partitioning="hive").to_table(columns=["id"])
    return len(set(table.column("id").to_pylist()))
