"""The benchmark workloads.

Each workload drives the public API of ``pyrope_spark`` with inputs drawn
from its seed, runs a fixed number of operations (never a timer), and keeps
what it needs to check every answer afterwards, outside the timed phase.
Sizes are fixed per workload; ``--seconds`` only scales the number of
measured operations (``ops = rate * seconds``), so a run with the same seed
and seconds always performs the same operations.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from common import (
    DIM, INDEX, K, TENANT, Corpus, DiskLedger, LiveSet, exact_topk, head_key_count, l2_scores,
    median, quantile, recall, walk, zipf_ranks,
)
from wire import RespReplyError, WireClient, parse_search_reply

# Bound by ``bind_program`` once the runner has prepared the environment the
# Spark session needs; importing this module needs only numpy and pandas.
vector_store = delta_index = search_pipeline = cache_mod = resp = None

# the logical clock of every cache write and lookup: whether a lookup hits
# never depends on wall time, only on the inputs
CACHE_NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)


def bind_program() -> None:
    global vector_store, delta_index, search_pipeline, cache_mod, resp
    from pyrope_spark.operators import cache as cache_mod  # noqa: F811
    from pyrope_spark.operators import delta_index, search_pipeline  # noqa: F811
    from pyrope_spark.serving import resp  # noqa: F811
    from pyrope_spark.store import vector_store  # noqa: F811


def score_ok(got, want: float) -> bool:
    """Stored vectors are float32 and the program scores them in float64, so
    a returned score agrees with numpy's to float32 rounding."""
    return got is not None and abs(got - want) <= 1e-3 * max(1.0, abs(want))


@dataclass
class Op:
    kind: str  # "search" | "write" | "build"
    seconds: float
    rows: int = 0  # queries answered (search) or rows written (write)
    ok: bool = True  # False: the call raised, timed out or was refused
    violations: int = 0  # wrong answers found by the checks

    @property
    def failed(self) -> bool:
        return not self.ok or self.violations > 0


@dataclass
class Phase:
    """The operations of one phase (set-up or measured) and what the checks
    found in them."""

    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    recalls: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def flag(self, op: Op, msg: str) -> None:
        op.violations += 1
        self.problems.append(msg)

    def failed(self) -> int:
        return sum(o.failed for o in self.ops)

    def metrics(self, ledger: DiskLedger, live_rows: int, setup: "Phase") -> dict[str, float]:
        """Metrics of this (measured) phase. A read-only phase takes its
        write and build figures from ``setup``: the initial load and build."""
        searches = [o for o in self.ops if o.kind == "search" and o.ok]
        ok_ops = lambda kind: ([o for o in self.ops if o.kind == kind and o.ok]  # noqa: E731
                               or [o for o in setup.ops if o.kind == kind and o.ok])
        writes, builds = ok_ops("write"), ok_ops("build")
        lat = [o.seconds for o in searches]
        ledger.observe()
        out = {
            "search_qps": sum(o.rows for o in searches) / self.wall_s,
            "search_p50_s": median(lat),
            "recall_at_10": float(np.mean(self.recalls)) if self.recalls else 0.0,
            "ops_per_s": len(self.ops) / self.wall_s,
            "bytes_per_user_byte": ledger.bytes_per_user_byte(live_rows),
            "error_ratio": self.failed() / max(len(self.ops), 1),
        }
        if len(lat) >= 100:
            out["search_p90_s"] = quantile(lat, 0.9)
        if writes:
            out["write_p50_s"] = median([o.seconds for o in writes])
            out["write_rows_per_s"] = (sum(o.rows for o in writes)
                                       / sum(o.seconds for o in writes))
        if builds:
            out["index_build_s"] = median([o.seconds for o in builds])
        out.update({f"store.{k}": v for k, v in ledger.layout().items()})
        out["store.head_files"], out["store.head_bytes"] = ledger.peak_head
        out["store.write_amp"] = ledger.write_amp()
        out.update(self.extra)
        return out


def records_df(spark, ids, vecs, tags=None, metas=None):
    pdf = pd.DataFrame({
        "tenant_id": TENANT,
        "index_name": INDEX,
        "id": list(ids),
        "vector": [v.astype(np.float32) for v in vecs],
    })
    schema = "tenant_id string, index_name string, id string, vector array<float>"
    if tags is not None:
        pdf["tags"] = [list(t) for t in tags]
        pdf["meta"] = list(metas)
        schema += ", tags array<string>, meta string"
    return spark.createDataFrame(pdf, schema)


def group_hits(rows, with_tier=False):
    """Collected (query_id, id, rank, score[, served_from]) rows -> per
    query list of (rank, id, score[, tier]) sorted by rank."""
    out: dict[str, list] = {}
    for r in rows:
        item = (r["rank"], r["id"], r["score"])
        if with_tier:
            item += (r["served_from"],)
        out.setdefault(r["query_id"], []).append(item)
    for v in out.values():
        v.sort(key=lambda t: t[0])
    return out


class Workload:
    """Common frame: a store under the run's work dir, a ledger walking it,
    and snapshot/restore of the post-setup state, so that the traced run
    repeats the measured phase from the same starting point."""

    name = ""
    why = ""
    CLIENTS = 1

    def __init__(self, spark, work_dir: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.store_dir = os.path.join(work_dir, "store")
        self.corpus = Corpus(seed)
        self.live = LiveSet()
        self.setup_phase = Phase()
        self.head_keys: list[int] = []  # traced run: head size seen by each search
        self.deferred: list = []  # set-up checks, run once setup_s is taken

    def n_ops(self, rate: float) -> int:
        return max(1, int(round(rate * self.seconds)))

    def open_store(self) -> None:
        self.store = vector_store.VectorStore(self.spark, self.store_dir)
        self.ledger = DiskLedger(self.store_dir)

    def timed(self, ph: Phase, kind: str, fn, rows: int = 0):
        """Run one program call as one operation of ``ph``. An exception is
        a failed operation, not a crash of the benchmark."""
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                out = fn()
            ok = True
        except Exception as exc:  # the program failed this operation
            out, ok = None, False
            ph.problems.append(f"{kind} failed: {exc!r}"[:500])
        op = Op(kind, time.perf_counter() - t0, rows, ok)
        ph.ops.append(op)
        return op, out

    def load(self, ph: Phase, tagger=None):
        """Bulk-load the seeded corpus with ``VectorStore.add``; ``tagger``
        (vectors -> tag tuples) also attaches tags and a META document."""
        ids = [f"v{j}" for j in range(self.N)]
        vecs = self.corpus.points(self.N)
        tags = metas = None
        if tagger is not None:
            tags = tagger(vecs)
            metas = [json.dumps({"id": i}) for i in ids]
        self.open_store()
        df = records_df(self.spark, ids, vecs, tags, metas)
        self.timed(ph, "write", lambda: self.store.add(df), self.N)
        self.live.put(ids, vecs, tags)
        self.ledger.observe(self.N)
        return ids, vecs

    def _saved_dirs(self) -> list[str]:
        return [self.store_dir]

    def snapshot(self) -> None:
        self._saved_live = self.live.copy()
        self._saved_rng = self.corpus.rng.bit_generator.state
        for d in self._saved_dirs():
            if os.path.isdir(d):
                shutil.copytree(d, d + ".snap")

    def restore(self) -> None:
        self.live = self._saved_live.copy()
        self.corpus.rng.bit_generator.state = self._saved_rng
        for d in self._saved_dirs():
            shutil.rmtree(d, ignore_errors=True)
            if os.path.isdir(d + ".snap"):
                shutil.copytree(d + ".snap", d)
        self.open_store()

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# ann_batch / delta_rw: the head/tail DeltaVectorIndex
# --------------------------------------------------------------------------


class DeltaWorkload(Workload):
    N = 10_000
    NLIST = 32
    NPROBE = 4
    QUERIES = 200  # per delta_search batch

    def load_and_build(self) -> None:
        self.load(self.setup_phase)
        self.next_id = self.N
        self.build(self.setup_phase)

    def build(self, ph: Phase) -> None:
        self.timed(ph, "build", lambda: delta_index.build_delta_index(
            self.store, TENANT, INDEX, nlist=self.NLIST))
        self.ledger.observe()

    def make_queries(self, targets: list[np.ndarray]) -> np.ndarray:
        """Up to half the batch aims at given vectors (deleted rows and the
        old versions of overwritten rows), so a stale or deleted row would
        rank first if the program returned it; the rest are near random live
        rows."""
        ids = list(self.live.vec)
        n_t = min(len(targets), self.QUERIES // 2)
        pick = self.corpus.rng.choice(len(ids), self.QUERIES - n_t, replace=False)
        base = [self.live.vec[ids[j]] for j in pick] + list(targets[:n_t])
        return self.corpus.jitter(np.stack(base), 0.3)

    def search(self, ph: Phase, record: list, targets=()) -> None:
        q = self.make_queries(list(targets))
        qids = [f"q{j}" for j in range(len(q))]
        qdf = self.spark.createDataFrame(
            pd.DataFrame({"query_id": qids, "vector": list(q.astype(np.float64))}),
            "query_id string, vector array<double>")
        if self.tracer.enabled:
            self.head_keys.append(head_key_count(self.store_dir))
        op, out = self.timed(ph, "search", lambda: delta_index.delta_search(
            self.store, TENANT, INDEX, qdf, k=K, nprobe=self.NPROBE).collect(), len(q))
        if op.ok:
            # a shallow copy is enough: writes replace dict entries and never
            # mutate the stored arrays
            record.append((op, qids, q, out, self.live.copy()))

    def check_searches(self, ph: Phase, record: list) -> None:
        for op, qids, q, rows, live in record:
            got = group_hits(rows)
            ids, mat = live.matrix()
            truth = exact_topk(q, ids, mat)
            scored = []  # (query row, id, live vector, returned score)
            for j, qid in enumerate(qids):
                hits = got.get(qid, [])
                if len(hits) != K or len({h[1] for h in hits}) != K:
                    ph.flag(op, f"{qid}: {len(hits)} hits, want {K} distinct ids")
                for _rank, hid, score in hits:
                    v = live.vec.get(hid)
                    if v is None:
                        state = "deleted" if hid in live.deleted else "unknown"
                        ph.flag(op, f"{qid}: returned {state} id {hid}")
                    else:
                        scored.append((j, hid, v, score))
                ph.recalls.append(recall([h[1] for h in hits], truth[j]))
            if scored:
                diff = (q[[s[0] for s in scored]].astype(np.float64)
                        - np.stack([s[2] for s in scored]).astype(np.float64))
                for (j, hid, _v, score), want in zip(scored, -(diff * diff).sum(1)):
                    if not score_ok(score, want):
                        ph.flag(op, f"{qids[j]}: {hid} score {score} is not its live version's")


class AnnBatch(DeltaWorkload):
    name = "ann_batch"
    why = "read-only IVF batches: the probe and packed-segment scan do the work; writes and cache do none"
    N = 20_000
    QUERIES = 1000
    WARMUP_BATCHES = 3  # batch time keeps falling over the first batches of a fresh JVM
    BATCHES_PER_S = 0.4

    def setup(self) -> None:
        self.load_and_build()
        record: list = []
        for _ in range(self.WARMUP_BATCHES):
            self.search(self.setup_phase, record)
        self.deferred.append(lambda: self.check_searches(self.setup_phase, record))

    def phase(self) -> Phase:
        ph, record = Phase(), []
        n = self.n_ops(self.BATCHES_PER_S)
        t0 = time.perf_counter()
        for _ in range(n):
            self.search(ph, record)
        ph.wall_s = time.perf_counter() - t0
        self.check_searches(ph, record)
        return ph


class DeltaRW(DeltaWorkload):
    name = "delta_rw"
    why = "writes beside reads: upserts, tombstones, head-wins merge and periodic compaction do the work"
    UPSERTS = 200  # half new ids, half overwrites
    DELETES = 20
    BUILD_EVERY = 2  # rounds between rebuilds: the head grows for two rounds
    ROUNDS_PER_S = 0.2

    def setup(self) -> None:
        self.load_and_build()
        record: list = []
        self.round(self.setup_phase, record)  # warm-up round
        self.deferred.append(lambda: self.check_searches(self.setup_phase, record))

    def round(self, ph: Phase, record: list) -> None:
        rng = self.corpus.rng
        live_ids = sorted(self.live.vec)
        chosen = rng.choice(len(live_ids), self.UPSERTS // 2 + self.DELETES, replace=False)
        over = [live_ids[j] for j in chosen[: self.UPSERTS // 2]]
        dels = [live_ids[j] for j in chosen[self.UPSERTS // 2:]]
        new = [f"v{self.next_id + j}" for j in range(self.UPSERTS - len(over))]
        self.next_id += len(new)
        up_ids = new + over
        up_vecs = self.corpus.points(len(up_ids))
        old = [self.live.vec[i] for i in over] + [self.live.vec[i] for i in dels]

        df = records_df(self.spark, up_ids, up_vecs)
        op, n = self.timed(ph, "write", lambda: self.store.upsert(df), len(up_ids))
        if op.ok:
            self.live.put(up_ids, up_vecs)
            if n != len(up_ids):
                ph.flag(op, f"upsert of {len(up_ids)} rows reported {n}")
        self.ledger.observe(len(up_ids))

        keys = [(TENANT, INDEX, i) for i in dels]
        op, n = self.timed(ph, "write", lambda: self.store.delete(keys), len(dels))
        if op.ok:
            self.live.delete(dels)
            if n != len(dels):
                ph.flag(op, f"delete of {len(dels)} live rows reported {n}")
        self.ledger.observe(len(dels))

        self.search(ph, record, targets=old)

    def phase(self) -> Phase:
        ph, record = Phase(), []
        n = self.n_ops(self.ROUNDS_PER_S)
        t0 = time.perf_counter()
        for r in range(1, n + 1):
            self.round(ph, record)
            if r % self.BUILD_EVERY == 0:
                self.build(ph)
        ph.wall_s = time.perf_counter() - t0
        self.check_searches(ph, record)
        return ph


# --------------------------------------------------------------------------
# cache_zipf: the result-cache tiers in front of brute force
# --------------------------------------------------------------------------


class CacheZipf(Workload):
    name = "cache_zipf"
    why = "skewed repeats and near-duplicates: the L0/L1/L2 cache tiers do the work, the IVF kernel none"
    N = 10_000
    POOL = 256  # distinct base queries
    CENTER_QUERIES = 32  # queries within L2 reach of a semantic centroid
    ZIPF_S = 1.1
    NEAR_DUP_SHARE = 0.2  # jittered copies of pool queries (L1 / L2 tiers)
    BATCH = 200
    BATCHES_PER_S = 0.25

    def setup(self) -> None:
        self.cache_dir = os.path.join(self.work, "cache")
        self.computed: dict[bytes, list[str]] = {}
        _ids, vecs = self.load(self.setup_phase)
        rng = self.corpus.rng
        base = self.corpus.jitter(vecs[rng.choice(self.N, self.POOL, replace=False)], 0.3)
        # the generator's mixture centres stand in for the semantic cluster
        # registry; these queries sit within its L2 closeness threshold
        near_c = self.corpus.jitter(
            self.corpus.centers[rng.choice(len(self.corpus.centers), self.CENTER_QUERIES)], 0.002)
        pool = np.concatenate([base, near_c])
        self.pool = pool[rng.permutation(len(pool))]
        record: list = []
        self.batch(self.setup_phase, record)  # warm-up batch; also seeds the cache
        self.deferred.append(lambda: self.check_batches(self.setup_phase, record))

    def _saved_dirs(self):
        return [self.store_dir, self.cache_dir]

    def open_store(self) -> None:
        super().open_store()
        self.cache = cache_mod.ResultCacheTable(self.spark, self.cache_dir)

    def restore(self) -> None:
        super().restore()
        self.computed = dict(self._saved_computed)

    def snapshot(self) -> None:
        super().snapshot()
        self._saved_computed = dict(self.computed)

    def draw(self) -> np.ndarray:
        rng = self.corpus.rng
        q = self.pool[zipf_ranks(rng, len(self.pool), self.BATCH, self.ZIPF_S)]
        dup = rng.random(self.BATCH) < self.NEAR_DUP_SHARE
        q[dup] = self.corpus.jitter(q[dup], 0.01)
        return q

    def batch(self, ph: Phase, record: list) -> None:
        q = self.draw()
        qids = [f"q{j}" for j in range(len(q))]
        qdf = self.spark.createDataFrame(
            pd.DataFrame({"query_id": qids, "vector": list(q.astype(np.float64)), "top_k": K}),
            "query_id string, vector array<double>, top_k int")
        vectors = self.store.live(TENANT, INDEX)
        epoch = self.store.epoch(TENANT, INDEX)

        def call():
            res, stats = search_pipeline.search_with_cache(
                vectors, qdf, self.cache, k=K, epoch=epoch, tenant=TENANT, index=INDEX,
                centroids=self.corpus.centers, now=CACHE_NOW, n=len(self.live.vec), dim=DIM)
            try:
                return res.collect(), stats
            finally:
                for d in getattr(res, "_pyrope_cached_deps", []):
                    d.unpersist()

        op, out = self.timed(ph, "search", call, len(q))
        if op.ok:
            record.append((op, qids, q, *out))

    def check_batches(self, ph: Phase, record: list) -> None:
        ids, mat = self.live.matrix()
        tiers = {"L0": 0, "L0.5": 0, "L1": 0, "L2": 0}
        misses = 0
        for op, qids, q, rows, stats in record:
            got = group_hits(rows, with_tier=True)
            truth = exact_topk(q, ids, mat)
            for j, qid in enumerate(qids):
                hits = got.get(qid, [])
                served = sorted({h[3] for h in hits})
                hid = [h[1] for h in hits]
                if len(served) > 1:
                    ph.flag(op, f"{qid}: answered {len(hits)} rows from {served}")
                elif len(hits) != K or len(set(hid)) != K:
                    ph.flag(op, f"{qid}: {len(hits)} hits, want {K} distinct ids")
                if any(h not in self.live.vec for h in hid):
                    ph.flag(op, f"{qid}: returned an id that is not live")
                key = q[j].tobytes()
                if "compute" in served:
                    misses += 1
                    mine = [h for h in hits if h[3] == "compute"]
                    self.computed.setdefault(key, [h[1] for h in mine])
                    if not all(score_ok(h[2], float(l2_scores(q[j:j + 1],
                                                               self.live.vec[h[1]][None])[0, 0]))
                               for h in mine if h[1] in self.live.vec):
                        ph.flag(op, f"{qid}: computed scores disagree with numpy")
                elif served:
                    tiers[served[0]] += 1
                    if served == ["L0"] and self.computed.get(key, hid) != hid:
                        ph.flag(op, f"{qid}: L0 hit {hid} != computed {self.computed[key]}")
                ph.recalls.append(recall(hid, truth[j]))
            if stats.misses + sum(stats.hits_by_tier.values()) != len(qids):
                ph.flag(op, "tier counts do not add up to the batch size")
        hits = sum(tiers.values())
        ph.extra.update({
            "cache_hit_ratio": hits / max(hits + misses, 1),
            "cache.hits.l0": tiers["L0"], "cache.hits.l05": tiers["L0.5"],
            "cache.hits.l1": tiers["L1"], "cache.hits.l2": tiers["L2"],
            "cache.misses": misses,
            "cache.table_files": len(walk(self.cache_dir)),
        })
        for name in ("cache_ms", "search_ms", "metadata_ms"):
            ph.extra[f"search_pipeline.{name}"] = float(sum(r[-1].trace_ms[name] for r in record))

    def phase(self) -> Phase:
        ph, record = Phase(), []
        n = self.n_ops(self.BATCHES_PER_S)
        t0 = time.perf_counter()
        for _ in range(n):
            self.batch(ph, record)
        ph.wall_s = time.perf_counter() - t0
        self.check_batches(ph, record)
        return ph


# --------------------------------------------------------------------------
# resp_serve: RESP front end, closed-loop clients
# --------------------------------------------------------------------------


class RespServe(Workload):
    name = "resp_serve"
    why = "per-request latency over TCP: RESP parsing, per-request Spark jobs and the store's brute-force view"
    N = 4_000
    CLIENTS = 4
    N_TAGS = 4
    WARMUP_PER_CLIENT = 4
    OPS_PER_CLIENT_PER_S = 0.4
    MIX = (("upsert", 0.10), ("del", 0.05))  # the rest are VEC.SEARCH
    FILTER_SHARE = 0.2
    META_SHARE = 0.2
    DELETED_TARGET_SHARE = 0.3  # searches aimed at a row this client deleted
    TIMEOUT_S = 60.0

    def tags(self, vecs: np.ndarray) -> list[tuple[str, ...]]:
        d = ((vecs[:, None, :] - self.corpus.centers[None]) ** 2).sum(-1)
        return [(f"g{c % self.N_TAGS}",) for c in d.argmin(1)]

    def setup(self) -> None:
        ids, vecs = self.load(self.setup_phase, tagger=self.tags)
        self.timed(self.setup_phase, "build", self.store.compact)
        self.ledger.observe()
        # client c owns the loaded ids j with j % CLIENTS == c: it overwrites
        # and deletes only those and adds new ids of its own, so no two
        # connections ever write the same key
        self.owned = {c: ids[c::self.CLIENTS] for c in range(self.CLIENTS)}
        self.loaded = dict(zip(ids, vecs))
        self.start_server()
        events = self.drive(self.WARMUP_PER_CLIENT, warm=True)
        self.deferred.append(lambda: self.check(events, self.setup_phase))

    def start_server(self) -> None:
        self.server = resp.RespServer(resp.VecFrontend(self.store)).start()

    def restore(self) -> None:
        self.server.stop()
        super().restore()
        self.start_server()

    def close(self) -> None:
        self.server.stop()

    def plan(self, n: int, rng: np.random.Generator) -> list[str]:
        kinds = []
        for kind, share in self.MIX:
            kinds += [kind] * max(1, int(round(share * n)))
        kinds += ["search"] * (n - len(kinds))
        return list(rng.permutation(kinds))

    def request(self, c: int, kind: str, rng, state: dict) -> tuple[list, dict]:
        """The next command of client ``c`` and the event it will log."""
        ev = {"kind": kind, "client": c}
        alive = [i for i in self.owned[c] if i not in state["deleted"]]
        if kind == "search":
            if state["deleted"] and rng.random() < self.DELETED_TARGET_SHARE:
                target = self.loaded[state["deleted"][rng.integers(len(state["deleted"]))]]
            else:
                target = self.loaded[self.owned[c][rng.integers(len(self.owned[c]))]]
            qv = (target + rng.normal(0, 0.3, DIM)).astype(np.float32)
            args = ["VEC.SEARCH", TENANT, INDEX, "TOPK", K, "VECTOR",
                    json.dumps([float(x) for x in qv])]
            ev["filter"] = (f"g{rng.integers(self.N_TAGS)}"
                            if rng.random() < self.FILTER_SHARE else None)
            ev["meta"] = bool(rng.random() < self.META_SHARE)
            if ev["filter"]:
                args += ["FILTER", ev["filter"]]
            if ev["meta"]:
                args.append("WITH_META")
            args.append("TRACE")
            ev["q"] = qv
        elif kind == "upsert":
            if rng.random() < 0.5:
                vid = f"c{c}n{state['new']}"
                state["new"] += 1
            else:
                vid = alive[rng.integers(len(alive))]
            v = (self.corpus.centers[rng.integers(len(self.corpus.centers))]
                 + rng.normal(0, 1, DIM)).astype(np.float32)
            tags = self.tags(v[None])[0]
            args = ["VEC.UPSERT", TENANT, INDEX, vid, "VECTOR",
                    json.dumps([float(x) for x in v]), "TAGS", ",".join(tags),
                    "META", json.dumps({"id": vid})]
            ev.update(id=vid, vec=v, tags=tags)
        else:
            vid = alive[rng.integers(len(alive))]
            args = ["VEC.DEL", TENANT, INDEX, vid]
            ev["id"] = vid
        return args, ev

    def drive(self, per_client: int, warm: bool = False) -> list[dict]:
        """``per_client`` closed-loop requests on each of CLIENTS threads,
        one connection each; returns the event log."""
        logs: list[list[dict]] = [[] for _ in range(self.CLIENTS)]
        salt = int(self.corpus.rng.integers(1 << 30))
        rngs = [np.random.default_rng([self.seed, c, salt]) for c in range(self.CLIENTS)]
        plans = [["search"] * per_client if warm else self.plan(per_client, rngs[c])
                 for c in range(self.CLIENTS)]

        errors: list[Exception] = []

        def client(c: int) -> None:
            state = {"deleted": [], "new": 0}
            cli = None
            try:
                for kind in plans[c]:
                    args, ev = self.request(c, kind, rngs[c], state)
                    ev["t_send"] = time.perf_counter()
                    try:
                        cli = cli or WireClient(self.server.port, self.TIMEOUT_S)
                        ev["reply"] = cli.call(*args)
                        ev["ok"] = not (isinstance(ev["reply"], tuple) and ev["reply"][0] == "-")
                    except (OSError, RespReplyError) as exc:
                        ev["ok"], ev["err"] = False, repr(exc)
                        if cli is not None:  # the reply stream is out of step: reconnect
                            cli.close()
                            cli = None
                    ev["t_done"] = time.perf_counter()
                    if kind == "del" and ev["ok"]:
                        state["deleted"].append(ev["id"])
                    logs[c].append(ev)
            except Exception as exc:  # a benchmark fault: re-raised after the join
                errors.append(exc)
            finally:
                if cli is not None:
                    cli.close()

        threads = [threading.Thread(target=client, args=(c,)) for c in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(self.TIMEOUT_S * (per_client + 1))
            if t.is_alive():
                raise RuntimeError("a RESP client thread did not finish")
        if errors:
            raise RuntimeError("a RESP client thread failed") from errors[0]
        return [ev for log in logs for ev in log]

    def phase(self) -> Phase:
        n = self.n_ops(self.OPS_PER_CLIENT_PER_S)
        t0 = time.perf_counter()
        events = self.drive(n)
        ph = Phase(wall_s=time.perf_counter() - t0)
        self.check(events, ph)
        return ph

    def check(self, events: list[dict], ph: Phase) -> None:
        # per id: (t_send, t_done, vector or None, tags) of every write that
        # completed, the loaded version first
        history: dict[str, list] = {i: [(0.0, 0.0, v, self.live.tags[i])]
                                    for i, v in self.live.vec.items()}
        writes = [e for e in events if e["kind"] != "search" and e.get("ok")]
        for e in sorted(writes, key=lambda e: e["t_done"]):
            history.setdefault(e["id"], []).append(
                (e["t_send"], e["t_done"], e.get("vec"), e.get("tags")))
        server_ms = faiss_ms = wire_s = 0.0
        for e in events:
            dt = e["t_done"] - e["t_send"] if "t_done" in e else self.TIMEOUT_S
            op = Op("search" if e["kind"] == "search" else "write", dt, 1, e.get("ok", False))
            ph.ops.append(op)
            if not op.ok:
                ph.problems.append(f"{e['kind']} failed: {e.get('err') or e.get('reply')}"[:500])
            elif e["kind"] != "search":
                if e["reply"] != ("+", "VEC_OK"):
                    ph.flag(op, f"{e['kind']} reply {e['reply']!r}")
            else:
                try:
                    hits, trace = parse_search_reply(e["reply"], e["meta"])
                except RespReplyError as exc:
                    ph.flag(op, f"malformed search reply: {exc}")
                    continue
                server_ms += trace["LatencyMs"]
                faiss_ms += trace["FaissMs"]
                wire_s += dt - trace["LatencyMs"] / 1000.0
                self.check_search(e, hits, history, op, ph)
        self.ledger.observe(len(writes))
        for i, h in history.items():
            if h[-1][2] is None:
                self.live.delete([i])
            else:
                self.live.put([i], [h[-1][2]], [h[-1][3]])
        ph.extra.update({"resp.server_ms": server_ms, "resp.faiss_ms": faiss_ms,
                         "resp.wire_s": wire_s})

    def check_search(self, e: dict, hits: list, history: dict, op: Op, ph: Phase) -> None:
        ts, tr = e["t_send"], e["t_done"]
        # every id's state when the request was sent, plus the states that
        # a write in flight during the request may have exposed
        settled: dict[str, tuple] = {}
        racing: dict[str, list] = {}
        for i, h in history.items():
            for w in h:
                if w[1] <= ts:
                    settled[i] = w
                elif w[0] < tr:
                    racing.setdefault(i, []).append(w)
        cand = [i for i, w in settled.items()
                if w[2] is not None and (e["filter"] is None or e["filter"] in w[3])]
        truth = exact_topk(e["q"][None], cand, np.stack([settled[i][2] for i in cand]))[0]
        got = [h[0] for h in hits]
        if len(hits) != K or len(set(got)) != K:
            ph.flag(op, f"search: {len(hits)} hits, want {K} distinct ids")
        for hid, score, meta in hits:
            states = ([settled[hid]] if hid in settled else []) + racing.get(hid, [])
            visible = [w for w in states if w[2] is not None]
            if not visible:
                ph.flag(op, f"search returned {hid}, deleted before the request was sent")
                continue
            want = [float(l2_scores(e["q"][None], w[2][None])[0, 0]) for w in visible]
            if not any(score_ok(score, x) for x in want):
                ph.flag(op, f"search: {hid} score {score} matches no visible version")
            if e["filter"] and not any(e["filter"] in (w[3] or ()) for w in visible):
                ph.flag(op, f"search FILTER {e['filter']} returned {hid}")
            if e["meta"]:
                try:
                    meta_id = json.loads(meta).get("id") if meta is not None else None
                except (ValueError, AttributeError):
                    meta_id = None
                if meta_id != hid:
                    ph.flag(op, f"WITH_META for {hid} returned {meta!r}")
        ph.recalls.append(recall(got, truth))


WORKLOADS = {w.name: w for w in (AnnBatch, DeltaRW, CacheZipf, RespServe)}
