"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The run starts a local Spark
session (``local[nproc]``; its start-up is timed as ``session.start_s`` and
kept out of ``setup_s``), sets the workload up, runs its measured phase with
tracing off, checks every answer against the benchmark's own numpy model,
and prints every metric by name and unit. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the measured
phase is run again from the same post-setup state with every layer wrapped,
and the per-layer metrics are printed instead). Any failed operation or
correctness violation makes the run exit with code 1.

All files the run writes stay under ``.perfbench/`` in the working
directory: the store, Spark's scratch space, and ``.perfbench/out/`` with the
full record and the spans of traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# the end-to-end metrics in BENCHMARK.json: every gated workload reports them
GATED = {
    "setup_s": "s",
    "search_qps": "1/s",
    "search_p50_s": "s",
    "recall_at_10": "ratio",
    "ops_per_s": "1/s",
    "bytes_per_user_byte": "ratio",
    "index_build_s": "s",
    "write_rows_per_s": "rows/s",
}
# printed and recorded where a workload has them, but not gated: they are not
# defined, or are 0, on some gated workload (see README.md)
REPORTED = {
    "search_p90_s": "s",
    "write_p50_s": "s",
    "cache_hit_ratio": "ratio",
    "error_ratio": "ratio",
}

SPAN_METRICS = {
    "store.add_s": "store.add", "store.upsert_s": "store.upsert",
    "store.delete_s": "store.delete", "store.compact_s": "store.compact",
    "store.search_s": "store.search",
    "delta_index.build_s": "delta_index.build", "delta_index.search_s": "delta_index.search",
    "ivf.build_s": "ivf.build",
    "segments.pack_write_s": "segments.pack_write", "segments.scan_s": "segments.scan",
    "knn.bruteforce_s": "knn.bruteforce", "topk.merge_s": "topk.merge",
    "cache.lookup_s": "cache.lookup", "cache.write_back_s": "cache.write_back",
    "search_pipeline.search_with_cache_s": "search_pipeline.search_with_cache",
    "resp.search_s": "resp.search", "resp.upsert_s": "resp.upsert", "resp.del_s": "resp.del",
}
LAYERS = ("store", "delta_index", "ivf", "segments", "knn", "topk", "cache",
          "search_pipeline", "resp")
COUNTED = (
    "store.head_files", "store.head_bytes", "store.tail_bytes", "store.write_amp",
    "delta_index.head_keys",
    "cache.hits.l0", "cache.hits.l05", "cache.hits.l1", "cache.hits.l2", "cache.misses",
    "cache.table_files", "cache.hit_ratio",
    "search_pipeline.cache_ms", "search_pipeline.search_ms", "search_pipeline.metadata_ms",
    "resp.server_ms", "resp.faiss_ms", "resp.wire_s",
)
OP_TYPES = ("search", "write", "build")


def per_layer_names() -> list[str]:
    names = ["session.start_s"] + list(SPAN_METRICS) + list(COUNTED)
    names += [f"{layer}.self_s" for layer in LAYERS]
    for what in ("jobs", "stages", "tasks"):
        names += [f"spark.{what}_per_op.{t}" for t in OP_TYPES]
    names += ["spark.failed_tasks", "trace.overhead_s", "trace.overhead_ratio"]
    return names


def unit_of(name: str) -> str:
    if name in GATED:
        return GATED[name]
    if name in REPORTED:
        return REPORTED[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("ratio", "write_amp")):
        return "ratio"
    return "count"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    make the checkout importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def host_record(spark, cores: int, clients: int) -> dict:
    import numpy
    import pyspark

    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "mem_available_bytes": mem.get("MemAvailable"),
        "master": f"local[{cores}]",
        "clients": clients,
    }


def install_tracing(tracer) -> None:
    """Wrap each layer's public functions where the program looks them up:
    modules that did ``from x import f`` hold their own reference."""
    from pyrope_spark.operators import cache, delta_index, knn, search_pipeline, segments
    from pyrope_spark.serving import resp
    from pyrope_spark.store import vector_store

    first = lambda out: out[0]  # noqa: E731  (DataFrame of a (df, x) pair)
    df = lambda out: out  # noqa: E731
    vs = vector_store.VectorStore
    for attr in ("add", "upsert", "delete", "compact"):
        tracer.wrap(vs, attr, f"store.{attr}")
    tracer.wrap(vs, "search", "store.search", lazy=df)
    tracer.wrap(delta_index, "build_delta_index", "delta_index.build")
    tracer.wrap(delta_index, "delta_search", "delta_index.search", lazy=df)
    tracer.wrap(delta_index, "build_ivf", "ivf.build", lazy=first)
    tracer.wrap(delta_index, "write_segments", "segments.pack_write")
    tracer.wrap(delta_index, "ivf_search_packed", "segments.scan", lazy=df)
    for mod in (delta_index, search_pipeline, vector_store):
        tracer.wrap(mod, "knn_bruteforce", "knn.bruteforce", lazy=df)
    for mod in (delta_index, knn, segments):
        tracer.wrap(mod, "topk_per_group", "topk.merge", lazy=df)
    tracer.wrap(cache.ResultCacheTable, "lookup", "cache.lookup", lazy=df)
    tracer.wrap(cache.ResultCacheTable, "write_back", "cache.write_back")
    tracer.wrap(search_pipeline, "search_with_cache", "search_pipeline.search_with_cache",
                lazy=first)
    tracer.wrap_resp(resp.VecFrontend)


def layer_metrics(tracer, phase_extra: dict, head_keys: list[int]) -> dict[str, float]:
    dur = tracer.durations()
    out = {m: dur.get(span, 0.0) for m, span in SPAN_METRICS.items()}
    for name in COUNTED:
        out[name] = float(phase_extra.get(name, 0.0))
    out["cache.hit_ratio"] = phase_extra.get("cache_hit_ratio", 0.0)
    out["delta_index.head_keys"] = statistics.mean(head_keys) if head_keys else 0.0
    selfs = tracer.self_times()
    for layer in LAYERS:
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    failed = 0
    for t in OP_TYPES:
        c = tracer.jobs.get(t, {})
        n = max(c.get("ops", 0), 1)
        for what in ("jobs", "stages", "tasks"):
            out[f"spark.{what}_per_op.{t}"] = c.get(what, 0) / n
        failed += c.get("failed_tasks", 0)
    out["spark.failed_tasks"] = failed
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import workloads as wl_mod
    from tracing import Tracer

    if args.workload not in wl_mod.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(wl_mod.WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        from pyrope_spark.session import get_spark
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    wl_mod.bind_program()
    os.makedirs(out_dir, exist_ok=True)

    cores = nproc()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        result = run_workload(spark, wl_mod, Tracer(spark), args, work, out_dir,
                              session_start_s, cores)
    finally:
        spark.stop()
        stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)

    for name, value in sorted({**result["end_to_end"], **result["reported"],
                               **result["trace_metrics"]}.items()):
        print(f"{name} {value:.6g} {unit_of(name)}")
    # the JSON line carries the metrics BENCHMARK.json lists for this mode
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    measured = result["trace_metrics"] if args.trace else result["end_to_end"]
    metrics = {m["name"]: measured[m["name"]] for m in listed if m["name"] in measured}
    for msg in result["problems"][:20]:
        print(f"FAILED {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if result["failed"] == 0 else 1


def stop_jvm(gateway) -> None:
    """Close the Py4J gateway and wait for the JVM it launched to exit."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(spark, wl_mod, tracer, args, work, out_dir, session_start_s, cores) -> dict:
    cls = wl_mod.WORKLOADS[args.workload]
    wl = cls(spark, work, args.seed, args.seconds, tracer)
    phases = [wl.setup_phase]
    try:
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        for check in wl.deferred:
            check()
        if args.trace:
            wl.snapshot()
        wl.ledger = wl_mod.DiskLedger(wl.store_dir)  # account the measured phase only
        t0 = time.perf_counter()
        phase = wl.phase()
        check_s = time.perf_counter() - t0 - phase.wall_s
        phases.append(phase)
        e2e_all = phase.metrics(wl.ledger, len(wl.live.vec), wl.setup_phase)

        trace_metrics = {}
        if args.trace:
            wl.restore()
            wl.ledger = wl_mod.DiskLedger(wl.store_dir)
            install_tracing(tracer)
            tracer.enabled = True
            try:
                traced = wl.phase()
            finally:
                tracer.enabled = False
                tracer.unwrap()
            phases.append(traced)
            trace_metrics = layer_metrics(
                tracer, traced.metrics(wl.ledger, len(wl.live.vec), wl.setup_phase), wl.head_keys)
            trace_metrics["session.start_s"] = session_start_s
            trace_metrics["trace.overhead_s"] = traced.wall_s - phase.wall_s
            trace_metrics["trace.overhead_ratio"] = traced.wall_s / phase.wall_s - 1.0
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        wl.close()

    e2e = {"setup_s": setup_s}
    e2e.update({k: e2e_all[k] for k in GATED if k in e2e_all})  # cache_zipf builds nothing
    result = {
        "workload": args.workload, "why": cls.why, "seed": args.seed,
        "seconds": args.seconds, "host": host_record(spark, cores, cls.CLIENTS),
        "session_start_s": session_start_s,
        "setup_ops": [(o.kind, round(o.seconds, 3)) for o in wl.setup_phase.ops],
        "measured_ops": [(o.kind, round(o.seconds, 3)) for o in phase.ops],
        "measured_wall_s": phase.wall_s,
        "check_s": check_s,
        "end_to_end": e2e,
        "reported": {k: e2e_all[k] for k in REPORTED if k in e2e_all},
        "trace_metrics": trace_metrics,
        "layers_untraced": {k: v for k, v in e2e_all.items() if "." in k},
        "attempted": sum(len(p.ops) for p in phases),
        "failed": sum(p.failed() for p in phases),
        "problems": [m for p in phases for m in p.problems],
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(result, f, indent=1, default=str)
    return result


if __name__ == "__main__":
    sys.exit(main())
