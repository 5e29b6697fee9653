"""Benchmark entry point.

    python3 perfbench/run.py --workload ratings_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the repository root. Each run starts the engine's SparkSession
on ``local[4]``, builds its inputs from ``--seed``, measures for
``--seconds``, checks every output against an independent answer and
prints one JSON object as its last stdout line: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A failed
check makes the run exit 1. ``--workload all`` runs every workload in
its own process and exits 1 if any of them fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_cdc_elasticsearch_pipeline_spark"
MODULES = {"ratings_stream": "wl_ratings", "kibana_dashboard": "wl_dashboard"}
WORKLOADS = tuple(MODULES)
CPUS = 4
DRIVER_MEM = "2g"


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _env(work: str) -> None:
    """Point the engine, Spark and its Python workers at this checkout."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _import_engine():
    """Import the engine from this checkout and nowhere else; a
    directory without it is an error, not a result."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    pkg_dir = os.path.join(ROOT, PACKAGE)
    if not os.path.isfile(os.path.join(pkg_dir, "__init__.py")):
        raise SystemExit(f"perfbench: no {PACKAGE} package next to perfbench/")
    mod = importlib.import_module(PACKAGE)
    if os.path.dirname(os.path.abspath(mod.__file__)) != pkg_dir:
        raise SystemExit(f"perfbench: {PACKAGE} imported from {mod.__file__}")


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import harness as H

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    _env(work)
    tracer = H.Tracer(traced)
    cpu0 = H.cpu_times()
    try:
        with H.RssSampler() as rss:
            with tracer.span("session.start", trace="session"):
                spark, start_s, warm_s = H.start_session(work, CPUS)
            mod = importlib.import_module(MODULES[workload])
            session = {"start_s": start_s, "warmup_s": warm_s}
            res = mod.run(spark, work, seed, seconds, tracer, traced)
            if traced and workload == "ratings_stream":
                res["layers"]["baseline.local1_catchup_eps"] = mod.local1_catchup_eps(
                    spark, work, seed)
            spark.stop()
            H.stop_jvm()
        res["session"] = session
        res["peak_rss_mb"] = rss.peak
        res["steal_share"] = H.steal_share(cpu0, H.cpu_times())
        if traced:
            tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{workload}-{seed}.jsonl"))
            res["self_ms"] = H.self_times(tracer.spans)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _e2e(res: dict) -> dict:
    """(value, unit, the workload's own name) per end-to-end metric."""
    import harness as H

    setup = res["setup"]
    setup_s = (res["session"]["start_s"] + res["session"]["warmup_s"]
               + H.p50(setup["stage_s"]) + setup.get("warmup_s", 0.0))
    out = {"setup_s": (setup_s, "s", "setup_s"),
           **res["e2e"],
           "peak_rss_mb": (res["peak_rss_mb"], "MB", "peak_rss_mb")}
    return out


#: layer of each per-layer metric prefix, for self-time reporting
LAYER_OF_SPAN = {
    "session": "session", "streaming": "streaming", "plans": "pipeline",
    "operators": "operators", "sources.elasticsearch": "es_sink",
    "sources.cdc": "cdc", "sources.lakelog": "lakelog",
    "extensions.search_rest": "search_rest", "extensions.search_serve": "search_serve",
    "ksql": "ksql", "gen": "gen",
}


def _layer_self_ms(self_ms: dict) -> dict:
    out: dict[str, float] = {}
    for name, ms in self_ms.items():
        for prefix, layer in LAYER_OF_SPAN.items():
            if name.startswith(prefix):
                out[layer] = out.get(layer, 0.0) + ms
                break
    return out


def report(workload: str, seed: int, res: dict, traced: bool) -> dict:
    e2e = _e2e(res)
    print(f"# workload {workload} seed {seed}  sizes {json.dumps(res['sizes'])}")
    for key, (value, unit, own_name) in e2e.items():
        print(f"{own_name:24s} {value:14.4f} {unit}   ({key})")
    for name, ok in res["checks"]:
        print(f"check {'PASS' if ok else 'FAIL'}  {name}")
    for k, v in res.get("notes", {}).items():
        print(f"note  {k} = {v}")
    print(f"note  host_cpu_steal_share = {res['steal_share']:.3f}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"failed_ratio            {failed / attempted:14.6f} (failed {failed} of {attempted})")
    last = os.path.join(ROOT, ".perfbench_work", f"last-{workload}.json")
    if not traced:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({k: v for k, (v, _, _) in e2e.items()}, f)
    else:
        layers = dict(res.get("layers", {}))
        layers["session.start_s"] = res["session"]["start_s"]
        layers["session.warmup_s"] = res["session"]["warmup_s"]
        layers["failed_ratio"] = failed / attempted
        layers["host.steal_share"] = res["steal_share"]
        for layer, ms in _layer_self_ms(res["self_ms"]).items():
            layers[f"self_ms.{layer}"] = ms
            print(f"self  {layer:14s} {ms:12.1f} ms")
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            for k, (v, unit, own_name) in e2e.items():
                print(f"trace_overhead {own_name:24s} {v - untraced[k]:+.4f} {unit}")
        units = _per_layer_units()
        missing = [n for n in units if n not in layers]
        if missing:
            print(f"n/a on {workload} (layer not exercised, reported as 0): "
                  + ", ".join(missing))
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
    result = {"correct": bool(res["correct"]), "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics}
    print(json.dumps(result), flush=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            modes = (0, 1) if args.trace else (0,)
            for t in modes:
                p = subprocess.run([sys.executable, __file__, "--workload", w,
                                    "--seed", str(args.seed), "--seconds",
                                    str(args.seconds), "--trace", str(t)], cwd=ROOT)
                rc = rc or p.returncode
        return rc
    _import_engine()
    t0 = time.perf_counter()
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    result = report(args.workload, args.seed, res, bool(args.trace))
    print(f"# wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
