"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl|store|suite --seed N --seconds S --trace 0|1

Run from the repository root. Each run stages a copy of the package source
into a fresh directory under ``.perfbench/`` and points every warehouse,
dedup index, Spark local dir and temp dir there, so no run sees state left
by another; the directory is removed at exit. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Progress, run metadata (CPU system/steal shares) and
diagnostics go to stderr; a traced run also writes its spans to
``.perfbench/traces/``. A traced run also runs the workload's layer
probe after its checks: the ``suite`` queries and incremental matches for
``crawl``, incremental matches for ``suite``. ``BENCHMARK.json`` lists
``crawl`` and ``store``; ``suite`` runs on its own too, but its layers are
measured in traced ``crawl`` runs (see README).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
# a run must end within 180 s; layer probes start no new call after this
PROBE_DEADLINE_S = 135
ROOT = os.getcwd()
SOURCES = {  # staged name -> path in the repository
    "crawl4ai_llm_spark": "crawl4ai_llm_spark",
    "oracle_crawler.py": os.path.join("tests", "oracle_crawler.py"),
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def stage(run_dir: str) -> str:
    src = os.path.join(run_dir, "src")
    os.makedirs(src)
    for name, rel in SOURCES.items():
        path = os.path.join(ROOT, rel)
        if os.path.isdir(path):
            shutil.copytree(path, os.path.join(src, name), ignore=shutil.ignore_patterns("__pycache__"))
        else:
            shutil.copy(path, os.path.join(src, name))
    return src


def isolate(run_dir: str, src: str) -> dict[str, str]:
    """Environment and Spark conf that keep every file the run writes
    under ``run_dir`` and let the Python workers import the staged code."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [src] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, src)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }


def span_totals(spans: list[dict]) -> dict[str, list]:
    """name -> [count, total seconds], in order of first appearance."""
    out: dict[str, list] = {}
    for sp in spans:
        rec = out.setdefault(sp["name"], [0, 0.0])
        rec[0] += 1
        rec[1] = round(rec[1] + sp["s"], 4)
    return out


def stop_processes(spark) -> None:
    """Stop Spark, end the gateway JVM and every process it forked, and
    wait until each has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from tracer import descendants

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Py4JError as e:  # the JVM may already be gone
            log(f"gateway shutdown: {e}")
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.1)
        deadline = time.time() + 10


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "store", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [rel for rel in SOURCES.values() if not os.path.exists(os.path.join(ROOT, rel))]
    if missing:
        log(f"run from the repository root: {', '.join(missing)} not found under {ROOT}")
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    spark = None
    try:
        conf = isolate(run_dir, stage(run_dir))
        from crawl import Crawl
        from store import Store
        from suite import Suite
        from tracer import CpuShares, MemSampler, Tracer

        from crawl4ai_llm_spark.session import get_spark

        t_session = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.record("setup.session", t_session, time.perf_counter())
        workload = {"crawl": Crawl, "store": Store, "suite": Suite}[args.workload](spark, tracer, run_dir, args.seed)
        with tracer.span("setup"):
            workload.setup()
        setup_s = time.perf_counter() - T_START
        log(f"setup {setup_s:.2f}s")
        # memory is sampled in every run, so traced and untraced runs differ
        # only by the tracing itself
        with MemSampler() as mem, CpuShares() as cpu, tracer.span("measure") as measured:
            workload.measure(args.seconds)
        failed = workload.check()
        if args.trace:
            # layer probes too slow for every run; they follow the checks
            failed += workload.probe(deadline=T_START + PROBE_DEADLINE_S)
        e2e = workload.end_to_end()
        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "sys_frac": round(cpu.sys_frac, 4),
            "steal_frac": round(cpu.steal_frac, 4),
            "mem_samples": mem.samples,
            "measured_s": round(measured["s"], 3),
            "spans": span_totals(tracer.spans),
        }
        log("meta " + json.dumps(meta))
        if args.trace:
            from spec import PER_LAYER

            layer = {name: 0.0 for name, _, _ in PER_LAYER}
            layer.update(workload.per_layer())
            layer.update(
                {
                    "trace.spans": len(tracer.spans),
                    "trace.self_s": tracer.self_s,
                    "trace.items_per_s": e2e["items_per_s"],
                    "mem.peak_pss_mb": mem.peak_mb,
                }
            )
            units = {name: unit for name, unit, _ in PER_LAYER}
            metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
            tracer.write(
                os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"),
                meta,
            )
        else:
            from spec import END_TO_END

            e2e["setup_s"] = setup_s
            metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit, _, _ in END_TO_END}
        result = {
            "correct": failed == 0,
            "attempted": workload.attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_processes(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
