"""kermit_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload crawl_wide_pages --seed 1 --seconds 10 --trace 0

Runs the named workload through the engine's public API in one driver
process on ``local[nproc]`` with ``build_session`` defaults, checks every
output, prints each metric as a labelled line with its unit, and prints as
its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same workload with outside-in spans and reports the per-layer
metrics, writes the spans to ``perfbench/out/`` and reports tracing
overhead against the latest untraced run of the workload. Exits nonzero
when an output is wrong, when the workload cannot fit in memory, or when
the engine's sources are not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"

if __package__ in (None, ""):
    # run as a script: make ``perfbench`` importable as a package
    sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402
from perfbench.schema import END_TO_END, PER_LAYER, WORKLOAD_EXTRAS  # noqa: E402


def shapes():
    """Workload name -> (kind, shape). Imported lazily: it needs the engine."""
    from perfbench.workloads import CrawlShape, FrontierShape

    return {
        "crawl_small_waves": (
            "crawl",
            CrawlShape(
                n_hosts=48, base_pages=2400, seeds_per_host=1, budget=20,
                heap_mb=2048, heap_floor_mb=1536,
            ),
        ),
        "crawl_wide_pages": (
            "crawl",
            CrawlShape(
                n_hosts=48, base_pages=800, seeds_per_host=15, budget=15,
                warm_waves=0, max_ops=1, extra_text_runs=3, text_run_repeats=320,
                media_id_space=50, span_sample=64, heap_mb=2048, heap_floor_mb=1536,
            ),
        ),
        "frontier_merge": (
            "frontier",
            FrontierShape(
                n_rows=40_000, candidates=20_000, bloom_min_frontier=20_000, max_ops=3,
                heap_mb=1536, heap_floor_mb=1024,
            ),
        ),
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _emit(line: str) -> None:
    print(line, flush=True)


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _session(heap_mb: int, work: Path):
    from kermit_spark.session import build_session

    jvm_tmp = work / "jvm-tmp"
    jvm_tmp.mkdir(parents=True, exist_ok=True)
    spark = build_session(
        app_name="kermit-perfbench",
        master=f"local[{host.nproc()}]",
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": str(work / "spark-local"),
            # a fixed, pre-touched heap: peak RSS then does not depend on
            # when the JVM decided to grow its heap, and GC sizing is the
            # same in every run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={jvm_tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = host.tree_pids(os.getpid()) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # a later session in this interpreter must launch a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = {p for p in pids if host.alive(p)}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def e2e_metrics(outcome, session_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(end-to-end metrics, workload extras), every value with its unit."""
    timed = outcome.timed
    walls = [op["wall_s"] for op in timed]
    failed_frac = len(outcome.verdict.failed_ops) / len(outcome.ops)
    e2e = {
        "setup_s": session_s + outcome.setup_s,
        "round_s_p50": statistics.median(walls),
        "peak_rss_mb": peak_rss_mb,
    }
    if outcome.kind == "crawl":
        pages = sum(op["fetched"] for op in timed)
        e2e["urls_per_s"] = pages / sum(walls)
        extras = {
            "wave_s_p50": e2e["round_s_p50"],
            "pages_per_s": e2e["urls_per_s"],
            "failed_frac": failed_frac,
        }
    else:
        sched = [op["schedule_s"] for op in timed]
        # per median schedule: the first timed round still pays JIT warm-up
        e2e["urls_per_s"] = outcome.info["candidates"] / statistics.median(sched)
        extras = {
            "schedule_s_p50": statistics.median(sched),
            "candidates_per_s": len(timed) * outcome.info["candidates"] / sum(sched),
            "dequeue_s_p50": statistics.median(op["dequeue_s"] for op in timed),
            "failed_frac": failed_frac,
        }
    units = WORKLOAD_EXTRAS[outcome.kind]
    return (
        {k: _metric(e2e[k], END_TO_END[k]) for k in END_TO_END},
        {k: _metric(v, units[k]) for k, v in extras.items()},
    )


def main(argv=None, shape_overrides: dict | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kermit_spark" / "__init__.py").is_file():
        print(f"perfbench: the engine sources (kermit_spark/) are not in {ROOT}", file=sys.stderr)
        return 2
    table = shapes()
    table.update(shape_overrides or {})
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(table)}", file=sys.stderr)
        return 2
    kind, shape = table[args.workload]

    try:
        heap_mb = host.size_heap_mb(shape.heap_mb, shape.heap_floor_mb, reserve_mb=2048)
    except host.DoesNotFit as e:
        print(f"perfbench: {args.workload} does not fit this host: {e}", file=sys.stderr)
        return 3

    work = OUT / f"work-{args.workload}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    # everything Spark and its workers write stays inside the checkout, and
    # the Python workers import the engine from it whatever the cwd is
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )

    from perfbench.tracing import Tracer
    from perfbench.workloads import run_crawl, run_frontier

    cpu_before = host.cpu_sample()
    tracer = None
    try:
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = _session(heap_mb, work)
            session_s = time.perf_counter() - t0
            try:
                if args.trace:
                    tracer = Tracer(spark.sparkContext)
                    tracer.install()
                run = run_crawl if kind == "crawl" else run_frontier
                outcome = run(spark, shape, args.seed, args.seconds, work, tracer)
            finally:
                if tracer is not None:
                    tracer.uninstall()
                _stop(spark)
    except Exception:
        traceback.print_exc()
        print(f"perfbench: {args.workload} raised; no result", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    notes = host.annotations(ROOT, args.seed, heap_mb, cpu_before)
    notes["session_s"] = session_s
    e2e, extras = e2e_metrics(outcome, session_s, rss.peak_mb)
    verdict = outcome.verdict
    failed = len(verdict.failed_ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "annotations": notes, "metrics": e2e, "extras": extras,
        "setup_parts": outcome.setup_parts, "ops": outcome.ops, "info": outcome.info,
        "correct": not failed, "mismatches": verdict.reasons,
    }

    for reason in verdict.reasons:
        _emit(f"MISMATCH {reason}")
    _emit(f"annotations {json.dumps(notes)}")
    _emit(f"samples {args.workload}: {len(outcome.timed)} timed operation(s)")
    for name, m in {**e2e, **extras}.items():
        _emit(f"metric {name} = {m['value']:.6g} {m['unit']}")

    OUT.mkdir(exist_ok=True)
    if args.trace:
        metrics = {k: _metric(outcome.layers.get(k, 0), PER_LAYER[k]) for k in PER_LAYER}
        record["layers"] = metrics
        record["spans"] = tracer.dump()
        record["overhead"] = _overhead(args.workload, e2e)
        for name, m in metrics.items():
            _emit(f"layer {name} = {m['value']:.6g} {m['unit']}")
        for name, d in record["overhead"].get("diff", {}).items():
            _emit(f"trace overhead {name} = {d:+.6g} (traced - untraced)")
        path = OUT / f"trace-{args.workload}-seed{args.seed}.json"
    else:
        metrics = e2e
        path = OUT / f"result-{args.workload}.json"
    path.write_text(json.dumps(record, indent=1, default=str))

    _emit(json.dumps({
        "correct": not failed,
        "attempted": len(outcome.ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if not failed else 1


def _overhead(workload: str, traced: dict) -> dict:
    """Traced-minus-untraced end-to-end metrics, against the latest
    untraced run of the same workload in ``perfbench/out``."""
    path = OUT / f"result-{workload}.json"
    if not path.is_file():
        return {"note": "no untraced run of this workload recorded yet"}
    base = json.loads(path.read_text())
    return {
        "untraced_seed": base["seed"],
        "traced": {k: m["value"] for k, m in traced.items()},
        "untraced": {k: m["value"] for k, m in base["metrics"].items()},
        "diff": {
            k: traced[k]["value"] - base["metrics"][k]["value"]
            for k in traced if k in base["metrics"]
        },
    }


if __name__ == "__main__":
    sys.exit(main())
