"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload vector_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The library is imported from that root;
every input is generated from ``--seed`` under ``.perfbench_work/``, which
the run removes again.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones listed in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones, and the
spans are written to ``.perfbench_work/spans/``.  The line before it holds
the workload's own figures (``detail``), which the steadiness command
reads too.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from cells import CELLS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {"setup_s": "s", "cycle_cpu_s": "s", "hnsw_recall_at_10": "ratio"}
MAX_SLOTS = 4
# set-ups per run; ``setup_s`` takes the median, so one slow set-up (the
# first, which starts the session and compiles everything) does not decide it
SETUPS = 3

# Per-layer metrics, ``<layer>.<call>.<quantity>``: the layer is the
# library module, the call the public function the benchmark times.  Per
# call: ``s`` wall seconds, ``cpu_s`` process-tree CPU-seconds, ``jobs``
# Spark jobs in the call's job group, ``shuffle_bytes`` shuffle read plus
# write, ``python_bytes`` the SQL metric "data sent to Python workers".
CALLS = (
    "operators.knn.knn_exact_point",
    "operators.ann.search_point",
    "operators.ann.search_batch",
    "operators.hnsw_graph.search_point",
    "operators.hnsw_graph.search_batch",
    "operators.hnsw_graph.build_hnsw_index",
    "operators.hnsw_graph.add_points",
    "operators.hnsw_graph.merge_hnsw_indexes",
    "operators.ann.build_ivf_index",
    "operators.ann.merge_ivf_indexes",
    "operators.validate.validate_vectors",
    "plans.persistence.save_index",
    "plans.persistence.load_index",
    *(f"queries.{module}" for _, module in CELLS),
)
QUANTITIES = (("s", "s"), ("cpu_s", "s"), ("jobs", "count"),
              ("shuffle_bytes", "B"), ("python_bytes", "B"))

PER_LAYER = (
    *((f"{c}.{q}", u) for c in CALLS for q, u in QUANTITIES),
    ("plans.cachereg.release_caches.released", "count"),
    ("session.get_spark.s", "s"),
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def slots() -> int:
    """Spark task slots: never more than the CPUs this process may use."""
    return max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0))))


def spark_env(work: str) -> dict[str, str]:
    """Settings for the session; everything it writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(slots()),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the library from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def per_layer_metrics(spans: list[dict]) -> dict[str, dict]:
    """Each layer call's figures: per cycle, the sum over the call's spans;
    then the median over the timed cycles that made the call, or, for a
    call made only while setting up, over the set-ups; warm-up calls are
    left out.  Calls a workload never makes read 0."""
    totals: dict[tuple, dict] = {}
    for s in spans:
        if s["kind"] != "call":
            continue
        t = totals.setdefault((s["name"], s["cycle"]), {})
        for q in ("s", "cpu_s", "jobs", "shuffle_bytes", "python_bytes", "released"):
            if q in s:
                t[q] = t.get(q, 0) + s[q]
    out = {}
    for name, unit in PER_LAYER:
        call, q = name.rsplit(".", 1)
        mine = {c: t[q] for (n, c), t in totals.items() if n == call and q in t}
        timed = [v for c, v in mine.items() if isinstance(c, int)]
        vals = timed or [v for c, v in mine.items() if not c.startswith("warm")]
        out[name] = {"value": statistics.median(vals) if vals else 0, "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hnsw_spark", "__init__.py")):
        print(f"no hnsw_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    from proctree import host_ticks, stop_descendants, tree_cpu_seconds
    from spans import Recorder

    # a terminated run still stops its JVM and workers and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    rec = Recorder(traced=bool(args.trace))
    steal0, total0 = host_ticks()
    spark = None
    try:
        conf = spark_env(work)
        from hnsw_spark.session import get_spark

        with rec.call("session.get_spark", "setup0"):
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        rec.attach(spark)
        wl = WORKLOADS[args.workload](spark, rec, args.seed, work)
        setups = []
        for r in range(SETUPS):
            # the first set-up counts from process start, so it holds the
            # interpreter, the JVM and the session start as well
            t0, cpu0 = (T_START, 0.0) if r == 0 else (time.perf_counter(), tree_cpu_seconds())
            with rec.phase("setup", f"setup{r}"):
                wl.setup(r)
            setups.append((time.perf_counter() - t0, tree_cpu_seconds() - cpu0))
        setup_wall_s = statistics.median(s for s, _ in setups)
        setup_cpu_s = statistics.median(c for _, c in setups)
        with rec.phase("warm", "warm") as warm:
            wl.warm()
        deadline = time.monotonic() + args.seconds
        c = 0
        while c == 0 or time.monotonic() < deadline:
            wl.cycle(c)
            c += 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        except Exception:  # noqa: BLE001 - the JVM is gone; its children go below
            traceback.print_exc()
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    for f in wl.faults[:20]:
        print(f"FAULT {f}", file=sys.stderr)
    steal1, total1 = host_ticks()
    detail = wl.detail()
    # set-up time in process-tree CPU-seconds: its wall time moved by up
    # to half between runs of the same code as the hypervisor's steal rose
    # and fell, and would hide a regression within its bound
    detail["setup_s"] = setup_cpu_s
    detail["setup_wall_s"] = setup_wall_s
    detail["setup_first_s"] = setups[0][0]
    detail["host_steal"] = (steal1 - steal0) / max(1, total1 - total0)
    detail["warm_s"] = warm["s"]
    detail["cycles"] = c
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    if args.trace:
        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        rec.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
        metrics = per_layer_metrics(rec.spans)
    else:
        metrics = {k: {"value": detail[k], "unit": u} for k, u in END_TO_END.items()}
    # every operation was checked; one whose check faulted is in ``failed``
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
