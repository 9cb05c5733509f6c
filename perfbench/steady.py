"""A/A steadiness: run a workload repeatedly and summarize the spread.

    python3 perfbench/steady.py run --workload vector_serve --seeds 1-10 \\
        --seconds 5 --out .perfbench_work/aa/vector_serve-a.json
    python3 perfbench/steady.py compare A.json B.json

``run`` starts ``perfbench/run.py`` once per seed, one run at a time, and
saves every run's result line and detail line.  It prints, for each
metric, the median, the first and third quartiles
(``statistics.quantiles(n=4)``), the quartile spread as a share of the
median, and the max/min ratio.  ``compare`` prints the same for two saved
sets side by side and checks them against the bounds in ``BENCHMARK.json``:
each set's quartile spread of every bounded metric must stay within the
bound, the second median must not be worse than the first by more than
the bound, and the share of failed operations must be equal.
The bounds in ``BENCHMARK.json`` were set from this command's output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workload: str, seeds: list[int], seconds: float, trace: int) -> list[dict]:
    runs = []
    for seed in seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
        runs.append({"seed": seed, "wall": time.monotonic() - t0,
                     "result": result, "detail": detail})
        print(f"seed {seed}: {time.monotonic() - t0:.1f} s, "
              f"{result['failed']}/{result['attempted']} failed", flush=True)
    return runs


def values(runs: list[dict]) -> dict[str, list[float]]:
    """Every metric of a set, end-to-end and detail figures alike."""
    out: dict[str, list[float]] = {}
    for r in runs:
        figures = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        figures.update({k: v for k, v in r["detail"].items() if k not in figures})
        figures["run_wall_s"] = r["wall"]
        for k, v in figures.items():
            out.setdefault(k, []).append(float(v))
    return out


def summary(vals: list[float]) -> dict[str, float]:
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    lo, hi = min(vals), max(vals)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "max_min": hi / lo if lo else float("inf"),
    }


def failed_share(runs: list[dict]) -> set[float]:
    return {r["result"]["failed"] / r["result"]["attempted"] for r in runs}


def print_table(sets: list[tuple[str, list[dict]]]) -> None:
    names = sorted(set().union(*(values(runs) for _, runs in sets)))
    for name in names:
        cells = []
        for label, runs in sets:
            v = values(runs).get(name)
            if not v:
                continue
            s = summary(v)
            cells.append(f"{label}: med {s['median']:.5g} [{s['q1']:.5g}, {s['q3']:.5g}]"
                         f" spread {s['spread']:.3f} max/min {s['max_min']:.3f}")
        print(f"{name:22s} " + " | ".join(cells))


def check_bounds(a: list[dict], b: list[dict]) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    va, vb = values(a), values(b)
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        sa, sb = summary(va[name]), summary(vb[name])
        for label, s in (("A", sa), ("B", sb)):
            if s["spread"] > bound:
                problems.append(f"{name}: set {label} spread {s['spread']:.3f} > {bound}")
        worse = (sb["median"] / sa["median"] - 1) if m["better"] == "lower" \
            else (1 - sb["median"] / sa["median"])
        if worse > bound:
            problems.append(f"{name}: B median worse by {worse:.3f} > {bound}")
    if failed_share(a) != failed_share(b) or len(failed_share(a)) != 1:
        problems.append(f"failed shares differ: {failed_share(a)} vs {failed_share(b)}")
    return problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="A/A steadiness of one workload")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=float, required=True)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args(argv)

    if args.cmd == "run":
        runs = run_set(args.workload, parse_seeds(args.seeds), args.seconds, args.trace)
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
        print_table([("set", runs)])
        return 0
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    print_table([("A", a), ("B", b)])
    problems = check_bounds(a, b)
    for p in problems:
        print("OUT OF BOUND:", p)
    print("A/A within bounds" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
