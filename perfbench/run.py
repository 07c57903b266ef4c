"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (workload.py) in its own session, waits for it with a
hard timeout, then checks that nothing it started survives: no JVM, Python
daemon, worker or zombie. Prints one context line (core count, per-rep wall,
CPU and steal, survivors) and, as the last line, the result JSON with the
metrics that BENCHMARK.json lists: the end-to-end ones with ``--trace 0``,
the per-layer ones with ``--trace 1``. Exits non-zero without a result when
the workload cannot set up, e.g. when the engine's sources are absent.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import procs  # noqa: E402
from workload import WORKLOADS  # noqa: E402

HARD_TIMEOUT_S = 165.0  # the run must end within 180 s
COVERAGE_TOLERANCE = 0.05


def run_child(args, workdir: str, hard_timeout: float) -> tuple[int, bool, list[str]]:
    """Run workload.py in a new session; return (its pid, whether it timed
    out, the processes of its session that outlived it)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    env["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(env["TMPDIR"])
    t0 = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", workdir, "--t0", repr(t0),
    ]
    with open(os.path.join(workdir, "workload.log"), "wb") as log:
        child = subprocess.Popen(
            cmd, cwd=workdir, env=env, stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        timed_out = False
        try:
            child.wait(timeout=hard_timeout)
        except subprocess.TimeoutExpired:
            timed_out = True
            procs.kill_session(child.pid)
            child.wait()
    # lingering processes get a moment to exit and be reaped; what is left
    # after that was left behind
    procs.reap(timeout=2.0)
    survivors = [procs.describe(p) for p in procs.session_members(child.pid)]
    if survivors:
        procs.kill_session(child.pid)
        procs.reap()
    return child.pid, timed_out, survivors


def assemble(bench: dict, events: list[dict], args, peak_rss_mb: float,
             timed_out: bool, survivors: list[str]) -> tuple[dict, dict] | None:
    """(context, result) from the workload's event records, or None when it
    never finished set-up."""
    kinds: dict[str, list[dict]] = {}
    for e in events:
        kinds.setdefault(e["kind"], []).append(e)
    reps = kinds.get("rep", [])
    if "setup" not in kinds or not reps:
        return None
    first = reps[0]
    attempted = len(reps) + timed_out
    failed = attempted - sum(r["ok"] for r in reps)
    checks = kinds.get("check", [])
    trace = kinds.get("trace", [None])[0]
    spec = WORKLOADS[args.workload]
    layers = trace["layers"] if trace else {}
    coverage = None
    if trace is not None:
        layer_task_s = sum(k["task_s"] for k in layers.values())
        coverage = layer_task_s / trace["total_task_s"] if trace["total_task_s"] else 0.0
    missing = ledger.missing_layers(layers, spec["layers"]) if args.trace else []
    if not checks or not all(c["ok"] for c in checks):
        failed = attempted  # the output check covers every rep
    elif args.trace and (coverage is None or abs(coverage - 1) > COVERAGE_TOLERANCE or missing):
        failed = attempted
    elif survivors or "done" not in kinds:
        failed = min(attempted, failed + 1)

    # Every per-layer metric is printed; those of layers the workload does
    # not run read 0 and are named in the context record.
    not_run = set()
    if args.trace:
        values = {"trace.wall_s": first["wall_s"]}
        for m in bench["per_layer"]:
            layer, _, kind = m["name"].rpartition(".")
            if m["name"] not in values and layer not in spec["layers"] + spec["entries"]:
                not_run.add(layer)
            values.setdefault(m["name"], layers.get(layer, {}).get(kind, 0.0))
        listed = bench["per_layer"]
    else:
        values = {
            "setup_s": kinds["setup"][0]["setup_s"],
            "wall_s": first["wall_s"],
            "docs_per_s": spec["n_docs"] / first["wall_s"],
            "cpu_s": first["cpu_s"],
        }
        listed = bench["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "n_docs": spec["n_docs"],
        "setup": {k: v for k, v in kinds["setup"][0].items() if k != "kind"},
        "reps": [{k: r[k] for k in ("ok", "wall_s", "cpu_s", "steal")} for r in reps],
        "peak_rss_mb": peak_rss_mb,
        "errors": [r["error"] for r in reps if r["error"]],
        "digest": first.get("digest"),
        "problems": [p for c in checks for p in c["problems"]],
        "layer_task_s_coverage": coverage,
        "missing_layers": missing,
        "layers_not_run": sorted(not_run),
        "timed_out": timed_out,
        "survivors": survivors,
    }
    return context, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logai_spark", "__init__.py")):
        print("perfbench: the logai_spark sources are not next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        bench = json.load(fp)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    procs.become_subreaper()
    workdir = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(workdir)
    try:
        _, timed_out, survivors = run_child(args, workdir, HARD_TIMEOUT_S)
        peak_rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
        events_path = os.path.join(workdir, "events.jsonl")
        events = []
        if os.path.exists(events_path):
            with open(events_path) as fp:
                events = [json.loads(line) for line in fp]
        out = assemble(bench, events, args, peak_rss_mb, timed_out, survivors)
        if out is None:
            with open(os.path.join(workdir, "workload.log"), "rb") as fp:
                tail = fp.read()[-4000:].decode(errors="replace")
            print(f"perfbench: {args.workload} did not set up\n{tail}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    context, result = out
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
