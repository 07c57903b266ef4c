"""Two-cluster-size scaling run on a REAL local standalone Spark cluster.

north_rule: "run via spark-submit --py-files on a multi-executor cluster at
two cluster sizes (N and 4N executors) with throughput scaling efficiency
>= 0.8 between them". No remote machines exist in the sandbox, so the two
cluster sizes are realized faithfully on one box:

* a standalone Master and one Worker per "node" are launched from the pyspark
  distribution (org.apache.spark.deploy.{master,worker});
* each worker is PINNED to its own disjoint 7-core cpuset (taskset; executor
  JVM and its python workers inherit the affinity), emulating separate
  machines: cluster size N = one pinned worker (one 7-core executor JVM),
  4N = four pinned workers (four 7-core executor JVMs). The driver and
  master live on the remaining 4 cores at BOTH sizes. Without pinning the
  "8-core" cluster silently borrows the idle 24 cores for GC/python/shuffle
  threads and the comparison flatters N;
* the identical job (cluster_app.py: the pipeline leg of tools/scaling.py,
  fixed 64-partition plan, same input) is spark-submitted to both, so the only
  variable is executor count — with separate JVM heaps/GC per executor like
  a real deployment. The app asserts its output fingerprint (lines,
  templates, sinks) so cross-size equality is checked, not assumed.

Scratch (shuffle dirs, sink output) lives on tmpfs: each real executor has
its own local disk, while this sandbox's single /dev/vda would serialize all
writers and measure the disk, not the engine.

Each size runs ``repeats`` times (fresh executors each submit); best run
wins — the host VM shows bursty CPU steal that can double a wall time.

Run:  python tools/cluster_bench.py [n_docs] [repeats]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark

from scaling import FIXED_PLAN_CONF, summary

SPARK_HOME = os.path.dirname(pyspark.__file__)
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
SPARK_SUBMIT = os.path.join(SPARK_HOME, "bin", "spark-submit")
MASTER_URL = "spark://127.0.0.1:7077"


def _env(scratch: str) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_HOME": SPARK_HOME,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_NO_DAEMONIZE": "1",
            "SPARK_LOG_DIR": os.path.join(scratch, "logs"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def _wait_for(predicate, timeout: float, what: str) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if predicate():
            return
        time.sleep(0.5)
    raise TimeoutError(f"timed out waiting for {what}")


def _port_open(port: int) -> bool:
    import socket

    with socket.socket() as s:
        s.settimeout(0.3)
        return s.connect_ex(("127.0.0.1", port)) == 0


# disjoint per-"node" cpusets; driver + master on the spare top cores.
# EXECUTOR_CORES is settable (argv 3): 7 -> four 7-core nodes (28 cores),
# 2 -> four 2-core nodes (8 cores), etc.
EXECUTOR_CORES = 7
DRIVER_CPUSET = "28-31"


def _node_cpusets() -> list[str]:
    return [
        f"{i * EXECUTOR_CORES}-{(i + 1) * EXECUTOR_CORES - 1}" for i in range(4)
    ]


NODE_CPUSETS = _node_cpusets()


def start_master(scratch: str) -> subprocess.Popen:
    log = open(os.path.join(scratch, "master.log"), "w")
    p = subprocess.Popen(
        [
            "taskset",
            "-c",
            DRIVER_CPUSET,
            SPARK_CLASS,
            "org.apache.spark.deploy.master.Master",
            "--host",
            "127.0.0.1",
            "--port",
            "7077",
            "--webui-port",
            "0",
        ],
        env=_env(scratch),
        stdout=log,
        stderr=subprocess.STDOUT,
    )
    _wait_for(lambda: _port_open(7077), 60, "master on :7077")
    return p


def start_workers(scratch: str, n_workers: int, memory: str = "12g") -> list[subprocess.Popen]:
    """One worker per emulated node, each pinned to its own 7-core cpuset and
    offering exactly one executor's worth of cores."""
    procs = []
    for i in range(n_workers):
        log = open(os.path.join(scratch, f"worker_{n_workers}x_{i}.log"), "w")
        env = _env(scratch)
        env["SPARK_WORKER_DIR"] = os.path.join(scratch, f"worker_{n_workers}x_{i}")
        env["SPARK_WORKER_PORT"] = str(0)
        procs.append(
            subprocess.Popen(
                [
                    "taskset",
                    "-c",
                    NODE_CPUSETS[i],
                    SPARK_CLASS,
                    "org.apache.spark.deploy.worker.Worker",
                    MASTER_URL,
                    "--cores",
                    str(EXECUTOR_CORES),
                    "--memory",
                    memory,
                    "--webui-port",
                    "0",
                ],
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
            )
        )
    time.sleep(4)  # registration with the master
    return procs


def submit(scratch: str, n_docs: int, tag: str) -> dict:
    out_dir = os.path.join(scratch, f"app_{tag}")
    cmd = [
        "taskset",
        "-c",
        DRIVER_CPUSET,
        SPARK_SUBMIT,
        "--master",
        MASTER_URL,
        "--deploy-mode",
        "client",
        "--driver-memory",
        "8g",
        "--py-files",
        os.path.join(ROOT, "dist", "logai_spark.zip"),
        "--conf",
        f"spark.executor.cores={EXECUTOR_CORES}",
        "--conf",
        "spark.executor.memory=9g",
        "--conf",
        "spark.sql.adaptive.enabled=true",
        "--conf",
        "spark.sql.adaptive.skewJoin.enabled=true",
        "--conf",
        "spark.sql.session.timeZone=UTC",
        "--conf",
        "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf",
        "spark.sql.autoBroadcastJoinThreshold=67108864",
        "--conf",
        "spark.python.daemon.module=logai_spark.daemon",
        "--conf",
        f"spark.executorEnv.PYTHONPATH={ROOT}",
        # the same fixed plan as tools/scaling.py: at bench scale the default
        # 64MB advisory size would coalesce shuffles to FEWER tasks than the
        # cluster has slots (e.g. 25 tasks on 28 cores)
        *(arg for k, v in FIXED_PLAN_CONF.items() for arg in ("--conf", f"{k}={v}")),
        "--conf",
        f"spark.local.dir={os.path.join(scratch, 'spark_local_' + tag)}",
        "--conf",
        "spark.ui.enabled=false",
        os.path.join(ROOT, "tools", "cluster_app.py"),
        str(n_docs),
        out_dir,
    ]
    out = subprocess.run(
        cmd, env=_env(scratch), capture_output=True, text=True, timeout=1800
    )
    for line in out.stdout.splitlines():
        if line.startswith("CLUSTER_APP_RESULT "):
            r = json.loads(line[len("CLUSTER_APP_RESULT ") :])
            subprocess.run(["rm", "-rf", out_dir], check=False)
            return r
    sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-5000:] + "\n")
    raise RuntimeError(f"app produced no result (tag={tag})")


def run_size(scratch: str, n_workers: int, n_docs: int, repeats: int) -> dict:
    workers = start_workers(scratch, n_workers)
    best = None
    try:
        for i in range(repeats):
            r = submit(scratch, n_docs, f"{n_workers}w_r{i}")
            r["n_executors"] = n_workers
            if best is None or r["wall_sec"] < best["wall_sec"]:
                best = r
    finally:
        for w in workers:
            w.terminate()
        for w in workers:
            w.wait(timeout=30)
    return best


def main() -> None:
    global EXECUTOR_CORES, NODE_CPUSETS
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    if len(sys.argv) > 3:
        EXECUTOR_CORES = int(sys.argv[3])
        NODE_CPUSETS = _node_cpusets()
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "build_pyfiles.py")], check=True)
    scratch = tempfile.mkdtemp(prefix="cluster_bench_", dir="/dev/shm")
    os.makedirs(os.path.join(scratch, "logs"), exist_ok=True)
    master = start_master(scratch)
    try:
        one = run_size(scratch, 1, n_docs, repeats)
        four = run_size(scratch, 4, n_docs, repeats)
    finally:
        master.terminate()
        master.wait(timeout=30)
        subprocess.run(["rm", "-rf", scratch], check=False)
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "cores_per_executor": EXECUTOR_CORES,
                **summary(one, four),
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
