"""One benchmark workload in its own process: set-up, timed reps, output
checks and teardown.

run.py starts this file in a new session and reads the JSON lines it appends
to ``<workdir>/events.jsonl``:

    {"kind": "setup", "setup_s": ..., "session_s": ..., "input_s": ...}
    {"kind": "rep", "tag": "r0", "wall_s": ..., "cpu_s": ..., "steal": ...,
     "ok": ..., "error": ..., "digest": {entry: {...}}}
    {"kind": "check", "ok": ..., "problems": [...]}
    {"kind": "trace", "layers": {layer: {kind: value}}, "total_task_s": ...}
    {"kind": "done"}

The engine is driven only through run_pipeline, run_curation and
run_webgraph_job; with --trace 1 the layer functions they call run in spans
(ledger.py). Inputs come from sources.webpages.synth_webpages at the given
seed.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import re
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import procs  # noqa: E402

# One generated corpus per workload. "corpus" runs the two crawl-side jobs,
# web graph then curation, one after the other on the same pages. "layers"
# are the layers (ledger.py) a traced run of the workload must charge work to.
WORKLOADS = {
    "pipeline_distinct": {
        "entries": ["pipeline"],
        "n_docs": 6000,
        "layers": ["parse.mine", "parse.match", "operators.route",
                   "operators.features", "pipeline.verify"],
    },
    "corpus": {
        "entries": ["plans.webgraph_job", "curate"],
        "n_docs": 2000,
        "layers": ["functions.webgraph", "functions.hyperball", "functions.textops",
                   "functions.components", "operators.features"],
    },
}
MINE_SAMPLE = 0.1
DRIVER_MEMORY = "2g"
TOP_ANCHORS = 5  # run_webgraph_job's default top_anchors
# No further rep starts when one more of the same length would end later
# than this many seconds after the run started; run.py kills it at 165 s.
REP_BUDGET_S = 140.0


class Events:
    def __init__(self, path: str):
        self._path = path

    def emit(self, **rec) -> None:
        with open(self._path, "a") as fp:
            fp.write(json.dumps(rec, default=str) + "\n")


def start_session(workdir: str, cpus: int, event_dir: str | None):
    from logai_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
        ),
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def build_inputs(spark, entries: list[str], n_docs: int, seed: int) -> dict:
    """The persisted input of each entry, all derived from one generated
    pages table."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from logai_spark.plans.webgraph_job import inject_synthetic_links
    from logai_spark.sources.webpages import synth_webpages

    pages = synth_webpages(spark, n_docs, seed=seed)
    if len(entries) > 1:  # generate once, derive every view from the cache
        pages = pages.persist(StorageLevel.MEMORY_AND_DISK)
    inputs = {}
    for entry in entries:
        if entry == "curate":
            # the documents view `cli curate` builds from the pages table
            df = pages.select(
                F.xxhash64("url").alias("doc_id"),
                "text",
                "lang",
                F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("source"),
            )
        elif entry == "plans.webgraph_job":
            df = inject_synthetic_links(pages)
        else:
            df = pages
        inputs[entry] = df.persist(StorageLevel.MEMORY_AND_DISK)
        inputs[entry].count()
    return inputs


def run_job(spark, entry: str, df, out: str) -> None:
    if entry == "pipeline":
        from logai_spark.pipeline import PipelineConfig, run_pipeline

        run_pipeline(spark, df, out, PipelineConfig(sample_fraction_for_mining=MINE_SAMPLE))
    elif entry == "curate":
        from logai_spark.curate import CurationConfig, run_curation

        run_curation(spark, df, out, CurationConfig(near_dup=True))
    else:
        from logai_spark.plans.webgraph_job import run_webgraph_job

        run_webgraph_job(spark, df, out)


def digest(spark, entry: str, out: str) -> dict:
    """What a rep wrote, read back from its output directory."""
    if entry == "pipeline":
        from pyspark.sql import functions as F

        agg = spark.read.parquet(os.path.join(out, "agg"))
        row = agg.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("counts").alias("counts"),
            F.bit_xor(F.xxhash64(*sorted(agg.columns))).alias("hash"),
        ).collect()[0]
        routed = spark.read.parquet(os.path.join(out, "routed"))
        return {
            "agg_rows": row["rows"],
            "agg_counts": row["counts"],
            "agg_hash": row["hash"],
            "routed_rows": routed.count(),
            "sinks": routed.select("template_id").distinct().count(),
        }
    if entry == "curate":
        with open(os.path.join(out, "_curation_manifest.json")) as fp:
            return json.load(fp)["counts"]
    with open(os.path.join(out, "_webgraph_manifest.json")) as fp:
        m = json.load(fp)
    return {k: m[k] for k in ("n_edges", "n_domains", "n_anchor_rows")}


def reference_texts(n_docs: int, seed: int) -> list[str]:
    """The text of every generated page, from the page generator and the
    reference extractor, in plain Python."""
    from logai_spark.sources.webpages import extract_text_reference, make_page

    return [extract_text_reference(make_page(seed, i)[2]) for i in range(n_docs)]


_HOST = re.compile(r"^[a-z]+://([^/]+)")
_HREF = re.compile(r'href="([^"]+)"')
_ANCHOR = re.compile(r'<a href="([^"]+)"[^>]*>([^<]*)</a>')


def reference_webgraph(pages: list[tuple[str, str]], top_k: int = TOP_ANCHORS) -> dict:
    """The manifest counts of run_webgraph_job over (url, html) pages, in
    plain Python: distinct (source, target) domain pairs of the absolute
    links, the domains on either end, and the top-k anchors per target."""
    edges = set()
    anchors: dict[str, set[str]] = {}
    for url, html in pages:
        src = _HOST.match(url)
        for href in _HREF.findall(html):
            dst = _HOST.match(href)
            if src and dst:
                edges.add((src[1], dst[1]))
        for href, text in _ANCHOR.findall(html):
            dst, text = _HOST.match(href), " ".join(text.lower().split())
            if dst and text:
                anchors.setdefault(dst[1], set()).add(text)
    return {
        "n_edges": len(edges),
        "n_domains": len({d for e in edges for d in e}),
        "n_anchor_rows": sum(min(top_k, len(a)) for a in anchors.values()),
    }


class Runner:
    def __init__(self, args, events: Events):
        self.args = args
        self.events = events
        self.spec = WORKLOADS[args.workload]
        self.entries = self.spec["entries"]
        self.cpus = len(os.sched_getaffinity(0))
        self.digests: list[dict] = []

    def out(self, entry: str) -> str:
        return os.path.join(self.args.workdir, "out", entry)

    def rep(self, spark, inputs: dict, spans, tag: str) -> dict:
        shutil.rmtree(os.path.join(self.args.workdir, "out"), ignore_errors=True)
        rec = {"kind": "rep", "tag": tag, "ok": True, "error": None}
        steal0, cpu0, t0 = procs.steal_ticks(), procs.session_cpu_s(), time.perf_counter()
        try:
            with spans.rep(tag, self.entries[0]) if spans else contextlib.nullcontext():
                for entry in self.entries:
                    with spans.layer(entry, eager=False) if spans else contextlib.nullcontext():
                        run_job(spark, entry, inputs[entry], self.out(entry))
        except Exception:
            rec.update(ok=False, error=traceback.format_exc(limit=3))
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = procs.session_cpu_s() - cpu0
        rec["steal"] = procs.steal_frac(steal0, procs.steal_ticks())
        if rec["ok"]:
            rec["digest"] = {e: digest(spark, e, self.out(e)) for e in self.entries}
            self.digests.append(rec["digest"])
            if rec["digest"] != self.digests[0]:
                rec.update(ok=False, error="output digest differs from the first rep")
        return rec

    def references(self, inputs: dict) -> dict:
        """What each entry's digest must hold, computed without the engine:
        from the page generator, and for the web graph from the (url, html)
        rows of its input."""
        n_docs, refs = self.spec["n_docs"], {}
        if "pipeline" in self.entries or "curate" in self.entries:
            texts = reference_texts(n_docs, self.args.seed)
        if "pipeline" in self.entries:
            lines = sum(1 for t in texts for ln in t.split("\n") if ln)
            refs["pipeline"] = {"routed_rows": lines, "agg_counts": lines}
        if "curate" in self.entries:
            refs["curate"] = {"input": n_docs, "after_exact_dedup": len(set(texts))}
        if "plans.webgraph_job" in self.entries:
            from pyspark.sql import functions as F

            rows = inputs["plans.webgraph_job"].select("url", F.col("html").cast("string"))
            refs["plans.webgraph_job"] = reference_webgraph([tuple(r) for r in rows.collect()])
        return refs

    def run(self) -> None:
        """Set up, then repeat the job until --seconds have passed. The
        first rep runs in a fresh JVM, as every `cli` job does; later reps
        only check that the output repeats."""
        a = self.args
        event_dir = os.path.join(a.workdir, "events") if a.trace else None
        if event_dir:
            os.makedirs(event_dir)
        t0 = time.time()
        spark = start_session(a.workdir, self.cpus, event_dir)
        t1 = time.time()
        inputs = build_inputs(spark, self.entries, self.spec["n_docs"], a.seed)
        t2 = time.time()
        self.events.emit(
            kind="setup", setup_s=t2 - a.t0, start_s=t0 - a.t0, session_s=t1 - t0, input_s=t2 - t1
        )
        spans = ledger.Spans(spark.sparkContext) if a.trace else None
        undo = [u for e in self.entries for u in spans.patch(e)] if spans else []
        try:
            start, n = time.perf_counter(), 0
            while True:
                rec = self.rep(spark, inputs, spans, f"r{n}")
                self.events.emit(**rec)
                n += 1
                out_of_time = time.time() - a.t0 + rec["wall_s"] > REP_BUDGET_S
                if out_of_time or time.perf_counter() - start >= a.seconds:
                    break
        finally:
            ledger.unpatch(undo)
        refs = self.references(inputs)
        stop_jvm(spark)
        self.check(refs)
        if spans:
            self.fold(event_dir, spans)
        self.events.emit(kind="done")

    def check(self, refs: dict) -> None:
        """Each rep's digest against the references, which do not trust
        the engine's own counts."""
        problems = []
        for d in self.digests:
            for entry, want in refs.items():
                got = {k: d[entry][k] for k in want}
                if got != want:
                    problems.append(f"{entry}: {got} != reference {want}")
            if "curate" in d:
                c = d["curate"]
                stages = [c["input"], c["after_exact_dedup"], c["after_near_dup"],
                          c["after_repetition_filter"], c["after_quality_floor"]]
                if stages != sorted(stages, reverse=True) \
                        or c["written"] != c["after_quality_floor"] or c["packs"] < 1:
                    problems.append(f"curation counts {c}")
        self.events.emit(kind="check", ok=not problems, problems=problems)

    def fold(self, event_dir: str, spans) -> None:
        """Per-layer table of the first (fresh-JVM) rep."""
        (log,) = glob.glob(os.path.join(event_dir, "*"))
        layers, total = ledger.fold(ledger.read_events(log), ["r0"], [spans.windows["r0"]])
        ledger.add_walls(layers, spans.walls, ["r0"])
        self.events.emit(kind="trace", layers=layers, total_task_s=total)


def stop_jvm(spark) -> None:
    """Stop Spark and wait for its JVM: a plain ``spark.stop()`` returns
    while the JVM is still alive, and the JVM would outlive this process."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    # the next session in this process starts a new JVM
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the run started")
    args = ap.parse_args(argv)
    Runner(args, Events(os.path.join(args.workdir, "events.jsonl"))).run()
    return 0


if __name__ == "__main__":
    sys.exit(main())
