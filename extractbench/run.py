"""Extraction benchmark: one command, three seeded workloads.

    python3 extractbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One Spark application runs one job at a time
(a closed loop) on ``local[k]``, k ≤ 3, until ``--seconds`` have passed;
every job's output digest is checked against ``extract_document`` run
directly on the same inputs, and for the default seed against the digests
pinned in ``pinned.json``. The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics, and also writes the per-layer table with spans and event-log
stage metrics under ``.extractbench/reports/``.

Workloads, metrics, predictions and fixed settings are described in
``README.md`` beside this file. ``--pin`` rewrites ``pinned.json`` for the
default seed after a deliberate output change.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".extractbench")
PINNED = os.path.join(ROOT, "extractbench", "pinned.json")
WORKLOADS = ("crawl_mix", "binary_docs", "corpus_build")
DEFAULT_SEED = 1
MIB = 1024 * 1024
# Traced run: for the extraction workloads untraced jobs bracket the
# traced one, so JIT warming over the run favours neither side of the
# tracing-overhead comparison. corpus_build jobs are ~30 s, so it runs one
# of each (the untraced one is the session's cold first job) to stay well
# inside the 180 s a run may take.
TRACED_ORDER = {"crawl_mix": (False, True, False),
                "binary_docs": (False, True, False),
                "corpus_build": (False, True)}
# Cumulative prefix runs per stage row. corpus_build runs one: its two
# ~35 s jobs already fill most of the 180 s a run may take.
PREFIX_REPS = {"crawl_mix": 3, "binary_docs": 3, "corpus_build": 1}
WARM_PASSES = 2

# name → (unit, layer) of every per-layer metric, in report order.
PER_LAYER = {
    "scan.s": ("s", "parquet scan"),
    "gate.s": ("s", "operators/extract.prepare_pages + functions/expressions"),
    "shuffle.s": ("s", "salted repartition"),
    "arrow.s": ("s", "identity mapInArrow"),
    "parse.s": ("s", "operators/extract.run_extract body"),
    "postformat.s": ("s", "plans/pipeline.postprocess_results"),
    "sink.s": ("s", "digest sink + gate-reject side output"),
    "stages.share_of_job_wall": ("ratio",
                                 "scan..postformat rows / job wall"),
    "shuffle.write_mib": ("MiB", "spark event log"),
    "arrow.to_python_mib": ("MiB", "spark event log, MapInArrow"),
    "arrow.from_python_mib": ("MiB", "spark event log, MapInArrow"),
    "stage.python_worker_s": ("s", "spark event log, MapInArrow"),
    "stage.python_init_s": ("s", "spark event log, MapInArrow"),
    "stage.executor_cpu_s": ("s", "spark event log"),
    "stage.gc_s": ("s", "spark event log"),
    "stage.spill_mib": ("MiB", "spark event log"),
    "stage.task_skew": ("ratio", "spark event log, heaviest stage"),
    "spark.jobs": ("count", "spark event log"),
    "spark.tasks": ("count", "spark event log"),
    "core.extract_document.p50_ms": ("ms", "extraction/core"),
    "core.extract_document.p99_ms": ("ms", "extraction/core"),
    "core.decode_payload.s": ("s", "extraction/core"),
    "html_dom.parse_html.s": ("s", "extraction/html_dom"),
    "markdown.html_to_markdown.s": ("s", "extraction/markdown"),
    "pdf.pdf_to_text.plain.s": ("s", "extraction/pdf"),
    "pdf.pdf_to_text.encrypted.s": ("s", "extraction/pdf + pdf_crypt"),
    "docx.docx_to_markdown.s": ("s", "extraction/docx"),
    "deadline.s": ("s", "extraction/deadline"),
    "extract.parse_ms_coverage": ("ratio", "operators/extract"),
    "pipeline.commit_groups": ("count", "plans/pipeline"),
    "tableio.replace_group.s": ("s", "sources/tableio"),
    "pipeline.partition_metrics.s": ("s", "plans/pipeline"),
    "tableio.lineage_merge.s": ("s", "sources/tableio"),
    "curate.run_curation_job.s": ("s", "jobs/curate"),
    "tableio.bytes_written_per_in": ("ratio", "sources/tableio"),
    "tableio.files_written": ("count", "sources/tableio"),
    "gate.rows_dropped": ("count", "operators/headtags.crawl_gate"),
    "trace.overhead_pct": ("%", "traced vs untraced jobs, same run"),
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program from it."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp dir from the Spark JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      "-XX:-UsePerfData"]))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _load_pins() -> dict:
    if not os.path.exists(PINNED):
        return {}
    with open(PINNED, encoding="utf-8") as f:
        return json.load(f)


class Bench:
    """One benchmark process: inputs, a Spark session and its jobs."""

    def __init__(self, workload: str, seed: int) -> None:
        from extractbench import inputs, session, workloads

        self.inputs_mod, self.session, self.wl = inputs, session, workloads
        self.workload = workload
        self.seed = seed
        self.inputs = inputs.Inputs(CACHE, workload, seed, session.cores())
        self.pins = _load_pins() if seed == DEFAULT_SEED else None
        self.spark = None
        self.failures: list[str] = []

    def start(self, event_log_dir: str | None = None) -> None:
        """Session, Python workers and warm-up: the warm-up set spawns the
        workers and fills their caches, and untimed passes over the real
        input let the JVM compile the job's hot paths."""
        self.spark = self.session.start(CACHE, event_log_dir)
        self.wl.extraction_op(self.spark, self.inputs.warm_path)
        for _ in range(WARM_PASSES):
            self.wl.extraction_op(self.spark, self.inputs.pages_path)

    def stop(self) -> None:
        if self.spark is not None:
            self.session.stop(self.spark)
            self.spark = None

    def _check(self, digests: dict) -> bool:
        if self.pins is None:
            return True
        pinned = self.pins.get(self.workload)
        if digests != pinned:
            self.failures.append(
                f"digests differ from pinned.json: {digests} != {pinned}")
            return False
        return True

    def op(self, keep_out: bool = False) -> dict:
        """One timed job plus its (untimed) correctness check."""
        from extractbench.procstat import JobSampler

        if self.workload != "corpus_build":
            with JobSampler() as sampler:
                t0 = time.perf_counter()
                digests = self.wl.extraction_op(self.spark,
                                                self.inputs.pages_path)
                wall = time.perf_counter() - t0
            ok = digests["extract"] == self.inputs.reference_digest()
            if not ok:
                self.failures.append(
                    f"extract digest {digests['extract']} != reference "
                    f"{self.inputs.reference_digest()}")
            ok = self._check(digests) and ok
            return {"wall_s": wall, "cpu_s": sampler.cpu_s,
                    "peak_rss": sampler.peak_rss, "ok": ok,
                    "digests": digests}

        out = self.wl.fresh_out_root(CACHE)
        try:
            with JobSampler() as sampler:
                t0 = time.perf_counter()
                self.wl.corpus_op(self.spark, self.inputs.pages_path, out)
                wall = time.perf_counter() - t0
            written, splits = self.wl.corpus_outputs(self.spark, out)
            rows = dict(written)
            bad = [u for u, h in rows.items()
                   if self.inputs.reference.get(u) != h]
            ok = not bad and len(rows) == len(written)
            if not ok:
                self.failures.append(
                    f"{len(bad)} written rows differ from the reference; "
                    f"{len(written) - len(rows)} duplicate urls")
            digests = {"extract": self.inputs_mod.digest(rows.values()),
                       **splits}
            ok = self._check(digests) and ok
            rec = {"wall_s": wall, "cpu_s": sampler.cpu_s,
                   "peak_rss": sampler.peak_rss, "ok": ok,
                   "digests": digests, "rows_written": len(rows)}
            if keep_out:
                rec["out_root"] = out
                out = None
            return rec
        finally:
            if out is not None:
                self.wl.remove_out_root(out)


def _attempt(bench: Bench, counts: dict, **kw) -> dict | None:
    counts["attempted"] += 1
    try:
        rec = bench.op(**kw)
    except Exception:  # noqa: BLE001 — a raising job is a failed operation
        counts["failed"] += 1
        bench.failures.append(traceback.format_exc())
        return None
    if not rec["ok"]:
        counts["failed"] += 1
    return rec


def run_end_to_end(workload: str, seed: int, seconds: float,
                   import_s: float) -> dict:
    bench = Bench(workload, seed)
    counts = {"attempted": 0, "failed": 0}
    ops = []
    try:
        t0 = time.perf_counter()
        bench.start()
        setup_s = import_s + time.perf_counter() - t0
        deadline = time.perf_counter() + seconds
        while True:
            rec = _attempt(bench, counts)
            if rec is not None:
                ops.append(rec)
            if time.perf_counter() >= deadline:
                break
    finally:
        bench.stop()
    for msg in bench.failures:
        _log(msg)
    n = bench.inputs.n_docs
    metrics = {}
    if ops:
        wall = statistics.median(r["wall_s"] for r in ops)
        metrics = {
            "docs_per_s": {"value": n / wall, "unit": "docs/s"},
            "cpu_ms_per_doc": {"value": statistics.median(
                r["cpu_s"] for r in ops) * 1e3 / n, "unit": "ms"},
            "peak_rss_mib": {"value": statistics.median(
                r["peak_rss"] for r in ops) / MIB, "unit": "MiB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    _log(f"{workload} seed={seed} docs={n} jobs={len(ops)} "
         f"walls_s={[round(r['wall_s'], 3) for r in ops]} "
         f"cpu_s={[round(r['cpu_s'], 2) for r in ops]} "
         f"rss_mib={[round(r['peak_rss'] / MIB) for r in ops]}")
    return {"correct": counts["failed"] == 0 and bool(ops),
            "attempted": counts["attempted"], "failed": counts["failed"],
            "metrics": metrics}


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return files, size


def run_traced(workload: str, seed: int, import_s: float) -> dict:
    from extractbench import trace

    tracer = trace.Tracer()
    ev_dir = os.path.join(CACHE, "eventlog", tracer.run_id)
    counts = {"attempted": 0, "failed": 0}
    walls = {True: [], False: []}
    groups, prefix_walls = [], {}
    corpus_out = []
    with tracer.span("run"):
        with tracer.span("inputs"):
            bench = Bench(workload, seed)
        try:
            with tracer.span("setup"):
                bench.start(ev_dir)
            sc = bench.spark.sparkContext
            for i, traced in enumerate(TRACED_ORDER[workload]):
                group = f"{'traced' if traced else 'untraced'}-{i}"
                sc.setJobGroup(group, group)
                if traced:
                    groups.append(group)
                    with tracer.span("op"), trace.instrument(tracer):
                        rec = _attempt(bench, counts, keep_out=True)
                else:
                    rec = _attempt(bench, counts)
                if rec is not None:
                    walls[traced].append(rec["wall_s"])
                    if "out_root" in rec:
                        corpus_out.append(rec)
            sc.setJobGroup("layers", "layers")
            with tracer.span("prefix_runs"):
                for _ in range(PREFIX_REPS[workload]):
                    for name, run_prefix in bench.wl.prefix_runs(
                            bench.spark, bench.inputs.pages_path):
                        with tracer.span(f"prefix.{name}"):
                            t0 = time.perf_counter()
                            run_prefix()
                            prefix_walls.setdefault(name, []).append(
                                time.perf_counter() - t0)
            with tracer.span("parse_ms_run"):
                parse_ms = bench.wl.parse_ms_sum(bench.spark,
                                                 bench.inputs.pages_path)
        finally:
            bench.stop()
        with tracer.span("inprocess_timers"):
            pages = bench.inputs.read_pages()
            inproc = trace.inprocess_timers(pages.column("url").to_pylist(),
                                            pages.column("html").to_pylist())
    for msg in bench.failures:
        _log(msg)

    ev = trace.eventlog_metrics(ev_dir, groups)
    n_traced = max(1, len(walls[True]))
    m: dict[str, float] = {}
    prev = 0.0
    for name, samples in prefix_walls.items():
        cum = statistics.median(samples)
        m[f"{name}.s"] = cum - prev
        prev = cum
    job_wall = statistics.median(walls[False]) if walls[False] else float("nan")
    # the six noop-sink rows only: a gap in the decomposition shows here
    # instead of being absorbed by sink.s
    m["stages.share_of_job_wall"] = sum(
        m[f"{name}.s"] for name in bench.wl.STAGE_LAYERS) / job_wall
    m.update(ev["metrics"])
    m.update(inproc["metrics"])
    m["extract.parse_ms_coverage"] = parse_ms / (inproc["supported_s"] * 1e3)
    m["pipeline.commit_groups"] = tracer.count("pipeline.commit_group") / n_traced
    for name in ("tableio.replace_group", "pipeline.partition_metrics",
                 "tableio.lineage_merge", "curate.run_curation_job"):
        m[f"{name}.s"] = tracer.total_s(name) / n_traced
    files = size = dropped = 0
    for rec in corpus_out:
        f, s = _dir_stats(rec["out_root"])
        files += f
        size += s
        dropped += bench.inputs.n_docs - rec["rows_written"]
        bench.wl.remove_out_root(rec["out_root"])
    m["tableio.bytes_written_per_in"] = size / n_traced / bench.inputs.bytes_in
    m["tableio.files_written"] = files / n_traced
    m["gate.rows_dropped"] = dropped / n_traced
    m["trace.overhead_pct"] = (
        (statistics.median(walls[True]) / job_wall - 1) * 100
        if walls[True] else float("nan"))

    table = [{"name": k, "value": m[k], "unit": u, "layer": layer}
             for k, (u, layer) in PER_LAYER.items()]
    report = {
        "workload": workload, "seed": seed, "run_id": tracer.run_id,
        "docs": bench.inputs.n_docs, "import_s": import_s,
        "job_wall_s": {"untraced": walls[False], "traced": walls[True]},
        "tracing_overhead_pct": m["trace.overhead_pct"],
        "tracing_overhead_note": (
            "traced jobs carry the span wrappers; the Spark event log is on "
            "for every job of this run, so its own cost shows against the "
            "untraced run's docs_per_s instead. On corpus_build the untraced "
            "job is the session's cold first job, so the figure also holds "
            "the cold-start difference"),
        "prefix_walls_s": prefix_walls,
        "per_layer": table,
        "inprocess": {k: inproc[k] for k in ("samples", "class_counts")},
        "eventlog_stages": ev["stages"],
        "spans": tracer.with_self_times(),
    }
    out_dir = os.path.join(CACHE, "reports")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-s{seed}-{tracer.run_id}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    for row in table:
        _log(f"  {row['name']:<32} {row['value']:>14.4f} {row['unit']:<6} "
             f"{row['layer']}")
    _log(f"per-layer report: {path}")
    return {"correct": counts["failed"] == 0 and bool(walls[True]),
            "attempted": counts["attempted"], "failed": counts["failed"],
            "metrics": {k: {"value": m[k], "unit": u}
                        for k, (u, _) in PER_LAYER.items()}}


def write_pins(workload: str) -> None:
    bench = Bench(workload, DEFAULT_SEED)
    bench.pins = None
    try:
        bench.start()
        rec = bench.op()
    finally:
        bench.stop()
    if not rec["ok"]:
        raise SystemExit("\n".join(bench.failures))
    pins = _load_pins()
    pins[workload] = rec["digests"]
    with open(PINNED, "w", encoding="utf-8") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="rewrite pinned.json for this workload "
                         "(default seed only)")
    args = ap.parse_args()

    _prepare_env()
    t0 = time.perf_counter()
    import pyspark.sql  # noqa: F401
    import jobs.webcorpus  # noqa: F401
    import extractbench.workloads  # noqa: F401 — imports the program
    import_s = time.perf_counter() - t0

    if args.pin:
        write_pins(args.workload)
        return 0
    if args.trace:
        result = run_traced(args.workload, args.seed, import_s)
    else:
        result = run_end_to_end(args.workload, args.seed, args.seconds,
                                import_s)
    for metric in result["metrics"].values():
        if not math.isfinite(metric["value"]):
            metric["value"] = None      # only when no job of a kind ran
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
