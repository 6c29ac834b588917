"""Traced-run instruments, all from outside the program.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in memory.
* :func:`instrument` wraps public calls of ``plans/pipeline``,
  ``sources/tableio`` and ``jobs/curate`` in spans while a traced job runs.
* :func:`eventlog_metrics` reads Spark's own event log for the stages of
  the traced jobs.
* :func:`inprocess_timers` times the ``extraction/*`` functions
  single-threaded over the workload's own inputs, split by payload class.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict

from document_converter_api_spark.extraction.core import (
    decode_payload,
    extract_document,
)
from document_converter_api_spark.extraction.docx import docx_to_markdown
from document_converter_api_spark.extraction.html_dom import parse_html
from document_converter_api_spark.extraction.markdown import (
    PRUNE_TAGS,
    deny_attrs,
    html_to_markdown,
)
from document_converter_api_spark.extraction.pdf import pdf_to_text
from document_converter_api_spark.extraction.sniff import sniff_content_type
from document_converter_api_spark.operators.extract import (
    DOC_TIME_BUDGET_S,
    SUPPORTED_TYPES,
)

MIB = 1024 * 1024


class Tracer:
    """In-memory spans sharing one run id; written out when the run ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "run_id": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "wall_start": time.time(), "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the children's durations."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [{**s, "dur_s": s["end"] - s["start"],
                 "self_s": s["end"] - s["start"] - child_s[s["id"]]}
                for s in self.spans]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


def _span_lazy_collect(tracer: Tracer, name: str, df):
    """A lazily built DataFrame does its work at ``collect``: span it."""
    collect = df.collect

    def traced_collect():
        with tracer.span(name):
            return collect()

    df.collect = traced_collect
    return df


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the corpus-side layer boundaries in spans for the duration."""
    import jobs.curate as curate
    from document_converter_api_spark.plans import pipeline
    from document_converter_api_spark.sources import tableio

    def wrap(owner, attr, name, lazy=False):
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            return _span_lazy_collect(tracer, name, out) if lazy else out

        return owner, attr, orig, wrapped

    patches = [
        wrap(tableio.ManifestTable, "replace_group", "tableio.replace_group"),
        wrap(tableio.LineageStore, "merge", "tableio.lineage_merge"),
        wrap(pipeline, "partition_metrics", "pipeline.partition_metrics",
             lazy=True),
        # called once per commit group; builds the plan only
        wrap(pipeline, "run_extract", "pipeline.commit_group"),
        wrap(curate, "run_curation_job", "curate.run_curation_job"),
    ]
    for owner, attr, _, wrapped in patches:
        setattr(owner, attr, wrapped)
    try:
        yield
    finally:
        for owner, attr, orig, _ in patches:
            setattr(owner, attr, orig)


def eventlog_metrics(log_dir: str, groups: list[str]) -> dict:
    """Per-job averages over the Spark jobs tagged with ``groups`` (one job
    group per traced operation), plus per-stage rows for the report."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_name: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in groups:
                    job_group[ev["Job ID"]] = group
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_name[info["Stage ID"]] = info["Stage Name"]
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)

    stages = []
    for sid, group in sorted(stage_group.items()):
        if not tasks.get(sid):
            continue    # skipped stage (reused shuffle output)
        row = {"stage": sid, "group": group, "name": stage_name.get(sid, ""),
               "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_b": 0, "spill_b": 0, "py_run_s": 0.0,
               "py_init_s": 0.0, "to_py_b": 0, "from_py_b": 0}
        durations = []
        for ev in tasks[sid]:
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            acc = {a.get("Name"): float(a.get("Update") or 0)
                   for a in info.get("Accumulables", [])
                   if "Update" in a}
            row["tasks"] += 1
            row["run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
            row["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            row["py_run_s"] += acc.get("time to run Python workers", 0) / 1e3
            row["py_init_s"] += (
                acc.get("time to start Python workers", 0)
                + acc.get("time to initialize Python workers", 0)) / 1e3
            row["to_py_b"] += acc.get("data sent to Python workers", 0)
            row["from_py_b"] += acc.get("data returned from Python workers",
                                        0)
            durations.append(info["Finish Time"] - info["Launch Time"])
        med = statistics.median(durations)
        row["task_skew"] = max(durations) / med if med > 0 else 1.0
        stages.append(row)

    n_ops = len(groups)
    skews = []
    for group in groups:
        heavy = max((s for s in stages if s["group"] == group),
                    key=lambda s: s["run_s"], default=None)
        if heavy is not None:
            skews.append(heavy["task_skew"])

    def per_op(key: str) -> float:
        return sum(s[key] for s in stages) / n_ops

    return {
        "stages": stages,
        "metrics": {
            "shuffle.write_mib": per_op("shuffle_write_b") / MIB,
            "arrow.to_python_mib": per_op("to_py_b") / MIB,
            "arrow.from_python_mib": per_op("from_py_b") / MIB,
            "stage.python_worker_s": per_op("py_run_s"),
            "stage.python_init_s": per_op("py_init_s"),
            "stage.executor_cpu_s": per_op("cpu_s"),
            "stage.gc_s": per_op("gc_s"),
            "stage.spill_mib": per_op("spill_b") / MIB,
            "stage.task_skew": statistics.median(skews) if skews else 1.0,
            "spark.jobs": len(job_group) / n_ops,
            "spark.tasks": per_op("tasks"),
        },
    }


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    try:
        fn(*args)
    except Exception:  # noqa: BLE001 — a failing doc still took its time
        pass
    return time.perf_counter() - t0


def payload_class(payload: bytes, url: str) -> str:
    ctype = sniff_content_type(payload, url)
    if ctype == "pdf":
        return "pdf_encrypted" if b"/Encrypt" in payload else "pdf_plain"
    return ctype


def inprocess_timers(urls: list[str], payloads: list[bytes]) -> dict:
    """Single-thread float timers over one workload input.

    ``extract_document`` runs twice per doc, with the production budget
    armed and unarmed, in alternating order; the component functions run
    once each over their payload class."""
    classes = [payload_class(p, u) for p, u in zip(payloads, urls)]
    for p, c in zip(payloads, classes):
        if c == "pdf_encrypted":
            _timed(pdf_to_text, p)   # fill the KDF cache before timing
            break
    armed, unarmed = [], []
    for i, (p, u) in enumerate(zip(payloads, urls)):
        runs = ((armed, DOC_TIME_BUDGET_S), (unarmed, None))
        for out, budget in (runs if i % 2 else runs[::-1]):
            t0 = time.perf_counter()
            extract_document(p, u, time_budget_s=budget)
            out.append(time.perf_counter() - t0)
    # classes are the sniffed content type, with pdf split in two
    supported_s = sum(t for t, c in zip(armed, classes)
                      if c.split("_")[0] in SUPPORTED_TYPES)

    sums: dict[str, float] = defaultdict(float)
    for p, c in zip(payloads, classes):
        if c == "html":
            sums["core.decode_payload.s"] += _timed(decode_payload, p)
            text = decode_payload(p)
            sums["html_dom.parse_html.s"] += _timed(
                parse_html, text, PRUNE_TAGS, deny_attrs)
            sums["markdown.html_to_markdown.s"] += _timed(
                html_to_markdown, text)
        elif c == "pdf_plain":
            sums["pdf.pdf_to_text.plain.s"] += _timed(pdf_to_text, p)
        elif c == "pdf_encrypted":
            sums["pdf.pdf_to_text.encrypted.s"] += _timed(pdf_to_text, p)
        elif c == "docx":
            sums["docx.docx_to_markdown.s"] += _timed(docx_to_markdown, p)
    q = statistics.quantiles(armed, n=100)
    metrics = {
        "core.extract_document.p50_ms": statistics.median(armed) * 1e3,
        "core.extract_document.p99_ms": q[98] * 1e3,
        "deadline.s": sum(armed) - sum(unarmed),
    }
    for name in ("core.decode_payload.s", "html_dom.parse_html.s",
                 "markdown.html_to_markdown.s", "pdf.pdf_to_text.plain.s",
                 "pdf.pdf_to_text.encrypted.s", "docx.docx_to_markdown.s"):
        metrics[name] = sums[name]
    counts = defaultdict(int)
    for c in classes:
        counts[c] += 1
    return {"metrics": metrics, "supported_s": supported_s,
            "samples": len(armed), "class_counts": dict(counts)}
