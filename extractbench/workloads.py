"""The timed operations of each workload and their correctness checks.

``crawl_mix`` and ``binary_docs`` run ``extract_pipeline`` →
``postprocess_results`` into an order-independent digest aggregate: like a
noop sink it forces every output column, and it hands the run a digest of
``(url, markdown, error)`` to compare with the reference extraction.
``corpus_build`` runs ``jobs/webcorpus.run_webcorpus_job`` into a fresh
output root and digests what it wrote.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

from document_converter_api_spark.operators.extract import (
    extract_pipeline,
    prepare_pages,
    run_extract,
)
from document_converter_api_spark.plans.pipeline import postprocess_results
from document_converter_api_spark.sources.tableio import ManifestTable

from .inputs import NUL, SEP

# Curation settings for corpus_build: every language the generator writes,
# token-budget shard packing and repeated-line stripping on.
CORPUS_LANGS = ("en", "es", "de")
CORPUS_PACK_BUDGET = 8192
SPLITS = ("train", "validation", "test")


def h60(text: Column) -> Column:
    """Spark twin of ``inputs.row_hash``."""
    return F.conv(F.substring(F.sha2(text, 256), 1, 15), 16, 10
                  ).cast("decimal(20,0)")


def core_hash(markdown: Column) -> Column:
    return h60(F.concat_ws(SEP, F.col("url"),
                           F.coalesce(markdown, F.lit(NUL)),
                           F.coalesce(F.col("error"), F.lit(NUL))))


def row_xxhash(cols: list[str]) -> Column:
    """Spark-only row hash, for digests compared with pinned values only."""
    return F.xxhash64(*cols).cast("decimal(20,0)")


def _digest_row(row) -> str:
    return f"{row['n']}:{int(row['h'] or 0)}"


def extraction_op(spark, pages_path: str) -> dict:
    """One timed extraction job; returns its output digests."""
    results, rejects = extract_pipeline(spark.read.parquet(pages_path))
    post = postprocess_results(results)
    # parse_ms is a timing, not an output byte
    out_cols = [c for c in post.columns if c != "parse_ms"]
    rows = post.select(core_hash(F.col("markdown")).alias("core"),
                       row_xxhash(out_cols).alias("post"))
    rej = rejects.select(
        core_hash(F.lit(None).cast("string")).alias("core"),
        F.lit(0).cast("decimal(20,0)").alias("post"))
    r = (rows.unionByName(rej)
         .agg(F.count("*").alias("n"), F.sum("core").alias("core"),
              F.sum("post").alias("post"))
         .collect()[0])
    return {"extract": f"{r['n']}:{int(r['core'])}",
            "postformat": f"{r['n']}:{int(r['post'])}"}


def corpus_op(spark, pages_path: str, out_root: str) -> dict:
    from jobs.webcorpus import run_webcorpus_job

    return run_webcorpus_job(
        spark, pages_path, out_root, langs=CORPUS_LANGS,
        pack_budget=CORPUS_PACK_BUDGET, strip_lines=True)


def corpus_outputs(spark, out_root: str) -> tuple[list[tuple[str, int]],
                                                  dict]:
    """((url, row hash) of every written extraction row, curated split
    digests) read back from a corpus_build output root."""
    ex = os.path.join(out_root, "extraction")
    res = ManifestTable(os.path.join(ex, "results")).read(spark)
    rej = ManifestTable(os.path.join(ex, "rejects")).read(spark)
    rows = (res.select("url", core_hash(F.col("markdown")).alias("h"))
            .unionByName(rej.select(
                "url", core_hash(F.lit(None).cast("string")).alias("h"))))
    written = [(r["url"], int(r["h"])) for r in rows.collect()]
    splits = {}
    for split in SPLITS:
        df = ManifestTable(os.path.join(out_root, "curated", split)).read(spark)
        splits[split] = _digest_row(
            df.agg(F.count("*").alias("n"),
                   F.sum(row_xxhash(sorted(df.columns))).alias("h"))
            .collect()[0])
    return written, splits


def fresh_out_root(cache: str) -> str:
    return os.path.join(cache, "out", uuid.uuid4().hex)


def remove_out_root(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


STAGE_LAYERS = ("scan", "gate", "shuffle", "arrow", "parse", "postformat")


def _identity(batches):
    yield from batches


def prefix_runs(spark, pages_path: str):
    """Cumulative prefixes of the extraction stage, each ending where the
    next layer starts: scan → format/size gate → salted shuffle → identity
    ``mapInArrow`` → ``run_extract`` body → post-format, each to a noop
    sink (``STAGE_LAYERS``); then the timed extraction job itself, whose
    increment over the post-format prefix is the digest sink with the
    gate-reject side output. Yields (layer, callable running it once)."""
    pages = spark.read.parquet(pages_path)
    valid, _ = prepare_pages(pages)
    n = spark.sparkContext.defaultParallelism * 4
    shuffled = valid.repartition(n, F.xxhash64("url"), F.col("salt"))
    to_arrow = shuffled.drop("salt")
    frames = [
        pages.select("url", "html", "lang"),
        valid,
        shuffled,
        to_arrow.mapInArrow(_identity, schema=to_arrow.schema),
        run_extract(valid),
        postprocess_results(run_extract(valid)),
    ]
    for name, df in zip(STAGE_LAYERS, frames):
        yield name, df.write.format("noop").mode("overwrite").save
    yield "sink", lambda: extraction_op(spark, pages_path)


def parse_ms_sum(spark, pages_path: str) -> int:
    """Σ of the stage's own per-doc ``parse_ms`` column over one run."""
    valid, _ = prepare_pages(spark.read.parquet(pages_path))
    return int(run_extract(valid).agg(F.sum("parse_ms")).collect()[0][0] or 0)
