"""Seeded inputs for the three workloads, cached on disk.

Generation, caching and the reference extraction all happen before any
timed region; the program under test only ever receives the pages
parquet written here. Pages are built with the page and document
generators of ``fixtures/genpages.py``, so the benchmark stays on the same
byte formats as the goldens.

Pages are cached by (workload, size, seed, hash of the generator sources);
the reference extraction is cached beside them by a hash of the program's
sources, so a change to the program is checked against ``extract_document``
of the changed program, never against an older build's output.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import uuid
from collections.abc import Iterable
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from document_converter_api_spark.extraction.core import extract_document
from fixtures import genpages

# Docs per workload input. Small enough that generation plus the
# reference extraction stay a few seconds per seed; large enough that
# one timed job is seconds of work on local[3].
N_DOCS = {"crawl_mix": 4500, "binary_docs": 1500, "corpus_build": 1000}
N_WARM = 160
# AESV3 PDFs in the warm-up set: enough that every Python worker fills its
# hash_2b cache before the first timed job.
N_WARM_AESV3 = 24

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Sources the cached pages and the cached reference are built from.
GENERATOR_SOURCES = ("fixtures/genpages.py", "extractbench/inputs.py")
PROGRAM_SOURCES = ("document_converter_api_spark",)

SEP = "\x1f"
NUL = "\x00"
_BASE_TS = datetime(2025, 6, 1)


def row_hash(text: str) -> int:
    """60-bit row hash; the Spark side computes the same value with
    ``conv(substring(sha2(text, 256), 1, 15), 16, 10)``."""
    return int(hashlib.sha256(text.encode("utf-8")).hexdigest()[:15], 16)


def core_row_text(url: str, markdown: str | None, error: str | None) -> str:
    return SEP.join((url, NUL if markdown is None else markdown,
                     NUL if error is None else error))


def digest(hashes) -> str:
    """Order-independent digest of a multiset of row hashes."""
    hashes = list(hashes)
    return f"{len(hashes)}:{sum(hashes)}"


def source_hash(paths: Iterable[str]) -> str:
    """Short SHA-256 over every ``.py`` file under ``paths`` (relative to
    the repository root), names included."""
    files = []
    for rel in paths:
        top = os.path.join(ROOT, rel)
        if os.path.isfile(top):
            files.append(top)
        for dirpath, dirnames, names in os.walk(top):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith(".py")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def _pages_table(urls, payloads, langs) -> pa.Table:
    n = len(urls)
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array([_BASE_TS + timedelta(minutes=7 * i)
                             for i in range(n)], pa.timestamp("us")),
        "html": pa.array(payloads, pa.binary()),
        "text": pa.array([""] * n, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def _pdf(rng: random.Random, lang: str, n_pages: int,
         variant: str | None, user_pw: bytes = b"") -> bytes:
    pages = [[genpages._sentence(rng, lang, rng.randint(4, 9))
              for _ in range(rng.randint(10, 30))] for _ in range(n_pages)]
    compress = [rng.random() < 0.5 for _ in range(n_pages)]
    encrypt = None
    if variant is not None:
        encrypt = {"variant": variant, "user_pw": user_pw,
                   "id0": rng.randbytes(16),
                   "ivs": [rng.randbytes(16) for _ in range(n_pages)]}
    return genpages.build_minimal_pdf(pages, compress, encrypt=encrypt)


def gen_binary_docs(n: int, seed: int) -> pa.Table:
    """PDF and DOCX only. Page counts are Pareto-tailed (most docs 1-3
    pages, a few tens of pages); a third of the PDFs are encrypted, spread
    over every ``ENC_VARIANTS`` cipher, and a few of those carry a real
    user password (they surface as ``error='encrypted'`` rows)."""
    rng = random.Random(seed)
    variants = sorted(genpages.ENC_VARIANTS)
    urls, payloads, langs = [], [], []
    for i in range(n):
        lang = rng.choices(["en", "es", "de"], weights=[6, 3, 1], k=1)[0]
        host = f"docs{rng.randint(0, 15):02d}.example.net"
        if rng.random() < 0.7:
            n_pages = min(40, int(rng.paretovariate(1.3)))
            variant, pw = None, b""
            if rng.random() < 1 / 3:
                variant = rng.choice(variants)
                pw = b"user-secret" if rng.random() < 0.05 else b""
            payload = _pdf(rng, lang, n_pages, variant, pw)
            ext = "pdf"
        else:
            payload, _ = genpages._build_docx(rng, lang)
            ext = "docx"
        urls.append(f"https://{host}/{lang}/doc-{i:06d}.{ext}")
        payloads.append(payload)
        langs.append(lang)
    return _pages_table(urls, payloads, langs)


def gen_crawl_mix(n: int, seed: int) -> pa.Table:
    return genpages.gen_pages(n, seed)


GENERATORS = {"crawl_mix": gen_crawl_mix, "binary_docs": gen_binary_docs,
              "corpus_build": gen_crawl_mix}


def gen_warm(workload: str, seed: int) -> pa.Table:
    """Warm-up set: a small sample from the workload's own generator on a
    derived seed, plus AESV3 PDFs (shared corpus salts) so the KDF cache
    in every Python worker is filled before timing starts."""
    sample = GENERATORS[workload](N_WARM, seed ^ 0x5EED5)
    rng = random.Random(seed ^ 0xAE53)
    urls = [f"https://warm.example.net/aes/{i:04d}.pdf"
            for i in range(N_WARM_AESV3)]
    payloads = [_pdf(rng, "en", 1, "aesv3") for _ in urls]
    extra = _pages_table(urls, payloads, ["en"] * len(urls))
    return pa.concat_tables([sample.select(extra.column_names), extra])


def _reference_chunk(rows: list[tuple[str, bytes]]) -> list[int]:
    out = []
    for url, payload in rows:
        res = extract_document(payload, url)
        out.append(row_hash(core_row_text(url, res.markdown, res.error)))
    return out


def _reference_subprocess(rows: list[tuple[str, bytes]]) -> list[int]:
    """Run ``_reference_chunk`` in a child interpreter (this module's
    ``__main__``): rows go in as a pickle on stdin, hashes come back as
    JSON on stdout."""
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run([sys.executable, "-m", "extractbench.inputs"],
                          input=pickle.dumps(rows), capture_output=True,
                          env=env, cwd=ROOT, check=True, timeout=600)
    return json.loads(proc.stdout)


def reference_hashes(pages: pa.Table, procs: int) -> dict[str, int]:
    """url → row hash of ``extract_document`` called directly on each
    payload (plain Python, no Spark, no Arrow), in ``procs`` child
    processes."""
    rows = list(zip(pages.column("url").to_pylist(),
                    pages.column("html").to_pylist()))
    chunks = [rows[i::procs] for i in range(procs)]
    with ThreadPoolExecutor(procs) as pool:
        parts = list(pool.map(_reference_subprocess, chunks))
    out = {}
    for chunk, hashes in zip(chunks, parts):
        out.update((url, h) for (url, _), h in zip(chunk, hashes))
    return out


class Inputs:
    """Paths and reference for one (workload, seed), built on first use."""

    def __init__(self, cache_root: str, workload: str, seed: int,
                 procs: int) -> None:
        self.workload = workload
        self.seed = seed
        self.dir = os.path.join(
            cache_root, "inputs",
            f"{workload}-n{N_DOCS[workload]}-s{seed}-"
            f"g{source_hash(GENERATOR_SOURCES)}")
        self.pages_path = os.path.join(self.dir, "pages.parquet")
        self.warm_path = os.path.join(self.dir, "warm.parquet")
        if not os.path.exists(self.dir):
            self._build_pages()
        ref_path = os.path.join(
            self.dir, f"reference-p{source_hash(PROGRAM_SOURCES)}.json")
        if not os.path.exists(ref_path):
            self._build_reference(ref_path, procs)
        with open(ref_path, encoding="utf-8") as f:
            ref = json.load(f)
        self.n_docs: int = ref["n_docs"]
        self.bytes_in: int = ref["bytes_in"]
        self.reference: dict[str, int] = ref["hashes"]

    def _build_pages(self) -> None:
        tmp = f"{self.dir}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        pages = GENERATORS[self.workload](N_DOCS[self.workload], self.seed)
        # small row groups: a single-row-group file is one scan task
        pq.write_table(pages, os.path.join(tmp, "pages.parquet"),
                       row_group_size=256)
        pq.write_table(gen_warm(self.workload, self.seed),
                       os.path.join(tmp, "warm.parquet"), row_group_size=32)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def _build_reference(self, path: str, procs: int) -> None:
        pages = self.read_pages()
        ref = {"n_docs": pages.num_rows,
               "bytes_in": sum(len(p) for p in
                               pages.column("html").to_pylist()),
               "hashes": reference_hashes(pages, procs)}
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(ref, f)
        os.replace(tmp, path)

    def read_pages(self) -> pa.Table:
        return pq.read_table(self.pages_path)

    def reference_digest(self) -> str:
        return digest(self.reference.values())


if __name__ == "__main__":
    json.dump(_reference_chunk(pickle.load(sys.stdin.buffer)), sys.stdout)
