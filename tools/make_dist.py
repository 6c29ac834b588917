"""Build dist/pipeline.zip for ``spark-submit --py-files``.

North-rule packaging requirement (BASELINE.json north_star: "packaged for
`spark-submit --py-files` on multi-executor clusters"): the whole
``document_converter_api_spark`` package is zipped so executors' Python
workers can import the extraction core without a cluster-side install of
this repo. The zip carries no third-party code: executors' Python must
already have ``pyarrow``, ``pandas`` and ``cryptography`` (AES for
encrypted PDFs) installed.
Deterministic output (fixed mtimes, sorted entries) so the zip is
byte-stable across rebuilds and safe to cache on HDFS/S3.

Usage::

    python tools/make_dist.py            # writes dist/pipeline.zip
    spark-submit --py-files dist/pipeline.zip jobs/extract.py \
        --input /path/pages --output /path/out --partitions 4096
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "document_converter_api_spark"
FIXED_DATE = (2020, 1, 1, 0, 0, 0)  # deterministic zip


def build(out_path: str | None = None) -> str:
    out_path = out_path or os.path.join(REPO, "dist", "pipeline.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    entries = []
    pkg_root = os.path.join(REPO, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                arc = os.path.relpath(full, REPO)
                entries.append((full, arc))
    tmp = out_path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, arc in entries:
            with open(full, "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(arc, date_time=FIXED_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    os.replace(tmp, out_path)  # atomic, same-FS
    return out_path


if __name__ == "__main__":
    print(build())
