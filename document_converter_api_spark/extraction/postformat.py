"""Reference-parity post-formatting helpers (F1–F4, SURVEY.md §2.8).

Byte-exact Python reimplementations of the reference's pure helpers — these
are the *oracle* the Catalyst expressions in ``functions.expressions`` are
property-tested against:

* :func:`format_plain_text`  ≙ ``format_content_for_output(..., PLAIN_TEXT)``
  (/root/reference/app/main.py:262-269) — regex chain, order matters
  (bold before italic).
* :func:`format_google_docs` ≙ ``format_content_for_output(..., GOOGLE_DOCS)``
  (/root/reference/app/main.py:270-277) — **literal** ``str.replace``; the
  ``'*'`` pass intentionally also eats list bullets (faithfulness over
  elegance, SURVEY.md §7.4.4).
* :func:`chunk_text`         ≙ /root/reference/app/main.py:243-250 — split on
  ``'\\n'``, regroup every ``chunk_size`` lines re-joined with ``'\\n'``.
* :func:`sanitize_filename`  ≙ /root/reference/app/main.py:252-258.
"""

from __future__ import annotations

import re

CHUNK_SIZE = 1000          # lines/chunk (app/main.py:209)


def format_plain_text(content: str) -> str:
    text = re.sub(r"#{1,6}\s+", "", content)
    text = re.sub(r"\*\*(.*?)\*\*", r"\1", text)
    text = re.sub(r"\*(.*?)\*", r"\1", text)
    text = re.sub(r"\[([^\]]+)\]\([^\)]+\)", r"\1", text)
    text = re.sub(r"`([^`]+)`", r"\1", text)
    return text


def format_google_docs(content: str) -> str:
    content = content.replace("# ", "")
    content = content.replace("## ", "")
    content = content.replace("### ", "")
    content = content.replace("**", "")
    content = content.replace("*", "")
    return content


def chunk_text(text: str, chunk_size: int = CHUNK_SIZE) -> list[str]:
    lines = text.split("\n")
    return ["\n".join(lines[i:i + chunk_size])
            for i in range(0, len(lines), chunk_size)]


def sanitize_filename(filename: str) -> str:
    import os.path
    name = os.path.splitext(filename)[0]
    name = re.sub(r"[^\w\s-]", "", name)
    name = re.sub(r"[-\s]+", "-", name)
    return name.strip("-")
