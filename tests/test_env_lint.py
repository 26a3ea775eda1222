"""Lint: query code reads no environment variables.

A query's plan and result must follow from its inputs and the session
alone. An environment variable read inside an operator, a trainer or a
plan builder is a hidden knob: it changes a plan without appearing in
the session conf, in a test id or in a benchmark report, and a knob no
caller sets is dead code with a test matrix of its own. Deployment
settings (cores, heap, scratch directory, cluster mode) belong to
``session.py``; per-session tuning goes through
``get_spark(extra_conf=...)``.

This scans ``operators/``, ``ml/`` and ``plans/`` for ``os.environ``
and ``os.getenv``, including the ``__import__("os").environ`` spelling.
"""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent / "backend_model_spark"
SCANNED = ("operators", "ml", "plans")

_ENV_READ = re.compile(r"\benviron\b|\bgetenv\s*\(")


def _scan():
    hits = []
    for sub in SCANNED:
        for f in sorted((ROOT / sub).rglob("*.py")):
            for i, raw in enumerate(f.read_text().splitlines(), 1):
                code = re.sub(r"#.*$", "", raw)
                if _ENV_READ.search(code):
                    hits.append(f"{f.relative_to(ROOT).as_posix()}:{i}: {raw.strip()}")
    return hits


def test_query_code_reads_no_environment():
    assert all((ROOT / sub).is_dir() for sub in SCANNED)
    hits = _scan()
    assert not hits, (
        "environment reads in query code (move deployment settings to "
        "session.py, tuning to get_spark(extra_conf=...)):\n" + "\n".join(hits)
    )
