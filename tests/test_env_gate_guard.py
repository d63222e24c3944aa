"""Guard against A/B env gates growing back in the engine.

Operators and queries take one code path per route; where a route is
chosen at runtime, a measurement chooses it against a module-level
bound (tests force a route by monkeypatching that bound).  A
``JIBARO_SPARK_*`` environment switch would add a configuration that
no benchmark runs, so none may be read under ``jibaro_spark/operators``
or ``jibaro_spark/queries``.  Deployment settings live in
``jibaro_spark.config`` and ``jibaro_spark.session``.
"""

from __future__ import annotations

import ast
import glob
import io
import os
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GUARDED = [
    os.path.relpath(p, ROOT)
    for d in ("operators", "queries")
    for p in sorted(
        glob.glob(os.path.join(ROOT, "jibaro_spark", d, "**", "*.py"), recursive=True)
    )
]
_PREFIX = "JIBARO_SPARK_"


def _env_gate_reads(src: str) -> list[int]:
    """Line numbers where ``environ``/``getenv`` sits within a few
    tokens of a string literal naming a ``JIBARO_SPARK_*`` variable:
    ``os.environ.get("X")``, ``os.environ["X"]``, ``os.getenv("X")``
    and ``"X" in os.environ``."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type in (tokenize.NAME, tokenize.OP, tokenize.STRING)
    ]
    hits = []
    for i, tok in enumerate(toks):
        if tok.type != tokenize.NAME or tok.string not in ("environ", "getenv"):
            continue
        for near in toks[max(i - 4, 0) : i + 5]:
            if near.type == tokenize.STRING:
                value = ast.literal_eval(near.string)
                if isinstance(value, str) and value.startswith(_PREFIX):
                    hits.append(tok.start[0])
    return hits


def test_detector_sees_every_read_form():
    src = (
        "import os\n"
        'a = os.environ.get("JIBARO_SPARK_A", "1")\n'
        'b = os.environ["JIBARO_SPARK_B"]\n'
        'c = os.getenv("JIBARO_SPARK_C")\n'
        'd = "JIBARO_SPARK_D" in os.environ\n'
        'e = os.environ.get("SPARK_HOME")\n'
    )
    assert _env_gate_reads(src) == [2, 3, 4, 5]


def test_no_env_gates_in_operators_or_queries():
    assert _GUARDED
    offenders = []
    for rel in _GUARDED:
        with open(os.path.join(ROOT, rel)) as fh:
            src = fh.read()
        lines = src.splitlines()
        for ln in _env_gate_reads(src):
            offenders.append(f"{rel}:{ln}: {lines[ln - 1].strip()}")
    assert not offenders, "\n".join(offenders)
