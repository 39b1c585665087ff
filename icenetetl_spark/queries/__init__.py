"""Query registry: every implemented operator exposed as a named query over
the driver testdata, each (where SQL-expressible) paired with a DuckDB oracle.

Modules contribute ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLES: dict[str, str]``; this package merges them, in ``_MODULES``
order, for ``__spark_entry__``.
"""

from __future__ import annotations

from icenetetl_spark.queries import (
    analytics,
    approx,
    core,
    database,
    dedup,
    events,
    extended,
    headline,
    icenet,
    multimodal,
    quantized,
    similarity,
    supply,
    text,
    tokenizer,
    warehouse,
)

_MODULES = [
    core, headline, extended, warehouse, supply, analytics, approx, events,
    dedup, text, tokenizer, similarity, quantized, multimodal, icenet,
    database,
]


def all_queries():
    out = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        assert not overlap, f"duplicate query names: {overlap}"
        out.update(m.QUERIES)
    return out


def all_oracles():
    out = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
