"""Span-level rules over ``spans: array<struct<kind,text,media_ref,offset>>``.

The reference's ordered-series checks (lag continuity
``fuel_rob_validation.py:61-79``, shift-alignment ``distance_validation.py:59-65``,
enum-membership of ``event``/``load_type`` ``speed_validation.py:42-46``)
generalize to per-document span invariants (SURVEY.md W6, §2.5/§2.6 target
rows). The rules are native higher-order functions (``exists`` /
``zip_with`` / ``slice``): they stay in the JVM, need no Python worker, and
never explode the array, so there is NO shuffle and no row blow-up. The
test suite checks them doc-by-doc against an Arrow pandas-UDF oracle.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F

from datavalidation_spark.datagen import KINDS
from datavalidation_spark.rules.core import Rule, nv

SPAN_RULE_IDS = ("SPAN-KIND-ENUM", "SPAN-OFFSET-MONO", "SPAN-MUTEX", "DOC-EMPTY")


def _spans(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bad_kind_exists(spans: Column) -> Column:
    """Any span whose kind is outside the enum (ref analog: event enum checks,
    ``speed_validation.py:42-46``)."""
    return F.exists(spans, lambda s: ~s["kind"].isin(*KINDS) | s["kind"].isNull())


def offsets_non_monotonic(spans: Column) -> Column:
    """Offsets not strictly increasing within the doc (SURVEY.md W6).

    ``zip_with(spans, slice(spans, 2, n), (a,b) -> b.offset <= a.offset)`` —
    adjacent-pair comparison without explode; arrays of size ≤1 pass.
    NULL offsets are their own violation (folded in here: a NULL comparison
    is treated as non-monotonic).
    """
    # index-walk instead of slice+zip_with: zero array copies per row (the
    # sliced/zipped form allocates two struct-array copies per document —
    # measurable GC pressure at millions of docs/sec)
    idx = F.when(F.size(spans) > 1, F.sequence(F.lit(2), F.size(spans))).otherwise(
        F.array().cast("array<int>")
    )
    adjacent_bad = F.exists(
        idx,
        lambda i: F.coalesce(
            F.try_element_at(spans, i)["offset"]
            <= F.try_element_at(spans, i - 1)["offset"],
            F.lit(True),
        ),
    )
    return nv(adjacent_bad) | F.exists(spans, lambda s: s["offset"].isNull())


def mutex_broken(spans: Column) -> Column:
    """text XOR media_ref by kind: text spans carry text and no media_ref;
    media spans carry media_ref and no text (FIXTURES.md §1 invariant)."""
    return F.exists(
        spans,
        lambda s: F.when(
            s["kind"] == "text", s["text"].isNull() | s["media_ref"].isNotNull()
        ).otherwise(s["media_ref"].isNull() | s["text"].isNotNull()),
    )


# Column objects are immutable logical-plan fragments bound to a gateway, so
# the catalog for a given column NAME can be built once per SparkSession and
# reused across calls — construction is ~1k py4j round-trips (~0.25 s), paid
# on every validate_documents() otherwise. Weak-keyed on the live session so
# a fresh session (tests, driver restarts) never sees another JVM's columns
# and entries die with the session they belong to.
_RULES_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def span_rules(spans_col: str | Column = "spans") -> list[Rule]:
    """The span-rule catalog, HOF implementation — plug into the compiler."""
    if isinstance(spans_col, str):
        from pyspark.sql import SparkSession

        session = SparkSession.getActiveSession()
        if session is None:
            return _build_span_rules(spans_col)
        per_session = _RULES_CACHE.setdefault(session, {})
        if spans_col not in per_session:
            per_session[spans_col] = _build_span_rules(spans_col)
        return list(per_session[spans_col])
    return _build_span_rules(spans_col)


def _build_span_rules(spans_col: str | Column) -> list[Rule]:
    s = _spans(spans_col)
    return [
        Rule(
            "DOC-EMPTY",
            violation=s.isNull() | (F.size(s) == 0),
            remark="Document has no spans",
        ),
        Rule(
            "SPAN-KIND-ENUM",
            violation=bad_kind_exists(s),
            remark=F.format_string(
                "Span kind outside enum %s: found %s",
                F.lit(str(list(KINDS))),
                F.array_join(
                    F.array_distinct(
                        F.filter(
                            F.transform(s, lambda x: x["kind"]),
                            lambda k: ~k.isin(*KINDS) | k.isNull(),
                        )
                    ),
                    ",",
                ),
            ),
            where=s.isNotNull() & (F.size(s) > 0),
        ),
        Rule(
            "SPAN-OFFSET-MONO",
            violation=offsets_non_monotonic(s),
            remark="Span offsets not strictly increasing",
            where=s.isNotNull() & (F.size(s) > 0),
        ),
        Rule(
            "SPAN-MUTEX",
            violation=mutex_broken(s),
            remark="text/media_ref mutual exclusion violated",
            where=s.isNotNull() & (F.size(s) > 0),
        ),
    ]


def span_fingerprint(spans_col: str = "spans") -> Column:
    """Canonical fingerprint of the span sequence on (kind, text, media_ref,
    order) — the per-row invariant from BASELINE.json input_hint
    ("span-sequence equality"). Two docs are span-equal iff fingerprints
    match; pure Column ops (md5 over an order-preserving serialization)."""
    s = _spans(spans_col)
    return F.md5(
        F.concat_ws(
            "\x01",
            F.transform(
                s,
                lambda x: F.concat_ws(
                    "\x02",
                    F.coalesce(x["kind"], F.lit("\x00")),
                    F.coalesce(x["text"], F.lit("\x00")),
                    F.coalesce(x["media_ref"], F.lit("\x00")),
                ),
            ),
        )
    )
