"""Declarative rule catalog core.

The reference expresses each validation as an imperative per-row Python
function returning a list of remark strings (e.g.
``validate_me_consumption``, reference ``validators/me_consumption_validation.py:92-155``;
orchestrated row loop ``streamlit_app.py:84-112``). Here a rule is data:
an id, an applicability predicate, a violation predicate (Column), and a
remark expression (Column). The compiler turns a catalog into ONE vectorized
plan — no per-row Python anywhere.

Null semantics: the reference's guards (``pd.notna`` everywhere, and
``is_value_in_range`` returning False on null —
``me_consumption_validation.py:60-61`` + 5 clones) mean a null input never
*accidentally* fires a rule; dedicated MISS rules flag nulls explicitly.
Spark's three-valued logic would let a null predicate silently drop OR fire
depending on negation placement, so every compiled predicate is wrapped in
``coalesce(pred, false)`` — a null violation-predicate means "not a
violation", exactly matching the reference truth tables.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnLike = Column | str
ColumnBuilder = Callable[[], Column]


def nv(pred: Column) -> Column:
    """Null-void: three-valued-logic guard. NULL predicate → False.

    Mirrors the reference's pervasive ``pd.notna`` gating (SURVEY.md P4).
    """
    return F.coalesce(pred, F.lit(False))


@dataclass(frozen=True)
class Rule:
    """One validation rule.

    violation: Column that is True when the row VIOLATES the rule.
    where:     applicability predicate; rows where it's False/NULL are
               skipped entirely (reference P5, ``speed_validation.py:65-66``).
    remark:    Column (or constant string) — the human remark emitted into the
               violation record, reference remark-string parity where claimed.
    """

    rule_id: str
    violation: Column
    remark: ColumnLike
    where: Column | None = None
    severity: str = "error"
    tags: tuple[str, ...] = ()

    def remark_col(self) -> Column:
        return F.lit(self.remark) if isinstance(self.remark, str) else self.remark

    def fire_col(self) -> Column:
        """True iff this rule fires on the row (null-safe, applicability-gated)."""
        fire = nv(self.violation)
        if self.where is not None:
            fire = nv(self.where) & fire
        return fire


@dataclass(frozen=True)
class RuleSet:
    name: str
    rules: Sequence[Rule] = field(default_factory=tuple)

    def __iter__(self):
        return iter(self.rules)

    def __len__(self) -> int:
        return len(self.rules)

    def ids(self) -> list[str]:
        return [r.rule_id for r in self.rules]


# ---------------------------------------------------------------------------
# Scalar expression library (SURVEY.md §2.6) — every reference helper as a
# pure Column composition; no UDFs.
# ---------------------------------------------------------------------------


def in_range(col: Column, lo: float, hi: float) -> Column:
    """``lo <= v <= hi``; False on null (ref ``me_consumption_validation.py:60-61``)."""
    return nv(col.between(F.lit(lo), F.lit(hi)))


def within_pct(col: Column, ref: Column, lo: float, hi: float) -> Column:
    """``ref*lo <= v <= ref*hi``; False on any null.

    Multiplicative form per the live validators
    (``me_consumption_validation.py:81-86``); the additive variant in
    ``utils/validation_utils.py:28-34`` is dead code (SURVEY.md F2).
    """
    return nv(col.between(ref * F.lit(lo), ref * F.lit(hi)))


def expected_consumption(
    c_speed1: Column,
    c_disp1: Column,
    c_speed2: Column,
    c_disp2: Column,
    c_intercept: Column,
    speed: Column,
    displacement: Column,
    hull_factor: Column,
) -> Column:
    """Physics-model polynomial (ref ``me_consumption_validation.py:73-79``):
    ``(c1*v + c2*d + c3*v^2 + c4*d^2 + c0) * hull_factor``."""
    base = (
        c_speed1 * speed
        + c_disp1 * displacement
        + c_speed2 * speed * speed
        + c_disp2 * displacement * displacement
        + c_intercept
    )
    return base * hull_factor


def hull_performance_factor(hull_pct: Column) -> Column:
    """``1 + pct/100`` with missing → 1.0 (ref ``streamlit_app.py:78-79``)."""
    return F.lit(1.0) + F.coalesce(hull_pct, F.lit(0.0)) / F.lit(100.0)


def me_load_pct(power: Column, mcr: Column) -> Column:
    """``power*100/mcr``, NULL-safe, NULL when mcr null/0
    (ref ``boiler_consumption_validation.py:34-40``)."""
    return F.when(mcr.isNotNull() & (mcr != 0) & power.isNotNull(), power * 100.0 / mcr)


def safe_float(col: Column) -> Column:
    """Cast-to-double else 0.0 (ref ``fuel_rob_validation.py:51-56``)."""
    return F.coalesce(col.cast("double"), F.lit(0.0))


def nullif_empty_float(col: Column) -> Column:
    """``CAST(NULLIF(col,'') AS FLOAT)`` for string-typed numerics
    (ref ``boiler_consumption_validation.py:25``)."""
    return F.when(col != "", col).cast("double")


def age_days(ts: Column, cutoff: Column) -> Column:
    """Whole days from ``ts`` to ``cutoff`` (SURVEY F12; the reference
    anchors on ``datetime.now() - timedelta(days=n)``,
    ``streamlit_app.py:29-33`` — here the cutoff is an EXPLICIT column/
    literal so runs are reproducible; pass ``F.lit("2024-02-01")`` or a
    run-timestamp column). NULL-safe: NULL ts → NULL age."""
    return F.datediff(cutoff.cast("date"), ts.cast("date"))


def within_days(ts: Column, cutoff: Column, n: int) -> Column:
    """True iff ``ts`` is within the trailing ``n``-day window ending at
    ``cutoff`` (inclusive both ends); False on NULL — the reference's
    three-month report-window filter (``streamlit_app.py:29-33``) as a
    pushdown-friendly predicate."""
    return nv(age_days(ts, cutoff).between(F.lit(0), F.lit(n)))


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km, R=6371 — pure Column trig, no UDF
    (ref ``distance_validation.py:43-54``)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    return F.lit(2.0 * 6371.0) * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a))


# ---------------------------------------------------------------------------
# Compiler: catalog -> one vectorized plan
# ---------------------------------------------------------------------------

VIOLATION_FIELDS = ("rule_id", "severity", "remarks")


def violation_struct(rule: Rule) -> Column:
    """NULL unless the rule fires; else struct(rule_id, severity, remarks)."""
    return F.when(
        rule.fire_col(),
        F.struct(
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.severity).alias("severity"),
            rule.remark_col().cast("string").alias("remarks"),
        ),
    )


def annotate(df: DataFrame, rules: Sequence[Rule], out: str = "violations") -> DataFrame:
    """Add ``out: array<struct<rule_id,severity,remarks>>`` (empty = clean row).

    This is the whole rule catalog evaluated in one whole-stage-codegen
    projection — the Spark replacement for the reference's per-row loop
    (``streamlit_app.py:84-105``).
    """
    structs = [violation_struct(r) for r in rules]
    return df.withColumn(out, F.array_compact(F.array(*structs)))


def violations(
    df: DataFrame, rules: Sequence[Rule], entity_cols: Sequence[str]
) -> DataFrame:
    """Explode to one row per (entity, fired rule) — the violation table.

    Mirrors the reference's output records ``{'Vessel Name','Report Date',
    'Remarks'}`` (``streamlit_app.py:107-112``) generalized to arbitrary
    entity columns. Uses explode of a compacted array (UDTF-free expansion,
    SURVEY.md §2.9).
    """
    ann = annotate(df, rules, out="_v")
    return ann.select(*entity_cols, F.explode("_v").alias("_x")).select(
        *entity_cols, "_x.rule_id", "_x.severity", "_x.remarks"
    )


def verdicts(
    df: DataFrame, rules: Sequence[Rule], partition_col: str
) -> DataFrame:
    """Per-partition pass/fail + counts (BASELINE.json north_rule).

    One map-side-combinable aggregation — no second scan of the fact.
    """
    ann = annotate(df, rules, out="_v")
    return ann.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.size("_v")).alias("violation_count"),
        F.sum((F.size("_v") > 0).cast("long")).alias("violating_rows"),
        (F.sum(F.size("_v")) == 0).alias("passed"),
    )


def quarantine(
    df: DataFrame,
    rules: Sequence[Rule],
    quarantine_on: Sequence[str] = ("error",),
    out: str = "quarantine_reasons",
) -> tuple[DataFrame, DataFrame]:
    """The write-side of validation: split rows into (clean, quarantined).

    A row is quarantined iff ANY fired rule has a severity in
    ``quarantine_on`` (default: errors quarantine, warnings ride along).
    The quarantined frame carries ``out`` = the array of gating violation
    structs, so downstream repair/review sees WHY each row was held back;
    the clean frame drops the annotation entirely.

    Scale shape: ONE whole-stage-codegen projection (the same
    ``annotate`` pass validation itself runs) + two pure filters, no
    shuffle. The two outputs share the annotated LOGICAL subtree; actions
    are still independent jobs, so a caller writing both sides should
    persist/checkpoint the input (or write clean and bad in one job via
    a partitioned sink on the quarantine flag) to avoid paying the scan +
    rule evaluation twice.
    """
    if isinstance(quarantine_on, str):
        # a bare "error" would iterate as characters and silently gate
        # nothing — the exact failure mode a severity filter must not have
        raise TypeError("quarantine_on must be a sequence of severities, not a str")
    sev = [str(s) for s in quarantine_on]
    tmp = "__quarantine_ann"
    if out == tmp:
        raise ValueError(f"`out` may not be the reserved name {tmp!r}")
    for reserved in (tmp, out):
        if reserved in df.columns:
            raise ValueError(
                f"input already has a {reserved!r} column — pass a different "
                "`out` name (the annotation would silently clobber it)"
            )
    ann = annotate(df, rules, out=tmp)
    gating = F.filter(tmp, lambda v: v["severity"].isin(sev))
    ann = ann.withColumn(out, gating)
    clean = ann.where(F.size(out) == 0).drop(tmp, out)
    bad = ann.where(F.size(out) > 0).drop(tmp)
    return clean, bad
