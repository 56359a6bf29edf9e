"""Pandas transcription of the reference validators' per-row semantics —
the independent oracle for rule-parity tests (SURVEY.md §5.1).

This is a fresh reimplementation of the *behavior* documented in SURVEY.md
§2.7 (per-row, intentionally naive — test-scale only). Two documented
divergences from the literal reference code, matching our engine:

1. lag windows are per-vessel (the reference's ``shift()`` crosses vessel
   boundaries and its batch slicing skips cross-batch pairs);
2. ME-EXPECT is live (the reference gates it on ``isinstance(coeffs, dict)``
   but passes a pandas Series at the call site, ``streamlit_app.py:76``,
   making the physics check dead code — we validate the intended semantics).

The span-rule and SimHash oracles at the end check the engine's JVM paths
(``engine/spans.py`` higher-order functions, ``operators/dedup.py``
``simhash_signatures``) against independent per-row Python.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from datavalidation_spark.datagen import KINDS

AT_SEA = "NOON AT SEA"
MANEUVERING = "END OF SEA PASSAGE"
IN_PORT = "NOON AT PORT"
FUEL_TYPES = ["HSFO", "LSMGO", "ULSFO", "VLSFO", "MDO", "LNG"]


def _in_range(v, lo, hi):
    return lo <= v <= hi if pd.notna(v) else False


def _within_pct(v, ref, lo, hi):
    if pd.isna(v) or pd.isna(ref):
        return False
    return ref * lo <= v <= ref * hi


def _power_max(p, h, factor):
    return (factor * p) * h / 1e6 if pd.notna(p) and pd.notna(h) and p > 0 else None


def me_trailing_avg(vessel_df: pd.DataFrame, load_type) -> float | None:
    rel = vessel_df[vessel_df["load_type"] == load_type].dropna(
        subset=["actual_me_consumption"]
    )
    rel = rel.sort_values("reportdate").tail(30)
    if len(rel) >= 10:
        tc = rel["actual_me_consumption"].sum()
        th = rel["steaming_time_hrs"].sum()
        if th > 0:
            return tc / th
    return None


def ae_trailing_avg(vessel_df: pd.DataFrame) -> float | None:
    rel = vessel_df.sort_values("reportdate").tail(30)
    if len(rel) >= 10:
        tc = rel["aux_engine_consumption"].sum()
        th = rel["total_ae_running_hours"].sum()
        if th > 0:
            return tc / th
    return None


def oracle_me(row, vessel_df, vessel_type, coeffs, hull_factor) -> list[str]:
    out = []
    c = row["actual_me_consumption"]
    if pd.notna(c):
        if not _in_range(c, 0, 50):
            out.append("ME Consumption out of range")
        mx = _power_max(row["actual_me_power"], row["steaming_time_hrs"], 250)
        if mx and c > mx:
            out.append("ME Consumption too high for the Reported power")
        rpm = row["me_rpm"]
        if pd.notna(rpm) and rpm > 0 and c == 0:
            out.append("ME Consumption cannot be zero when underway")
        limit = 300 if vessel_type == "CONTAINER" else 50
        if c > limit:
            out.append(f"ME Consumption too high for {vessel_type} vessel")
        avg = me_trailing_avg(vessel_df, row["load_type"])
        if avg is not None and not _within_pct(c, avg, 0.8, 1.2):
            out.append(
                f"ME Consumption outside typical range of {row['load_type']} condition"
            )
        sh = row["steaming_time_hrs"]
        if coeffs is not None and pd.notna(sh) and sh > 0:
            v, d = row["observed_speed"], row["displacement"]
            # v*v (not v**2): bit-identical with the engine's Column expr
            expected = (
                coeffs["consp_speed1"] * v
                + coeffs["consp_disp1"] * d
                + coeffs["consp_speed2"] * (v * v)
                + coeffs["consp_disp2"] * (d * d)
                + coeffs["consp_intercept"]
            ) * hull_factor
            if not _within_pct(c, expected, 0.8, 1.2):
                out.append(
                    "ME Consumption not aligned with speed consumption table (including hull performance)"
                )
    else:
        out.append("ME Consumption data is missing")
    if pd.notna(c) and c < 0:
        out.append("ME Consumption cannot be negative")
    return out


def oracle_ae(row, vessel_df) -> list[str]:
    out = []
    c = row["aux_engine_consumption"]
    if pd.notna(c):
        if not _in_range(c, 0, 50):
            out.append("AE Consumption out of range")
        mx = _power_max(row["avg_ae_power"], row["total_ae_running_hours"], 300)
        if mx and c > mx:
            out.append("AE Consumption too high for the Reported power")
        p = row["avg_ae_power"]
        if pd.notna(p) and p > 0 and c == 0:
            out.append("AE Consumption cannot be zero when generating power")
        avg = ae_trailing_avg(vessel_df)
        if avg is not None and not _within_pct(c, avg, 0.8, 1.2):
            out.append("AE Consumption outside typical range")
        if c == 0:
            out.append("Total AE Consumption cannot be zero without Shaft Generator")
    else:
        out.append("AE Consumption data is missing")
    if pd.notna(c) and c < 0:
        out.append("AE Consumption cannot be negative")
    return out


def oracle_boiler(row, mcr) -> list[str]:
    out = []
    c = row["boiler_consumption"]
    if pd.notna(c):
        if not _in_range(c, 0, 100):
            out.append("Boiler Consumption out of range")
        if c < 0:
            out.append(
                "Boiler Consumption cannot be less than Cargo Heating Consumption"
            )
        if row["event"] == AT_SEA and pd.notna(mcr):
            p = row["actual_me_power"]
            load = (p * 100) / mcr if pd.notna(p) and pd.notna(mcr) and mcr != 0 else None
            if load is not None and load > 40 and c > 0:
                out.append(
                    "Warning: Boiler Consumption expected to be zero at high ME Load during sea passage"
                )
    else:
        out.append("Boiler Consumption data is missing")
    return out


def oracle_speed(row, vessel_type) -> list[str]:
    out = []
    status = row["event"]
    speed = row["observed_speed"]
    if status != AT_SEA and pd.isna(speed):
        return []
    if pd.notna(speed):
        if speed < 0:
            out.append("Observed Speed cannot be negative")
        if status == AT_SEA and speed <= 5:
            out.append("Unusually low speed for sea passage")
        elif status == MANEUVERING and not _in_range(speed, 2, 5):
            out.append("Unusual speed for maneuvering")
        elif status == IN_PORT and speed != 0:
            out.append("Speed should be zero when in port")
        if vessel_type == "container" and speed > 35:
            out.append("Speed too high for container vessel")
        elif vessel_type != "container" and speed > 20:
            out.append("Speed too high for non-container vessel")
        hours, dist = row["steaming_time_hrs"], row["observed_distance"]
        if pd.notna(hours) and pd.notna(dist):
            if hours == 0:
                if dist != 0:
                    out.append(
                        "Observed distance is non-zero but steaming hours is zero"
                    )
                expected = 0
            else:
                expected = dist / hours
            if expected != 0:
                ratio = speed / expected
                if not _in_range(ratio, 0.9, 1.1):
                    out.append("Observed Speed not aligned with distance and time")
        if speed > 0:
            if (
                row["me_rpm"] == 0
                or row["steaming_time_hrs"] == 0
                or row["actual_me_consumption"] == 0
            ):
                out.append(
                    "Inconsistent data: Speed > 0 but engine parameters indicate no movement"
                )
    else:
        if status == AT_SEA:
            out.append("Speed data is missing for NOON AT SEA event")
    return out


def oracle_slip(row) -> list[str]:
    out = []
    slip = row["slip_pct"]
    if pd.notna(slip):
        if not _in_range(slip, -50, 50):
            out.append(
                "ValidationError: Slip percentage out of typical range (-50 to 50)"
            )
        if row["event"] != AT_SEA:
            out.append(
                "ValidationError: Slip should only be calculated during sea passage"
            )
        if slip > 30:
            out.append(
                "Warning: High slip percentage. Check Observed Distance and Engine Distance"
            )
    else:
        out.append("ValidationError: Slip percentage is missing")
    obs, eng = row["observed_distance"], row["engine_distance"]
    if pd.notna(obs) and pd.notna(eng):
        if obs <= 0 or eng <= 0:
            out.append(
                "ValidationError: Observed or Engine Distance should be greater than zero"
            )
        elif eng < obs:
            out.append(
                "ValidationError: Engine Distance is less than Observed Distance"
            )
    return out


def oracle_perf_summary(tables: dict[str, pd.DataFrame]) -> set[tuple]:
    """Full per-row sweep over the perf summary — returns the violation set
    {(vessel, date_iso, remark)} across ME/AE/boiler/speed/slip families."""
    perf = tables["vessel_performance_summary"]
    particulars = tables["vessel_particulars"]
    coefficients = tables["vessel_performance_coefficients"]
    hull = tables["hull_performance_six_months"]
    machinery = tables["machinery_particulars"]

    merged = perf.merge(particulars, on="vessel_name", how="left")
    results: set[tuple] = set()
    for vessel, vdf in merged.groupby("vessel_name"):
        vt_me = vdf["vessel_type"].iloc[0]
        vt_speed_rows = particulars[particulars["vessel_name"] == vessel]
        vt_speed = vt_speed_rows["vessel_type"].iloc[0] if not vt_speed_rows.empty else "unknown"
        crow = coefficients[coefficients["vessel_name"] == vessel]
        coeffs = crow.iloc[0] if not crow.empty else None
        hrow = hull[hull["vessel_name"] == vessel]
        hull_pct = hrow["hull_rough_power_loss_pct_ed"].iloc[0] if not hrow.empty else 0
        hull_factor = 1 + hull_pct / 100
        mrow = machinery[machinery["Vessel_Name"] == vessel]
        mcr = None
        if not mrow.empty:
            raw = mrow["ME_1_MCR_kW"].iloc[0]
            mcr = float(raw) if raw not in ("", None) and pd.notna(raw) else None
        for _, row in vdf.iterrows():
            remarks = (
                oracle_me(row, vdf, vt_me, coeffs, hull_factor)
                + oracle_ae(row, vdf)
                + oracle_boiler(row, mcr)
                + oracle_speed(row, vt_speed)
                + oracle_slip(row)
            )
            for r in remarks:
                results.add((vessel, row["reportdate"].isoformat(), r))
    return results


def oracle_distance(logs: pd.DataFrame) -> set[tuple]:
    """Distance checks with per-vessel lag (documented divergence #1)."""
    results: set[tuple] = set()
    for vessel, vdf in logs.groupby("VESSEL_NAME"):
        vdf = vdf.sort_values("REPORT_DATE")
        lat1 = np.radians(vdf["LATITUDE"].shift())
        lon1 = np.radians(vdf["LONGITUDE"].shift())
        lat2 = np.radians(vdf["LATITUDE"])
        lon2 = np.radians(vdf["LONGITUDE"])
        dlat, dlon = lat2 - lat1, lon2 - lon1
        a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
        calc = 6371 * 2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))
        obs = vdf["OBSERVERD_DISTANCE"]
        steaming = vdf["STEAMING_TIME_HRS"]
        masks = {
            "Observed Distance is negative": obs < 0,
            "Observed Distance too high": obs > 500,
            "Observed Distance is zero when steaming": (obs == 0) & (steaming > 0),
            "Observed Distance not aligned with calculated distance": ~(
                (0.9 * calc <= obs) & (obs <= 1.1 * calc)
            ),
        }
        for remark, mask in masks.items():
            # pandas comparisons with NaN yield False, so the ~ alignment mask
            # fires on NaN calc — matching the reference (and our nv() wrap)
            for _, row in vdf[mask].iterrows():
                results.add((vessel, row["REPORT_DATE"].isoformat(), remark))
    return results


def oracle_fuel_rob(logs: pd.DataFrame) -> set[tuple]:
    """ROB balance per vessel, full series (no batch resets — divergence #1)."""

    def safe_float(v):
        try:
            return float(v)
        except (ValueError, TypeError):
            return 0.0

    numeric = logs.select_dtypes(include=["float64", "int64"]).columns
    logs = logs.copy()
    logs[numeric] = logs[numeric].fillna(0)

    results: set[tuple] = set()
    for vessel, vdf in logs.groupby("VESSEL_NAME"):
        vdf = vdf.sort_values("REPORT_DATE")
        for i in range(1, len(vdf)):
            cur, prev = vdf.iloc[i], vdf.iloc[i - 1]
            for fuel in FUEL_TYPES:
                rob = round(safe_float(cur[f"ROB_{fuel}"]), 2)
                calc = round(
                    safe_float(prev[f"ROB_{fuel}"])
                    + safe_float(cur[f"BUNKERED_QTY_{fuel}"])
                    - safe_float(cur[f"TOTAL_CONSUMPTION_{fuel}"]),
                    2,
                )
                if calc != rob:
                    results.add(
                        (
                            vessel,
                            cur["REPORT_DATE"].isoformat(),
                            f"{fuel} ROB validation failed. Calculated: {calc:.2f}, "
                            f"Actual: {rob:.2f}, Difference: {abs(rob - calc):.2f}",
                        )
                    )
    return results


# ---------------------------------------------------------------------------
# Span rules: Arrow pandas UDF, parity oracle for the HOF rules in spans.py.
# ---------------------------------------------------------------------------


@F.pandas_udf(ArrayType(StringType()))
def span_violations_pandas(spans: pd.Series) -> pd.Series:
    """Return the list of fired span-rule ids per document.

    Arrow hands the list<struct> column over as a Series of numpy arrays of
    dicts; the loop is per-document over an Arrow batch (vectorized transport,
    ~10k docs per invocation) — this is the reference's per-row semantics run
    batch-at-a-time, used as the independent oracle in tests.
    """
    kinds_ok = set(KINDS)

    def check(doc) -> list[str]:
        fired: list[str] = []
        if doc is None or len(doc) == 0:
            return ["DOC-EMPTY"]
        kinds = [s["kind"] for s in doc]
        offsets = [s["offset"] for s in doc]
        if any(k is None or k not in kinds_ok for k in kinds):
            fired.append("SPAN-KIND-ENUM")
        mono = all(
            a is not None and b is not None and b > a
            for a, b in zip(offsets, offsets[1:])
        ) and all(o is not None for o in offsets)
        if not mono:
            fired.append("SPAN-OFFSET-MONO")
        broken = any(
            (s["kind"] == "text" and (s["text"] is None or s["media_ref"] is not None))
            or (s["kind"] != "text" and (s["media_ref"] is None or s["text"] is not None))
            for s in doc
        )
        if broken:
            fired.append("SPAN-MUTEX")
        return fired

    return spans.apply(check)


def simhash64_py(toks: list[str] | None) -> int:
    """Python reference for the md5-family SimHash of ``simhash_signatures``.

    64-bit token hash = first 16 hex chars of md5(token), big-endian; per-bit
    votes Σ(2·bit−1) over the token stream (repeats weighted); signature bit
    set iff votes > 0."""
    if not toks:
        return 0
    votes = [0] * 64
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if votes[b] > 0:
            sig |= 1 << b
    # store as signed 64-bit (two's complement) to match Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig
