"""Eager-pandas oracle reproducing the reference's analytic semantics
(process_aspep/assets.py:336-491) for parity testing of the Spark plans.

Uses the engine's canonical column names (``state_code`` instead of the
reference's ``state code``).  pct deltas follow LEGACY pandas
``pct_change`` exactly (default ``fill_method="pad"``): the series is
forward-filled before the ratio and a zero base yields ±inf, which then
participates in the pos/neg delta ranks — the engine's delta kernel
(``operators.windows.yoy_deltas_wide``, the only path of
``derive_extended_stats``) reproduces all of it, and the comparison layer
matches inf AGAINST inf (no null-coercion escape hatch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EXCLUDE = ["index", "state", "gov_function", "state_code", "region", "division", "state_scope", "year"]


def _stat_cols(df: pd.DataFrame) -> list[str]:
    return [c for c in df.columns if c not in EXCLUDE and pd.api.types.is_numeric_dtype(df[c])]


def legacy_pct_change(s: pd.Series, periods: int) -> pd.Series:
    """Legacy pandas ``s.pct_change(periods)`` (reference
    assets.py:443-444): ffill-padded numerator AND denominator, ±inf on a
    zero base kept; ``diff`` never pads."""
    filled = s.ffill()
    with np.errstate(divide="ignore", invalid="ignore"):
        return filled / filled.shift(periods) - 1


def derive_stats_oracle(combined: pd.DataFrame) -> pd.DataFrame:
    d = combined.copy()
    d["pay_per_fte"] = d["total_pay"].div(d["ft_eq_employment"].replace(0, np.nan))
    d["pay_per_pt_hour"] = d["pt_pay"].div(d["pt_hour"].replace(0, np.nan))
    d["pay_per_ft"] = d["ft_pay"].div(d["ft_employment"].replace(0, np.nan))
    d.replace([np.inf, -np.inf], np.nan, inplace=True)

    nonus = d[d["state_code"] != "US"]
    cols = _stat_cols(d)
    med = nonus.groupby(["year", "gov_function"])[cols].median().reset_index()
    avg = nonus.groupby(["year", "gov_function"])[cols].mean().reset_index()
    med.insert(0, "state_code", "US-median")
    med.insert(1, "state_scope", "stats")
    avg.insert(0, "state_code", "US-mean")
    avg.insert(1, "state_scope", "stats")
    return pd.concat([d, med, avg], ignore_index=True)


def derive_extended_stats_oracle(stats: pd.DataFrame) -> pd.DataFrame:
    data = stats.copy()
    cols = _stat_cols(data)
    frames = []
    for _, grp in data.groupby(["state_code", "gov_function"]):
        grp = grp.sort_values("year").copy()
        for c in cols:
            grp[f"{c}_1yr_pct"] = legacy_pct_change(grp[c], 1)
            grp[f"{c}_5yr_pct"] = legacy_pct_change(grp[c], 4)
            grp[f"{c}_1yr_abs"] = grp[c].diff(1)
            grp[f"{c}_5yr_abs"] = grp[c].diff(4)
        frames.append(grp)
    df = pd.concat(frames, ignore_index=True)

    suffixes = ("_1yr_pct", "_5yr_pct", "_1yr_abs", "_5yr_abs")
    delta_cols = [c for c in df.columns if c.endswith(suffixes)]
    keys = ["year", "gov_function"]
    for c in cols:
        df[f"{c}_rank"] = df.groupby(keys)[c].rank(method="min", ascending=False)
    for c in delta_cols:
        df[f"{c}_pos_rank"] = df.where(df[c] > 0).groupby(keys)[c].rank(method="min", ascending=False)
        df[f"{c}_neg_rank"] = df.where(df[c] < 0).groupby(keys)[c].rank(method="min", ascending=True)

    df = df[df.select_dtypes(include=[np.number]).abs().max(axis=1) > 1]
    return df
