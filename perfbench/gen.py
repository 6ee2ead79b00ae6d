"""Seeded input generators, one per workload.

Each generator writes the workload's inputs under ``out_dir`` and returns
a description of them: input sizes plus the properties that drive the
engine's behaviour.  The same seed gives the same inputs (a workbook's
zip entries carry the time it was written; its contents do not).  Ground
truth the checks need (never shown to the engine) goes to ``truth.json``.

Sizes are set by the benchmark's time budget -- 48 runs over its two
workloads within 57 minutes, and at most 180 s for a traced run, which
runs and checks the job twice -- not by what the engine can take; see
``FUNCTIONS`` for what the ASPEP size leaves out.
"""

from __future__ import annotations

import json
import os

import numpy as np

from aspep_etl_spark.maps import HEADER_WINDOWS
from tests.xlsx_fixture import xlsx_bytes

# --------------------------------------------------------------------------
# aspep_annual: the census manifest pages, one workbook per year, a census
# region dimension, and one announced workbook whose download fails.
# --------------------------------------------------------------------------

YEARS = range(2003, 2025)  # 2003-2023 legacy header-window layout, 2024 tidy
BROKEN_YEAR = 2025  # announced by the manifest; its download fails
TIDY_YEAR = 2024

# Census divisions: (region, division, state codes).
DIVISIONS = [
    ("Northeast", "New England", "CT ME MA NH RI VT"),
    ("Northeast", "Middle Atlantic", "NJ NY PA"),
    ("Midwest", "East North Central", "IL IN MI OH WI"),
    ("Midwest", "West North Central", "IA KS MN MO NE ND SD"),
    ("South", "South Atlantic", "DE FL GA MD NC SC VA WV"),
    ("South", "East South Central", "AL KY MS TN"),
    ("South", "West South Central", "AR LA OK TX"),
    ("West", "Mountain", "AZ CO ID MT NV NM UT WY"),
    ("West", "Pacific", "AK CA HI OR WA"),
]
_STATE_NAMES = """AK Alaska|AL Alabama|AR Arkansas|AZ Arizona|CA California|CO Colorado|
CT Connecticut|DE Delaware|FL Florida|GA Georgia|HI Hawaii|IA Iowa|ID Idaho|IL Illinois|
IN Indiana|KS Kansas|KY Kentucky|LA Louisiana|MA Massachusetts|MD Maryland|ME Maine|
MI Michigan|MN Minnesota|MO Missouri|MS Mississippi|MT Montana|NC North Carolina|
ND North Dakota|NE Nebraska|NH New Hampshire|NJ New Jersey|NM New Mexico|NV Nevada|
NY New York|OH Ohio|OK Oklahoma|OR Oregon|PA Pennsylvania|RI Rhode Island|
SC South Carolina|SD South Dakota|TN Tennessee|TX Texas|UT Utah|VA Virginia|VT Vermont|
WA Washington|WI Wisconsin|WV West Virginia|WY Wyoming"""
STATES = dict(
    cell.strip().split(" ", 1) for cell in _STATE_NAMES.replace("\n", "").split("|")
)

# Government functions as (legacy-era spelling, tidy-era spelling).  The
# engine must recode the legacy spelling to the canonical name, which is
# the tidy spelling lower-cased.  The census state workbooks carry about 23
# functions, about 26k fact rows over 22 years; these 4 give about 4.3k.
# On a 4-vCPU host, with 23 a cold job took 82 s and its check 42 s, so a
# traced run (two jobs, both checked) could not end within the 180 s a
# run is allowed; publishing and gzipping the artifacts were 75% of that
# job and are 52% of this one.
FUNCTIONS = [
    ("Correction", "Corrections"),
    ("Police-Arrest", "Police Protection - Persons with Power of Arrest"),
    ("Elem & Sec Instruction", "Education - Elementary and Secondary Instructional"),
    ("Higher Ed - Other", "Education - Higher Education Other"),
]


# Legacy header columns: three header-window rows per measure column.
# Before 2007 the survey had no part-time hours column and spelled
# measures "Employees"/"Pay".
_LEGACY_EARLY = [
    ("ft_employment", ("Full-Time", "Employees", None)),
    ("ft_pay", ("Full-Time", "Pay", "(whole dollars)")),
    ("pt_employment", ("Part-Time", "Employees", None)),
    ("pt_pay", ("Part-Time", "Pay", "(whole dollars)")),
    ("ft_eq_employment", ("Full-Time", "Equivalent Employment", None)),
    ("ft_pt_employment", ("Total Full-Time and", "Part-Time Employment", None)),
    ("total_pay", ("Total March", "Payroll", "(whole dollars)")),
]
_LEGACY_LATE = [
    ("ft_employment", ("Full-Time", "Employment", None)),
    ("ft_pay", ("Full-Time", "Payroll", "(whole dollars)")),
    ("pt_employment", ("Part-Time", "Employment", None)),
    ("pt_pay", ("Part-Time", "Payroll", "(whole dollars)")),
    ("pt_hour", ("Part-Time", "Hours", None)),
    ("ft_eq_employment", ("Full-Time", "Equivalent Employment", None)),
    ("ft_pt_employment", ("Total Full-Time and", "Part-Time Employment", None)),
    ("total_pay", ("Total", "Payroll", "(whole dollars)")),
]
_TIDY = [
    ("state", "Geographic Area Name"),
    ("gov_function", "Meaning of Aggregate Description"),
    ("ft_employment", "Full-Time Employment"),
    ("ft_pay", "Full-Time Payroll"),
    ("pt_employment", "Part-Time Employment"),
    ("pt_pay", "Part-Time Payroll"),
    ("pt_hours", "Part-Time Hours"),
    ("ft_eq_employment", "Full-Time Equivalent Employment"),
    ("ft_pt_employment", "Total Full-Time and Part-Time Employment"),
    ("total_pay", "Total Full-Time and Part-Time Payroll"),
]


def _measures(rng: np.random.Generator, us: bool) -> dict[str, float | None]:
    scale = 40.0 if us else 1.0
    ft = float(round(rng.lognormal(7.0, 0.8) * scale))
    pt = float(round(ft * rng.uniform(0.05, 0.4)))
    ft_pay = float(round(ft * rng.normal(5200, 900)))
    pt_pay = float(round(pt * rng.normal(1500, 300)))
    m = {
        "ft_employment": ft,
        "ft_pay": ft_pay,
        "pt_employment": pt,
        "pt_pay": pt_pay,
        "pt_hour": float(round(pt * rng.uniform(30, 90))),
        "ft_eq_employment": float(round(ft + 0.35 * pt)),
        "ft_pt_employment": ft + pt,
        "total_pay": ft_pay + pt_pay,
    }
    for k in m:
        u = rng.random()
        if u < 0.01:
            m[k] = 0.0  # exercises the division guards
        elif u < 0.02:
            m[k] = None  # empty cell
    return m


def _legacy_grid(rng, year: int, rows: list[tuple[str, str, dict]]) -> list[list]:
    start, end = HEADER_WINDOWS[year]
    layout = _LEGACY_EARLY if year < 2007 else _LEGACY_LATE
    width = 2 + len(layout) + 1  # trailing all-empty column, dropped by the adapter
    grid: list[list] = [[None] * width for _ in range(start)]
    grid[0][0] = f"STATE GOVERNMENT EMPLOYMENT AND PAYROLL DATA: MARCH {year}"
    if start > 2:
        grid[2][0] = "Source: U.S. Census Bureau, Annual Survey of Public Employment & Payroll"
    for level in range(3):
        row = [None] * width
        for i, (_, header) in enumerate(layout):
            row[2 + i] = header[level]
        grid.append(row)
    # The last header-window row carries key labels; the reference slice
    # keeps it as a data row (one pseudo-row per legacy year).
    grid[end][0], grid[end][1] = "State Name", "Function"
    for state, fn, m in rows:
        pad = " " * int(rng.integers(0, 3))
        grid.append([state + pad, fn] + [m[c] for c, _ in layout] + [None])
    return grid


def _dirty(v: float | None) -> str:
    return "N/A" if v is None else f"{int(v):,}"


def gen_aspep(out_dir: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    for sub in ("pages", "workbooks"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    truth: list[dict] = []
    layout_bytes = {"legacy": 0, "tidy": 0}
    for year in YEARS:
        rows = []
        for code, name in list(STATES.items()) + [("US", "United States")]:
            for legacy_fn, tidy_fn in FUNCTIONS:
                if code != "US" and rng.random() < 0.03:
                    continue  # gap year for this cohort
                m = _measures(rng, code == "US")
                if year == TIDY_YEAR:
                    m["pt_hours"], m["pt_hour"] = m["pt_hour"], None
                else:
                    m["pt_hours"] = None
                    if year < 2007:
                        m["pt_hour"] = None
                rows.append((name, legacy_fn if year != TIDY_YEAR else tidy_fn, m))
                truth.append({"state_code": code, "gov_function": tidy_fn.lower(), "year": year, **m})
        if year == TIDY_YEAR:
            header = [h for _, h in _TIDY] + ["Unmapped API Field"]
            grid = [header] + [
                [name, fn] + [_dirty(m[c]) for c, _ in _TIDY[2:]] + ["x"]
                for name, fn, m in rows
            ]
            data, layout = xlsx_bytes(grid, sheet_name="Data"), "tidy"
        else:
            data, layout = xlsx_bytes(_legacy_grid(rng, year, rows), sheet_name="Sheet1"), "legacy"
        layout_bytes[layout] += len(data)
        with open(os.path.join(out_dir, "workbooks", f"{year}_state.xlsx"), "wb") as f:
            f.write(data)
    for year in list(YEARS) + [BROKEN_YEAR]:
        url = f"https://www2.census.gov/programs-surveys/apes/datasets/{year}/{year}_state.xlsx"
        html = (
            "<html><body><h1>Annual Survey of Public Employment &amp; Payroll</h1>"
            f'<a href="https://www.census.gov/{year}/local.xlsx">Local Government Employment</a>'
            f'<a href="{url}">State Government Employment &amp; Payroll Data</a>'
            "</body></html>"
        )
        with open(os.path.join(out_dir, "pages", f"{year}.html"), "w") as f:
            f.write(html)
    with open(os.path.join(out_dir, "census_regions.csv"), "w") as f:
        f.write("State,State Code,Region,Division\n")
        for region, division, codes in DIVISIONS:
            for code in codes.split():
                f.write(f"{STATES[code]},{code},{region},{division}\n")
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {
        "workbooks": len(YEARS),
        "legacy_workbook_bytes": layout_bytes["legacy"],
        "tidy_workbook_bytes": layout_bytes["tidy"],
        "fact_rows": len(truth),
        "functions": len(FUNCTIONS),
        "planted_bad_downloads": 1,
        "input_bytes": layout_bytes["legacy"] + layout_bytes["tidy"],
    }


# --------------------------------------------------------------------------
# stream_mv: an event log replayed as micro-batches.
# --------------------------------------------------------------------------

EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "error", "search"]
N_EVENTS, SHARDS, DAYS = 40_000, 20, 21


def gen_stream(out_dir: str, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, DAYS * 86_400_000_000, size=N_EVENTS))
    table = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, size=N_EVENTS), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, size=N_EVENTS, p=[0.4, 0.25, 0.12, 0.08, 0.05, 0.1]),
            "value": np.round(rng.lognormal(1.5, 1.0, size=N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
        }
    )
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path)
    return {
        "events": N_EVENTS,
        "shards": SHARDS,
        "rows_per_batch": N_EVENTS // SHARDS,
        "days": DAYS,
        "input_bytes": os.path.getsize(path),
    }


GENERATORS = {"aspep_annual": gen_aspep, "stream_mv": gen_stream}
