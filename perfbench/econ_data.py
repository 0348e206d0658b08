"""Seeded, Eurostat-shaped raw extracts for the ``econ_dag`` workload.

Shapes follow FIXTURES.md section 1. Geo codes are the 10
``country_metadata`` seed codes, so every fact row has a ``dim_country``
parent. ``raw_gdp`` and ``raw_population`` also carry ``EU27_2020`` rows
whose GDP lies within 3% of the member sum, so the singular
``assert_eu_aggregate_consistency`` test passes. A few rows exercise the
staging filters: NULL values, malformed monthly ``time_code`` values and
one 0 population.

Each raw source is a directory of parquet part files. A cycle appends
one month to the monthly tables as a new part file and rewrites
``raw_gdp`` with a few revised values, so ``snap_gdp_history`` closes
and opens SCD2 versions.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

GEOS = ("DE", "FR", "IT", "ES", "NL", "PL", "SE", "AT", "NO", "CH")
EU = "EU27_2020"
FIRST_YEAR, LAST_YEAR = 2010, 2023
EXTRACTED_AT = dt.datetime(2024, 2, 1)

_GDP_COLS = (
    "dataset_code", "value", "extracted_at", "freq_code", "freq_label",
    "unit_code", "unit_label", "na_item_code", "na_item_label",
    "geo_code", "geo_label", "time_code", "time_label",
)
_UNEMP_COLS = (
    "dataset_code", "value", "extracted_at", "freq_code", "freq_label",
    "s_adj_code", "s_adj_label", "age_code", "age_label", "unit_code",
    "unit_label", "sex_code", "sex_label", "geo_code", "geo_label",
    "time_code", "time_label",
)
_INFL_COLS = (
    "dataset_code", "value", "extracted_at", "freq_code", "freq_label",
    "coicop_code", "coicop_label", "geo_code", "geo_label", "time_code",
    "time_label",
)
_POP_COLS = (
    "dataset_code", "value", "extracted_at", "freq_code", "freq_label",
    "sex_code", "sex_label", "age_code", "age_label", "geo_code",
    "geo_label", "time_code", "time_label",
)


def _table(cols, rows) -> pa.Table:
    fields = [
        pa.field(c, pa.float64() if c == "value" else
                 pa.timestamp("us") if c == "extracted_at" else pa.string())
        for c in cols
    ]
    return pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], pa.schema(fields))


def _gdp_row(geo, year, value):
    return ("nama_10_gdp", value, EXTRACTED_AT, "A", "Annual", "CP_MEUR",
            "Current prices, million euro", "B1GQ", "Gross domestic product",
            geo, geo, str(year), str(year))


def _unemp_row(geo, code, value):
    return ("une_rt_m", value, EXTRACTED_AT, "M", "Monthly", "SA",
            "Seasonally adjusted", "TOTAL", "Total", "PC_ACT",
            "Percentage of population in the labour force", "T", "Total",
            geo, geo, code, code)


def _infl_row(geo, code, value):
    return ("prc_hicp_mmor", value, EXTRACTED_AT, "M", "Monthly", "CP00",
            "All-items HICP", geo, geo, code, code)


def _pop_row(geo, year, value):
    return ("demo_pjan", value, EXTRACTED_AT, "A", "Annual", "T", "Total",
            "TOTAL", "Total", geo, geo, str(year), str(year))


def _month_code(index: int) -> str:
    """Month ``index`` counted from January of FIRST_YEAR."""
    return f"{FIRST_YEAR + index // 12}-{index % 12 + 1:02d}"


class RawExtracts:
    """The raw source tables of one ``econ_dag`` run, all drawn from one
    seeded RNG. ``write_initial`` lays down the full history; each
    ``advance`` call is one incremental cycle's worth of new data."""

    def __init__(self, raw_dir: str, seed: int):
        self.raw_dir = raw_dir
        self.geos = GEOS
        self.rng = random.Random(seed)
        self.months = (LAST_YEAR - FIRST_YEAR + 1) * 12
        self.part = 0
        rng = self.rng
        self.gdp_base = {g: rng.uniform(2e4, 4e6) for g in GEOS}
        self.unemp_base = {g: rng.uniform(2.5, 14.0) for g in GEOS}
        self.gdp = {
            (g, y): round(self.gdp_base[g] * (1.02 ** (y - FIRST_YEAR))
                          * rng.uniform(0.97, 1.03), 1)
            for g in GEOS for y in range(FIRST_YEAR, LAST_YEAR + 1)
        }
        # a couple of NULL GDP observations: staging must drop them
        self.gdp_nulls = {(rng.choice(GEOS), rng.randint(FIRST_YEAR, LAST_YEAR))
                          for _ in range(2)}
        self.eu_factor = {y: rng.uniform(0.97, 1.03)
                          for y in range(FIRST_YEAR, LAST_YEAR + 1)}

    def _write(self, name: str, table: pa.Table, *, replace: bool) -> None:
        out = os.path.join(self.raw_dir, f"{name}.parquet")
        if replace and os.path.isdir(out):
            for f in os.listdir(out):
                os.remove(os.path.join(out, f))
        os.makedirs(out, exist_ok=True)
        self.part += 1
        pq.write_table(table, os.path.join(out, f"part-{self.part:05d}.parquet"))

    def _gdp_values(self) -> dict:
        """Every non-NULL GDP observation, the EU27_2020 aggregate included."""
        values = {k: v for k, v in self.gdp.items() if k not in self.gdp_nulls}
        for y in range(FIRST_YEAR, LAST_YEAR + 1):
            members = sum(v for (_, yy), v in values.items() if yy == y)
            values[(EU, y)] = round(members * self.eu_factor[y], 1)
        return values

    def gdp_keys(self) -> int:
        """Rows of a fresh ``snap_gdp_history``: one per non-NULL GDP key."""
        return len(self._gdp_values())

    def _gdp_table(self) -> pa.Table:
        values = self._gdp_values()
        rows = [_gdp_row(g, y, values.get((g, y))) for (g, y) in sorted(self.gdp)]
        rows += [_gdp_row(EU, y, values[(EU, y)]) for y in range(FIRST_YEAR, LAST_YEAR + 1)]
        return _table(_GDP_COLS, rows)

    def _monthly_rows(self, first: int, last: int):
        rng = self.rng
        unemp, infl = [], []
        for m in range(first, last):
            code = _month_code(m)
            for g in GEOS:
                u = self.unemp_base[g] + rng.uniform(-0.8, 0.8)
                unemp.append(_unemp_row(g, code, round(u, 1)))
                spike = 3.0 if rng.random() < 0.01 else 0.0
                infl.append(_infl_row(g, code, round(rng.uniform(-0.5, 1.2) + spike, 2)))
        return unemp, infl

    def write_initial(self) -> None:
        rng = self.rng
        unemp, infl = self._monthly_rows(0, self.months)
        # NULL values and malformed (length < 7) monthly codes: the
        # staging models drop both
        for _ in range(3):
            g = rng.choice(GEOS)
            unemp.append(_unemp_row(g, str(rng.randint(FIRST_YEAR, LAST_YEAR)), 7.7))
            infl.append(_infl_row(g, f"{rng.randint(FIRST_YEAR, LAST_YEAR)}-M", 0.3))
        unemp.append(_unemp_row(rng.choice(GEOS), "1999-01", None))
        infl.append(_infl_row(rng.choice(GEOS), "1999-01", None))
        pop = []
        zero = (rng.choice(GEOS), rng.randint(FIRST_YEAR, LAST_YEAR))
        for g in GEOS:
            base = rng.uniform(5e5, 8.5e7)
            for y in range(FIRST_YEAR, LAST_YEAR + 1):
                v = 0.0 if (g, y) == zero else round(base * (1.003 ** (y - FIRST_YEAR)))
                pop.append(_pop_row(g, y, float(v)))
        for y in range(FIRST_YEAR, LAST_YEAR + 1):
            pop.append(_pop_row(EU, y, 4.47e8 + (y - FIRST_YEAR) * 1e5))
        self._write("raw_gdp", self._gdp_table(), replace=True)
        self._write("raw_unemployment", _table(_UNEMP_COLS, unemp), replace=True)
        self._write("raw_inflation", _table(_INFL_COLS, infl), replace=True)
        self._write("raw_population", _table(_POP_COLS, pop), replace=True)

    def advance(self, revisions: int = 3) -> int:
        """Append the next month and revise ``revisions`` member GDP
        values. Returns how many GDP keys changed value (the revised
        members and the EU27_2020 years they move): each one closes an
        SCD2 version of ``snap_gdp_history`` and opens a new one."""
        unemp, infl = self._monthly_rows(self.months, self.months + 1)
        self.months += 1
        self._write("raw_unemployment", _table(_UNEMP_COLS, unemp), replace=False)
        self._write("raw_inflation", _table(_INFL_COLS, infl), replace=False)
        before = self._gdp_values()
        keys = sorted(k for k in self.gdp if k not in self.gdp_nulls)
        for key in self.rng.sample(keys, revisions):
            step = self.rng.uniform(0.002, 0.005) * self.rng.choice((-1, 1))
            self.gdp[key] = round(self.gdp[key] * (1 + step), 1)
        self._write("raw_gdp", self._gdp_table(), replace=True)
        after = self._gdp_values()
        return sum(before[k] != after[k] for k in after)
