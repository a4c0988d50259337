"""Independent reference reads for checking the program's results.

The reference's handler is eager pandas: load a table, filter, sort.
These helpers do exactly that with pyarrow and pandas over the same
Parquet files the handler reads, so every handler result can be checked
without going through Spark. They also digest ingest outputs and make
the seeded document corpus for the curation loop.
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

META_TABLES = {"assets_master", "universe_sp500", "trading_calendar"}
DATE_COLS = {
    "prices_daily": ["date"],
    "returns_daily": ["date"],
    "returns_monthly": ["date"],
    "fundamentals_quarterly": ["report_date"],
    "analyst_consensus": ["date"],
    "analyst_ratings_history": ["date", "statistic_date"],
    "macro_timeseries": ["date"],
    "style_factor_returns": ["date"],
    "benchmarks": ["date"],
    "risk_free": ["date"],
    "sp500_membership": ["date"],
    "dividends_monthly": ["date"],
    "assets_master": ["first_date", "last_date", "ipodate"],
    "universe_sp500": ["date"],
    "trading_calendar": ["date"],
}
TABLES = sorted(DATE_COLS)


def table_path(root: Path, table: str) -> Path:
    sub = "data_meta" if table in META_TABLES else "data_processed"
    return root / sub / f"{table}.parquet"


def read_table(root: Path, table: str) -> pd.DataFrame:
    """One dataset as pandas, date columns as datetime64[ns]; the
    ``year`` partition column of the partitioned layout is dropped."""
    df = pq.read_table(str(table_path(root, table))).to_pandas()
    if "year" in df.columns:
        df = df.drop(columns="year")
    for c in DATE_COLS[table]:
        if c in df.columns:
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
    return df


def digest(df: pd.DataFrame) -> str:
    """Order-independent content digest of a frame."""
    cols = sorted(df.columns)
    canon = df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(",".join(cols).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


# ----------------------------------------------------------- handler reads


class ReferenceHandler:
    """Eager pandas twin of ``LocalParquetDataHandler``'s getters."""

    def __init__(self, root: Path, field_map: dict[str, dict[str, str]]):
        self.root = root
        self.field_map = field_map
        self.tables: dict[str, pd.DataFrame] = {}
        assets = read_table(root, "assets_master")
        self.ids = dict(zip(assets["ticker"], assets["asset_id"]))

    def reload(self, *tables: str) -> None:
        for t in tables:
            self.tables.pop(t, None)

    def _t(self, table: str) -> pd.DataFrame:
        if table not in self.tables:
            self.tables[table] = read_table(self.root, table)
        return self.tables[table]

    @staticmethod
    def _dates(df, start, end, col="date"):
        if start:
            df = df[df[col] >= pd.Timestamp(start)]
        if end:
            df = df[df[col] <= pd.Timestamp(end)]
        return df

    def _panel(self, table, tickers, start, end, fields=None, date_col="date"):
        df = self._t(table)
        if tickers:
            df = df[df["asset_id"].isin([self.ids[t] for t in tickers])]
        df = self._dates(df, start, end, date_col)
        if fields:
            df = df[list(dict.fromkeys(["date", "asset_id", "ticker"] + fields))]
        return df

    def get_prices(self, tickers, start=None, end=None, fields=None):
        return self._panel("prices_daily", tickers, start, end, fields)

    def get_returns(self, tickers, start=None, end=None):
        return self._panel("returns_daily", tickers, start, end)

    def get_fundamentals(self, tickers, start=None, end=None):
        df = self._panel("fundamentals_quarterly", tickers, start, end, date_col="report_date")
        mapping = {k: v for k, v in self.field_map.get("fundamentals", {}).items() if k in df.columns}
        return df.rename(columns=mapping)

    def get_analyst_consensus(self, tickers, start=None, end=None, fields=None):
        return self._panel("analyst_consensus", tickers, start, end, fields)

    def get_analyst_ratings_history(self, tickers, start=None, end=None, fields=None):
        return self._panel("analyst_ratings_history", tickers, start, end, fields)

    def get_universe(self, date=None):
        df = self._t("universe_sp500")
        return df[df["date"] == pd.Timestamp(date)] if date else df

    def get_macro(self, start=None, end=None):
        return self._dates(self._t("macro_timeseries"), start, end)

    def get_style_factor_returns(self, start=None, end=None):
        return self._dates(self._t("style_factor_returns"), start, end)

    def get_benchmark_returns(self, benchmark, start=None, end=None):
        df = self._t("benchmarks")
        return self._dates(df[df["benchmark_name"] == benchmark], start, end)

    def get_prices_with_returns(self, tickers, start=None, end=None):
        prices = self._t("prices_daily")
        returns = self._t("returns_daily")[["asset_id", "date", "ret_1d"]]
        joined = prices.merge(returns, on=["asset_id", "date"], how="left")
        rest = [c for c in prices.columns if c not in ("asset_id", "date")]
        joined = joined[["asset_id", "date", *rest, "ret_1d"]]
        if tickers:
            joined = joined[joined["asset_id"].isin([self.ids[t] for t in tickers])]
        return self._dates(joined, start, end)


def _column_equal(a: pd.Series, b: pd.Series) -> bool:
    if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
        a = pd.to_datetime(a).astype("datetime64[ns]")
        b = pd.to_datetime(b).astype("datetime64[ns]")
        return bool(((a == b) | (a.isna() & b.isna())).all())
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b) and not (
        pd.api.types.is_bool_dtype(a) or pd.api.types.is_bool_dtype(b)
    ):
        return bool(np.array_equal(a.to_numpy(float), b.to_numpy(float), equal_nan=True))
    a, b = a.astype(object), b.astype(object)
    return bool(((a == b) | (a.isna() & b.isna())).all())


def compare(got: pd.DataFrame, want: pd.DataFrame, sort_keys: list[str]) -> list[str]:
    """Problems with ``got`` against the reference ``want``: same
    columns in the same order, same rows, sorted on ``sort_keys``."""
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    problems = []
    if sort_keys and len(got) > 1:
        keys = got[sort_keys].reset_index(drop=True)
        ordered = keys.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
        if not keys.equals(ordered):
            problems.append(f"not sorted on {sort_keys}")
    cols = list(want.columns)
    g = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(cols, kind="mergesort").reset_index(drop=True)
    problems += [f"column {c} differs" for c in cols if not _column_equal(g[c], w[c])]
    return problems


# -------------------------------------------------------- curation corpus

_WORDS = (
    "a the data spark stream batch query table column row key value hash "
    "join sort merge filter group agg window scan part line order customer "
    "vector small big fast slow"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def make_documents(n: int, seed: int) -> pd.DataFrame:
    """A seeded corpus shaped like the registry's ``documents`` table:
    bag-of-words texts of 8-100 words over a 31-word vocabulary, five
    languages, twenty sources, and about 0.5% exact duplicate texts."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.005:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 100))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
