"""Handler query tests — ported from the reference suite
(/root/reference/tests/test_local_parquet_data_handler.py:131-198),
asserting identical filter/projection/error semantics on the Spark
backend.
"""

from __future__ import annotations

import pandas as pd
import pytest

from quantlab_data_pipeline_spark import LocalParquetDataHandler


@pytest.fixture(scope="module")
def handler(fixture_root, spark):
    return LocalParquetDataHandler(fixture_root, spark=spark)


def test_get_prices_filters(handler):
    out = handler.get_prices(
        ["AAA"], start_date="2020-01-02", end_date="2020-01-04",
        fields=["close", "volume"],
    )
    assert set(out.columns) == {"date", "asset_id", "ticker", "close", "volume"}
    assert out["ticker"].unique().tolist() == ["AAA"]
    assert out["date"].min() >= pd.Timestamp("2020-01-02")
    assert out["date"].max() <= pd.Timestamp("2020-01-04")
    assert len(out) == 3
    assert out["close"].tolist() == [11.0, 12.0, 13.0]


def test_get_returns(handler):
    out = handler.get_returns(["BBB"], end_date="2020-01-03")
    assert out["asset_id"].unique().tolist() == [2]
    assert out["date"].max() <= pd.Timestamp("2020-01-03")
    # pct_change oracle: 21/20-1, 22/21-1
    assert out["ret_1d"].tolist() == pytest.approx([0.05, 22 / 21 - 1])


def test_get_universe(handler):
    out = handler.get_universe(date="2020-01-03")
    assert out["date"].unique().tolist() == [pd.Timestamp("2020-01-03")]
    assert sorted(out["asset_id"].tolist()) == [1, 2]
    assert out["in_universe"].all()


def test_get_fundamentals(handler):
    out = handler.get_fundamentals(["AAA"], start_date="2020-01-01", end_date="2020-06-30")
    assert len(out) == 1
    assert {"report_date", "asset_id", "net_income", "total_assets"} <= set(out.columns)
    assert out["net_income"].iloc[0] == 10.0


def test_get_macro_and_factors(handler):
    macro = handler.get_macro(start_date="2020-01-02")
    assert not macro.empty
    assert macro["series_name"].unique().tolist() == ["CPI"]
    factors = handler.get_style_factor_returns()
    assert not factors.empty
    assert factors["factor_name"].unique().tolist() == ["MKT"]


def test_get_benchmark(handler):
    out = handler.get_benchmark_returns("^GSPC", start_date="2020-01-02")
    assert not out.empty
    assert (out["benchmark_name"] == "^GSPC").all()
    assert out["date"].min() >= pd.Timestamp("2020-01-02")


def test_get_analyst_consensus(handler):
    out = handler.get_analyst_consensus(
        ["AAA"], end_date="2020-01-02", fields=["mean_rating", "num_analysts"]
    )
    assert set(out.columns) == {"date", "asset_id", "ticker", "mean_rating", "num_analysts"}
    assert len(out) == 1
    assert out["mean_rating"].iloc[0] == 1.5


def test_get_analyst_ratings_history(handler):
    out = handler.get_analyst_ratings_history(["BBB"], end_date="2020-01-04")
    assert len(out) == 1
    assert out["analyst_id"].iloc[0] == 200
    assert out["action_code"].iloc[0] == "DOWN"


def test_unknown_ticker_raises(handler):
    with pytest.raises(ValueError, match="ZZZ"):
        handler.get_prices(["ZZZ"])


def test_missing_field_raises(handler):
    with pytest.raises(ValueError, match="missing"):
        handler.get_prices(["AAA"], fields=["nonexistent_col"])


def test_missing_dataset_raises(tmp_path, spark):
    h = LocalParquetDataHandler(tmp_path, spark=spark)
    with pytest.raises(FileNotFoundError):
        h.get_macro()


def test_field_map_yaml_reload(fixture_root, spark, tmp_path):
    """The handler reloads the field-map YAML at construction (like the
    reference), so an edited mapping re-renames columns at read time —
    files written by other tools included."""
    custom = tmp_path / "field_map.yml"
    custom.write_text("fundamentals:\n  net_income: bottomline\n")
    h = LocalParquetDataHandler(fixture_root, spark=spark, field_map_path=custom)
    out = h.get_fundamentals(["AAA"], start_date="2020-01-01", end_date="2020-06-30")
    assert "bottomline" in out.columns
    assert "net_income" not in out.columns
    # default construction uses the shipped YAML, identical to FIELD_MAP
    default = LocalParquetDataHandler(fixture_root, spark=spark)
    from quantlab_data_pipeline_spark.schemas import FIELD_MAP
    assert default._field_map == FIELD_MAP


# ----------------------------------------------------- order contract
#
# Every pandas getter returns its rows sorted on the getter's keys with
# a fresh RangeIndex (the reference's ``sort_values(...)
# .reset_index(drop=True)``), whatever order the files hold them in.

_DAYS = list(pd.date_range("2020-01-01", periods=6, freq="D"))
_START, _END = "2020-01-02", "2020-01-05"

# getter -> (call, table, sort keys (date column first), key column,
#            key values, extra pandas filter, date-window filter applies)
_ORDER_CASES = {
    "get_prices": (
        lambda h: h.get_prices(["AAA", "BBB"], _START, _END),
        "prices_daily", ["date", "asset_id"], "asset_id", [1, 2], None, True,
    ),
    "get_returns": (
        lambda h: h.get_returns(["AAA", "BBB"], _START, _END),
        "returns_daily", ["date", "asset_id"], "asset_id", [1, 2], None, True,
    ),
    "get_universe": (
        lambda h: h.get_universe(),
        "universe_sp500", ["date", "asset_id"], "asset_id", [1, 2], None, False,
    ),
    "get_fundamentals": (
        lambda h: h.get_fundamentals(["AAA", "BBB"], _START, _END),
        "fundamentals_quarterly", ["report_date", "asset_id"], "asset_id", [1, 2],
        None, True,
    ),
    "get_analyst_consensus": (
        lambda h: h.get_analyst_consensus(["AAA", "BBB"], _START, _END),
        "analyst_consensus", ["date", "asset_id"], "asset_id", [1, 2], None, True,
    ),
    "get_analyst_ratings_history": (
        lambda h: h.get_analyst_ratings_history(["AAA", "BBB"], _START, _END),
        "analyst_ratings_history", ["date", "asset_id"], "asset_id", [1, 2], None, True,
    ),
    "get_macro": (
        lambda h: h.get_macro(_START, _END),
        "macro_timeseries", ["date", "series_name"], "series_name", ["CPI", "GDP"],
        None, True,
    ),
    "get_style_factor_returns": (
        lambda h: h.get_style_factor_returns(_START, _END),
        "style_factor_returns", ["date", "factor_name"], "factor_name", ["MKT", "SMB"],
        None, True,
    ),
    "get_benchmark_returns": (
        lambda h: h.get_benchmark_returns("^GSPC", _START, _END),
        "benchmarks", ["date"], "benchmark_name", ["^GSPC", "^NDX"],
        ("benchmark_name", "^GSPC"), True,
    ),
}


@pytest.fixture(scope="module")
def unsorted_root(tmp_path_factory):
    """Every table as a directory of three Parquet files holding its 12
    rows in reverse (date, key) order: the newest dates in the first
    file. Microsecond timestamps, which Spark reads (pandas' default
    nanoseconds it rejects)."""
    root = tmp_path_factory.mktemp("unsorted_root")
    (root / "data_meta").mkdir()
    (root / "data_processed").mkdir()
    pd.DataFrame({"asset_id": [1, 2], "ticker": ["AAA", "BBB"]}).to_parquet(
        root / "data_meta" / "assets_master.parquet", index=False
    )
    for _, table, keys, key_col, key_vals, _, _ in _ORDER_CASES.values():
        rows = [(d, k) for d in _DAYS for k in key_vals][::-1]
        df = pd.DataFrame(rows, columns=[keys[0], key_col])
        df["value"] = [float(i) for i in range(len(df))]
        base = "data_meta" if table == "universe_sp500" else "data_processed"
        out = root / base / f"{table}.parquet"
        out.mkdir()
        for i in range(3):
            df.iloc[i * 4:(i + 1) * 4].to_parquet(
                out / f"part-{i:05d}.parquet", index=False,
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )
    return root


@pytest.mark.parametrize("getter", sorted(_ORDER_CASES))
def test_pandas_getter_sorts_on_keys_with_fresh_index(getter, unsorted_root, spark):
    call, table, keys, _, _, extra, windowed = _ORDER_CASES[getter]
    date_col = keys[0]
    base = "data_meta" if table == "universe_sp500" else "data_processed"
    raw = pd.read_parquet(unsorted_root / base / f"{table}.parquet")
    assert not raw[keys].equals(
        raw[keys].sort_values(keys, ignore_index=True)
    ), "fixture rows must start out unsorted"

    want = raw
    if windowed:
        want = want[
            (want[date_col] >= pd.Timestamp(_START))
            & (want[date_col] <= pd.Timestamp(_END))
        ]
    if extra is not None:
        want = want[want[extra[0]] == extra[1]]
    want = want.sort_values(keys, kind="stable", ignore_index=True)
    want[date_col] = want[date_col].astype("datetime64[ns]")

    got = call(LocalParquetDataHandler(unsorted_root, spark=spark))

    assert len(got) > 1
    assert got[keys].equals(got[keys].sort_values(keys, ignore_index=True))
    assert isinstance(got.index, pd.RangeIndex)
    assert got.index.equals(pd.RangeIndex(0, len(got)))
    pd.testing.assert_frame_equal(got[list(want.columns)], want)
