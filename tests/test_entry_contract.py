"""Replicates the driver's correctness gate locally — bit-faithfully.

The driver canonicalizes BOTH result sets the same way before value-hashing:
pandas frame → columns sorted by name → rows sorted by every column
(``sort_values``; unhashable cells like lists CRASH, exactly as they crash
the driver) → per-cell hash that distinguishes int from float dtype (DuckDB
HUGEINT → float64 ``1.0`` hashes differently from Spark's int64 ``1``) but
not integer widths.  A looser local mirror once let a driver-red query
pass pytest; this one reproduces each failure mode locally.
"""

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

TABLES = ("documents",)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization: sorted columns, rows sorted by every
    column.  Deliberately NOT list/array-tolerant — the driver isn't."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


_DTYPE_KIND = {"u": "i"}  # unsigned ints hash like signed; float stays 'f'


def _assert_canon_equal(name: str, got: pd.DataFrame, want: pd.DataFrame):
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    for col in got.columns:
        g, w = got[col], want[col]
        gk = _DTYPE_KIND.get(g.dtype.kind, g.dtype.kind)
        wk = _DTYPE_KIND.get(w.dtype.kind, w.dtype.kind)
        assert gk == wk, (
            f"{name}.{col}: dtype kind mismatch {g.dtype} vs {w.dtype} "
            f"(the driver value-hash distinguishes int from float)"
        )
        if gk == "f":
            ga, wa = g.to_numpy(dtype="float64"), w.to_numpy(dtype="float64")
            both_nan = np.isnan(ga) & np.isnan(wa)
            assert (both_nan | (np.abs(ga - wa) <= 1e-9)).all(), (
                f"{name}.{col}: float values diverge; first diff at row "
                f"{int(np.argmax(~(both_nan | (np.abs(ga - wa) <= 1e-9))))}"
            )
        elif gk == "M":
            ga = g.dt.tz_localize(None) if getattr(g.dt, "tz", None) else g
            wa = w.dt.tz_localize(None) if getattr(w.dt, "tz", None) else w
            assert (
                ga.astype("datetime64[us]").to_numpy()
                == wa.astype("datetime64[us]").to_numpy()
            ).all(), f"{name}.{col}: timestamp mismatch"
        else:
            gl, wl = g.tolist(), w.tolist()
            assert gl == wl, (
                f"{name}.{col}: first diff "
                f"{next(((a, b) for a, b in zip(gl, wl) if a != b), None)}"
            )


def _all_queries():
    return {**entry_mod.queries(), **entry_mod.extra_queries()}


def _all_oracles():
    return {**entry_mod.oracle_sql(), **entry_mod.extra_oracle_sql()}


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_driver_window_fits():
    """The driver verifies at most the FIRST 50 registered queries (round 2
    lost 14 tail rows to this) — the registered set must fit entirely."""
    assert len(entry_mod.queries()) <= 50


def test_every_registered_query_has_an_oracle_or_reason():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
    assert set(entry_mod.extra_queries()) == set(entry_mod.extra_oracle_sql())


@pytest.mark.parametrize("name", sorted(_all_oracles().keys()))
def test_query_vs_oracle(spark, duck, name):
    q = _all_queries()[name]
    oracle = _all_oracles()[name]
    got = _canon(q(spark, SF_DIR).toPandas())
    want = _canon(duck.sql(oracle).df())
    _assert_canon_equal(name, got, want)

