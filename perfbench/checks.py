"""Output checks. They run outside the timed region; every problem found
counts the operation it belongs to as failed.

- tier tables: every tier agrees with a DuckDB recomputation from the
  same raw parquet - counts, min and max exactly, sums to rtol 1e-12
  (the bound of ``tests/test_wide_rollup_equality.py``), and the derived
  mean/variance to the error those sums can carry;
- declared queries: exactly equal to their ``oracle_sql()`` twins, by
  the comparison ``tools/check_correctness.py`` applies;
- compressed blocks: the decoded points equal the input points bit for
  bit, per (conv_id, kind) series.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SUM_RTOL = 1e-12

# DuckDB mirror of longform.with_channels + to_long_panel on the
# synthetic turns schema: dense turn_idx, so the latency predecessor is
# the row with turn_idx - 1; epoch seconds are microseconds / 1e6 as
# double, exactly as Spark casts timestamps; null channel values drop.
_LONG_SQL = """
CREATE OR REPLACE TABLE raw AS
    SELECT conv_id, turn_idx, epoch_us(ts) AS us, role, tool, text
    FROM read_parquet('{path}/*.parquet');
CREATE OR REPLACE TABLE long AS
WITH ch AS (
    SELECT r.conv_id, r.us,
        CAST(length(r.text) AS DOUBLE) AS text_len,
        CAST(r.us AS DOUBLE) / 1e6 - CAST(p.us AS DOUBLE) / 1e6 AS latency_s,
        CAST(r.tool IS NOT NULL AS DOUBLE) AS is_tool,
        CAST(r.role = 'user' AS DOUBLE) AS role_user,
        CAST(r.role = 'assistant' AS DOUBLE) AS role_assistant
    FROM raw r LEFT JOIN raw p ON p.conv_id = r.conv_id AND p.turn_idx = r.turn_idx - 1
)
SELECT conv_id, us, kind, value FROM (
    UNPIVOT ch ON text_len, latency_s, is_tool, role_user, role_assistant
    INTO NAME kind VALUE value
);
"""


def expected_tiers(con, turns_path: str, tiers: dict[str, int]) -> dict[str, int]:
    """Build the ``long`` panel table and ``exp_<tier>`` tables of
    (conv_id, kind, b, n, s, s2, mn, mx) straight from the raw turns;
    returns each tier's row count."""
    con.execute(_LONG_SQL.format(path=turns_path))
    rows = {}
    for tier, width in tiers.items():
        con.execute(
            f"""CREATE OR REPLACE TABLE exp_{tier} AS
            SELECT conv_id, kind, us - us % {width} AS b, count(*) AS n, sum(value) AS s,
                sum(value * value) AS s2, min(value) AS mn, max(value) AS mx
            FROM long GROUP BY ALL"""
        )
        rows[tier] = con.execute(f"SELECT count(*) FROM exp_{tier}").fetchone()[0]
    return rows


def _close(a: str, b: str, rtol: float) -> str:
    return f"abs({a} - {b}) <= {rtol} * greatest(abs({a}), abs({b}))"


def tier_problems(con, out_root: str, tiers: dict[str, int]) -> list[str]:
    """Compare every written tier table with its ``exp_<tier>`` twin."""
    problems = []
    for tier in tiers:
        files = os.path.join(out_root, f"rollup_{tier}", "*", "*.parquet")
        extra = ""
        if tier != "minute":
            # mean and variance are derived from the tier's own sums, so
            # they may differ from the recomputed ones by what the sums
            # may differ by (var = s2/n - mean^2: 4 rtol of s2/n)
            extra = f"""
                OR NOT {_close('a.mean', 'e.s / e.n', 2 * SUM_RTOL)}
                OR abs(a.variance - (e.s2 / e.n - (e.s / e.n) * (e.s / e.n)))
                    > {8 * SUM_RTOL} * e.s2 / e.n"""
        bad = con.execute(
            f"""
            WITH a AS (
                SELECT *, epoch_us(bucket_start) AS b FROM read_parquet('{files}')
            )
            SELECT count(*), any_value(coalesce(e.conv_id, a.conv_id))
            FROM exp_{tier} e FULL OUTER JOIN a ON e.conv_id = a.conv_id AND e.kind = a.kind AND e.b = a.b
            WHERE e.n IS NULL OR a.turn_count IS NULL OR e.n <> a.turn_count
                OR e.mn <> a.minimum OR e.mx <> a.maximum
                OR NOT {_close('a.sum_values', 'e.s', SUM_RTOL)}
                OR NOT {_close('a.sum_squares', 'e.s2', SUM_RTOL)}{extra}
            """
        ).fetchone()
        if bad[0]:
            problems.append(f"{tier}: {bad[0]} rows differ from the recomputation (e.g. {bad[1]})")
    return problems


def parquet_footprint(root: str) -> tuple[int, int]:
    """Bytes and number of parquet files under ``root``."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def long_panel_reference(turns_path: str, channels: list[str]) -> pd.DataFrame:
    """The long panel of the synthetic turns, computed with NumPy:
    (conv_id, kind, ts as epoch microseconds, value)."""
    t = pq.ParquetDataset(turns_path).read(columns=["conv_id", "turn_idx", "ts", "text"])
    df = pd.DataFrame(
        {
            "conv_id": t.column("conv_id").to_numpy(zero_copy_only=False),
            "turn_idx": t.column("turn_idx").to_numpy(),
            "ts": t.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(),
            "text_len": np.array([len(x) for x in t.column("text").to_pylist()], dtype=np.float64),
        }
    ).sort_values(["conv_id", "turn_idx"], ignore_index=True)
    secs = df["ts"].to_numpy().astype(np.float64) / 1e6
    same = np.r_[False, df["conv_id"].to_numpy()[1:] == df["conv_id"].to_numpy()[:-1]]
    lat = np.full(len(df), np.nan)
    lat[1:] = secs[1:] - secs[:-1]
    df["latency_s"] = np.where(same, lat, np.nan)
    parts = [
        df.loc[df[c].notna(), ["conv_id", "ts"]].assign(kind=c, value=df.loc[df[c].notna(), c])
        for c in channels
    ]
    return pd.concat(parts, ignore_index=True)[["conv_id", "kind", "ts", "value"]]


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    ts = df["ts"]
    if not pd.api.types.is_integer_dtype(ts):
        ts = ts.to_numpy().astype("datetime64[us]").view(np.int64)
    out = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str).to_numpy(),
            "kind": df["kind"].astype(str).to_numpy(),
            "ts": np.asarray(ts, dtype=np.int64),
            "bits": df["value"].to_numpy(dtype=np.float64).view(np.int64),
        }
    )
    return out.sort_values(["conv_id", "kind", "ts", "bits"], ignore_index=True)


def roundtrip_problems(expected: pd.DataFrame, decoded: pd.DataFrame) -> list[str]:
    """Decoded points must equal the input points bit for bit."""
    if len(expected) != len(decoded):
        return [f"round trip returned {len(decoded)} points, expected {len(expected)}"]
    a, b = _canonical(expected), _canonical(decoded)
    bad = ~((a == b).all(axis=1))
    if bad.any():
        row = a[bad].iloc[0]
        return [f"round trip differs on {int(bad.sum())} points (e.g. {row.conv_id}/{row.kind})"]
    return []


def oracle_problems(name: str, got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """The correctness gate's own comparison of a query with its twin."""
    from tools.check_correctness import compare

    return [f"{name}: {p}" for p in compare(name, got, oracle)]


def long_panel_rows(con) -> int:
    """Rows of the derived long panel over the ``events`` view."""
    from ts_raster_spark.sql.oracle_prefix import LONG_CTE

    return con.execute(LONG_CTE + " SELECT count(*) FROM long_panel").fetchone()[0]
