"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` DuckDB
equivalent at a given sf dir and compares row-count, column names, and an
order-insensitive canonical value multiset. Run before every commit:

    python tools/check_oracle.py [sf_dir] [query ...]

Canonicalization parity (round-1 lesson): the driver compares PANDAS
frames — ``df.toPandas()`` vs duckdb ``fetchdf()`` — sorted by every
column. That path is what we replicate here, because it exposes two
failure modes a tuple-level compare hides:

- dtype divergence: DuckDB ``sum(BIGINT)`` → HUGEINT → pandas float64
  (``124750.0``) vs Spark int64 (``124750``) hashes differently even
  when values are equal;
- unsortable cells: array columns crash ``sort_values`` (``unhashable
  type: 'list'``), so a query returning arrays records no result at all.
"""

from __future__ import annotations

import datetime as dt
import math
import sys
from pathlib import Path

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(v) -> str:
    """Canonical string for one pandas-native cell (mirrors the driver:
    value repr after the pandas round-trip, so int64 5 != float64 5.0)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"  # pandas renders SQL NULL in float cols as NaN
        return repr(f + 0.0 if f != 0 else 0.0)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        d = (
            v.to_pydatetime() if isinstance(v, pd.Timestamp) else v
        ).replace(tzinfo=None)
        # DATE columns round-trip as midnight datetime64 in fetchdf but
        # as datetime.date from Spark — normalize midnights to date form
        if (d.hour, d.minute, d.second, d.microsecond) == (0, 0, 0, 0):
            return d.date().isoformat()
        return d.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _canon_frame(pdf) -> list[tuple[str, ...]]:
    """Driver-parity canonical rows: sort columns by name, sort rows by
    every column via pandas (raises on unsortable cells — by design:
    the driver's canonicalizer does too), then stringify cells."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return [tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False)]


def main(sf_dir: str, only: set[str] | None = None) -> int:
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as mod
    from cs_tutorial_reporting_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = mod.queries(), mod.oracle_sql()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
        missing = only - set(qs)
        if missing:
            print(f"ERROR: unknown query names: {sorted(missing)}")
            return 2
        if not qs:
            print("ERROR: selection matched no queries")
            return 2
    failed = []
    for name, fn in qs.items():
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"pass* {name}: rows-only ({len(spdf)} rows, no oracle)")
            continue
        try:
            ddf = con.sql(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        if sorted(spdf.columns) != sorted(ddf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}"
            )
        if len(spdf) != len(ddf):
            problems.append(f"rowcount spark={len(spdf)} duck={len(ddf)}")
        if not problems:
            try:
                a, b = _canon_frame(spdf), _canon_frame(ddf)
            except Exception as e:  # noqa: BLE001
                problems.append(f"canonicalizer crash (driver would too): {e!r}")
            else:
                if a != b:
                    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"pass  {name} ({len(spdf)} rows)")
    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries match at {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    # names may arrive space-separated, comma-separated, or prefixed
    # with --only — a comma list previously selected NOTHING and
    # printed a vacuous "0/0 match" (round-6 footgun)
    raw = [a for a in sys.argv[2:] if a != "--only"]
    names = {n for a in raw for n in a.split(",") if n}
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            names or None,
        )
    )
