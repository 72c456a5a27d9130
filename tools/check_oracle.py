#!/usr/bin/env python
"""Local gate STRICTER than the driver's: run every ``queries()`` entry on
Spark and its ``oracle_sql()`` on DuckDB over the same parquet tables;
compare row count, column names, and the canonical value hash under TWO
canonicalizations:

* **strict** — types preserved (a Decimal renders with its scale, e.g.
  ``587.380000``; a float renders shortest-9-sig-digits, ``587.38``), and
* **coerced** — every Decimal coerced to float64 first (the pandas fetch
  path the driver may use on either side).

plus a THIRD pair computed from the **pandas fetch path** — the frames
``sdf.toPandas()`` and ``cur.fetchdf()`` rendered with plain ``str()`` per
value, which is how the driver sees them. A key passes only if the four
native-path hashes (strict + coerced × 2 engines) agree AND the pandas
pair agrees — i.e. the result is
rendering-invariant no matter which fetch path the driver's canonicalizer
takes on which side. Round 1 shipped 8 red rows because the old
single-canon gate str()'d Decimals identically on both sides while the
driver coerced only one side; round 2 shipped 1 red row because
``fetchall()`` turns a DuckDB HUGEINT into a native int while the driver's
``fetchdf()`` turns it into float64 (``807`` vs ``807.0``). The pandas
pair closes the whole fetch-path class.

Usage: python tools/check_oracle.py [sf_dir] [key ...] [--out PATH]

``--out PATH`` records the run as JSON under the sf directory's name
(``{"sf0.01": {key: {"pass", "spark_rows", "oracle_rows", "problem"}}}``),
merging into PATH when it already holds other directories' records, so
one file can carry every scale's result.
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon_float(v: float) -> str:
    if math.isnan(v):
        return "nan"
    if v == 0:
        return "0"
    return f"{v:.9g}"


def canon(v, coerce_decimal: bool) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, decimal.Decimal):
        return _canon_float(float(v)) if coerce_decimal else str(v)
    if isinstance(v, float):
        return _canon_float(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _pd_canon(v) -> str:
    """Render a pandas-fetched value the way the driver's pandas path does:
    plain ``str()``, so int64 807 and float64 807.0 hash DIFFERENTLY —
    exactly the divergence that made corpus_curation red in round 2."""
    import numpy as np

    if v is None:
        return "\\N"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, np.ndarray):
        return str([x.item() if isinstance(x, np.generic) else x for x in v])
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return str(v)


def pandas_frame_hash(pdf) -> str:
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_pd_canon(r[i]) for i in order)
        for r in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def frame_hash(cols: list[str], rows: list[tuple], coerce_decimal: bool) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i], coerce_decimal) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args()
    sf_dir, only = args.sf_dir, set(args.keys)
    record = {}

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for key, fn in qs.items():
        if only and key not in only:
            continue
        rec = record[key] = {
            "pass": False, "spark_rows": None, "oracle_rows": None,
            "problem": None,
        }
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            s_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key:24s} spark error: {e}")
            rec["problem"] = f"spark error: {e}"
            failures.append(key)
            continue
        rec["spark_rows"] = len(s_rows)
        if key not in oracles:
            print(f"rows  {key:24s} spark_rows={len(s_rows)} (rows-only, no oracle)")
            rec["problem"] = "no oracle"
            continue
        try:
            cur = con.execute(oracles[key])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            d_pdf = con.execute(oracles[key]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key:24s} duckdb error: {e}")
            rec["problem"] = f"duckdb error: {e}"
            failures.append(key)
            continue
        rec["oracle_rows"] = len(d_rows)
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            hs = frame_hash(s_cols, s_rows, coerce_decimal=False)
            hd = frame_hash(d_cols, d_rows, coerce_decimal=False)
            hs_c = frame_hash(s_cols, s_rows, coerce_decimal=True)
            hd_c = frame_hash(d_cols, d_rows, coerce_decimal=True)
            hs_p = pandas_frame_hash(s_pdf)
            hd_p = pandas_frame_hash(d_pdf)
            if len({hs, hd, hs_c, hd_c}) != 1 or hs_p != hd_p:
                problems.append(
                    f"hash strict {hs} vs {hd}, coerced {hs_c} vs {hd_c}, "
                    f"pandas {hs_p} vs {hd_p} (all six must agree)"
                )
        if problems:
            print(f"FAIL  {key:24s} {'; '.join(problems)}")
            rec["problem"] = "; ".join(problems)
            failures.append(key)
        else:
            print(f"ok    {key:24s} rows={len(s_rows)}")
            rec["pass"] = True
    spark.stop()
    if args.out:
        merged = {}
        if os.path.exists(args.out):
            with open(args.out) as fh:
                merged = json.load(fh)
        merged[os.path.basename(os.path.normpath(sf_dir))] = record
        with open(args.out, "w") as fh:
            json.dump(merged, fh, indent=2, sort_keys=True)
            fh.write("\n")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall checks passed")


if __name__ == "__main__":
    main()
