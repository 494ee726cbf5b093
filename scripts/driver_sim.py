"""Driver-faithful correctness simulation.

Replays what the round harness does, with the properties that broke
round 1 deliberately reproduced:

* a VANILLA SparkSession (no repo confs — in particular no
  spark.sql.legacy.parquet.nanosAsLong at build time);
* pandas-based canonicalization: toPandas() -> sort columns by name ->
  sort_values over ALL columns (this is what raised `unhashable type:
  'list'` on raw array columns in round 1).

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
Prints one JSON line per query and a summary; exit 1 on any failure.
"""

from __future__ import annotations

import json
import sys
import traceback

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, "/root/repo")

from roblox_vector_search_datagen_spark.sources.tables import TPCH_TABLES  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _round_floats(df: pd.DataFrame) -> pd.DataFrame:
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df


def main() -> int:
    from __spark_entry__ import oracle_sql, queries

    import os

    builder_extra = {}
    # cache-pressure mode (tests/test_cache_pressure.py): shrink the
    # unified memory pool Spark believes it owns so persisted subtrees
    # face real LRU eviction at tiny SFs — eviction must degrade to
    # recompute, never to wrong answers, and this harness proves it by
    # oracle-comparing every query under the squeezed pool.
    testing_mem = os.environ.get("DRIVER_SIM_TESTING_MEMORY")
    if testing_mem:
        builder_extra["spark.testing.memory"] = testing_mem
        builder_extra["spark.testing.reservedMemory"] = "0"
    spark_builder = (
        SparkSession.builder.master("local[16]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", os.environ.get("DRIVER_SIM_MEMORY", "8g"))
        # deliberately NON-UTC: the real driver inherits the host zone,
        # so any engine expression that implicitly reads the session
        # timezone (NTZ->LTZ casts, unix_* on cast timestamps) must
        # fail HERE rather than on a non-UTC driver host. DuckDB side
        # is timezone-naive, so a mismatch surfaces as a value diff.
        .config("spark.sql.session.timeZone", "America/New_York")
    )
    for k, v in builder_extra.items():
        spark_builder = spark_builder.config(k, v)
    spark = spark_builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = queries()
    oracles = oracle_sql()
    only = {a for a in sys.argv[2:] if not a.startswith("--")}
    failures = []
    for name, builder in qs.items():
        if only and name not in only:
            continue
        row = {"q": name}
        try:
            sdf = builder(spark, SF_DIR)
            spdf = _canon(sdf.toPandas())
            row["spark_rows"] = len(spdf)
            if name in oracles:
                odf = _canon(con.execute(oracles[name]).df())
                row["oracle_rows"] = len(odf)
                row["rows_match"] = len(spdf) == len(odf)
                row["schema_match"] = [c.lower() for c in spdf.columns] == [
                    c.lower() for c in odf.columns
                ]
                if row["rows_match"] and row["schema_match"]:
                    a, b = _round_floats(spdf.copy()), _round_floats(odf.copy())
                    b.columns = a.columns
                    # the REAL driver's value-hash is dtype-sensitive:
                    # a DuckDB HUGEINT aggregate materializes as
                    # float64 (4568.0) while Spark emits int64 (4568)
                    # and the hashes differ even though the values are
                    # equal (round-3 red: bpe_pair_counts). Reproduce
                    # that strictness here: an int-kind column on one
                    # side must be int-kind on the other.
                    kind_mismatch = [
                        c
                        for c in a.columns
                        if (a[c].dtype.kind in "iu" and b[c].dtype.kind == "f")
                        or (a[c].dtype.kind == "f" and b[c].dtype.kind in "iu")
                    ]
                    if kind_mismatch:
                        row["hash_match"] = False
                        row["err"] = (
                            "dtype-kind mismatch (driver hash distinguishes "
                            "int vs float): "
                            + ", ".join(
                                f"{c}: spark={a[c].dtype} oracle={b[c].dtype}"
                                for c in kind_mismatch
                            )
                        )[:300]
                        failures.append(name)
                        print(json.dumps(row), flush=True)
                        continue
                    # tz-naive both sides
                    for c in a.columns:
                        for d in (a, b):
                            if str(d[c].dtype).startswith("datetime64[ns,"):
                                d[c] = d[c].dt.tz_localize(None)
                            if str(d[c].dtype).startswith("datetime64"):
                                d[c] = d[c].astype("datetime64[us]")
                    try:
                        pd.testing.assert_frame_equal(
                            a, b, check_dtype=False, check_exact=False, rtol=1e-5, atol=1e-8
                        )
                        row["hash_match"] = True
                    except AssertionError as e:
                        row["hash_match"] = False
                        row["err"] = str(e).split("\n")[0][:300]
                ok = row.get("hash_match", False)
            else:
                ok = True  # rows-only check
                row["rows_only"] = True
        except Exception:
            row["err"] = traceback.format_exc().splitlines()[-1][:300]
            ok = False
        if not ok:
            failures.append(name)
        print(json.dumps(row), flush=True)

    print(
        json.dumps({"total": len(qs if not only else only), "failures": failures}),
        flush=True,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
