"""Driver-emulation harness: run every __spark_entry__.queries() entry
against its oracle_sql() via DuckDB at a given sf dir and compare
row-count, column names, and order-insensitive values. Each query's
Spark wall is printed as [x.xs], after a WARMUP [x.xs] line that times
one tiny Arrow/Python round trip, so the first query's wall does not
include session warm-up. The closing RECALL line gives the
recall@5 of both ANN families against the exact cosine top-k, computed
from the frames the sweep already collected.

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from cutwed_spark.session import get_spark  # noqa: E402


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if set(spark_df.columns) != set(duck_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
        )
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
        return problems
    cols = sorted(spark_df.columns)
    s = spark_df[cols].sort_values(cols).reset_index(drop=True)
    d = duck_df[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            svn = sv.to_numpy(dtype=np.float64)
            dvn = dv.to_numpy(dtype=np.float64)
            bad = ~(
                np.isclose(svn, dvn, rtol=0, atol=1e-9)
                | (np.isnan(svn) & np.isnan(dvn))
            )
            if bad.any():
                i = int(np.argmax(bad))
                problems.append(f"col {c}: {int(bad.sum())} diffs, e.g. {svn[i]} vs {dvn[i]}")
        else:
            neq = (sv.astype(str) != dv.astype(str)).to_numpy()
            if neq.any():
                i = int(np.argmax(neq))
                problems.append(
                    f"col {c}: {int(neq.sum())} diffs, e.g. {sv.iloc[i]!r} vs {dv.iloc[i]!r}"
                )
    return problems


ANN_FAMILIES = ("emb_topk_auto", "emb_ivf_topk")  # recall@5 vs emb_cosine_topk


def edge_recall(exact: pd.DataFrame, approx: pd.DataFrame) -> float:
    """Fraction of the exact (vec_id, neighbor_id) edges that approx recovers."""
    key = ["vec_id", "neighbor_id"]
    truth = exact[key].drop_duplicates()
    hits = truth.merge(approx[key].drop_duplicates(), on=key)
    return len(hits) / max(len(truth), 1)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check-oracles")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in entry.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # Session warm-up (Python worker launch, Arrow, first codegen) on its
    # own line, so the first query's [x.xs] below is a query wall too.
    t0 = time.monotonic()
    spark.range(8).mapInArrow(lambda batches: batches, "id long").toPandas()
    print(f"WARMUP [{time.monotonic() - t0:.1f}s]")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failed = []
    ann = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            failed.append(name)
            continue
        dt = time.monotonic() - t0
        if name == "emb_cosine_topk" or name in ANN_FAMILIES:
            ann[name] = sdf
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows [{dt:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failed.append(name)
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name} ({len(sdf)} rows) [{dt:.1f}s]: " + " | ".join(problems))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows match [{dt:.1f}s]")
    if "emb_cosine_topk" in ann:
        print("RECALL " + " ".join(
            f"{n}={edge_recall(ann['emb_cosine_topk'], ann[n]):.4f}"
            for n in ANN_FAMILIES if n in ann
        ))
    print(f"\n{'ALL OK' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
