"""Local replica of the driver's correctness harness: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB over the
same sf dir; compare row count, schema (sorted column names), and an
order-insensitive value hash. Usage:

    python tools/check_entry.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append(
            "\x1f".join(
                (
                    f"{v:.9g}"
                    if isinstance(v, float)
                    else ("" if v is None else str(v))
                )
                for v in tup
            )
        )
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from codeindex_spark.session import get_spark

    # get_spark defaults to a 32g driver heap; over a full sweep that
    # one JVM outgrows a 15 GB host and is OOM-killed
    os.environ.setdefault("SPARK_DRIVER_MEM", "5g")
    spark = get_spark(app_name="check-entry", cores=8, shuffle_partitions=8)
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # seeded-candidate oracles (ann_*, dd_embed_neardup) recompute
    # bucket/cell membership from the parquet they are compared at
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    print(f"-- entry() smoke --")
    t0 = time.monotonic()
    edf = entrymod.entry(spark)
    rows = edf.collect()
    print(f"entry: {len(rows)} rows in {time.monotonic()-t0:.1f}s, schema={edf.columns}")

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows in {dt:.1f}s")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"schema {sorted(got.columns)} != {sorted(exp.columns)}")
        if not problems and value_hash(got) != value_hash(exp):
            problems.append("value hash mismatch")
            merged = got.sort_values(sorted(got.columns)).reset_index(drop=True).compare(
                exp[got.columns].sort_values(sorted(got.columns)).reset_index(drop=True)
            ) if len(got) == len(exp) else None
            if merged is not None and not merged.empty:
                problems.append(f"first diffs:\n{merged.head(5)}")
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(str(p) for p in problems))
        else:
            print(f"OK   {name}: {len(got)} rows in {dt:.1f}s")
    spark.stop()
    print(f"-- {n_fail} failures --")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
