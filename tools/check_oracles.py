"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + schema + order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

from unipdf_spark.schema import SF_DDL  # noqa: E402


def value_hash(rows) -> str:
    canon = sorted(
        "|".join(repr(v) for v in row) for row in rows
    )
    return hashlib.md5("\n".join(canon).encode()).hexdigest()[:16]


def normalize(df) -> list[tuple]:
    # sort columns by name (driver semantics), normalize values
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 9))
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(v)
        out.append(tuple(vals))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from unipdf_spark.pipeline import get_spark

    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in SF_DDL:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_vacuous = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        finally:
            # unpersist discipline (r5 VERDICT #9): the fixture-corpus
            # queries persist their rendered corpus; release it at query
            # end so long-lived sessions return memory and the next query
            # never warns 'Asked to cache already cached data'
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {e}")
            n_fail += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(map(str.lower, sdf.columns)) == sorted(
            map(str.lower, odf.columns)
        )
        sh = value_hash(normalize(sdf))
        oh = value_hash(normalize(odf))
        if ok_rows and ok_cols and sh == oh:
            # two empty sets agree whatever the query does
            vacuous = " (vacuous)" if sdf.empty else ""
            print(f"PASS  {name}: {len(sdf)} rows{vacuous}")
            n_pass += 1
            n_vacuous += bool(vacuous)
        else:
            print(
                f"FAIL  {name}: rows {len(sdf)}/{len(odf)} cols_ok={ok_cols} "
                f"hash {sh} vs {oh}"
            )
            if not ok_cols:
                print(f"      spark cols: {sorted(sdf.columns)}")
                print(f"      duck  cols: {sorted(odf.columns)}")
            else:
                s_rows = set(map(repr, normalize(sdf)))
                o_rows = set(map(repr, normalize(odf)))
                for r in sorted(s_rows - o_rows)[:3]:
                    print("      spark-only:", r[:220])
                for r in sorted(o_rows - s_rows)[:3]:
                    print("      duck-only: ", r[:220])
            n_fail += 1
    print(f"\n{n_pass} pass ({n_vacuous} vacuous), {n_fail} fail, "
          f"{n_rowsonly} rows-only")
    spark.stop()


if __name__ == "__main__":
    main()
