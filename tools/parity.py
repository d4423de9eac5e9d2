"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB against the same sf dir, then compares
row count, sorted column names, and an order-insensitive value multiset.

Usage:  python tools/parity.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from cloudpelican_lsd_spark.session import get_spark  # noqa: E402
from cloudpelican_lsd_spark.sources.tables import TABLES  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of the exact double — engines must agree bit-for-bit
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)  # Spark returns bytearray (unhashable), DuckDB bytes
    return v


def multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def validate_only(only: set[str], known) -> None:
    """Fail LOUD on unknown query names.  Without this, a typo'd name on
    the command line matched nothing, the loop ran zero queries, and the
    tool printed `PARITY: PASS` — a false green from the exact tool the
    whole correctness story leans on (round-6 measurement-stack review)."""
    unknown = only - set(known)
    if unknown:
        raise SystemExit(
            f"parity: unknown query name(s): {sorted(unknown)} — "
            "not in __spark_entry__.queries()"
        )


#: DuckDB DESCRIBE types Spark can emit losslessly through Arrow — the
#: oracle output-type lint (VERDICT r7: an un-cast SUM(BIGINT) surfaces
#: as HUGEINT/decimal128 and the driver's TYPED hasher red-flags a
#: numerically-correct engine).  Kept in sync with
#: tests/test_oracle_types.py, which runs the same lint in the suite.
SPARK_EMITTABLE = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "TIMESTAMP", "TIMESTAMP_NS", "DATE", "BOOLEAN", "BLOB",
}


def lint_oracle_types(con, oracles: dict[str, str], only: set[str]) -> None:
    """Fail LOUD before any comparison when an oracle emits a type Spark
    cannot: value-multiset parity would PASS here (Python int == int)
    while the driver's Arrow-typed hash gate reds — the exact r7
    search_important_parts disagreement this lint prevents."""
    violations = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        for row in con.sql(f"DESCRIBE ({sql})").fetchall():
            base = row[1].strip().removesuffix("[]").strip()
            if base not in SPARK_EMITTABLE:
                violations.append(f"{name}.{row[0]}: {row[1]}")
    if violations:
        raise SystemExit(
            "parity: oracle output-type lint FAILED (cast in the final "
            "projection, e.g. ::BIGINT after SUM): " + "; ".join(violations)
        )


def main() -> int:
    args = sys.argv[1:]
    # --count-only: compare ROW COUNTS without collecting values — the
    # documented verification mode for giant-output queries whose full
    # value multiset is uncollectable by design (simhash_near_pairs
    # emits ~91.6M pairs at sf1; r6 ran this check by hand, this flag
    # makes it mechanical and keeps the count off the driver).  The
    # weaker check is printed as COUNT-ONLY so a log reader can never
    # mistake it for a value-hash pass.
    count_only = False
    if args and args[0] == "--count-only":
        count_only = True
        args = args[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if count_only and not only:
        raise SystemExit(
            "parity --count-only requires explicit query names: the "
            "weaker check must never silently replace the value-hash "
            "sweep for the whole registry"
        )
    validate_only(only, entry_mod.queries())
    spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    lint_oracle_types(con, oracles, only)
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        if count_only:
            if name not in oracles:
                print(f"{name:32s} COUNT-ONLY rows={sdf.count()} (no oracle)")
                continue
            n_s = sdf.count()
            [(n_d,)] = con.sql(
                f"SELECT COUNT(*) FROM ({oracles[name]})"
            ).fetchall()
            ok = n_s == n_d
            if not ok:
                failures += 1
            print(
                f"{name:32s} {'OK' if ok else 'FAIL'} COUNT-ONLY "
                f"rows={n_s}/{n_d} (values not compared)"
            )
            continue
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:32s} ROWS-ONLY rows={len(srows)}")
            continue
        drel = con.sql(oracles[name])
        drows = drel.fetchall()
        dcols = [d[0] for d in drel.description]
        ok_cnt = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        s_ms = multiset(srows, scols)
        d_ms = multiset(drows, dcols)
        ok_vals = s_ms == d_ms
        status = "OK" if (ok_cnt and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:32s} {status} rows={len(srows)}/{len(drows)}"
            f" cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'}"
            f" vals={'ok' if ok_vals else 'MISMATCH'}"
        )
        if not ok_vals and ok_cols:
            extra_s = list((s_ms - d_ms).items())[:3]
            extra_d = list((d_ms - s_ms).items())[:3]
            for r in extra_s:
                print(f"    spark-only : {r}")
            for r in extra_d:
                print(f"    duck-only  : {r}")
    spark.stop()
    print("PARITY:", "PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
