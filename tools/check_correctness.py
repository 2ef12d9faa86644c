"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables, then
compare row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--json OUT]

``--json OUT`` additionally writes a machine-readable result file
({name: {status, rows, sec}} + summary) — committed per round as
CORRECTNESS_local_r*.json so the FULL registry's local verification is
auditable alongside the driver's 50-query window.
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from aleph2_contrib_spark.session import get_spark
from aleph2_contrib_spark.sources.tables import TABLE_NAMES

import __spark_entry__ as entrymod


def normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        # repr-typed, NOT ==-coerced: Python Decimal(5) == 5, which is
        # exactly how the round-8 decimal(38,0) gates passed this tool
        # while the driver's pandas canonicalizer hashed them red. Tag
        # the type so a representation divergence fails locally first
        # (decimal_cols() below rejects the column outright as well).
        return f"decimal:{v}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    return v


def decimal_cols(cols, rows):
    """Columns whose first non-NULL cell is a decimal.Decimal — banned at
    the gate boundary on EITHER engine: the driver's pandas canonicalizer
    renders wide decimals differently per engine, so even a value-exact
    Decimal-vs-Decimal result hash-mismatches at the driver (round-6
    join_point_in_interval, round-8 covariance family). Emit BIGINT or
    exact digit strings instead (functions/gate_types.py)."""
    bad = []
    for i, c in enumerate(cols):
        for r in rows:
            if r[i] is None:
                continue
            if isinstance(r[i], decimal.Decimal):
                bad.append(c)
            break
    return bad


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # Untimed warmup (VERDICT r9 item 8): absorb first-use costs that are
    # session overhead, not gate cost — whole-stage codegen compilation,
    # the Arrow/pandas-UDF python-worker fork + numpy import on all cores,
    # and a shuffle — so the FIRST heavy gate in each fresh chunk session
    # stops being charged ~8-10 s of JVM/JIT/worker startup.
    import pandas as _pd  # noqa: F401
    from pyspark.sql import functions as _F

    def _warm_udf(batches):
        import numpy as _np

        for b in batches:
            yield _pd.DataFrame({"v": _np.asarray(b["id"]) * 2})

    warm = spark.range(0, 1024, 1, 32)
    warm.mapInPandas(_warm_udf, "v long").join(
        warm.groupBy((_F.col("id") % 7).alias("k")).count(),
        _F.col("v") % 7 == _F.col("k"),
    ).agg(_F.count(_F.lit(1))).collect()

    # One-time state builds, untimed — the bench.py methodology verbatim:
    # the signature store / codebook are daily-maintenance state (built
    # once, reused by every batch), and the in-memory catalog does not
    # survive the fresh session each chunk runs in, so without this the
    # first store-backed gate in a chunk is charged the whole build.
    for state_q in ("dedup_incremental", "similarity_codebook_topk"):
        fn = queries.get(state_q)
        if fn is not None and (not only or state_q in only):
            try:
                fn(spark, sf_dir).collect()
            except Exception:
                pass

    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "fail", "err": f"spark error: {e}"[:300]}
            n_fail += 1
            continue
        # The DRIVER's canonicalizer sorts a pandas frame by every column
        # and crashes on unhashable cells (TypeError: unhashable type:
        # 'list') — round-2's multimodal_features failed exactly this way
        # while this tool passed it. Reject array-typed result columns
        # here so the mismatch is caught before the driver sees it.
        if srows:
            bad_cols = [
                c for c, v in zip(scols, srows[0]) if isinstance(v, (list, tuple, dict))
            ]
            if bad_cols:
                print(
                    f"FAIL {name}: array/map-typed result columns {bad_cols} — "
                    "the driver gate cannot canonicalize these; emit a scalar "
                    "(concat_ws/to_json/hash) instead"
                )
                results[name] = {"status": "fail", "err": f"array cols {bad_cols}"}
                n_fail += 1
                continue
            dec_bad = decimal_cols(scols, srows)
            if dec_bad:
                print(
                    f"FAIL {name}: decimal-typed Spark result columns {dec_bad} "
                    "— the driver canonicalizer renders wide decimals "
                    "differently per engine; emit BIGINT or digit strings "
                    "(functions/gate_types.stringify_decimals)"
                )
                results[name] = {"status": "fail",
                                 "err": f"spark decimal cols {dec_bad}"}
                n_fail += 1
                continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "rows": len(srows),
                             "sec": round(time.time() - t0, 2)}
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "fail", "err": f"duckdb error: {e}"[:300]}
            n_fail += 1
            continue
        dec_bad = decimal_cols(dcols, drows)
        if dec_bad:
            print(
                f"FAIL {name}: decimal-typed oracle result columns {dec_bad} "
                "— CAST to BIGINT or VARCHAR in the oracle SQL "
                "(functions/gate_types.varchar_wrap)"
            )
            results[name] = {"status": "fail",
                             "err": f"oracle decimal cols {dec_bad}"}
            n_fail += 1
            continue
        ok = True
        msgs = []
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if ok:
            sc = canon([tuple(r) for r in srows], scols)
            dc = canon(drows, dcols)
            if sc != dc:
                ok = False
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                msgs.append(f"values differ; first diffs: {diffs}")
        if ok:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            results[name] = {"status": "pass", "rows": len(srows),
                             "sec": round(time.time() - t0, 2)}
            n_pass += 1
        else:
            print(f"FAIL {name}: {'; '.join(msgs)}")
            results[name] = {"status": "fail", "err": "; ".join(msgs)[:300]}
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        import json as _json

        payload = {"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                   "n_queries": len(results), "results": results}
        with open(json_out, "w") as f:
            _json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
