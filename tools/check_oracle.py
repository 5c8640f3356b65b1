"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the same
parquet directory, compares row count, column-name set, and an
order-insensitive value multiset (floats rounded to 6 significant decimals
before comparison). Usage:

    python tools/check_oracle.py [--json OUT.json] [--sample N --seed S] \
        [sf_dir] [query ...]

``--json`` additionally writes a driver-format correctness artifact (one
entry per query: rows_match/schema_match/hash_match/spark_rows/oracle_rows/
err) — the committed CORRECTNESS_local_r{N}.json files, which cover ALL
registered queries where the driver's own file caps at its first 50
alphabetically.

``--sample N --seed S`` (round 11, VERDICT r10 item 6) selects a
deterministic rotating N-query subset instead of the full registry:
queries are ranked by md5(f"{seed}:{name}") and the first N run. With
``--seed <round>`` the window rotates every round, so every registered
query gets independent-format driver-window-sized coverage every
~len(REGISTRY)/N rounds — the mitigation for the driver's alphabetical
50-cap leaving 200+ queries without a driver-side CORRECTNESS row.
"""

from __future__ import annotations

import json
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

from go_web_mapreduce_spark.queries import REGISTRY  # noqa: E402
from go_web_mapreduce_spark.session import get_spark  # noqa: E402
from go_web_mapreduce_spark.sources.sinks import released  # noqa: E402
from go_web_mapreduce_spark.sources.tables import TABLES  # noqa: E402


def norm_cell(v):
    # unwrap numpy scalars but PRESERVE the int-vs-float distinction — an
    # int64 value arriving as float64 must render differently ('1.000000'
    # vs '1'), exactly the mismatch the driver's hash would flag
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    sample_n = None
    seed = "0"
    while argv and argv[0].startswith("--"):
        if argv[0] == "--json":
            json_out = argv[1]
        elif argv[0] == "--sample":
            sample_n = int(argv[1])
        elif argv[0] == "--seed":
            seed = argv[1]
        else:
            raise SystemExit(f"unknown flag {argv[0]}")
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    if sample_n is not None:
        import hashlib

        ranked = sorted(
            REGISTRY,
            key=lambda n: hashlib.md5(f"{seed}:{n}".encode()).hexdigest(),
        )
        only = set(ranked[:sample_n]) | only
        print(f"sample: {sample_n} of {len(REGISTRY)} (seed={seed})")
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    report: dict[str, dict] = {}
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = rec
        t0 = time.time()
        try:
            with released():
                sdf = spec.fn(spark, sf_dir)
                scols = sdf.columns
                # pandas path, like the driver: dtype mismatches (e.g. an
                # int64 column arriving as float64) must be visible locally —
                # fetchall converts to python objects and hides that whole
                # failure class
                spdf = sdf.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            rec["err"] = f"spark: {type(e).__name__}: {e}"[:300]
            n_fail += 1
            continue
        rec["spark_rows"] = len(srows)
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows, cols={scols} ({time.time()-t0:.1f}s)")
            rec["err"] = "no_oracle"
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(spec.oracle).df()
            dcols = list(ddf.columns)
            drows = [tuple(r) for r in ddf.itertuples(index=False)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            rec["err"] = f"duckdb: {type(e).__name__}: {e}"[:300]
            n_fail += 1
            continue
        rec["oracle_rows"] = len(drows)
        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        problems = []
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if not rec["schema_match"]:
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
            rec["hash_match"] = a == b
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        else:
            rec["hash_match"] = False
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    if json_out:
        payload = {"sf_dir": sf_dir, "summary": {
            "ok": n_pass, "rows_only": n_rows_only, "fail": n_fail,
        }, "queries": report}
        if sample_n is not None:
            payload["sample"] = {"n": sample_n, "seed": seed,
                                 "registry_size": len(REGISTRY)}
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
