"""Validate the committed correctness artifacts against the live registry.

One command the next session (or a reviewer) can run to confirm the
artifact story before trusting it:

  - every registered query has a row in CORRECTNESS_local_r{N}.json and
    CORRECTNESS_sf1_r{N}.json (and vice versa — no orphan rows from
    renamed queries);
  - each file's summary counts equal a recount of its rows;
  - zero failures;
  - the rows-only set is exactly the declared oracle-less queries
    (REGISTRY entries with oracle=None).

Usage: python tools/validate_artifacts.py [LOCAL.json SF1.json]
Exits non-zero with a diagnostic on the first violation.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_web_mapreduce_spark.queries import REGISTRY  # noqa: E402


def recount(queries: dict) -> dict:
    c = {"ok": 0, "rows_only": 0, "fail": 0}
    for rec in queries.values():
        if rec.get("hash_match"):
            c["ok"] += 1
        elif rec.get("err") == "no_oracle" or (
            rec.get("hash_match") is None and rec.get("spark_rows") is not None
        ):
            c["rows_only"] += 1
        else:
            c["fail"] += 1
    return c


def check(path: str) -> None:
    d = json.load(open(path))
    rows = d["queries"]
    reg = set(REGISTRY)
    missing = sorted(reg - set(rows))
    orphans = sorted(set(rows) - reg)
    if missing:
        sys.exit(f"{path}: registry queries missing rows: {missing[:5]} "
                 f"(+{max(0, len(missing) - 5)} more)")
    if orphans:
        sys.exit(f"{path}: rows for unregistered queries: {orphans[:5]}")
    counted = recount(rows)
    if "summary" in d and d["summary"] != counted:
        sys.exit(f"{path}: summary {d['summary']} != recount {counted}")
    if counted["fail"]:
        bad = [k for k, v in rows.items()
               if not v.get("hash_match") and v.get("err") != "no_oracle"
               and not (v.get("hash_match") is None
                        and v.get("spark_rows") is not None)]
        sys.exit(f"{path}: {counted['fail']} failing rows: {bad[:5]}")
    oracle_less = {n for n, spec in REGISTRY.items() if spec.oracle is None}
    rows_only = {k for k, v in rows.items() if not v.get("hash_match")}
    if rows_only != oracle_less:
        sys.exit(f"{path}: rows-only set {sorted(rows_only)} != declared "
                 f"oracle-less set {sorted(oracle_less)}")
    print(f"{path}: {len(rows)} rows, {counted['ok']} ok, "
          f"{counted['rows_only']} rows-only (= declared oracle-less), 0 fail")


def main() -> int:
    args = sys.argv[1:] or ["CORRECTNESS_local_r13.json", "CORRECTNESS_sf1_r11.json"]
    for p in args:
        check(p)
    print("artifacts consistent with the live registry")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
