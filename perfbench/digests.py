"""Oracle digests for the batch workloads' correctness gate.

A digest is the sha256 of a query result normalised the way
``tools/check_oracle.py`` compares Spark against its DuckDB oracle: columns
in name order, each cell rendered by type (floats to 6 decimals, ints kept
distinct from floats), rows sorted. Running the DuckDB oracle live costs
minutes per query at the larger scale factors, so the oracle's digest is
recorded once per corpus and the benchmark compares Spark's output to it.

Re-record after changing the corpus or a workload's query list:

    python3 perfbench/digests.py

(run from the repository root; needs duckdb).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "digests.json")
# the corpus the digests are recorded on; a run reads them from digests.json
CORPUS_SF = 0.05
CORPUS_SEED = 7


def norm_cell(v) -> str:
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def digest_frame(pdf) -> dict:
    """Digest of a pandas frame (Spark ``toPandas()`` or DuckDB ``.df()``)."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order)
        for r in pdf.itertuples(index=False)
    )
    return {
        "rows": len(rows),
        "cols": sorted(cols),
        "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }


def file_sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def load() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def record() -> None:
    import duckdb

    sys.path.insert(0, os.getcwd())
    import datagen
    from go_web_mapreduce_spark.queries import REGISTRY
    from go_web_mapreduce_spark.sources.tables import TABLES
    from workloads import WORKLOADS

    with tempfile.TemporaryDirectory() as data:
        datagen.generate(data, CORPUS_SF, CORPUS_SEED)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {
            "corpus": {"sf": CORPUS_SF, "seed": CORPUS_SEED, "sha256": {
                t: file_sha256(f"{data}/{t}.parquet") for t in TABLES}},
            "queries": {},
        }
        for w in WORKLOADS.values():
            for q in w.get("queries", ()):
                out["queries"][q] = digest_frame(con.execute(REGISTRY[q].oracle).df())
                print(q, out["queries"][q]["rows"], file=sys.stderr)
    with open(DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    record()
