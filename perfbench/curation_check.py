"""Output checks for the curation workload.

A query with a DuckDB SQL twin in the registry must match it by column
names, row count and an order-insensitive multiset of exact values. The
queries without a twin must match the row count and digest recorded in
`digests.json` beside this file; those digests round floats to 9
significant digits, since nothing pins their summation order bit for bit.

`python3 -m perfbench.curation_check --record`, run from the repository
root, runs the queries once and rewrites `digests.json`; do that only on a
commit whose outputs are known good.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_harness import _canon

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
# The vendored tables; `tests.oracle_harness.duck_connection` expects all
# ten of the generated set.
TABLES = ("documents", "embeddings", "events", "customer")


def _round9(v):
    if isinstance(v, float):
        return float(format(v, ".9g"))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_round9(x) for x in v]
    return v


def digest(df) -> str:
    """Order-insensitive digest of a frame, floats rounded to 9 significant
    digits first."""
    rounded = df.apply(lambda col: col.map(_round9) if col.dtype.kind in "fO" else col)
    h = hashlib.sha256(repr(sorted(df.columns)).encode())
    for r in _canon(rounded):
        h.update(repr(r).encode())
    return h.hexdigest()


def read_output(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def twin_outputs(names, sf_dir: str) -> dict:
    """DuckDB results of the SQL twins of `names` (queries without a twin
    are skipped)."""
    from arrow_supercluster_spark.plans.registry import REGISTRY

    con = duck(sf_dir)
    return {
        q: con.execute(REGISTRY[q].sql).fetchdf()
        for q in names
        if REGISTRY[q].sql is not None
    }


def check(name: str, out_path: str, twins: dict) -> tuple[bool, str]:
    """Compare a query's written output with its twin's result, or with the
    recorded digest when it has no twin."""
    got = read_output(out_path)
    exp = twins.get(name)
    if exp is None:
        want = json.load(open(DIGESTS))[name]
        if len(got) != want["rows"]:
            return False, f"rows {len(got)} != recorded {want['rows']}"
        if digest(got) != want["digest"]:
            return False, "digest differs from the recorded one"
        return True, "matches recorded digest"
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns {sorted(got.columns)} != twin {sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != twin {len(exp)}"
    if _canon(got) != _canon(exp):
        return False, "values differ from the DuckDB twin"
    return True, "matches DuckDB twin"


def record(names) -> None:
    """Run each twin-less query once and store its row count and digest."""
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    from arrow_supercluster_spark.plans.registry import REGISTRY
    from arrow_supercluster_spark.session import build_session

    from perfbench.workloads import CURATION_DATA

    spark = build_session(master="local[4]")
    out = {}
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        for q in names:
            if REGISTRY[q].sql is not None:
                continue
            p = os.path.join(tmp, q)
            REGISTRY[q].spark(spark, CURATION_DATA).write.parquet(p)
            df = read_output(p)
            out[q] = {"rows": len(df), "digest": digest(df)}
    spark.stop()
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    import sys

    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python3 -m perfbench.curation_check --record")
    from perfbench.workloads import CURATION_QUERIES

    record(CURATION_QUERIES)
