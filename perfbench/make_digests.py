"""Regenerate ``digests.json``: the expected output of every registry
query the benchmark runs, computed from the query's ``ORACLE_SQL`` on
DuckDB over the benchmark's own sf0.1 tables (``gen_data.py``). Never
from the engine's output.

    python3 perfbench/make_digests.py [QUERY ...]

With no names it covers every registry query in ``run.WORKLOADS``.
Some oracles are slow: ``near_dedup_documents`` takes about 6 minutes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import gen_data  # noqa: E402
import run  # noqa: E402
from stats import digest  # noqa: E402


def main(names: list[str]) -> None:
    from k_means_using_mapreduce_spark.contracts import ORACLE_SQL

    names = names or [q for qs in run.WORKLOADS.values() for q in qs if q in ORACLE_SQL]
    path = os.path.join(HERE, "digests.json")
    out = {"queries": {}}
    if os.path.exists(path):
        with open(path) as f:
            out = json.load(f)
    with tempfile.TemporaryDirectory(prefix=".tables-", dir=HERE) as data:
        gen_data.write_tables(data)
        out["data_fingerprint"] = run.fingerprint(data)
        con = duckdb.connect()
        for t in gen_data.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name in names:
            t0 = time.perf_counter()
            df = con.execute(ORACLE_SQL[name]).fetchdf()
            out["queries"][name] = d = digest(list(df.columns), df.to_dict("records"))
            out["queries"] = dict(sorted(out["queries"].items()))
            # written after every query: the slow oracles take minutes
            with open(path, "w") as f:
                json.dump(out, f, indent=1)
                f.write("\n")
            print(f"{name}: {d['rows']} rows, {time.perf_counter() - t0:.1f} s", flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
