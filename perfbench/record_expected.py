"""Record the batch workloads' output expectations.

    python3 perfbench/record_expected.py [SCALE ...]   (default: 0.1 0.01 0.001)

For every bench-tagged query, at each scale: run it on the benchmark's
generated tables, take the row count and order-independent value hash,
and confirm them against the query's DuckDB oracle over the same files.
A query that fails, or whose Spark result disagrees with its oracle, is
not recorded (the script reports it and exits non-zero). Writes
perfbench/expected.json.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch, datagen  # noqa: E402
from perfbench.harness import Run  # noqa: E402
from perfbench.stats import result_hash  # noqa: E402


def oracle_hash(con, sql: str) -> list:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return list(result_hash(cols, cur.fetchall()))


def main(scales: list[float]) -> int:
    import duckdb
    import time

    run = Run(root=ROOT, workload="record", seed=0, seconds=0, trace=False,
              scale=scales[0], t_process=time.perf_counter())
    spark = run.start_session()
    queries = batch.workload_queries("olap_joins") + batch.workload_queries("pipeline_ops")
    try:
        with open(batch.EXPECTED) as f:
            out = json.load(f)
    except FileNotFoundError:
        out = {}
    bad = []
    for scale in scales:
        data = run.data_dir(scale)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
            )
        rec = {}
        for q in sorted(queries, key=lambda q: q.name):
            try:
                df = q.builder(spark, data)
                got = list(result_hash(df.columns, df.collect()))
            except Exception as e:  # reported; the query gets no expectation
                print(f"{scale:g} {q.name}: ERROR {type(e).__name__}", flush=True)
                bad.append((scale, q.name, "error", str(e).splitlines()[0]))
                continue
            want = oracle_hash(con, q.oracle) if q.oracle else None
            status = "no-oracle" if want is None else ("ok" if got == want else "MISMATCH")
            print(f"{scale:g} {q.name}: {got} {status}", flush=True)
            if status == "MISMATCH":
                bad.append((scale, q.name, got, want))
            else:
                rec[q.name] = got
        out[f"{scale:g}"] = rec
        con.close()
    run.shutdown()
    with open(batch.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for b in bad:
        print("not recorded:", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main([float(a) for a in sys.argv[1:]] or [0.1, 0.01, 0.001]))
