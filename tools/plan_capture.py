"""Capture .explain('formatted') for every bench key + a plan-shape audit.

Usage: python tools/plan_capture.py <out_dir_suffix e.g. before|after> [key ...]

Writes plans/r12/<key>_<suffix>.txt and prints one audit line per key:
exchange count, join strategies, python-eval nodes, scan pushdown notes.
Construction time (Python+py4j+any eager DDL work) is recorded separately
from plan text so driver-side overhead is visible (guide §1).
"""
from __future__ import annotations

import io
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from canal_clickhouse_spark import QUERIES, get_spark  # noqa: E402
from bench import HEADLINE, EXTENDED  # noqa: E402
from registry_audit import plan_shape  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", os.environ.get("PLAN_ROUND", "r13"))


def main() -> None:
    suffix = sys.argv[1]
    keys = sys.argv[2:] or list(HEADLINE) + list(EXTENDED)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    for key in keys:
        t0 = time.perf_counter()
        df = QUERIES[key](spark, sf_dir)
        t_build = time.perf_counter() - t0
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(OUT, f"{key}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_ex, n_bx, joins, pyn = plan_shape(plan)
        n_scan = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
        n_win = len(re.findall(r"^\(\d+\) Window$", plan, re.M))
        n_agg = len(re.findall(r"^\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)$", plan, re.M))
        print(f"{key:30s} build={t_build:6.2f}s ex={n_ex:2d} bcast={n_bx} "
              f"scans={n_scan} win={n_win} agg={n_agg} joins={joins} py={pyn}",
              flush=True)


if __name__ == "__main__":
    main()
