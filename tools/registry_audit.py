"""Full-registry plan audit: one line per registry key (sf0.001).

Builds every QUERIES[key] DataFrame and greps its formatted plan for the
anti-patterns guide §2-§4 cares about: exchange count, join strategies,
Python-eval nodes, cartesian products, scan pushdown. The checklist
artifact for the optimization rounds (PLAN_ROUND selects the output dir) — streaming keys that need a streaming
rig (and therefore return non-DataFrame handles) are reported as SKIP.
"""
from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from canal_clickhouse_spark import QUERIES, get_spark  # noqa: E402

_JOINS_RE = re.compile(
    r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)
_PYTHON_NODES_RE = re.compile(
    r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|PythonMapInArrow|ArrowAggregatePython|"
    r"AggregateInPandas|WindowInPandas|FlatMapGroupsInArrow)"
)


def plan_shape(plan: str) -> tuple[int, int, str, str]:
    """Shuffle exchanges, broadcast exchanges, join strategies and
    Python-boundary nodes of one ``explain("formatted")`` text; the two
    name lists are ``+``-joined, ``-`` when empty."""
    n_ex = len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))
    n_bx = len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M))
    joins = "+".join(sorted(set(_JOINS_RE.findall(plan)))) or "-"
    pyn = "+".join(sorted(set(_PYTHON_NODES_RE.findall(plan)))) or "-"
    return n_ex, n_bx, joins, pyn


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("registry-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("PLAN_ROUND", "r13"), "registry_audit.txt",
    )
    lines = []
    for key in sorted(QUERIES):
        try:
            df = QUERIES[key](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # streaming rigs / env-dependent keys
            lines.append(f"{key:34s} SKIP ({type(e).__name__}: {str(e)[:60]})")
            continue
        n_ex, n_bx, joins, pyn = plan_shape(plan)
        cart = "CARTESIAN!" if "CartesianProduct" in plan else ""
        lines.append(
            f"{key:34s} ex={n_ex:2d} bcast={n_bx} joins={joins} py={pyn} {cart}"
        )
    with open(out_path, "w") as f:
        f.write("Full-registry plan audit (sf0.001) — r12 optimization round\n")
        f.write("ex=shuffle exchanges, bcast=broadcast exchanges; py names any"
                " Python-boundary node (expected ONLY on the §2-L UDF keys"
                " and the Arrow multimodal kernels).\n\n")
        f.write("\n".join(lines) + "\n")
    n_py = sum(1 for l in lines if " py=" in l and " py=- " not in l + " ")
    print(f"{len(lines)} keys audited -> {out_path}")
    print("keys with Python nodes:",
          [l.split()[0] for l in lines if "py=-" not in l and "SKIP" not in l])
    print("keys with cartesian:",
          [l.split()[0] for l in lines if "CARTESIAN" in l])


if __name__ == "__main__":
    main()
