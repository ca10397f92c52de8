"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from cdcgen import CUSTOMER, ORDERS, ChangeStream, Reference  # noqa: E402
from stats import tail  # noqa: E402
from trace import parse_event_log, sum_groups  # noqa: E402


# -- tail percentile ----------------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_of_eleven_samples_is_the_minimum():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0]
    assert tail(xs) == (1.0, 100.0 / 11, 11)


def test_tail_without_enough_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)


def test_tail_ignores_input_order():
    xs = [0.3, 0.1, 0.9, 0.5] * 10
    assert tail(xs) == tail(sorted(xs)) == tail(sorted(xs, reverse=True))


# -- reference apply -------------------------------------------------------------------


def _msg(mid, typ, rows, table="orders", database="shop", es=1000, is_ddl=False):
    return json.dumps({"id": mid, "database": database, "table": table, "type": typ,
                       "es": es, "isDdl": is_ddl, "data": rows})


def _order(k, status="O", price="10.00", cust=7, day="1996-01-02"):
    return {"o_orderkey": str(k), "o_custkey": str(cust), "o_orderstatus": status,
            "o_totalprice": price, "o_orderdate": day, "o_orderpriority": "2-HIGH"}


def test_reference_applies_a_hand_written_history():
    ref = Reference()
    ref.apply([
        _msg(1, "INSERT", [_order(1), _order(2), _order(3)]),
        _msg(2, "UPDATE", [_order(1, "F", "11.50"), _order(2, "P")], es=2000),
        _msg(3, "DELETE", [_order(3)], es=2000),
        '{"id": 4, "database": "shop", "table": "orders", "type": "UPD',  # malformed
        _msg(5, "ALTER", None, is_ddl=True),
        _msg(6, "INSERT", [_order(9)], table="orders_audit"),               # unrouted
        _msg(7, "INSERT", [_order(3, "O", "99.99")], es=3000),              # re-insert
        _msg(2, "UPDATE", [_order(1, "O", "1.00")], es=2000),               # replayed id
        _msg(8, "DELETE", [_order(2)], es=4000),
    ])
    assert ref.state["shop.orders"] == {
        1: (1, 7, "F", Decimal("11.50"), dt.date(1996, 1, 2), "2-HIGH"),
        3: (3, 7, "O", Decimal("99.99"), dt.date(1996, 1, 2), "2-HIGH"),
    }
    assert ref.skipped == {"malformed": 1, "ddl": 1, "unrouted": 1, "replayed": 1}
    days = (dt.date(1996, 1, 2) - dt.date(1970, 1, 1)).days
    assert ref.orders_summary() == {"F": (1, Decimal("11.50"), 7, days),
                                    "O": (1, Decimal("99.99"), 7, days)}


def test_reference_routes_customer_changes_separately():
    ref = Reference()
    row = {"c_custkey": "4", "c_name": "n", "c_nationkey": "3", "c_acctbal": "-1.25",
           "c_mktsegment": "BUILDING"}
    ref.apply([_msg(1, "INSERT", [row], table="customer")])
    assert ref.state["shop.customer"] == {4: (4, "n", 3, Decimal("-1.25"), "BUILDING")}
    assert ref.state["shop.orders"] == {}


# -- the generated stream ----------------------------------------------------------------


def _replay(stream, batches):
    ref = Reference()
    ref.apply(stream.initial_load().lines)
    out = [stream.next_batch(300) for _ in range(batches)]
    for b in out:
        ref.apply(b.lines)
    return ref, out


def test_same_seed_same_stream():
    a = ChangeStream(5, n_orders=500, n_customers=50)
    b = ChangeStream(5, n_orders=500, n_customers=50)
    assert a.initial_load().lines == b.initial_load().lines
    assert [a.next_batch(200).lines for _ in range(3)] == \
           [b.next_batch(200).lines for _ in range(3)]


def test_tie_free_stream_changes_a_row_once_per_binlog_second():
    _, batches = _replay(ChangeStream(3, n_orders=300, n_customers=40), 6)
    seen = set()
    for b in batches:
        for line in b.lines:
            try:
                m = json.loads(line)
            except ValueError:
                continue
            if m.get("isDdl") or m["table"] not in ("orders", "customer"):
                continue
            spec = ORDERS if m["table"] == "orders" else CUSTOMER
            for row in m["data"]:
                key = (m["id"], m["table"], row[spec.pk], m["es"])
                seen.add(key)
    per_second = {}
    for mid, table, pk, es in seen:
        per_second.setdefault((table, pk, es), set()).add(mid)
    assert all(len(ids) == 1 for ids in per_second.values())


def test_stream_keeps_state_size_flat_and_has_every_message_kind():
    ref, batches = _replay(ChangeStream(4, n_orders=400, n_customers=60), 8)
    assert len(ref.state["shop.orders"]) <= 400
    assert len(ref.state["shop.orders"]) > 300
    assert all(v > 0 for v in ref.skipped.values()), ref.skipped
    kinds = {json.loads(x)["type"] for b in batches for x in b.lines
             if x.endswith("}") and '"isDdl":false' in x}
    assert {"INSERT", "UPDATE", "DELETE"} <= kinds


# -- event log parser -------------------------------------------------------------------


def test_event_log_parser_on_a_recorded_job_group():
    """Events of one FINAL read, recorded from a Spark 4.1 event log."""
    with open(os.path.join(HERE, "eventlog_read_group.jsonl")) as f:
        groups = parse_event_log(f)
    assert set(groups) == {"read.5"}
    g = groups["read.5"]
    assert (g.jobs, g.stages, g.tasks) == (3, 3, 3)
    assert g.exec_cpu_s == pytest.approx(75_349_897 / 1e9)
    assert g.shuffle_bytes == 331
    assert g.input_bytes == 21_511
    assert g.output_bytes == 0
    # three disjoint jobs: 68 + 93 + 30 ms
    assert g.job_s == pytest.approx(0.191)


def test_event_log_parser_files_ungrouped_jobs_under_empty_name():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 0,
                    "Stage IDs": [4], "Properties": {}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 4,
                    "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                                     "Output Metrics": {"Bytes Written": 10}}}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 500}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 250,
                    "Stage IDs": [5], "Properties": {"spark.jobGroup.id": "m.apply.1"}}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 750}),
    ]
    groups = parse_event_log(lines)
    assert groups[""].exec_cpu_s == 2.0 and groups[""].output_bytes == 10
    assert groups["m.apply.1"].jobs == 1
    assert sum_groups(groups, "m.").job_s == 0.5
    assert sum_groups(groups, "").jobs == 2
