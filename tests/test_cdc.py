"""CDC invariants beyond the oracle diff (SURVEY.md §5.3).

Property-style checks on the semantics that make at-least-once CDC safe:
batch-boundary invariance, replay idempotency, out-of-order batch tolerance,
and replacing ≡ collapsing on equivalent histories.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from canal_clickhouse_spark.cdc.apply import apply_replacing, merge_versioned, read_final_state
from canal_clickhouse_spark.cdc.changes import ORDER_COLS, change_log, sign_log
from canal_clickhouse_spark.registry import QUERIES
from tests.oracle_compare import canon_frame


def _final_via_batches(changes, splits):
    """Apply the log as micro-batches defined by version splits."""
    state = None
    for versions in splits:
        batch = changes.filter(F.col("version").isin(list(versions)))
        state = merge_versioned(state, batch)
    return read_final_state(state).select(*ORDER_COLS)


def test_batch_boundary_invariance(spark, sf_dir):
    """One batch ≡ per-version batches ≡ uneven splits."""
    changes = change_log(spark, sf_dir).cache()
    try:
        expected = canon_frame(
            apply_replacing(changes).select(*ORDER_COLS).toPandas()
        )
        for splits in ([(0, 1, 2)], [(0,), (1,), (2,)], [(0, 1), (2,)]):
            got = canon_frame(_final_via_batches(changes, splits).toPandas())
            assert got == expected, f"split {splits} diverged"
    finally:
        changes.unpersist()


def test_out_of_order_and_replay_idempotent(spark, sf_dir):
    """Version-aware merge tolerates reordered and replayed batches."""
    changes = change_log(spark, sf_dir).cache()
    try:
        expected = canon_frame(
            apply_replacing(changes).select(*ORDER_COLS).toPandas()
        )
        # deletes arrive before the updates they supersede; round 1 replayed
        got = canon_frame(
            _final_via_batches(changes, [(0,), (2,), (1,), (1,)]).toPandas()
        )
        assert got == expected
    finally:
        changes.unpersist()


def test_collapsing_equals_replacing(spark, sf_dir):
    """The sign-stream collapse and the versioned replace agree on final state."""
    rep = canon_frame(QUERIES["cdc_apply_replacing"](spark, sf_dir).toPandas())
    col = canon_frame(QUERIES["cdc_apply_collapsing"](spark, sf_dir).toPandas())
    assert rep == col


def test_sign_stream_net_balance(spark, sf_dir):
    """Net sign is 0 for deleted keys, +1 for all surviving keys."""
    s = sign_log(spark, sf_dir)
    net = s.groupBy("o_orderkey").agg(F.sum("sign").alias("net"))
    bad = net.filter(~F.col("net").isin(0, 1)).count()
    assert bad == 0
    deleted = net.filter(
        (F.col("o_orderkey") % 100 == 0) & (F.col("net") != 0)
    ).count()
    assert deleted == 0


def test_checkpoint_resume_runs_real_stream(spark, sf_dir):
    """The streaming path (file source + checkpoint) lands on the batch state."""
    streamed = canon_frame(QUERIES["cdc_checkpoint_resume"](spark, sf_dir).toPandas())
    batch = canon_frame(QUERIES["cdc_apply_replacing"](spark, sf_dir).toPandas())
    assert streamed == batch


def test_mysql_type_derivation():
    """SURVEY §1.2 mapping rules: unsigned widens one tier, DECIMAL(P,S) is
    verbatim, ENUM yields a membership constraint."""
    from canal_clickhouse_spark.cdc.envelope import (
        mapping_from_mysql_types,
        spark_type_for_mysql,
    )

    assert spark_type_for_mysql("int(11)") == ("int", None)
    assert spark_type_for_mysql("int(10) unsigned") == ("bigint", None)
    assert spark_type_for_mysql("bigint(20) unsigned") == ("decimal(20,0)", None)
    assert spark_type_for_mysql("tinyint(3) unsigned") == ("smallint", None)
    assert spark_type_for_mysql("smallint(5) unsigned") == ("int", None)
    assert spark_type_for_mysql("mediumint(8)") == ("int", None)
    assert spark_type_for_mysql("mediumint(8) unsigned") == ("int", None)
    assert spark_type_for_mysql("DECIMAL(12,2)") == ("decimal(12,2)", None)
    assert spark_type_for_mysql("decimal(20)") == ("decimal(20,0)", None)
    assert spark_type_for_mysql("enum('O','F','P')") == ("string", ["O", "F", "P"])
    assert spark_type_for_mysql("varchar(64)") == ("string", None)
    assert spark_type_for_mysql("datetime(3)") == ("timestamp", None)
    assert spark_type_for_mysql("varbinary(128)") == ("binary", None)
    assert spark_type_for_mysql("json") == ("string", None)
    casts, enums = mapping_from_mysql_types(
        {"a": "int(10) unsigned", "b": "enum('x','y')"}
    )
    assert casts == {"a": "bigint", "b": "string"}
    assert enums == {"b": ["x", "y"]}


def test_enum_validation_nulls_out_of_domain(spark):
    """An enum value outside the declared set is rejected to NULL (the
    CHECK-style filter lane), not passed through."""
    from canal_clickhouse_spark.cdc.envelope import build_envelope, parse_envelope_typed

    src = spark.createDataFrame(
        [(1, "O"), (2, "ZZZ"), (3, "F")], "id bigint, st string"
    )
    msgs = build_envelope(
        src,
        database="d",
        table_name="t",
        pk_names=["id"],
        data_cols={"id": F.col("id").cast("string"), "st": F.col("st")},
        es=F.lit(0).cast("bigint"),
        mysql_types={"id": "bigint(20)", "st": "enum('O','F','P')"},
    )
    out = {r["id"]: r["st"] for r in parse_envelope_typed(msgs).collect()}
    assert out == {1: "O", 2: None, 3: "F"}
