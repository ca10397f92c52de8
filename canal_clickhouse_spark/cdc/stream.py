"""Streaming CDC apply: micro-batch upsert, schema evolution, checkpoint resume.

The reference's main loop — consume binlog batches, apply onto the sink,
persist the position so a restart resumes exactly once (/root/reference/
README.md:1, Canal semantics are public knowledge). The Spark-native shape:
Structured Streaming file/Kafka source → ``foreachBatch`` version-aware merge
→ checkpointed offsets. There is one such sink: ``CdcPipeline.stream``
(pipeline.py), which ``cdc_checkpoint_resume`` drives over FlatMessage files;
its merge and FINAL read are ``merge_versioned`` / ``read_final_state`` from
``cdc/apply.py``.

The merge keeps tombstones (deleted keys stay in state with op='DELETE') and
resolves strictly by version, so it is insensitive to micro-batch boundaries
AND to out-of-order batch arrival — replaying any suffix of the log is
idempotent. That invariance is property-tested (tests/test_cdc.py) and is
what makes the at-least-once transport safe.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .apply import merge_versioned, read_final_state
from .changes import FINAL_STATE_SQL, ORDER_COLS, PK, change_log
from .envelope import build_envelope


@query("cdc_stream_apply", oracle=FINAL_STATE_SQL)
def cdc_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch upsert, emulated deterministically batch-by-batch.

    Applies the three CDC rounds as separate micro-batches through the same
    merge ``foreachBatch`` uses (cdc_checkpoint_resume runs the real
    streaming machinery; unit tests cover arbitrary batch splits).
    """
    changes = change_log(spark, sf_dir)
    state: DataFrame | None = None
    for v in (0, 1, 2):
        state = merge_versioned(state, changes.filter(F.col("version") == v))
    assert state is not None
    return read_final_state(state).select(*ORDER_COLS)


@query(
    "cdc_schema_evolve",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, CAST(NULL AS VARCHAR) AS o_channel
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority, 'web'
    FROM orders
    """,
)
def cdc_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL add-column mid-stream: old files lack the column, reads heal.

    A Canal ``isDdl`` ALTER TABLE ADD COLUMN lands mid-stream; rows written
    before it have no such column. Parquet + ``mergeSchema`` gives additive
    evolution: the merged schema carries the new column, pre-DDL rows read
    NULL — exactly ClickHouse's ALTER ... ADD COLUMN default-fill behavior.
    """
    base = f"/tmp/ccs_evolve_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(base, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(*ORDER_COLS)
    o.write.mode("overwrite").parquet(base)
    o.withColumn("o_channel", F.lit("web")).write.mode("append").parquet(base)
    return spark.read.option("mergeSchema", "true").parquet(base)


@query("cdc_checkpoint_resume", oracle=FINAL_STATE_SQL)
def cdc_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming apply with offset-checkpointed resume.

    The three CDC rounds land as one FlatMessage file each (``es`` = the
    round) and ``maxFilesPerTrigger=1`` turns them into three real
    micro-batches through ``CdcPipeline.stream`` — the same ``foreachBatch``
    sink and ``v{n}/_SUCCESS`` snapshot store a deployment runs. A second
    streaming query on the SAME checkpoint then proves resume: its offset
    log says everything is committed, so it processes zero batches and no
    new snapshot version is committed. The returned FINAL state hash-matches
    the batch oracle — stream/batch equivalence end-to-end.
    """
    from ..pipeline import CdcPipeline, TableSync

    base = f"/tmp/ccs_ckpt_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(base, ignore_errors=True)
    src = f"{base}/src"
    changes = change_log(spark, sf_dir)
    for v in (0, 1, 2):
        build_envelope(
            changes.filter(F.col("version") == v),
            "shop",
            "orders",
            [PK],
            {c: F.col(c).cast("string") for c in ORDER_COLS},
            es=F.col("version").cast("long"),
            op=F.col("op"),
        ).coalesce(1).write.mode("append").text(src)

    rule = TableSync(
        "shop", "orders", pk=PK,
        mapping={f.name: f.dataType.simpleString()
                 for f in changes.select(*ORDER_COLS).schema},
    )
    pipe = CdcPipeline(spark, [rule], f"{base}/state", f"{base}/ckpt")

    def run_once() -> None:
        msgs = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
        pipe.stream(msgs, msg_col="value").awaitTermination()

    run_once()
    committed = pipe._latest_version(rule)
    run_once()  # resume from checkpoint: no new files -> no new batches
    assert pipe._latest_version(rule) == committed, "resume replayed batches"
    return pipe.read_table("shop", "orders").select(*ORDER_COLS)
