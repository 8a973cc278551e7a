"""[EXT] Python UDF surface (scalar pandas_udf, grouped-agg UDAF,
UDTF): DuckDB oracle parity + plan shape."""

from __future__ import annotations

import pytest

from go_mailio_diskusage_handler_spark import plans, registry
from go_mailio_diskusage_handler_spark.functions import udfs
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_CORRECT, compare_with_oracle

ORACLE_CHECKED = [
    "udf_pandas_cosine",
    "udaf_weighted_avg_price",
    "udtf_path_segments",
    "udf_grouped_map_zscore",
    "udf_iter_model_scores",
    "udf_arrow_tokens",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_udtf_is_arrow_batched(spark):
    """The table function must ride Arrow batches, not per-row pickle."""
    df = registry.QUERIES["udtf_path_segments"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPythonUDTF" not in plan, plan


def test_zscore_arrow_and_pandas_paths_agree(spark):
    """applyInArrow (production path) and applyInPandas (reference
    kernel) must produce identical rows; and the Arrow plan must prune
    events to the 3 consumed columns before the Python exchange."""
    ev = load_table(spark, SF_CORRECT, "events")
    arrow_rows = {
        tuple(r) for r in udfs.per_user_zscores(ev).collect()
    }
    pandas_rows = {
        tuple(r) for r in udfs.per_user_zscores_pandas(ev).collect()
    }
    assert arrow_rows == pandas_rows
    plan = plans.executed_plan(udfs.per_user_zscores(ev))
    assert "FlatMapGroupsInArrow" in plan, plan
    # pruned scan: props/event_type/ts must not reach the UDF stage
    assert "props" not in plan, plan


def test_pandas_cosine_is_arrow_vectorized_and_shuffle_free(spark):
    """The scalar pandas_udf path must be ArrowEvalPython (vectorized
    batches), not BatchEvalPython (row-at-a-time), with zero shuffle."""
    df = udfs.cosine_vs_first_vector(load_table(spark, SF_CORRECT, "embeddings"))
    plan = plans.executed_plan(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plans.shuffle_count(df) == 0, plan


def test_iter_model_udf_is_arrow_not_batch_python(spark):
    """The iterator-form scalar UDF must plan as ArrowEvalPython (Arrow
    batches through one worker init), never row-at-a-time
    BatchEvalPython."""
    df = udfs.model_scores(load_table(spark, SF_CORRECT, "documents"))
    plan = plans.executed_plan(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_arrow_optimized_udf_uses_arrow_eval(spark):
    """useArrow=True must compile to ArrowEvalPython, not the pickled
    BatchEvalPython path — that transport difference is the whole
    point of the surface."""
    from go_mailio_diskusage_handler_spark import plans, registry

    plan = plans.executed_plan(
        registry.QUERIES["udf_arrow_tokens"](spark, SF_CORRECT)
    )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_barrier_map_in_pandas_surface(spark):
    """``mapInPandas(..., barrier=True)`` — the barrier execution mode
    distributed-training launchers (all-gather embedding jobs, NCCL
    init) rely on: every task starts together and can see the full
    task group via BarrierTaskContext.  Locally we pin the surface:
    the barrier stage runs, each task reports the SAME task-group size
    through the context, and results match the non-barrier twin.
    Barrier mode requires #partitions <= available slots, so the input
    is coalesced to 4."""
    import pandas as pd

    def agg_with_ctx(batches):
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        n = 0
        for pdf in batches:
            n += len(pdf)
        yield pd.DataFrame(
            {"rows": [n], "world_size": [len(ctx.getTaskInfos())]}
        )

    df = spark.range(0, 1000).repartition(4)
    out = df.mapInPandas(
        agg_with_ctx, "rows long, world_size int", barrier=True
    ).collect()
    assert sum(r.rows for r in out) == 1000
    assert {r.world_size for r in out} == {4}
