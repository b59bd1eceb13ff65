"""Job shape of the iterative rounds: convergence checks and checkpoint
lineage ride the job that materializes a round, and generated code is
reused across calls.  Jobs are tagged with ``setJobGroup`` and read back
from Spark's in-process status store."""

import contextlib
import itertools
import os

import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame, algorithms
from pregel_rs_spark.plans.checkpoint import CheckpointStore
from pregel_rs_spark.pregel import truncate_plan

_GROUP_IDS = itertools.count()


@contextlib.contextmanager
def job_group(sc, name):
    """Tag the jobs submitted inside the block with a fresh group id;
    the enclosing group (if any) is restored afterwards."""
    group = f"{name}-{next(_GROUP_IDS)}"
    prev = {
        k: sc.getLocalProperty(k)
        for k in ("spark.jobGroup.id", "spark.job.description")
    }
    sc.setJobGroup(group, name)
    try:
        yield group
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def jobs_in(sc, group) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _state(spark, n=1000, parts=4):
    return truncate_plan(
        spark.range(0, n, numPartitions=parts).select(
            F.col("id").alias("vertex_id"), (F.col("id") % 7).alias("aux")
        )
    )


def _paths(spark, paths=20, length=6):
    """Disjoint paths with ids out of path order (several star rounds)."""
    order = [0, 5, 1, 4, 2, 3][:length]
    rows = [
        (p * 10 + order[i], p * 10 + order[i + 1])
        for p in range(paths)
        for i in range(length - 1)
    ]
    return GraphFrame.from_edges(
        spark.createDataFrame(rows, "subject long, object long")
    )


def test_truncate_plan_observes_on_the_materializing_job(spark):
    sc = spark.sparkContext
    df = spark.range(0, 100, numPartitions=4)
    with job_group(sc, "observe") as g:
        out = truncate_plan(df, observe={"total": F.sum("id")})
    assert out.observed == {"rows": 100, "total": 4950}
    with job_group(sc, "plain") as g0:
        truncate_plan(df)
    assert jobs_in(sc, g) == jobs_in(sc, g0)

    empty = truncate_plan(df.filter(F.col("id") < 0), observe={})
    assert empty.observed == {"rows": 0}
    assert truncate_plan(df).observed is None
    with pytest.raises(ValueError, match="reserved"):
        truncate_plan(df, observe={"rows": F.count(F.lit(1))})


def test_checkpoint_write_is_one_job(spark, tmp_path):
    sc = spark.sparkContext
    state = _state(spark)
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    with job_group(sc, "ckpt-write") as g:
        store.write(3, state)
    assert jobs_in(sc, g) == 1
    m = store.manifests()[-1]
    assert m["rows"] == 1000
    assert sum(p["rows"] for p in m["partitions"]) == 1000
    assert sorted(p["pid"] for p in m["partitions"]) == [0, 1, 2, 3]
    assert store.latest()[0] == 3


def test_checkpoint_write_raises_when_files_disagree(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    real_write = store.tables.write

    def torn_write(name, df, partition_by=None):
        # the write lands, then one data file goes missing
        real_write(name, df, partition_by)
        path = store.tables._path(name)
        victim = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
        os.remove(os.path.join(path, victim))

    store.tables.write = torn_write
    with pytest.raises(RuntimeError, match="data files hold"):
        store.write(1, _state(spark))
    assert store.manifests() == []


@pytest.mark.parametrize("algo", ["star", "k_core"])
def test_loops_submit_no_job_outside_truncate_plan(spark, monkeypatch, algo):
    sc = spark.sparkContext
    inner = []

    def tagged(*args, **kwargs):
        with job_group(sc, "truncate") as g:
            inner.append(g)
            return truncate_plan(*args, **kwargs)

    monkeypatch.setattr(algorithms, "truncate_plan", tagged)
    g = _paths(spark)
    with job_group(sc, algo) as outer:
        if algo == "star":
            res = algorithms.connected_components(g, method="star")
        else:
            res = algorithms.k_core(g, 2)  # peels every path in 3 rounds
    assert jobs_in(sc, outer) == 0
    assert sum(jobs_in(sc, t) for t in inner) >= len(inner)
    monkeypatch.undo()
    if algo == "star":
        assert res.cc_rounds >= 2
        comp = {r.vertex_id: r.component for r in res.collect()}
        assert comp == {v: v - v % 10 for v in comp} and len(comp) == 120
    else:
        assert res.count() == 0


def test_codegen_cache_reused_across_calls(spark):
    """A warm call reuses the classes the first call generated.  Label and
    star components together generate about 100 classes, more than
    Spark's default 100-entry cache keeps (49-69 recompiled per warm call
    there).  AQE re-plans the star loop from runtime statistics and now and
    then generates a dozen new classes in one call, so the fewest of two
    warm calls is asserted."""
    compiled = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    g = _paths(spark)

    def call():
        label = algorithms.connected_components(g).collect()
        star = algorithms.connected_components(g, method="star").collect()
        return sorted(label), sorted(star)

    first = call()
    grown = []
    for _ in range(2):
        before = compiled.getCount()
        assert call() == first
        grown.append(compiled.getCount() - before)
    assert min(grown) < 10, grown
