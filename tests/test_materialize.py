"""`functions.parallel.materialize` is the package's one materialization.

It is the only `localCheckpoint`/`checkpoint` caller in the package, and
every job it runs is described by its call site while the caller's job
group and description survive — on the main thread, in a `foreachBatch`
callback and in thread-pool workers.
"""

from __future__ import annotations

import ast
import pathlib
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import iceberg_diag_spark
from iceberg_diag_spark.functions.parallel import materialize

_DESC = "spark.job.description"
_GROUP = "spark.jobGroup.id"
_MODULE = __name__.rpartition(".")[2]


def _site(line: int) -> str:
    """The description materialize sets when called from `line` of the
    calling test function."""
    return f"{_MODULE}.{sys._getframe(1).f_code.co_name}:{line}"


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _jobs(spark, first: int, last: int | None = None) -> list[tuple]:
    """(group, description) of every job with id in [first, last)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out = []
    for j in range(first, last if last is not None else _next_job(spark)):
        jd = store.job(j)
        out.append(tuple(
            o.get() if o.isDefined() else None
            for o in (jd.jobGroup(), jd.description())
        ))
    return out


def test_only_materialize_checkpoints():
    pkg = pathlib.Path(iceberg_diag_spark.__file__).parent
    calls = [
        f"{p.relative_to(pkg)}:{n.lineno}"
        for p in sorted(pkg.rglob("*.py"))
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert len(calls) == 1 and calls[0].startswith("functions/parallel.py:"), calls


def test_materialize_names_its_jobs(spark):
    sc = spark.sparkContext
    base = spark.range(0, 2000, numPartitions=4)
    try:
        for prev in ("caller description", None):
            agg = base.groupBy((F.col("id") % 7).alias("k")).count()
            sc.setLocalProperty(_GROUP, "materialize-test")
            sc.setLocalProperty(_DESC, prev)
            first = _next_job(spark)
            eager = materialize(base.selectExpr("id * 2 AS x"), eager=True)
            eager_line = sys._getframe().f_lineno - 1
            mid = _next_job(spark)
            lazy = materialize(agg)  # AQE runs the shuffle-map stage here
            lazy_line = sys._getframe().f_lineno - 1
            assert sc.getLocalProperty(_DESC) == prev
            assert sc.getLocalProperty(_GROUP) == "materialize-test"
            got_eager, got_lazy = _jobs(spark, first, mid), _jobs(spark, mid)
            assert got_eager and got_lazy
            assert set(got_eager) == {("materialize-test", _site(eager_line))}
            assert set(got_lazy) == {("materialize-test", _site(lazy_line))}
            assert eager.count() == 2000 and lazy.count() == 7
    finally:
        sc.setLocalProperty(_GROUP, None)
        sc.setLocalProperty(_DESC, None)


def test_materialize_in_foreach_batch(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(0, 50, numPartitions=2).write.parquet(str(src))
    seen = []

    def on_batch(batch, batch_id):
        sc = batch.sparkSession.sparkContext
        before = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
        first = _next_job(spark)
        materialize(batch.groupBy((F.col("id") % 3).alias("k")).count())
        line = sys._getframe().f_lineno - 1
        last = _next_job(spark)
        after = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
        seen.append((before, after, first, last, _site(line)))

    q = (
        spark.readStream.schema("id LONG")
        .parquet(str(src))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert seen
    for before, after, first, last, site in seen:
        assert before[0] == str(q.runId) and before[1]
        assert after == before
        jobs = _jobs(spark, first, last)
        assert jobs and set(jobs) == {(str(q.runId), site)}


def test_materialize_in_thread_pool(spark):
    sc = spark.sparkContext

    def work(i):
        group, prev = f"materialize-worker-{i}", (f"worker {i}" if i % 2 else None)
        sc.setLocalProperty(_GROUP, group)
        sc.setLocalProperty(_DESC, prev)
        try:
            materialize(spark.range(0, 500 + i, numPartitions=2), eager=True)
            line = sys._getframe().f_lineno - 1
            restored = sc.getLocalProperty(_DESC) == prev
            return group, _site(line), restored
        finally:
            sc.setLocalProperty(_GROUP, None)
            sc.setLocalProperty(_DESC, None)

    first = _next_job(spark)
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(work, range(4)))
    jobs = _jobs(spark, first)
    assert all(restored for _, _, restored in results)
    assert set(jobs) == {(group, site) for group, site, _ in results}
