import collections
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from tracing import Tracer


class FakeJobs:
    """Stands in for Spark: ``launch`` starts a job (from any thread)."""

    def __init__(self):
        self._n = 0
        self._lock = threading.Lock()

    def launch(self):
        with self._lock:
            self._n += 1

    def next_job_id(self):
        return self._n

    def job_metrics(self, job_ids):
        return collections.Counter(tasks=2 * len(job_ids),
                                   executor_run_s=0.5 * len(job_ids))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = Tracer(FakeJobs(), clock=clock)
    outer = tr.enter("a.outer", "a")
    clock.t = 1.0
    inner = tr.enter("b.inner", "b")
    clock.t = 4.0
    tr.exit(inner)
    clock.t = 5.0
    inner2 = tr.enter("b.inner", "b")
    clock.t = 6.0
    tr.exit(inner2)
    clock.t = 10.0
    tr.exit(outer)
    assert tr.spans[outer].duration == 10.0
    assert tr.spans[outer].self_s == 6.0
    assert tr.spans[inner].self_s == 3.0
    assert tr.spans[inner].parent == outer
    assert tr.layer["a"]["build_s"] == 6.0
    assert tr.layer["b"]["build_s"] == 4.0
    assert tr.layer["b"]["calls"] == 2


def test_calls_inside_an_exec_span_count_as_exec_time():
    clock = FakeClock()
    jobs = FakeJobs()
    tr = Tracer(jobs, clock=clock)
    ex = tr.enter("fill.exec", "fill", "exec")
    clock.t = 1.0
    call = tr.enter("result.values", "result")
    jobs.launch()
    clock.t = 3.0
    tr.exit(call)
    tr.exit(ex)
    assert tr.layer["fill"]["exec_s"] == 3.0
    assert tr.layer["fill"]["exec_jobs"] == 1   # the exec span owns the job
    assert tr.layer["result"]["calls"] == 1
    assert tr.layer["result"]["build_s"] == 0.0
    assert tr.layer["result"]["build_jobs"] == 0
    assert tr.layer["fill"]["tasks"] == 2


def test_pool_thread_jobs_land_in_the_calling_span():
    jobs = FakeJobs()
    tr = Tracer(jobs)

    def helper():
        jobs.launch()

    traced_helper = tr._wrap(helper, "operators.dedup.helper",
                             "operators.dedup")

    def operator():
        # the library's 2-worker pools: jobs and wrapped calls in threads
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(lambda _: traced_helper(), range(4)))
        jobs.launch()

    traced = tr._wrap(operator, "operators.dedup.operator", "operators.dedup")
    traced()
    assert tr.finish() == {"total": 5, "attributed": 5, "unattributed": 0}
    assert len(tr.spans) == 1                     # helpers ran unwrapped
    assert tr.spans[0].jobs == [0, 1, 2, 3, 4]
    m = tr.metrics()
    assert m["unattributed.jobs"] == 0
    assert m["operators.dedup.build_jobs"] == 5
    assert m["operators.dedup.tasks"] == 10


def test_jobs_outside_spans_are_unattributed():
    jobs = FakeJobs()
    tr = Tracer(jobs)
    jobs.launch()
    with tr.span("queries.row", "queries"):
        jobs.launch()
    jobs.launch()
    assert tr.finish() == {"total": 3, "attributed": 1, "unattributed": 2}


def test_install_wraps_aliases_and_restore_puts_them_back():
    import importlib

    import dask_histogram_spark as dhs
    from dask_histogram_spark import queries, result

    # the package's ``fill`` attribute is the function, not the module
    fill_mod = importlib.import_module("dask_histogram_spark.fill")

    originals = (dhs.fill, fill_mod.fill, queries.fill,
                 result.AggHistogram.values)
    tr = Tracer(FakeJobs())
    tr.install()
    try:
        assert dhs.fill is not originals[0]
        assert dhs.fill is fill_mod.fill is queries.fill
        assert result.AggHistogram.values is not originals[3]
    finally:
        tr.restore()
    assert (dhs.fill, fill_mod.fill, queries.fill,
            result.AggHistogram.values) == originals


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("tracing-test")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_spark_jobs_from_a_pool_thread_are_attributed(spark):
    from tracing import JobSource

    tr = Tracer(JobSource(spark.sparkContext))

    def operator():
        with ThreadPoolExecutor(max_workers=2) as pool:
            counts = list(pool.map(lambda n: spark.range(n).count(), (10, 20)))
        return counts

    traced = tr._wrap(operator, "operators.dedup.operator", "operators.dedup")
    assert traced() == [10, 20]
    jobs = tr.finish()
    assert jobs["total"] >= 2
    assert jobs["attributed"] == jobs["total"]
    assert jobs["unattributed"] == 0
    m = tr.metrics()
    assert m["operators.dedup.build_jobs"] == jobs["total"]
    assert m["operators.dedup.tasks"] >= 2
