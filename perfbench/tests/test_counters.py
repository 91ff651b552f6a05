"""The counter reader attributes jobs to their group exactly, and a
workload iteration's load-independent counters repeat exactly."""

from pyspark.sql import functions as F

from perfbench import run
from perfbench.counters import group_stats, set_job_group
from perfbench.workloads import Sync


def _under(spark, group, action):
    set_job_group(spark, group)
    try:
        action()
    finally:
        set_job_group(spark, None)
    return group_stats(spark, group)


def test_map_only_write_is_one_job_one_stage(spark):
    df = spark.range(0, 1000, 1, 4)
    st = _under(spark, "t-noop", lambda: df.write.format("noop").mode("overwrite").save())
    assert (st.jobs, st.stages, st.tasks) == (1, 1, 4)
    assert st.shuffle_write_mb == 0.0


def test_aggregate_counts_the_map_stage_once(spark):
    # adaptive execution runs the map stage as its own job; the result
    # job then lists it again as a skipped stage, which must not count
    df = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("k")).count()
    st = _under(spark, "t-agg", df.collect)
    assert (st.jobs, st.stages) == (2, 2)
    assert st.tasks >= 5
    assert st.shuffle_write_mb > 0
    assert 0 < st.job_time_s()


def test_other_groups_do_not_leak_in(spark):
    spark.range(10).collect()  # no group
    _under(spark, "t-other", lambda: spark.range(10).collect())
    st = _under(spark, "t-mine", lambda: spark.range(0, 10, 1, 2).write.format("noop")
                .mode("overwrite").save())
    assert st.jobs == 1


class TinySync(Sync):
    SCALE = 0.01


def test_repeated_iterations_repeat_jobs_and_shuffle(spark, host, tmp_path):
    wl = TinySync(spark, host["cores"])
    wl.generate(tmp_path / "in", seed=3)
    runner = run.Runner(spark, wl, tmp_path / "out")
    first = run.untraced_loop(runner, 0, "a")[0]
    second = run.untraced_loop(runner, 0, "b")[0]
    assert runner.failed == 0, runner.failures
    assert first[1] == second[1] > 0  # spark_jobs
    assert first[2] == second[2] > 0  # shuffle_mb
