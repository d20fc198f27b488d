import pytest

from more_pattern_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mpe_tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    from more_pattern_extraction_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, n_convs=12, base_turns=30, hot_convs=1, hot_mult=20)
    df.cache().count()
    return df


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(group, fn)`` runs ``fn`` under a Spark job group and
    returns its result and the number of Spark jobs it ran."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
