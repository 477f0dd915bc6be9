"""Session helpers leave a shared session as they found it."""

from video_features_spark.session import job_description


def test_job_description_restores_prior(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        with job_description(spark, "inner"):
            assert sc.getLocalProperty("spark.job.description") == "inner"
            spark.range(3).count()
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    with job_description(spark, "inner"):
        pass
    assert sc.getLocalProperty("spark.job.description") is None
