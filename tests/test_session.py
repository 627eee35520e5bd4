"""get_spark's driver JVM options: the HotSpot tier-4 (C2) thresholds reach
the live JVM, and they ride in ``spark.driver.defaultJavaOptions`` so a
caller's ``spark.driver.extraJavaOptions`` adds to them."""

TIER4 = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_runs_with_tier4_thresholds(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    for flag in TIER4:
        assert flag in args


def test_thresholds_ride_in_default_java_options(spark):
    # the launcher puts defaultJavaOptions ahead of extraJavaOptions: a
    # caller's extra options go on top of these and win on a conflict
    assert spark.conf.get("spark.driver.defaultJavaOptions").split() == TIER4
    extra = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    assert not any(flag in extra for flag in TIER4)
