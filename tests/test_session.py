"""The session factory's JVM settings, read back from the running JVM."""


def test_driver_jvm_delays_c2(spark):
    """build_session raises JDK 17's tier-4 (C2) thresholds tenfold in
    the driver JVM, so a cold job's C2 threads compile only hot code."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    got = {
        name: int(bean.getVMOption(name).getValue())
        for name in (
            "Tier4InvocationThreshold",
            "Tier4MinInvocationThreshold",
            "Tier4CompileThreshold",
            "Tier4BackEdgeThreshold",
        )
    }
    assert got == {
        "Tier4InvocationThreshold": 50000,
        "Tier4MinInvocationThreshold": 6000,
        "Tier4CompileThreshold": 150000,
        "Tier4BackEdgeThreshold": 400000,
    }
