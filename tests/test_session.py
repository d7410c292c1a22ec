from __future__ import annotations


def test_driver_jit_compiler_pool_is_fixed(spark):
    """``get_spark`` starts the driver JVM with a fixed JIT compiler
    pool. HotSpot's default pool starts and retires compiler threads
    while queries run, so compiler work comes and goes at random points
    of an operation."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(cls)
    assert bean.getVMOption("UseDynamicNumberOfCompilerThreads").getValue() == "false"
    # set as the default options, so a caller's extraJavaOptions keeps it
    conf = spark.sparkContext.getConf()
    assert "-XX:-UseDynamicNumberOfCompilerThreads" in conf.get(
        "spark.driver.defaultJavaOptions")
