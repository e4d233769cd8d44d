import pytest

from kgforge.session import young_gen_option


def test_young_gen_is_a_sixth_of_the_heap():
    assert young_gen_option("3g") == "-Xmn512m"
    assert young_gen_option("3072m") == "-Xmn512m"
    assert young_gen_option("3GB") == "-Xmn512m"
    assert young_gen_option("3072") == "-Xmn512m"  # bare size is MiB
    assert young_gen_option("48g") == "-Xmn8192m"
    with pytest.raises(ValueError):
        young_gen_option("1.5g")


def test_driver_jvm_starts_with_fixed_young_gen(spark):
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    heap = next(a for a in args if a.startswith("-Xmx"))[len("-Xmx"):]
    assert young_gen_option(heap) in args
