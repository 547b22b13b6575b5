"""Session factory sizing (pure Python, no JVM)."""

from mapping_analysis_spark.session import default_memory


def test_default_memory_scales_with_host_and_keeps_caps():
    # a 15.7 GiB host: a fifth on-heap, a sixteenth off-heap
    assert default_memory(16479424) == ("3218m", "1005m")
    # a 1 TiB host keeps the former fixed defaults (64g / 32g)
    assert default_memory(1024**3) == (f"{64 * 1024}m", f"{32 * 1024}m")

