"""The session factory's driver heap default (no Spark session needed)."""

from whoosh_spark.session import default_driver_memory

GB = 2**30


def test_driver_memory_is_a_quarter_of_ram_capped_at_8g():
    assert default_driver_memory(16 * GB) == "4096m"
    assert default_driver_memory(64 * GB) == "8192m"
    assert default_driver_memory(1 * GB) == "512m"  # floor


def test_driver_memory_reads_physical_ram():
    mb = int(default_driver_memory()[:-1])
    assert 512 <= mb <= 8192
