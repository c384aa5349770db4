"""The driver heap ``get_spark`` derives from the host (no session)."""

from pywrangler_spark.session import _physical_ram_bytes, driver_memory


def test_local_heap_below_ram_and_explicit_setting_wins():
    heap = driver_memory("local[4]")
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 2**20 < _physical_ram_bytes()

    conf = {"spark.driver.memory": "1g"}
    assert driver_memory("local[4]", conf) == "1g"
    assert driver_memory("spark://host:7077") is None
