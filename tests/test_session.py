"""get_spark's sizing, as a pure function of the host: no session starts."""

from lucene_solr_1_spark.session import DRIVER_MEM_CAP_MB, host_sizing

GB = 1 << 30


def test_explicit_cores_are_honoured():
    # "os.cpu_count() or 8 if cores == '*' else int(cores)" parsed as
    # "os.cpu_count() or (...)" and ignored cores whenever the count was
    # known
    assert host_sizing(4, 32, 64 * GB)[0] == 4
    assert host_sizing("2", 32, 64 * GB)[0] == 2


def test_star_means_every_cpu():
    assert host_sizing("*", 32, 64 * GB)[0] == 32
    assert host_sizing("*", None, 64 * GB)[0] == 8


def test_driver_memory_fits_the_host():
    assert host_sizing("*", 4, 15 * GB)[1] == f"{15 * 1024 // 2}m"
    assert host_sizing("*", 4, 512 * GB)[1] == f"{DRIVER_MEM_CAP_MB}m"
    assert host_sizing("*", 4, None)[1] == f"{DRIVER_MEM_CAP_MB}m"
    assert host_sizing("*", 4, 256 << 20)[1] == "512m"
