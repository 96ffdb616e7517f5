import os
import shutil

import pytest

# the Lucene/Solr source checkout whose test data some tests replay
REFERENCE_ROOT = "/root/reference"


def reference_path(rel: str) -> str:
    """Path of ``rel`` inside the reference checkout. Skips the calling
    test, naming the path, when it is absent, so tier-1 runs on a host
    without the checkout."""
    path = os.path.join(REFERENCE_ROOT, rel)
    if not os.path.exists(path):
        pytest.skip(f"reference fixture absent: {path}")
    return path


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_1_spark.session import get_spark
    s = get_spark(cores=4, shuffle_partitions=8, app="tests", driver_mem="6g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root(tmp_path_factory):
    import os
    p = tmp_path_factory.mktemp("idx")
    yield str(p)
    if not os.environ.get("KEEP_TMP"):
        shutil.rmtree(str(p), ignore_errors=True)
