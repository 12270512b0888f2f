import os
import sys

import pytest

# the repo root, so tests import tools/ and __spark_entry__ as the
# tools themselves do
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from toshokan_spark.session import local_session

    # local[4] with 8 shuffle partitions: the job budgets the tests pin
    # were counted on this shape
    s = local_session(
        "toshokan_spark_tests", 4, {"spark.sql.shuffle.partitions": "8"}
    )
    yield s
    s.stop()


@pytest.fixture(params=["local", "hadoop"])
def catalog(tmp_path, request, spark):
    """Catalog over both storage backends — the local fs and the
    Hadoop FileSystem API (the exact code path s3a:// uses, driven
    against file: paths since the sandbox has no object store),
    mirroring the reference's dual fs/S3 test matrix
    (`/root/reference/tests/config.rs:133-233`)."""
    from toshokan_spark.catalog import FsCatalog
    from toshokan_spark.storage import storage_for

    root = str(tmp_path / "catalog")
    if request.param == "hadoop":
        return FsCatalog(root, storage=storage_for(root, spark, force_hadoop=True))
    return FsCatalog(root)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
