import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from wikdict_gen_spark.session import get_spark

    s = get_spark(app_name="tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Seeded corpus shared by all pipeline tests."""
    from wikdict_gen_spark.fixtures import build_fixture

    d = tmp_path_factory.mktemp("corpus")
    build_fixture(d, n_concepts=80, seed=42)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)
