import pytest


@pytest.fixture(scope="session")
def spark():
    from manuscript_ocr_spark.session import get_spark

    # master local[$SPARK_GRAFT_CPUS], local[*] when unset
    s = get_spark(app_name="manuscript-ocr-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small_dir(tmp_path_factory):
    """Deterministic sf-small fixture tier (generated once per test session
    into a tmp dir so the repo stays clean; seed 42 → identical content)."""
    from manuscript_ocr_spark.fixtures import write_fixtures

    out = tmp_path_factory.mktemp("fixtures") / "sf-small"
    write_fixtures(str(out), n_docs=200, n_pages=60, with_expected=True)
    return str(out)
