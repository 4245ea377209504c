import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from oni_indexer_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="oni-indexer-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    from oni_indexer_spark.corpus import from_driver_documents

    return from_driver_documents(spark, SF_SMOKE).cache()


@pytest.fixture
def crash_at_swap(monkeypatch):
    """Context manager: a mutator run inside it dies right after its swap
    manifest is durable (``build._apply_swap`` raises, nothing swapped
    yet), and the crash is expected. The patch is undone on exit, so a
    later ``read_index`` replays the pending swap for real."""
    from oni_indexer_spark.index import build

    def _crash(path, fs):
        raise RuntimeError("injected crash: swap manifest written, swap not applied")

    @contextlib.contextmanager
    def _ctx():
        with monkeypatch.context() as m:
            m.setattr(build, "_apply_swap", _crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                yield

    return _ctx
