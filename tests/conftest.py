import os
import shutil
import tempfile

import pytest

from gliner_transbronchialbiopsy_spark.session import get_spark

# get_spark's default heap is half the host's memory: the suite's one
# long-lived JVM plus the job subprocesses the tests start (which
# inherit this) could together outgrow the host before a GC — or the
# ContextCleaner that frees unreferenced checkpoint blocks — ever runs;
# the test tables are small
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="gtbs_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def corpus_pd():
    from gliner_transbronchialbiopsy_spark.sources import corpus

    return corpus.generate_corpus(n_docs=250, seed=42)
