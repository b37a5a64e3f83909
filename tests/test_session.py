"""Session factory: the Python worker pool is warmed once per
SparkContext, however many sessions share that context; the worker
daemon keeps the zip importers' directories across tasks; the workers
import the package from any driver cwd."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from gliner_transbronchialbiopsy_spark import pydaemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# pydaemon installs its zip guard only below 3.13, whose stdlib
# zipimporter already defers the directory re-read
_EAGER_ZIP_INVALIDATION = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily; no guard",
)


class _Context:
    pass


class _StubPlan:
    """Takes the warm-up's DataFrame calls; its write fails."""

    def repartition(self, n):
        return self

    def mapInPandas(self, fn, schema):
        return self

    @property
    def write(self):
        return self

    def format(self, source):
        return self

    def mode(self, mode):
        return self

    def save(self):
        raise RuntimeError("stub session runs no jobs")


class _StubSession:
    """Counts warm-up attempts; the warm-up write itself fails, which
    _warm_python_workers reports as a warning (best effort)."""

    def __init__(self, context):
        self.sparkContext = context
        self.warmups = 0

    def range(self, n):
        self.warmups += 1
        return _StubPlan()


def test_failed_warm_up_warns(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NO_WORKER_WARMUP", raising=False)
    stub = _StubSession(_Context())
    with pytest.warns(UserWarning, match="stub session runs no jobs"):
        session._warm_python_workers(stub, 2)
    assert stub.warmups == 1


@pytest.mark.filterwarnings("ignore:Python worker warm-up failed")
def test_sessions_sharing_a_context_warm_up_once(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NO_WORKER_WARMUP", raising=False)
    shared = _Context()
    first, second = _StubSession(shared), _StubSession(shared)
    session._warm_python_workers(first, 2)
    session._warm_python_workers(second, 2)
    assert (first.warmups, second.warmups) == (1, 0)

    other = _StubSession(_Context())
    session._warm_python_workers(other, 2)
    assert other.warmups == 1


def test_driver_memory_is_half_the_host_capped_at_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096

    def host(gib):
        sizes = {"SC_PHYS_PAGES": (gib << 30) // page, "SC_PAGE_SIZE": page}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)

    host(16)
    assert session._driver_memory() == "8192m"
    host(256)
    assert session._driver_memory() == f"{48 * 1024}m"

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"


def test_cpus_default_to_the_cores_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session._default_cpus() == 3

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert session._default_cpus() == 12


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@_EAGER_ZIP_INVALIDATION
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # restored at teardown: the guard patches the class in place
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"first": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    pydaemon._install_zip_guard()

    importer.invalidate_caches()
    files = importer._files
    importer.invalidate_caches()
    assert len(reads) == 2  # construction, then the first invalidation
    assert importer._files is files

    _write_zip(archive, {"first": "X = 1\n", "added": "Y = 2\n"})
    importer.invalidate_caches()
    assert len(reads) == 3
    spec = importer.find_spec("added")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2

    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}


@_EAGER_ZIP_INVALIDATION
def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    """pyspark.worker calls importlib.invalidate_caches() once per task;
    under the daemon's guard the pyspark.zip importer keeps the same
    directory dict instead of re-reading the archive."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        def pyspark_zip_files():
            for finder in list(sys.path_importer_cache.values()):
                if isinstance(finder, zipimport.zipimporter) and (
                    finder.archive.endswith("pyspark.zip")
                ):
                    return finder._files
            return None

        importlib.invalidate_caches()
        first = pyspark_zip_files()
        importlib.invalidate_caches()
        kept = first is not None and pyspark_zip_files() is first
        for _ in batches:
            pass
        yield pd.DataFrame({"kept": [kept]})

    rows = (
        spark.range(1).repartition(1)
        .mapInPandas(probe, "kept boolean").collect()
    )
    assert [r.kept for r in rows] == [True]


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from gliner_transbronchialbiopsy_spark.functions import spark_fns, textlib
from gliner_transbronchialbiopsy_spark.session import get_spark

text = "Histology report.\\nCONCLUSION: benign bronchial mucosa."
spark = get_spark("outside_cwd", cpus=1, shuffle_partitions=1)
got = (
    spark.createDataFrame([(text,)], "content string")
    .select(spark_fns.extract_conclusion_udf(F.col("content")).alias("c"))
    .collect()
)
spark.stop()
assert [r.c for r in got] == [textlib.extract_conclusion(text)], got
print("UDF_OK")
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver outside the checkout with PYTHONPATH unset still runs
    the package's pandas UDFs: get_spark puts the package's parent
    directory on the workers' PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_DRIVER.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "UDF_OK" in proc.stdout
