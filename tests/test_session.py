"""Session factory: the Python worker pool is warmed once per
SparkContext, however many sessions share that context."""

from gliner_transbronchialbiopsy_spark import session


class _Context:
    pass


class _StubSession:
    """Counts warm-up attempts; the warm-up query itself fails, which
    _warm_python_workers tolerates by design (best effort)."""

    def __init__(self, context):
        self.sparkContext = context
        self.warmups = 0

    def range(self, n):
        self.warmups += 1
        raise RuntimeError("stub session runs no jobs")


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
