"""CDC source plumbing that needs no Spark session."""

from __future__ import annotations

import sys
import threading
import time


class _StubSession:
    """Stands in for a SparkSession: ``dataSource.register`` counts calls
    on the class, so a stub instance holds no state of its own."""

    registrations = 0

    @property
    def dataSource(self):
        return self

    def register(self, ds) -> None:
        time.sleep(0.01)  # widen the window a racing thread could use
        type(self).registrations += 1


def test_register_once_per_session_under_concurrency():
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import register

    _StubSession.registrations = 0
    spark = _StubSession()
    start = threading.Barrier(16, timeout=10)

    def worker(session):
        start.wait()
        register(session)

    threads = [threading.Thread(target=worker, args=(spark,)) for _ in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert _StubSession.registrations == 1
    register(spark)
    assert _StubSession.registrations == 1

    # a second session registers again: the flag lives on the session
    # object, not on an ``id`` a later session could reuse
    register(_StubSession())
    assert _StubSession.registrations == 2
