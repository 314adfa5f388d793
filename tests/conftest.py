import os
from contextlib import contextmanager

import pytest

from movex_cdc_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the suite runs at the core count the verify command sets
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(app_name="movex-cdc-tests", cpus=cpus, shuffle_partitions=8,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_lake(tmp_path):
    return str(tmp_path / "lake")


@pytest.fixture()
def cow_only():
    """``with cow_only():`` — every LakeTable merge inside the block takes
    the copy-on-write arm (delta depth bound 0)."""
    from movex_cdc_spark.lake import table

    @contextmanager
    def block():
        real = table.MAX_DELTA_DEPTH
        table.MAX_DELTA_DEPTH = 0
        try:
            yield
        finally:
            table.MAX_DELTA_DEPTH = real

    return block


@pytest.fixture()
def counting_fs():
    """A ``LocalFS`` counting its metadata read calls in ``reads`` (a
    ``walk`` is one call, as perfbench's tracer counts it). Pass it as a
    store's ``fs=`` and reset ``reads`` before the operation measured."""
    from movex_cdc_spark.lake.fs import LocalFS

    class ReadCountingFS(LocalFS):
        reads = 0

    for name in ("read_text", "exists", "isdir", "listdir", "mtime", "walk"):
        def counted(self, *a, _orig=getattr(LocalFS, name), **kw):
            self.reads += 1
            return _orig(self, *a, **kw)

        setattr(ReadCountingFS, name, counted)
    return ReadCountingFS()


@pytest.fixture()
def py4j_round_trips(spark):
    """``with py4j_round_trips() as rt:`` counts in ``rt.n`` the py4j
    round trips (``send_command`` calls) the calling thread makes inside
    the block; other threads' calls are not counted."""
    import threading
    from types import SimpleNamespace

    client = type(spark.sparkContext._gateway._gateway_client)
    orig = client.send_command

    @contextmanager
    def block():
        rt = SimpleNamespace(n=0)
        me = threading.get_ident()

        def counted(self, *a, **kw):
            if threading.get_ident() == me:
                rt.n += 1
            return orig(self, *a, **kw)

        client.send_command = counted
        try:
            yield rt
        finally:
            client.send_command = orig

    return block
