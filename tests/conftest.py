from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("CDC_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from change_data_capture_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("cdc-spark-tests", master=f"local[{cpus}]", shuffle_partitions=cpus)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (Spark jobs fn() launched, fn()'s result)``: a
    max-id delta of the status store, each side read once the listener
    bus drains, so it counts jobs from every thread, broadcasts included."""
    sc = spark.sparkContext._jsc.sc()

    def max_job_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def count(fn):
        j0 = max_job_id()
        out = fn()
        return max_job_id() - j0, out

    return count


@pytest.fixture
def count_py4j(spark):
    """``count_py4j(fn) -> (py4j round trips fn() made, fn()'s result)``:
    wraps py4j's ``ClientServerConnection.send_command`` for the call.
    The object releases Python's garbage collector sends are not
    counted, as when they are sent depends on the collector, not on
    ``fn``."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    send = ClientServerConnection.send_command

    def count(fn):
        n = 0

        def counted(self, command):
            nonlocal n
            if not command.startswith(release):
                n += 1
            return send(self, command)

        ClientServerConnection.send_command = counted
        try:
            out = fn()
        finally:
            ClientServerConnection.send_command = send
        return n, out

    return count


@pytest.fixture
def session_conf(spark):
    """``with session_conf({key: value, ...}):`` sets session confs for
    the block and restores each one's previous value (or unsets it)."""
    from contextlib import contextmanager

    @contextmanager
    def scoped(confs):
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return scoped
