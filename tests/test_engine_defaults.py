"""The engine-defaults deployment seam (engine.py) and the session
factory's prompt stop (session.py)."""

from __future__ import annotations

import os
import socket
import struct
import subprocess
import sys
import time

import pytest
from pyspark.accumulators import _start_update_server
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import MATERIALIZE_CONF, materialize
from mimic_iv_data_pipeline_spark.session import _prompt_shutdown

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HANDLER_TRACEBACK = "during processing of request"  # socketserver.handle_error


def test_materialize_local_default(spark):
    df = spark.range(10).transform(materialize)
    assert df.count() == 10
    # lineage is truncated: the plan scans a materialized RDD, not Range
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_materialize_reliable_uses_checkpoint_dir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    try:
        df = spark.range(7).transform(materialize)
        assert df.count() == 7
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Range" not in plan
        # the checkpoint actually landed in the configured directory
        assert any((tmp_path / "ckpt").rglob("*"))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_materialize_rejects_unknown_mode(spark):
    spark.conf.set(MATERIALIZE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="local.*reliable|reliable.*local"):
            materialize(spark.range(1))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_iterative_operator_respects_reliable_mode(spark, tmp_path):
    """End-to-end: connected components under reliable mode produces
    identical results (the seam changes state placement, not values)."""
    from mimic_iv_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    base = sorted(map(tuple, connected_components(edges, "src", "dst").collect()))
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    try:
        rel = sorted(map(tuple, connected_components(edges, "src", "dst").collect()))
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
    assert base == rel


def _authenticated_client(server, token: str) -> socket.socket:
    """Connect the way the JVM does: send the token and one (empty)
    update, read the ack, then keep the connection open."""
    client = socket.create_connection(server.server_address)
    client.sendall(token.encode() + struct.pack("!i", 0))
    assert client.recv(1) == b"\x01"
    time.sleep(0.05)  # let the handler settle into its select, as between jobs
    return client


@pytest.mark.parametrize("held", [False, True], ids=["idle", "connection-held"])
def test_accumulator_server_shutdown_is_prompt(held, capfd):
    server = _start_update_server("token", False)
    _prompt_shutdown(server)
    client = _authenticated_client(server, "token") if held else None
    try:
        t0 = time.perf_counter()
        server.shutdown()
        elapsed = time.perf_counter() - t0
    finally:
        if client is not None:
            client.close()
    # unwrapped, shutdown waits out a 0.5 s (idle) or 1 s (held) poll
    assert elapsed < 0.1
    assert HANDLER_TRACEBACK not in capfd.readouterr().err


def test_handler_eof_before_shutdown_still_reported(capfd):
    server = _start_update_server("token", False)
    _prompt_shutdown(server)
    try:
        _authenticated_client(server, "token").close()
        err, deadline = "", time.monotonic() + 10
        while HANDLER_TRACEBACK not in err and time.monotonic() < deadline:
            time.sleep(0.02)
            err += capfd.readouterr().err
    finally:
        server.shutdown()
    assert HANDLER_TRACEBACK in err and "EOFError" in err


_STOP_AFTER_FOREACH = """
from mimic_iv_data_pipeline_spark import get_spark
from mimic_iv_data_pipeline_spark.session import _PromptShutdown

spark = get_spark("stop-check")
server = spark.sparkContext._accumulatorServer
server_class = type(server)
assert get_spark("stop-check") is spark
assert type(server) is server_class
assert server_class.__mro__.count(_PromptShutdown) == 1
acc = spark.sparkContext.accumulator(0)
spark.sparkContext.parallelize(range(1, 10001), 8).foreach(acc.add)
assert acc.value == 50005000, acc.value
spark.stop()
"""


def test_python_accumulator_exact_through_prompt_stop():
    """A real session, in its own process so the shared one keeps
    running: a ``foreach`` leaves the JVM's accumulator connection open,
    every update still arrives, and stopping prints no handler error."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEMORY": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _STOP_AFTER_FOREACH],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert HANDLER_TRACEBACK not in proc.stderr
