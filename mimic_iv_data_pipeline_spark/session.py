"""SparkSession factory with scale-aware defaults.

The reference pipeline hand-manages memory with chunked pandas scans
(``utils/hosp_preprocess_util.py:296-327``) and an 8-process pool
(``utils/labs_preprocess_util.py:119-126``). On Spark all of that is
the engine's job; what we own is the configuration: AQE on (runtime
coalesce + skew-join handling), Arrow for the pandas boundary, UTC
session time zone so timestamp semantics are stable across engines.

Sessions from ``get_spark`` also stop promptly. ``SparkContext.stop()``
ends by shutting down PySpark's accumulator server, which on its own
returns only when the server's thread next wakes from a poll: up to
0.5 s when idle, and up to 1 s once any Python-worker job
(``mapInPandas``, pandas UDFs, ``foreach``) has left the JVM's
accumulator connection open. ``get_spark`` has that shutdown wake the
thread instead, so a notebook that stops and rebuilds sessions does not
wait out either poll.
"""

from __future__ import annotations

import contextlib
import functools
import os
import socket
import sys

from pyspark.sql import SparkSession

# Tuned for the local[32]/128GiB test harness; on a real cluster the
# submitter overrides master/memory and shuffle partitions scale with
# executor count (AQE coalesces the excess at runtime either way).
DEFAULT_CONFIG: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/mapping tables, cohort id lists) should
    # broadcast; 64 MB covers every dimension table in this workload.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "snappy",
    # LOCAL-HARNESS value: split small parquet inputs so scan stages use
    # every core even when a table is a single file (the default 128 MB
    # leaves a 10 MB documents table on 1-2 tasks, so heavy per-row scan
    # work — shingling, hashing — runs nearly single-threaded). A real
    # cluster submitter MUST override back to 128-256 MB: at 100 TB this
    # value would mean ~12M scan tasks, pure scheduler poison. The
    # scale-invariant rule is partitions ≈ a few × total cores.
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    # LOCAL-HARNESS sizing (guide §5/§9: size memory to the machine, not
    # the default): local[n] executes every task inside the driver JVM,
    # whose Spark default heap is 1 GB — with 32 concurrent tasks that
    # is ~20 MB of execution+storage memory each, so aggregates spill,
    # localCheckpoint blocks evict, and the whole bench pays a constant
    # GC tax (measured: a 12-query battery at 16 g is 0.60-0.65× the
    # 1 GB default under identical interleaved conditions, every query
    # at or below parity). 16 g is ~12% of the 128 GiB harness box. On
    # a real cluster this conf is set at submit time per executor
    # (spark.executor.memory) and this entry — honored only when the
    # session actually creates the JVM — is simply superseded.
    # Env-overridable (ADVICE r11: a consumer on a smaller machine can
    # set SPARK_GRAFT_DRIVER_MEMORY without forking the library).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "16g"),
    # GC (guide §5): back to the JDK-17 G1 default (optimization r12,
    # third session). The r11 ParallelGC choice was adjudicated twice
    # on cold-JVM MINIMA and both A/Bs read parity (PGC/G1 0.986 one
    # round, G1/PGC 0.974 the next — inside the host's noise both
    # times). What minima cannot see is the TAIL: per-query GC MXBean
    # attribution over a full battery showed ParallelGC spending
    # 25.5% of battery wall in GC (64.8 s / 253.7 s) with 15-25 s
    # stop-the-world storms landing inside individual timed windows
    # (q39 best 8.1 s vs 1.6 s, e2e_mem +6 s GC), vs 2.7% (6.6 s)
    # under G1 — and the two e2e entries execute ONCE per bench, so a
    # storm there goes straight into the committed number (observed:
    # PGC e2e reps 14.0/14.2/17.3 s vs G1 13.3/12.9/13.7). Equal
    # expected throughput + an order-of-magnitude thinner GC tail ⇒
    # G1. Env-overridable so a cold-JVM A/B can toggle the collector
    # per process (SPARK_GRAFT_GC_OPTS="-XX:+UseParallelGC").
    "spark.driver.extraJavaOptions": os.environ.get(
        "SPARK_GRAFT_GC_OPTS", "-XX:+UseG1GC"
    ),
    # DRIVER-side DataFrame construction cost (guide §5): with this
    # public conf at its default (true), EVERY classic Column/DataFrame
    # method pays a Python stack walk plus three extra py4j round-trips
    # (PySparkCurrentOrigin set/clear + a conf read) purely to enrich
    # error messages with the user call site. Measured here: a Column
    # binary op costs 1.64 ms with it on, 0.19 ms with it off, and 50%
    # of the non-e2e bench wall-clock was DAG construction. Off by
    # default for this engine (errors still carry the JVM stack and the
    # failing expression); scale-independent — this is per-op driver
    # latency, identical on a laptop or a 100 TB cluster submitter.
    # Env-overridable for debugging sessions.
    "spark.python.sql.dataFrameDebugging.enabled": os.environ.get(
        "SPARK_GRAFT_DF_DEBUGGING", "false"
    ),
}


def get_spark(app_name: str = "mimic_iv_data_pipeline_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``overrides`` are raw Spark conf key/values and win over defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = {**DEFAULT_CONFIG, **overrides}
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prompt_shutdown(spark.sparkContext._accumulatorServer)
    return spark


class _PromptShutdown:
    """Mixed into PySpark's accumulator server: ``shutdown()`` wakes the
    server thread wherever it blocks instead of waiting out its poll.

    The thread serves one connection at a time. Idle, it sits in
    ``serve_forever``'s 0.5 s select on the listening socket; while the
    JVM holds its connection open, it sits in the request handler's 1 s
    select on that connection.
    """

    _open_request: socket.socket | None = None

    def finish_request(self, request, client_address):
        self._open_request = request
        try:
            super().finish_request(request, client_address)
        finally:
            self._open_request = None

    def handle_error(self, request, client_address):
        # Once shutdown has begun, the handler's read ends on the EOF
        # that shutdown() causes below; any other error is still reported.
        if self.server_shutdown and isinstance(sys.exc_info()[1], EOFError):
            return
        super().handle_error(request, client_address)

    def shutdown(self):
        # No accumulator update can be lost: SparkContext.stop() stops the
        # JVM before it shuts this server down, and the JVM waits for an
        # ack byte after every merge, so no update is pending here.
        self.server_shutdown = True
        # BaseServer.shutdown() only sets this flag and then waits; set it
        # first so the woken serve loop breaks instead of accepting the
        # wake-up connection.
        self._BaseServer__shutdown_request = True
        # The handler's select on the JVM's connection returns once its
        # read side is shut (the read then hits EOF); serve_forever's
        # select returns once a connection arrives.
        request = self._open_request
        if request is not None:
            with contextlib.suppress(OSError):
                request.shutdown(socket.SHUT_RD)
        with contextlib.suppress(OSError), socket.socket(
            self.address_family, self.socket_type
        ) as wake:
            wake.connect(self.server_address)
        super().shutdown()


@functools.cache
def _prompt_class(server_class: type) -> type:
    return type(server_class.__name__, (_PromptShutdown, server_class), {})


def _prompt_shutdown(server) -> None:
    """Make a live accumulator server's ``shutdown()`` prompt; a server
    that already is (``get_spark`` on a live session) is left alone.

    A connection the server accepted before this call is not tracked, so
    on a session built elsewhere that already ran Python workers, its
    handler's poll is still waited out once.
    """
    if not isinstance(server, _PromptShutdown):
        server.__class__ = _prompt_class(type(server))
