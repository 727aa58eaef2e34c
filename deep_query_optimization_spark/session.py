"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegated execution to a live Postgres connection
(``dqo/db/clients/postgres.py:241-316``); our equivalent of "connect to the
engine" is building a SparkSession with scale-appropriate defaults.

Design notes for 100 TB / 1000-executor deployments (we test on local[N]
but every default below is chosen to survive a 1000x scale-up):

- AQE on: runtime re-planning fixes shuffle-partition counts, converts
  sort-merge joins to broadcast when the built side turns out small, and
  splits skewed partitions — all essential at scale where static planning
  from stale stats is wrong.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE ceiling; AQE
  coalesces down. On a real cluster set it to ~2-3x total cores.
- Broadcast threshold left at default (10 MB) locally; dimension tables
  (region/nation/supplier in the TPC-H-ish schema) stay broadcastable at
  any scale factor because they grow sub-linearly.
- Arrow enabled so the unavoidable Python boundaries (pandas UDFs used by
  the multimodal/dedup operators) batch-transfer instead of pickling rows.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match ANSI oracles.
- The JVM ends of the py4j connections run with TCP_NODELAY. py4j writes
  a response larger than its 8 KB writer buffer in two pieces; with
  Nagle's algorithm on, the JVM holds the second piece until the first
  is acknowledged, and the Python side delays that ACK by about 40 ms.
  Every optimized-plan JSON (50 KB at the median over the corpus) and
  analyzed-plan JSON paid that stall. Measured on a 4-core box at sf0.01
  (60 corpus SQL, medians), Nagle on → off: ``optimizedPlan().toJSON()``
  47.6 → 4.9 ms, a whole estimate-miss round-trip 80 → 31 ms,
  ``relational.parser.parse_sql`` 63 → 17 ms. pyspark runs py4j in
  pinned-thread mode, so every Python thread opens its own connection:
  ``get_spark`` covers the caller's, and the engine's encode pool sets
  the option as each of its threads starts.
- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  holds 2048 classes instead of the default 100. It is a static conf, so
  it is set here, where the session is built. The working sets outgrow
  the default: the 50-query mix compiles 474 classes and the 64-SQL
  lifecycle label pool 211. At 100 entries every warm pass compiled
  them all again (513-517 classes per pass over the mix) and loaded
  about 1,000 more JVM classes per pass, so Metaspace grew 185 → 197 MB
  over five passes. At 2048 a warm pass compiles 0-6 classes and
  Metaspace stays flat (185 → 190 MB). Measured on a 4-core box at
  sf0.01: warm-pass wall time over the mix 14.1-17.3 → 10.9-13.6 s,
  repeat-pass label p50 77 → 57 ms. Timing a query twice and keeping
  the second run (``lab``) measures warm code only when the first run's
  classes are still cached.
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "deep_query_optimization_spark"

_log = logging.getLogger(__name__)
_nodelay_lock = threading.Lock()
_nodelay_warned = False


def default_parallelism() -> int:
    """CPU budget: the driver exports SPARK_GRAFT_CPUS for local runs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a cluster, ``master`` comes from spark-submit and is left alone;
    locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # parquet scans: keep splits small enough that a partition of a
        # 100 TB table still fits executor memory; 128 MB is the sweet
        # spot for columnar scans with pushed filters.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # our flat-scalar schema never needs per-row python; when pandas
        # UDFs do run, large batches amortize Arrow transfer.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # static: sized to the working set, see the module docstring
        "spark.sql.codegen.cache.maxEntries": "2048",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _py4j_tcp_nodelay()
    return spark


def _py4j_connections(gateway) -> list:
    """The JVM ends of the live py4j connections, read by reflection from
    the private ``GatewayServer.connections`` list. py4j adds to it under
    its own lock as threads connect, so this copies it (``toArray``)
    rather than iterating the live list."""
    field = gateway.jvm.py4j.GatewayServer._java_lang_class.getDeclaredField("connections")
    field.setAccessible(True)
    return [conn for conn in field.get(gateway.java_gateway_server).toArray() if conn is not None]


def _py4j_tcp_nodelay() -> None:
    """Set TCP_NODELAY on the JVM end of every live py4j connection (see
    the module docstring). Idempotent and never raises: on failure the
    JVM keeps Nagle's algorithm, which costs time, not results, and the
    reason is logged once per process at WARNING."""
    global _nodelay_warned
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        for conn in _py4j_connections(gateway):
            sock = conn.getSocket()
            try:
                sock.setTcpNoDelay(True)
            except Exception:
                if not sock.isClosed():
                    raise  # a closing connection needs no option
    except Exception as exc:
        with _nodelay_lock:
            if _nodelay_warned:
                return
            _nodelay_warned = True
        _log.warning(
            "py4j: cannot set TCP_NODELAY on the JVM sockets (%s: %s); "
            "responses over 8 KB will stall about 40 ms each",
            type(exc).__name__,
            exc,
        )
