"""One Spark session per run, sized to the machine, torn down completely."""

from __future__ import annotations

import os
import shlex
import time

from perfbench.common import Tracer

DRIVER_MEMORY = "3g"  # fixed, well below physical RAM on any benchmark host
SETUP_REPS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_launch(root: str, trace: bool) -> None:
    """JVM launch flags: every scratch path under the run root, and the event
    log (traced runs only). Read once, when the first session starts the JVM;
    later sessions in the same JVM inherit them."""
    conf = {
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in /tmp (the run writes only under root)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"
        f" -Dderby.system.home={os.path.join(root, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(root, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain file per app
        conf["spark.eventLog.compress"] = "false"
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def start(app: str):
    """A fresh session through the program's own factory (``local[N]``,
    ``spark.sql.shuffle.partitions`` = N, fixed driver heap)."""
    from kdb_spark import get_spark

    spark = get_spark(app, cpus=cores(), driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart(spark, app: str):
    """Stop the session's context and start a new one in the same JVM."""
    spark.stop()
    return start(app)


def setup_reps(spark_box, tr: Tracer, app: str, layers: dict, prepare) -> list[float]:
    """Set up ``SETUP_REPS`` times: a fresh session, then ``prepare(spark, rep)``
    (preload or table listing); the timed phase uses the last rep's state.
    Returns each rep's seconds."""
    times = []
    for rep in range(SETUP_REPS):
        with tr.span("setup", "session"):
            t0 = time.perf_counter()
            with tr.span("session.start", "session"):
                spark_box[0] = restart(spark_box[0], app)
            tr.sc = spark_box[0].sparkContext
            layers.setdefault("session.restart_s", []).append(time.perf_counter() - t0)
            prepare(spark_box[0], rep)
            times.append(time.perf_counter() - t0)
    return times


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to end."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — teardown must go on
            pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
