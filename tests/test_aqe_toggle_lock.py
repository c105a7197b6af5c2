"""`_iterative._ckpt_partitioned` toggles AQE session-wide; concurrent
callers must leave it at the value it had before any of them ran."""

import threading
import time
from concurrent.futures import ThreadPoolExecutor

from computer_vision_foundations_spark.operators._iterative import _ckpt_partitioned


class _Frame:
    """Stands in for a DataFrame whose checkpoint job is running: the
    first caller waits inside the toggled window for the second to
    enter it too (it cannot, under the lock), and the second finishes
    last — the interleaving that leaves AQE off without the lock."""

    def __init__(self, spark, entered, other_entered, hold_s):
        self.sparkSession = spark
        self._entered, self._other, self._hold_s = entered, other_entered, hold_s

    def repartition(self, *cols):
        return self

    def localCheckpoint(self):
        self._entered.set()
        self._other.wait(timeout=1.0)
        time.sleep(self._hold_s)
        return "checkpointed"


def test_concurrent_checkpoints_restore_aqe(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    a_in, b_in = threading.Event(), threading.Event()
    first = _Frame(spark, a_in, b_in, 0.0)
    second = _Frame(spark, b_in, threading.Event(), 0.3)
    second._other.set()
    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(_ckpt_partitioned, first, "u")
        a_in.wait(timeout=10)
        fb = pool.submit(_ckpt_partitioned, second, "u")
        assert [fa.result(timeout=30), fb.result(timeout=30)] == ["checkpointed"] * 2
    assert spark.conf.get(key) == before
