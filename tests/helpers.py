"""Picklable helper estimators for tests (must live in an importable
module so Spark's Python workers can unpickle them), a py4j round-trip
counter shared with ``tools/profile_query.py``, and a Spark job probe."""

import contextlib
import itertools
import threading
import types

import numpy as np


@contextlib.contextmanager
def count_py4j():
    """Count this process's py4j round trips inside the block: every
    ``ClientServerConnection.send_command`` call, whatever thread makes
    it, except py4j's object-release messages. Those are sent whenever
    any thread's garbage collection drops a Java object reference, so
    they measure earlier code, not the block. Yields a namespace whose
    ``calls`` attribute is the running count."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    counter = types.SimpleNamespace(calls=0)
    lock = threading.Lock()
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            with lock:
                counter.calls += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = send


_PROBES = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs this thread starts inside the
    block: yields a list that is filled when the block exits."""
    sc = spark.sparkContext
    group = f"panelsplit-test-probe-{next(_PROBES)}"
    jobs = []
    sc.setJobGroup(group, "jobs started inside a test block")
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


class NoWeightEstimator:
    """fit() without sample_weight support — triggers the signature-sniff
    warning path (reference utils/validation.py:115-154)."""

    def get_params(self, deep=True):
        return {}

    def set_params(self, **p):
        return self

    def fit(self, X, y):
        self.v_ = 1.0
        return self

    def predict(self, X):
        return np.full(len(X), self.v_)
