"""Picklable helper estimators for tests (must live in an importable
module so Spark's Python workers can unpickle them), and a py4j
round-trip counter shared with ``tools/profile_query.py``."""

import contextlib
import threading
import types

import numpy as np


@contextlib.contextmanager
def count_py4j():
    """Count this process's py4j round trips inside the block: every
    ``ClientServerConnection.send_command`` call, whatever thread makes
    it. Yields a namespace whose ``calls`` attribute is the running
    count."""
    from py4j.clientserver import ClientServerConnection

    counter = types.SimpleNamespace(calls=0)
    lock = threading.Lock()
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        with lock:
            counter.calls += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = send


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
