from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dolphinbeat_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    yield s


class FakeProducer:
    """``confluent_kafka.Producer``-shaped capture. ``produce`` logs
    ``(topic, partition, key, value)`` and queues the delivery
    callback; the broker acknowledges only while the caller waits, so
    ``poll(timeout > 0)`` and ``flush()`` fire the queued callbacks
    (``err`` set for a key in ``fail_keys``). ``flush()`` reports
    ``unflushed`` messages as still queued; with ``queue_limit`` set,
    ``produce`` raises ``BufferError`` while that many are pending."""

    def __init__(self, log=None, fail_keys=(), unflushed=0, queue_limit=None):
        self.log = [] if log is None else log
        self.fail_keys = {str(k).encode() for k in fail_keys}
        self.unflushed, self.queue_limit = unflushed, queue_limit
        self.pending: list = []
        self.buffer_errors = 0

    def produce(self, topic, value=None, key=None, partition=-1, on_delivery=None):
        if self.queue_limit is not None and len(self.pending) >= self.queue_limit:
            self.buffer_errors += 1
            raise BufferError("Local: Queue full")
        self.log.append((topic, partition, key, value))
        self.pending.append((key, on_delivery))

    def poll(self, timeout=None):
        if not timeout:
            return 0
        pending, self.pending = self.pending, []
        for key, on_delivery in pending:
            if on_delivery is not None:
                on_delivery("broker rejected" if key in self.fail_keys else None, None)
        return len(pending)

    def flush(self, timeout=None):
        self.poll(1)
        return self.unflushed
