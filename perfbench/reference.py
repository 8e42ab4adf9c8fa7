"""A fixed task that tells how fast the host runs at a given moment.

The benchmark's hosts are VMs whose vCPUs run at a speed that moves with
what the machine's other tenants do: the same pure-Python loop took 11 ms
and 16 ms minutes apart on a 4-vCPU VM, in CPU time as much as in wall
time, and the searcher's median query moved from 1.8 to 3.2 ms between
runs of the same code.  No clock reading of one run can take that out.
So ``serve`` runs this task between its queries, from the same thread,
and scales what it measures by ``NOMINAL_S / median task time`` over the
same pass: a query that took twice the task's time reads as 2 * NOMINAL_S,
whether the host ran fast or slow just then.  ``ingest`` runs it from a
background thread while a wave is folded in, and scales by the 10th
percentile task time instead: the thread shares the CPUs with Spark's
processes, and only its fastest runs are free of that.

The task mirrors what a searcher query spends its time on: a filtered
pyarrow dataset scan of one term out of a hive-partitioned parquet
dataset, then numpy over the payloads.  Its data is written here from a
fixed seed, so nothing in the engine can change the task: an engine change
that makes queries cheaper lowers the scaled latency, one that makes them
dearer raises it.
"""

import contextlib
import os
import random
import statistics
import threading
import time

BUCKETS = 8
TERMS = 4000
ROWS_PER_TERM = 3
ROW_GROUP = 256
# Median task time on the tuning host (a 4-vCPU VM) in a quiet stretch;
# scaled values read as wall times on that host then.
NOMINAL_S = 0.9e-3


class Reference:
    def __init__(self, work: str):
        import pyarrow as pa
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        path = os.path.join(work, "reference")
        rng = random.Random("reference")
        self._terms = [f"t{i:05d}" for i in range(TERMS)]
        for b in range(BUCKETS):
            rows = {"term": [], "docid": [], "payload": []}
            for t in self._terms[b::BUCKETS]:
                for k in range(ROWS_PER_TERM):
                    rows["term"].append(t)
                    rows["docid"].append(k * 1000)
                    rows["payload"].append(rng.randbytes(rng.randint(20, 400)))
            os.makedirs(os.path.join(path, f"bucket={b}"))
            pq.write_table(pa.table(rows),
                           os.path.join(path, f"bucket={b}", "part-0.parquet"),
                           row_group_size=ROW_GROUP)
        self._field = pads.field
        self._ds = pads.dataset(path, format="parquet", partitioning="hive")
        self._n = 0
        self._times = []

    def sample(self, n: int):
        """Run the task ``n`` times, keeping how long each took."""
        import numpy as np

        f = self._field
        for _ in range(n):
            j = self._n * 7919 % TERMS
            self._n += 1
            a = time.perf_counter()
            t = self._ds.to_table(
                filter=(f("bucket") == j % BUCKETS)
                & (f("term") == self._terms[j]),
                columns=["docid", "payload"])
            for p in t.column("payload").to_pylist():
                np.frombuffer(p, np.uint8).cumsum()
            self._times.append(time.perf_counter() - a)

    @contextlib.contextmanager
    def sampling(self, every_s: float):
        """Run the task once every ``every_s`` seconds from a background
        thread while the block runs."""
        stop = threading.Event()

        def loop():
            while not stop.wait(every_s):
                self.sample(1)

        thread = threading.Thread(target=loop, daemon=True)
        thread.start()
        try:
            yield
        finally:
            stop.set()
            thread.join()

    def factor(self, pct: int = 50) -> float:
        """``NOMINAL_S`` over the ``pct``-th percentile of the task times
        since the last call (the median by default)."""
        f = NOMINAL_S / statistics.quantiles(self._times, n=100)[pct - 1]
        self._times = []
        return f
