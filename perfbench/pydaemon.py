"""PySpark Python-worker daemon used by traced runs.

Wraps the one-shot kernel (``coies_spark.core.oneshot.detect_doc``) with
a timer, then starts PySpark's own daemon.  Workers fork from this
process, and the detector closure refers to ``detect_doc`` by module
attribute, so every kernel call in a worker goes through the wrapper.
Each call appends ``<start> <seconds>`` to ``<pid>.log`` under
``$PERFBENCH_KERNEL_LOG``; the driver sums them after the run.
"""

from __future__ import annotations

import functools
import os
import time


def timed(fn, log_dir: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            line = f"{t0:.6f} {time.time() - t0:.6f}\n".encode()
            fd = os.open(os.path.join(log_dir, f"{os.getpid()}.log"),
                         os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            try:
                os.write(fd, line)
            finally:
                os.close(fd)

    return wrapper


def read_kernel_log(log_dir: str) -> list[tuple[float, float]]:
    """All (start, seconds) kernel calls recorded under ``log_dir``."""
    calls = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                start, dur = line.split()
                calls.append((float(start), float(dur)))
    return calls


if __name__ == "__main__":
    from coies_spark.core import oneshot

    oneshot.detect_doc = timed(oneshot.detect_doc,
                               os.environ["PERFBENCH_KERNEL_LOG"])
    from pyspark import daemon

    daemon.manager()
