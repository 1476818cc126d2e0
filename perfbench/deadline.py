"""Per-operation deadline that bounds Spark jobs and driver-side Python.

At the deadline a timer thread cancels the operation's job group, which
ends any running job, and gives the operation a grace period to unwind.
If it is still running after that (driver-side Python such as the
dialect translator, or Catalyst analysis, which a job cancel cannot
stop) the main thread gets SIGALRM, once a second, and raises
``DeadlineExceeded`` at its next bytecode, or out of a blocking py4j
read. ``DeadlineExceeded`` is a BaseException, so the program's
``except Exception`` retry paths cannot swallow it. A long C-level call
(one regex match) delays it until the call returns; the late return
still counts as a miss.
"""

from __future__ import annotations

import signal
import threading
import time
from contextlib import contextmanager


class DeadlineExceeded(BaseException):
    pass


@contextmanager
def deadline(sc, group: str, seconds: float, grace: float = 2.0):
    """Run the body under job group `group` (main thread only); raise
    DeadlineExceeded if it is still running `seconds` later. The yielded
    event is set when the deadline fired, also when the body ended with a
    cancellation error instead."""
    fired = threading.Event()
    done = threading.Event()
    main = threading.main_thread().ident

    def on_alarm(signum, frame):
        if not done.is_set():
            raise DeadlineExceeded()

    def expire():
        fired.set()
        sc.cancelJobGroup(group)
        wait = grace
        while not done.wait(wait):
            signal.pthread_kill(main, signal.SIGALRM)
            wait = 1.0

    previous = signal.signal(signal.SIGALRM, on_alarm)
    sc.setJobGroup(group, group, interruptOnCancel=True)
    timer = threading.Timer(seconds, expire)
    timer.daemon = True
    start = time.perf_counter()
    timer.start()
    try:
        yield fired
    finally:
        done.set()
        timer.cancel()
        # a signal sent before the timer saw `done` lands while on_alarm,
        # which now ignores it, is still installed
        timer.join()
        signal.signal(signal.SIGALRM, previous)
        if time.perf_counter() - start > seconds:
            fired.set()
