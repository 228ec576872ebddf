"""Process plumbing: process-tree RSS, time-limited ops, shutdown."""

from __future__ import annotations

import os
import queue
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


class RssSampler:
    """Peak RSS of this process plus all its descendants (JVM, Python
    workers), sampled every ``interval`` seconds. Processes of the load
    generator's own (``exclude``, with their descendants) are left out.
    The process list is rescanned every ``rescan`` samples: a full /proc
    scan per sample would cost this process measurable CPU."""

    def __init__(self, interval: float = 0.25, rescan: int = 8):
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: list[int]) -> None:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def _tree(self) -> list[int]:
        me = os.getpid()
        skip = set(self.exclude)
        for pid in self.exclude:
            skip.update(descendants(pid))
        return [p for p in [me] + descendants(me) if p not in skip]

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % self.rescan == 0:
                pids = self._tree()
            self._sample(pids)
            n += 1
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample(self._tree())
        return self.peak / 2**20


class OpTimeout(Exception):
    pass


class OpRunner:
    """Runs ops one at a time on a single long-lived worker thread, so
    the caller can give each op a time limit. After a timeout the
    worker is presumed stuck and the runner refuses further ops."""

    def __init__(self):
        self._jobs: queue.Queue = queue.Queue()
        self._done: queue.Queue = queue.Queue()
        self.stuck = False
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _loop(self) -> None:
        while True:
            fn = self._jobs.get()
            if fn is None:
                return
            start = time.perf_counter()
            try:
                value, err = fn(), None
            except Exception as exc:  # reported to the caller as a failed op
                value, err = None, exc
            self._done.put((time.perf_counter() - start, start, value, err))

    def call(self, fn, timeout: float):
        """(seconds, start, value) of ``fn()`` run on the worker thread;
        raises OpTimeout, or the op's own exception."""
        if self.stuck:
            raise OpTimeout("runner stuck after an earlier timeout")
        self._jobs.put(fn)
        try:
            seconds, start, value, err = self._done.get(timeout=timeout)
        except queue.Empty:
            self.stuck = True
            raise OpTimeout(f"op exceeded its {timeout:.0f} s limit") from None
        if err is not None:
            raise err
        return seconds, start, value

    def close(self) -> None:
        if not self.stuck:
            self._jobs.put(None)
            self.thread.join(timeout=10)


def stop_spark(spark, grace: float = 20.0) -> None:
    """Stop the session, then the JVM it launched, and wait until no
    descendant process of ours is left (killing stragglers)."""
    from pyspark import SparkContext

    done = threading.Event()

    def _stop():
        try:
            spark.stop()
        finally:
            done.set()

    threading.Thread(target=_stop, daemon=True).start()
    done.wait(grace)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be gone; the kill below is what matters
            pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
            proc.wait(timeout=grace)
        except Exception:
            proc.kill()
            proc.wait(timeout=grace)
    reap_descendants()


def reap_descendants(term_grace: float = 3.0, kill_grace: float = 10.0) -> None:
    """SIGTERM every remaining descendant, SIGKILL what is left after
    ``term_grace`` (multiprocessing's resource tracker ignores
    SIGTERM), and wait until none is left."""
    start = time.monotonic()
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        waited = time.monotonic() - start
        if waited > term_grace + kill_grace:
            return
        sig = signal.SIGKILL if waited > term_grace else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:  # reap direct children so they do not linger as zombies
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_times`` readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0
