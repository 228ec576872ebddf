"""The serve workload's WebSocket clients, in a process of their own.

Receiving and parsing ~2,000 frames a tick is Python work; in the
benchmark's own process it would compete with the publisher's tick for
the interpreter lock and blur what is measured. Here one reader thread
per connection timestamps every frame (``time.perf_counter`` reads the
system-wide monotonic clock, so times compare across processes), and
the main thread answers the benchmark process's commands over a pipe:

- ``("connect", url, [api keys])`` -> ``("connected",)``
- ``("close",)``                    -> ``("closed",)``
- ``("take", n, keep, timeout)``    -> ``("took", [last frame time per
  client], frames per client if keep else None)`` once every client
  has n more frames, or ``("short", [frames received per client])``
- ``("stop",)``                     -> exits
"""

from __future__ import annotations

import queue
import threading
import time


class _Reader(threading.Thread):
    def __init__(self, conn):
        super().__init__(daemon=True)
        self.conn = conn
        self.frames: queue.Queue = queue.Queue()
        self.stopping = threading.Event()

    def run(self) -> None:
        from market_data_ingestor_go_spark.streaming.ws_minimal import ConnectionClosed

        while not self.stopping.is_set():
            try:
                text = self.conn.recv(timeout=0.5)
            except TimeoutError:
                continue
            except ConnectionClosed:
                return
            self.frames.put((time.perf_counter(), text))

    def take(self, n: int, deadline: float) -> list:
        out = []
        while len(out) < n:
            try:
                out.append(self.frames.get(
                    timeout=max(0.0, deadline - time.perf_counter())))
            except queue.Empty:
                break
        return out


def client_main(pipe) -> None:
    from market_data_ingestor_go_spark.streaming import ws_minimal

    readers: list[_Reader] = []

    def close_all():
        for r in readers:
            r.stopping.set()
            r.conn.close()
        for r in readers:
            r.join(timeout=5)
        readers.clear()

    while True:
        cmd = pipe.recv()
        if cmd[0] == "connect":
            _, url, keys = cmd
            for key in keys:
                r = _Reader(ws_minimal.connect(url, headers={"x-api-key": key}))
                r.start()
                readers.append(r)
            pipe.send(("connected",))
        elif cmd[0] == "take":
            _, n, keep, timeout = cmd
            deadline = time.perf_counter() + timeout
            got = [r.take(n, deadline) for r in readers]
            if all(len(g) == n for g in got):
                pipe.send(("took", [g[-1][0] for g in got],
                           [[t for _, t in g] for g in got] if keep else None))
            else:
                pipe.send(("short", [len(g) for g in got]))
        elif cmd[0] == "close":
            close_all()
            pipe.send(("closed",))
        elif cmd[0] == "stop":
            close_all()
            return


class Clients:
    """The benchmark process's handle on the client process."""

    def __init__(self):
        import multiprocessing

        ctx = multiprocessing.get_context("spawn")
        self.pipe, child = ctx.Pipe()
        self.proc = ctx.Process(target=client_main, args=(child,), daemon=True)
        self.proc.start()
        child.close()

    def pids(self) -> list[int]:
        """The client process and the resource tracker that spawning it
        started: processes of the load generator, not of the program."""
        from multiprocessing import resource_tracker
        tracker = getattr(resource_tracker._resource_tracker, "_pid", None)
        return [self.proc.pid] + ([tracker] if tracker else [])

    def _ask(self, cmd, timeout: float):
        self.pipe.send(cmd)
        if not self.pipe.poll(timeout):
            raise TimeoutError(f"client process did not answer {cmd[0]!r}")
        return self.pipe.recv()

    def connect(self, url: str, keys: list[str]) -> None:
        self._ask(("connect", url, keys), 60)

    def close(self) -> None:
        self._ask(("close",), 30)

    def request(self, n: int, keep: bool, timeout: float) -> None:
        """Ask for the next n frames per client; answered by ``reply``."""
        self.pipe.send(("take", n, keep, timeout))

    def reply(self, timeout: float):
        if not self.pipe.poll(timeout):
            raise TimeoutError("client process did not answer 'take'")
        return self.pipe.recv()

    def stop(self) -> None:
        try:
            self.pipe.send(("stop",))
        except OSError:
            pass
        self.proc.join(timeout=10)
        if self.proc.is_alive():
            self.proc.kill()
            self.proc.join(timeout=10)
        # spawn also started multiprocessing's resource tracker, which
        # ignores SIGTERM: stop it the way the interpreter would at exit
        from multiprocessing import resource_tracker
        stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop_tracker is not None:
            stop_tracker()
