"""Open-loop HTTP load generator.

One process: a dispatcher thread releases each request at its due time
into a queue, and at most `conns` worker threads (one connection each) send
them. Latency is measured from the due time, so a stall also counts against
the requests queued behind it. The dispatcher records how late it released
each request (`lag`) and how many released requests were still waiting for a
connection (`backlog`).
"""

from __future__ import annotations

import http.client
import queue
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Shot:
    due: float            # offset from the ladder start, s
    rung: int
    url: str
    lag: float = 0.0      # dispatcher lateness, s
    backlog: int = 0      # requests waiting for a connection at release
    done: float = 0.0
    status: int = 0
    body: bytes = field(default=b"", repr=False)

    @property
    def latency(self) -> float:
        return self.done - self.due


class LoadGen:
    def __init__(self, port: int, conns: int):
        self.port = port
        self.conns = conns

    def get(self, url: str) -> tuple[int, bytes]:
        c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            c.request("GET", url)
            r = c.getresponse()
            return r.status, r.read()
        finally:
            c.close()

    def run(self, shots: list[Shot]) -> None:
        """Fire every shot at its due time and wait for every response."""
        q: queue.Queue = queue.Queue()

        def worker():
            while True:
                s = q.get()
                if s is None:
                    return
                try:
                    s.status, s.body = self.get(s.url)
                except OSError:
                    s.status = -1
                s.done = time.perf_counter() - t0

        threads = [threading.Thread(target=worker, daemon=True) for _ in range(self.conns)]
        for t in threads:
            t.start()
        t0 = time.perf_counter() + 0.05
        for s in shots:
            wait = s.due - (time.perf_counter() - t0)
            if wait > 0:
                time.sleep(wait)
            s.lag = max(0.0, time.perf_counter() - t0 - s.due)
            s.backlog = q.qsize()
            q.put(s)
        for _ in threads:
            q.put(None)
        for t in threads:
            t.join()
