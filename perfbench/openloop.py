"""Open-loop load: requests are due on a seeded Poisson schedule and are
sent when due, whatever the state of earlier requests, by a fixed pool
of connections. Latency runs from the due time, so a stall also charges
the requests queued behind it."""

from __future__ import annotations

import random
import threading
import time
from dataclasses import dataclass


def poisson_arrivals(rng: random.Random, rate: float, n: int) -> list[float]:
    """Due times of the first ``n`` arrivals of a Poisson process."""
    due, t = [], 0.0
    for _ in range(n):
        t += rng.expovariate(rate)
        due.append(t)
    return due


@dataclass
class Outcome:
    due: float  # all times in seconds from the phase start
    free: float  # when a connection became free to take the request
    sent: float
    done: float
    ok: bool
    route: str

    @property
    def latency(self) -> float:
        return self.done - self.due

    @property
    def late(self) -> float:
        """How late the generator itself sent: time from the moment the
        request was both due and had a free connection."""
        return self.sent - max(self.due, self.free)

    @property
    def queued(self) -> float:
        return self.sent - self.due


def backlog_max(outcomes: list[Outcome]) -> int:
    """Most requests ever due but not yet sent."""
    events = sorted([(o.due, 1) for o in outcomes] + [(o.sent, -1) for o in outcomes],
                    key=lambda e: (e[0], e[1]))
    depth = peak = 0
    for _, d in events:
        depth += d
        peak = max(peak, depth)
    return peak


def backlog_grows(outcomes: list[Outcome], slack_s: float = 0.25) -> bool:
    """True when requests due in the last quarter of the phase waited for
    a connection clearly longer than those due in the first quarter."""
    by_due = sorted(outcomes, key=lambda o: o.due)
    q = len(by_due) // 4
    if q == 0:
        return False
    first = sum(o.queued for o in by_due[:q]) / q
    last = sum(o.queued for o in by_due[-q:]) / q
    return last > first + slack_s


def run_phase(requests: list, send, connections: int, lead_s: float = 0.05) -> list[Outcome]:
    """Send ``requests`` (objects with ``.due``, ``.route`` and
    ``.check(response)``, ordered by due time) through ``connections``
    threads; ``send(req)`` returns the response. Responses are checked
    after the phase, so checking holds no interpreter lock a sending
    thread is waiting for."""
    out: list[Outcome | None] = [None] * len(requests)
    responses: list = [None] * len(requests)
    next_i = [0]
    lock = threading.Lock()
    t0 = time.perf_counter() + lead_s

    def worker() -> None:
        while True:
            with lock:
                i = next_i[0]
                next_i[0] += 1
            if i >= len(requests):
                return
            req = requests[i]
            free = time.perf_counter() - t0
            wait = req.due - free
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter() - t0
            try:
                responses[i] = send(req)
            except OSError:  # refused or timed out: a failure
                pass
            out[i] = Outcome(req.due, free, sent, time.perf_counter() - t0, False, req.route)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for o, req, resp in zip(out, requests, responses):
        try:
            o.ok = resp is not None and bool(req.check(resp))
        except (ValueError, KeyError, TypeError):  # malformed body
            o.ok = False
    return out
