"""Run context shared by the workloads: the closed-loop client, call
verification, the fixed warm-up and the measured window."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from probe import steal_seconds


class Run:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.lat: dict = {}  # category -> latencies (ms) inside measured windows
        self.lat_by_layer: dict = {}  # layer -> window latencies (ms)
        self.round_ms: list = []  # per window round: mean "query" call latency
        self.measuring = False
        self.phases: dict = {}  # phase -> timing / steal record
        self.detail: dict = {}
        self.path_counts: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def write_parquet(self, name: str, columns: dict) -> str:
        out = self.path("inputs", name)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        pq.write_table(pa.table(columns), out)
        return out

    def op(self, layer: str, build, execute=None, category=None, check=None):
        """One client call: the next one starts only after it returns.
        A call that raises or fails ``check`` counts as failed; a wrong
        answer's time still counts toward the latency of ``category``,
        a raised call has none."""
        self.attempted += 1
        try:
            value, rec = self.tracer.call(layer, build, execute)
        except Exception as e:  # a failing call is a result, not a crash
            self.failed += 1
            self.errors.append(f"{layer}: {type(e).__name__}: {str(e)[:200]}")
            return None, None
        rec["in_window"] = self.measuring
        ok = True
        if check is not None:
            try:
                ok = bool(check(value))
            except Exception as e:
                ok = False
                self.errors.append(f"{layer}: check raised {type(e).__name__}: {e}")
        if not ok:
            self.failed += 1
            self.errors.append(f"{layer}: wrong answer")
        if self.measuring and category:
            self.lat.setdefault(category, []).append(rec["ms"])
            self.lat_by_layer.setdefault(layer, []).append(rec["ms"])
        return value, rec

    def expect(self, ok: bool, what: str) -> None:
        """A verification that is not tied to one call (e.g. validate())."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def warm_up(self, round_fn, rounds: int) -> dict:
        """A fixed number of untimed rounds of the measured mix, so that
        every run (and both traced runs of one seed) enters its window
        with the same work behind it. ``plateau`` records whether the
        last round was no more than 10% faster than the one before."""
        times = []
        for _ in range(rounds):
            t = time.perf_counter()
            round_fn()
            times.append(time.perf_counter() - t)
        rec = {"rounds": rounds, "s": sum(times),
               "plateau": len(times) > 1 and times[-1] >= 0.9 * times[-2],
               "round_ms": [round(x * 1e3, 1) for x in times]}
        self.phases["warm_up"] = rec
        return rec

    def window(self, name: str, round_fn, seconds: float, fixed_rounds=None) -> float:
        """Closed-loop rounds for ``seconds`` (or ``fixed_rounds``), with
        latencies recorded; returns the window's wall time."""
        st0 = steal_seconds()
        self.measuring = True
        start = time.perf_counter()
        rounds = 0
        round_steal = []
        try:
            while True:
                if fixed_rounds is not None:
                    if rounds >= fixed_rounds:
                        break
                elif time.perf_counter() - start >= seconds:
                    break
                before = len(self.lat.get("query", []))
                s0 = steal_seconds()
                round_fn(rounds)
                round_steal.append(round(steal_seconds() - s0, 2))
                rounds += 1
                done = self.lat.get("query", [])[before:]
                if done:
                    self.round_ms.append(sum(done) / len(done))
        finally:
            self.measuring = False
        wall = time.perf_counter() - start
        self.phases[name] = {"s": wall, "rounds": rounds,
                             "steal_s": steal_seconds() - st0,
                             "round_steal_s": round_steal}
        return wall

    def alternating(self, round_fn):
        """In a traced run every other round runs untraced, so the same
        window yields the tracing overhead."""
        if not self.trace:
            return round_fn

        def fn(i):
            self.tracer.active = i % 2 == 0
            try:
                round_fn(i)
            finally:
                self.tracer.active = True
        return fn

    def timed_phase(self, name: str, fn):
        st0 = steal_seconds()
        t = time.perf_counter()
        out = fn()
        self.phases[name] = {"s": time.perf_counter() - t,
                             "steal_s": steal_seconds() - st0}
        return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
