"""What the two workloads share: their recorded state and the timed,
checked serving of a list of InfluxQL statements."""

from __future__ import annotations

import time

import queries as Q
from harness import Ops, Samples, Work, dir_bytes, median, rows_equal

# a run's latency percentiles rest on at least this many statements (a
# workload may ask for more): when the window's iterations served fewer (a
# slow box runs fewer of them), the dashboard keeps refreshing its panels
# over the last iteration's catalog, each statement through a fresh
# execute(), until they are met
MIN_QUERIES = 18
# set-up serves the panels this many times before the clock starts: the
# engine's planning path keeps speeding up over its first few dozen
# statements, and timed statements should not sit on that slope
WARM_PASSES = 3


class Workload:
    """A seeded workload.  ``generate()`` and ``setup(spark)`` run before
    the clock (both count in ``setup_s``); ``iteration(i)`` is one pass of
    the closed loop and ``check()`` its correctness checks, run after it so
    that a traced iteration's spans and jobs hold only the workload's own
    calls.  ``tracer`` is set for the traced iterations of a ``--trace 1``
    run, which then record their waves."""

    min_queries = MIN_QUERIES

    def __init__(self, work: Work, seed: int, ops: Ops):
        self.work, self.seed, self.ops = work, seed, ops
        self.spark = None
        self.samples = Samples()
        self.tracer = None
        self.waves: list[dict] = []  # traced waves: wall seconds, jobs, bytes written
        self.recomputed: list[int] = []  # traced refreshes: days recomputed
        self.dropped: list[int] = []  # traced retention sweeps: partitions dropped
        self.setup_detail: dict[str, float] = {}
        self.root: str | None = None  # catalog of the latest iteration
        self.engine = None  # tier-registered engine over that catalog
        self.statements: list[str] = []
        self.expected: list[list] = []
        self._checks: list = []

    def jobs_mark(self) -> tuple[int, int] | None:
        return self.tracer.mark() if self.tracer else None

    def record_wave(self, wave_s: float, points: int, mark: tuple[int, int] | None,
                    bytes_before: int) -> None:
        self.samples.wave_s.append(wave_s)
        self.samples.wave_points.append(points)
        if self.tracer:
            self.waves.append({
                "wave_s": wave_s,
                "bytes_written": dir_bytes(self.root) - bytes_before,
                "window": self.tracer.window(mark),
            })

    def record_retention(self, dropped: dict, want: dict) -> None:
        self.ops.check("retention", dropped == want, f"dropped {dropped}, want {want}")
        if self.tracer:
            self.dropped.append(sum(len(v) for v in dropped.values()))

    def after_iteration(self, fn) -> None:
        """Defer a check that calls the engine until :meth:`check`."""
        self._checks.append(fn)

    def check(self) -> None:
        checks, self._checks = self._checks, []
        for fn in checks:
            fn()

    def serve(self, t_start: float | None = None, cold: bool = False) -> None:
        """One pass over the panels with :attr:`engine`: time each
        statement, check it against the raw engine's rows and that a tier
        served it.  With ``t_start``, the first answer ends ``freshness_s``.
        With ``cold`` (the first pass over a catalog no statement has read
        yet), the latencies are kept apart in ``first_pass_s`` and stay out
        of the percentiles."""
        for k, (q, want) in enumerate(zip(self.statements, self.expected)):
            ok, t = self.ops.run(f"statement {k}", lambda q=q: Q.run_statement(
                self.engine, q, self.root, self.tracer))
            if not ok:
                continue
            if k == 0 and t_start is not None:
                self.samples.freshness_s.append(time.perf_counter() - t_start)
            if cold:
                self.samples.first_pass_s.append(t.seconds)
            else:
                self.samples.statement(t)
            eq, why = rows_equal(t.rows, want)
            self.ops.check(f"statement {k}", eq and t.tier, why or "not served from a tier")

    def top_up(self) -> None:
        """Serve further passes over the last catalog until the run holds
        :attr:`min_queries` latency samples."""
        while self.engine is not None and len(self.samples.query_s) < self.min_queries:
            n = len(self.samples.query_s)
            self.serve()
            if len(self.samples.query_s) == n:
                return  # every statement failed, and each is counted

    def last_catalog(self):
        from influxer_spark.catalog import TableCatalog

        return TableCatalog(self.root)

    def layer_counts(self) -> dict[str, float]:
        return {
            # a bulk wave refreshes nothing
            "refresh.days_recomputed": median(self.recomputed) if self.recomputed else 0,
            "retention.partitions_dropped": median(self.dropped),
        }
