"""``live_append``: writes beside reads.

Set-up commits the first BASE_DAYS generated days.  Every cycle starts from
an untimed copy of that set-up catalog and source, so all cycles do the
same work, and then:

1. appends one parquet file holding the next day plus the late rows held
   back from the previous day, and calls ``pipeline.refresh_pipeline``
   (a two-day wave: fixed per-wave cost, the full-source count scan and
   manifest growth dominate);
2. calls ``retention.apply_retention`` with a pinned ``now`` and this
   benchmark's policies, so the oldest day's ``raw_points`` and
   ``rollup_1m`` expire;
3. serves the new day's dashboard panels from the tiers (the first answer
   ends ``freshness_s``, measured from the append) and two unbounded
   statements, which pull the real-time raw tail, then
4. reads the expired day back from the integer archive
   (``query.read_exact_rollup``, codec decode).

Checks: the wave recomputes exactly the late and the new day, retention
drops exactly the oldest day of both tables, every statement equals the raw
engine's answer and reads a tier, and the archive equals the ``rollup_1m``
answer captured before expiry.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import queries as Q
from harness import FIRST_DAY, METRICS_PER_PAGE, Ops, Work, committed_bytes, day, dir_bytes
from workload import WARM_PASSES, Workload

PAGES_PER_DAY = 4_000
BASE_DAYS = 6
LATE_FRACTION = 0.1
# no time bounds: served from the tiers plus the real-time raw tail.  Two
# of them keep the p90 latency inside the unbounded group, not at its edge.
UNBOUNDED = [
    "SELECT count(value) AS n FROM pages WHERE metric = 'html_bytes' "
    "GROUP BY time(1d)",
    "SELECT sum(value) AS s, max(value) AS hi FROM pages "
    "WHERE metric = 'text_chars' GROUP BY time(12h)",
]


class LiveAppend(Workload):
    name = "live_append"

    def __init__(self, work: Work, seed: int, ops: Ops):
        super().__init__(work, seed, ops)
        self.src = work.path("source")
        self.pages = self.src
        self.setup_root = work.path("cat-setup")
        self.root = work.path("cat-run")

    def generate(self) -> None:
        """Generate BASE_DAYS + 1 days and split them into the set-up file
        and the file one cycle appends (the new day plus late rows)."""
        from influxer_spark.datagen import generate_pages

        days = BASE_DAYS + 1
        path = generate_pages(
            self.work.path("pages"), n_rows=PAGES_PER_DAY * days,
            seed=self.seed, days=days)
        table = pq.read_table(path)
        ts = table.column("warc_ts").cast("int64").to_numpy()
        midnight = dt.datetime.combine(FIRST_DAY, dt.time(), tzinfo=dt.timezone.utc)
        epoch = int(midnight.timestamp()) * 1_000_000
        d = (ts - epoch) // 86_400_000_000
        late = np.random.default_rng(self.seed).random(len(d)) < LATE_FRACTION
        late &= d == BASE_DAYS - 1
        base = (d < BASE_DAYS) & ~late
        os.makedirs(self.src)
        self.append_name = "part-00001.parquet"
        self.append_staged = self.work.path("append.parquet")
        base_file = os.path.join(self.src, "part-00000.parquet")
        for mask, out in ((base, base_file), (~base, self.append_staged)):
            pq.write_table(table.filter(pa.array(mask)), out, row_group_size=16384)
        self.total_points = METRICS_PER_PAGE * len(d)
        self.new_day = BASE_DAYS
        self.statements = (
            Q.day_statements(random.Random(self.seed), self.new_day) + UNBOUNDED
        )

    def setup(self, spark) -> None:
        """Build the set-up catalog (the cold first wave), capture the day
        that retention will expire, compute the expected answers and warm
        the read paths on the set-up catalog."""
        from influxer_spark import pipeline
        from influxer_spark.catalog import TableCatalog

        self.spark = spark
        t0 = time.perf_counter()
        pipeline.run_pipeline(spark, self.src, self.setup_root, resume=False)
        t1 = time.perf_counter()
        setup_cat = TableCatalog(self.setup_root)
        self.archive_want = Q.archive_expected(spark, setup_cat, day(0), 3600)

        shutil.copyfile(self.append_staged, os.path.join(self.src, self.append_name))
        self.expected = Q.expected_rows(spark, self.src, self.statements)
        t2 = time.perf_counter()
        tiered = Q.tiered_engine(spark, self.src, setup_cat)
        warm = Q.day_statements(random.Random(self.seed), self.new_day - 1)
        for _ in range(WARM_PASSES):
            for q in warm:
                tiered.execute(q).collect()
        # these spend their time in the executors, which the cold wave has
        # warmed; one pass warms their planning
        for q in UNBOUNDED:
            tiered.execute(q).collect()
        Q.archive_read(spark, setup_cat, day(0), 3600)
        self.setup_detail.update(cold_wave_s=t1 - t0, expected_s=t2 - t1,
                                 warm_up_s=time.perf_counter() - t2)
        os.remove(os.path.join(self.src, self.append_name))

    def _reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.setup_root, self.root)
        appended = os.path.join(self.src, self.append_name)
        if os.path.exists(appended):
            os.remove(appended)

    def iteration(self, i: int) -> None:
        from influxer_spark import pipeline
        from influxer_spark.catalog import TableCatalog
        from influxer_spark.operators.retention import RetentionPolicy, apply_retention

        s, ops = self.samples, self.ops
        self._reset()
        bytes0 = dir_bytes(self.root)
        mark = self.jobs_mark()

        t_append = time.perf_counter()
        shutil.copyfile(self.append_staged, os.path.join(self.src, self.append_name))
        t0 = time.perf_counter()
        ok, res = ops.run("refresh", lambda: pipeline.refresh_pipeline(
            self.spark, self.src, self.root))
        if not ok:
            return
        points = sum(c.get("points", 0) for c in res.counters.values())
        self.record_wave(time.perf_counter() - t0, points, mark, bytes0)
        want_days = [day(self.new_day - 1), day(self.new_day)]
        ops.check("refresh days", res.days_processed == want_days,
                  f"recomputed {res.days_processed}, want {want_days}")
        if self.tracer:
            self.recomputed.append(len(res.days_processed))

        catalog = TableCatalog(self.root)
        policies = [
            RetentionPolicy("raw_points", ttl_days=BASE_DAYS, depends_on="rollup_1m"),
            RetentionPolicy("rollup_1m", ttl_days=BASE_DAYS, depends_on="rollup_1h"),
        ]
        now = dt.date.fromisoformat(day(self.new_day + 1))
        ok, dropped = ops.run("retention", lambda: apply_retention(catalog, policies, now=now))
        if ok:
            self.record_retention(dropped, {"raw_points": [day(0)], "rollup_1m": [day(0)]})

        self.engine = Q.tiered_engine(self.spark, self.src, catalog)
        self.serve(t_append)
        s.iterations += 1
        self.after_iteration(lambda: s.bytes_per_point.append(
            committed_bytes(catalog) / self.total_points))

    def serve(self, t_start: float | None = None) -> None:
        """The panels, then the expired day read back from the archive."""
        super().serve(t_start)
        t1 = time.perf_counter()
        ok, got = self.ops.run("archive", lambda: Q.archive_read(
            self.spark, self.last_catalog(), day(0), 3600))
        if ok:
            self.samples.read(time.perf_counter() - t1)
            ok, why = Q.same_mapping(got, self.archive_want)
            self.ops.check("archive", ok, why)
