"""InfluxQL statements the workloads issue, and the timed execute/collect.

Every timed statement calls ``engine.execute()`` afresh: collecting one
DataFrame twice reuses its shuffle output and would time Spark's cache, not
the engine.  Statements are built from the seed and the generated days, and
are all answerable from the catalog's tiers; their expected rows come from
the raw engine over the same source, computed outside the timed region.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import random
import time
from dataclasses import dataclass

from harness import day

METRICS = ("html_bytes", "text_chars", "n_tokens", "text_ratio")


def url_of(url_id: int) -> str:
    """datagen's url naming."""
    return f"https://site{url_id % 97}.example/p/{url_id}"


def _ts(d: str, hour: int = 0, minute: int = 0) -> str:
    t = dt.datetime.fromisoformat(d) + dt.timedelta(hours=hour, minutes=minute)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def day_statements(rng: random.Random, i: int) -> list[str]:
    """A dashboard's panels over generated day ``i``, widths 1m to 1d.

    The first statement covers the whole day at 1h and is the one the
    freshness metric waits for.  The seed picks a metric, an hour and a url
    for five more panels; the last of them is a bounded range with no data
    (datagen keeps url ``u`` silent in hour ``u % 24`` of every day)."""
    d, nxt = day(i), day(i + 1)
    m = rng.choice(METRICS)
    h = rng.randrange(0, 21)
    u = rng.randrange(0, 40)
    quiet = u % 24
    return [
        f"SELECT count(value) AS n, mean(value) AS m, max(value) AS hi "
        f"FROM pages WHERE time >= '{d}' AND time < '{nxt}' "
        f"GROUP BY time(1h), metric",
        f"SELECT min(value) AS lo, max(value) AS hi, spread(value) AS sp "
        f"FROM pages WHERE time >= '{_ts(d, h)}' AND time < '{_ts(d, h + 3)}' "
        f"AND metric = '{m}' GROUP BY time(1m), metric fill(none)",
        f"SELECT sum(value) AS s, count(value) AS n FROM pages "
        f"WHERE time >= '{day(max(0, i - 1 - h % 3))}' AND time < '{nxt}' "
        f"GROUP BY time(1d), metric",
        f"SELECT count(value) AS n FROM pages WHERE time >= '{d}' "
        f"AND time < '{nxt}' AND url = '{url_of(u)}' "
        f"GROUP BY time(4h), metric fill(0)",
        f"SELECT mean(value) AS m FROM pages WHERE time >= '{_ts(d, h)}' "
        f"AND time < '{_ts(d, h + 2)}' AND metric = '{m}' "
        f"GROUP BY time(5m, 1m), metric",
        f"SELECT count(value) AS n FROM pages WHERE url = '{url_of(u)}' "
        f"AND time >= '{_ts(d, quiet)}' AND time < '{_ts(d, quiet + 1)}' "
        f"GROUP BY time(1m), metric",
    ]


@dataclass
class Timed:
    rows: list
    plan_s: float  # engine.execute(): parse, route, plan
    exec_s: float  # collect()
    tier: bool  # the plan reads a tier table of the catalog

    @property
    def seconds(self) -> float:
        return self.plan_s + self.exec_s


def run_statement(engine, sql: str, catalog_root: str, tracer=None) -> Timed:
    t0 = time.perf_counter()
    df = engine.execute(sql)
    t1 = time.perf_counter()
    span = tracer.span("influxql.collect") if tracer else contextlib.nullcontext()
    with span:
        rows = df.collect()
    t2 = time.perf_counter()
    tier = any(
        catalog_root in f and "/raw_points/" not in f for f in df.inputFiles()
    )
    return Timed(rows, t1 - t0, t2 - t1, tier)


def _points(spark, pages_path: str):
    """The source as points, extracted on read: the engines' raw table."""
    from influxer_spark.extract import pages_to_points, with_crawl_metrics, with_extracted

    return pages_to_points(
        with_crawl_metrics(with_extracted(spark.read.parquet(pages_path))))


def tiered_engine(spark, pages_path: str, catalog):
    """The engine a dashboard queries: tiers from ``catalog``, the raw
    table for the real-time tail."""
    from influxer_spark.influxql_frontend import InfluxQLEngine

    engine = InfluxQLEngine({"pages": _points(spark, pages_path)}, ts_col="warc_ts")
    engine.register_tiered("pages", catalog, key_cols=("url", "metric"))
    return engine


def expected_rows(spark, pages_path: str, statements: list[str]) -> list[list]:
    """Each statement's rows from the raw engine alone, the reference
    answers.  The extracted points are cached for the duration, so the
    source is extracted once, not once per statement."""
    from influxer_spark.influxql_frontend import InfluxQLEngine

    points = _points(spark, pages_path).cache()
    try:
        raw = InfluxQLEngine({"pages": points}, ts_col="warc_ts")
        return [raw.execute(q).collect() for q in statements]
    finally:
        points.unpersist(blocking=True)


def archive_expected(spark, catalog, d: str, width_s: int) -> dict:
    """Exact (cnt, sum_cents) per (url, metric, bucket) of day ``d`` from
    the 1m tier, in the integer cents the archive encoder stores."""
    from pyspark.sql import functions as F

    epoch = F.unix_timestamp("bucket")
    rows = (
        catalog.read_partitions_with_key(spark, "rollup_1m", [d])
        .groupBy("url", "metric",
                 F.timestamp_seconds(epoch - epoch % width_s).alias("b"))
        .agg(F.sum("cnt").alias("cnt"),
             F.sum(F.round(F.col("sum_v") * 100, 0).cast("long")).alias("c"))
        .collect()
    )
    return {(r["url"], r["metric"], r["b"]): (r["cnt"], r["c"]) for r in rows}


def archive_read(spark, catalog, d: str, width_s: int, urls=None) -> dict:
    """The same numbers decoded from the integer archive through the
    engine's public read (``query.read_exact_rollup``)."""
    from pyspark.sql import functions as F

    from influxer_spark import query

    lo = dt.datetime.fromisoformat(d)
    df = query.read_exact_rollup(spark, catalog, width_s, lo, lo + dt.timedelta(days=1))
    if urls is not None:
        df = df.filter(F.col("url").isin(urls))
    return {
        (r["url"], r["metric"], r["bucket"]): (r["cnt"], r["sum_cents"])
        for r in df.collect()
    }


def archive_matches(spark, catalog, d: str, urls: list[str]) -> tuple[bool, str]:
    """A sample of the archive decodes back to the 1m tier, bucket by bucket."""
    want = {k: v for k, v in archive_expected(spark, catalog, d, 60).items() if k[0] in urls}
    got = archive_read(spark, catalog, d, 60, urls)
    return same_mapping(got, want)


def same_mapping(got: dict, want: dict) -> tuple[bool, str]:
    if not want:
        return False, "nothing to compare"
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()), key=str)[:3]
        return False, f"{len(got)} rows vs {len(want)} expected, e.g. {bad}"
    return True, ""
