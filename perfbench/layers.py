"""Per-layer metrics of the traced run.

Two sources: the spans and tagged Spark jobs of the traced iterations, and
isolated probes that call one module's public function into Spark's noop
sink (extraction, the 1m rollup and its cascade, the dual-codec encode and
the integer-archive decode), each timed by the executor seconds of its own
jobs.  The names follow the engine's modules.
"""

from __future__ import annotations

import math
from typing import Any

from harness import Samples, median
from tracing import COMMIT_SPANS, Job, Tracer, Window, executor_s, spans_named

KEYS = ["url", "metric"]
WAVE_TABLES = (
    "raw_points", "rollup_1m", "rollup_1m_gorilla", "rollup_1m_counts",
    "rollup_1h", "rollup_1d",
)
def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probes(spark, tracer: Tracer, pages_path: str, catalog) -> dict[str, Any]:
    """Run each isolated probe once; returns per-layer numbers."""
    from pyspark.sql import functions as F

    from influxer_spark.extract import pages_to_points, with_crawl_metrics, with_extracted
    from influxer_spark.operators import rollup as R
    from influxer_spark.operators.intcodec import decode_int2_series_df, encode_dual_series_df

    def probe(name: str, build):
        with tracer.span(f"probe.{name}"):
            _, wall, jobs = tracer.measure_jobs(lambda: _noop(build()))
        return wall, jobs

    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    ext_wall, ext_jobs = probe(
        "extract", lambda: with_crawl_metrics(with_extracted(pages)))

    def t1m():
        return catalog.read(spark, "rollup_1m").select(
            "bucket", *KEYS, "cnt", "sum_v", "min_v", "max_v")

    _, r1m_jobs = probe("rollup_1m", lambda: R.rollup(
        pages_to_points(catalog.read(spark, "raw_points")),
        "warc_ts", KEYS, "value", "1m"))
    _, cas_jobs = probe("rollup_cascade", lambda: R.cascade(t1m(), KEYS, "1h"))
    _, enc_jobs = probe("encode", lambda: encode_dual_series_df(
        t1m().withColumn("day", F.date_format("bucket", "yyyy-MM-dd"))
        .withColumn("v", F.col("sum_v") / F.col("cnt"))
        .withColumn("sum_cents", F.round(F.col("sum_v") * 100, 0).cast("long")),
        ["day", *KEYS], "bucket", "v", "cnt", int_col2="sum_cents"))
    _, dec_jobs = probe("decode", lambda: decode_int2_series_df(
        catalog.read(spark, "rollup_1m_counts")))

    gor = catalog.read(spark, "rollup_1m_gorilla").agg(
        F.count("*").alias("series"), F.sum("n_points").alias("n"),
        F.sum("encoded_bytes").alias("b")).first()
    cnt = catalog.read(spark, "rollup_1m_counts").agg(
        F.sum("n_points").alias("n"), F.sum("encoded_bytes").alias("b"),
        F.sum("sum_bytes").alias("s")).first()
    return {
        "extract.executor_s": executor_s(ext_jobs),
        "extract.pages_per_s": n_pages / ext_wall,
        "rollup.1m_executor_s": executor_s(r1m_jobs),
        "rollup.cascade_executor_s": executor_s(cas_jobs),
        "rollup.shuffle_write_bytes": sum(j.shuffle_write for j in r1m_jobs + cas_jobs),
        "codec.encode_executor_s": executor_s(enc_jobs),
        "codec.decode_executor_s": executor_s(dec_jobs),
        "codec.series": gor["series"],
        "codec.gorilla_bytes_per_point": gor["b"] / gor["n"],
        "codec.int_bytes_per_point": cnt["b"] / cnt["n"],
        "codec.sum_bytes_per_point": cnt["s"] / cnt["n"],
    }


def attribution(spans, window: Window) -> dict[str, float]:
    """Split a wave's executor seconds into span-tagged and untagged jobs,
    beside the same seconds summed over the stage list, which does not go
    through the jobs: the two agree only if no job or stage went missing."""
    groups = {s.group for s in spans if s.group}
    jobs = window.jobs
    tagged = [j for j in jobs if j.group in groups]
    untagged = [j for j in jobs if j.group is None]
    return {
        "stage_list_s": window.stage_run_s,
        "tagged_s": executor_s(tagged),
        "untagged_s": executor_s(untagged),
        "foreign_jobs": len(jobs) - len(tagged) - len(untagged),
        "jobs": len(jobs),
        "job_ids": window.job_ids,
        "missing_stages": sum(j.missing_stages for j in jobs),
    }


def attribution_ok(a: dict[str, float]) -> bool:
    return (a["foreign_jobs"] == 0 and a["missing_stages"] == 0
            and a["jobs"] == a["job_ids"]
            and math.isclose(a["tagged_s"] + a["untagged_s"], a["stage_list_s"],
                             abs_tol=1e-9))


def per_layer(
    spans: list,
    jobs: list[Job],
    waves: list[dict[str, Any]],
    traced: Samples,
    untraced: Samples,
    iterations: int,
    cores: int,
    extra: dict[str, float],
) -> dict[str, float]:
    """Assemble every per-layer metric from the traced phase.

    ``waves`` holds, per traced wave: its wall seconds, its Spark window
    and the bytes it added to the catalog.  Per-iteration numbers are means over
    the traced iterations; per-call numbers are medians over calls."""
    n = max(1, iterations)
    out: dict[str, float] = {}

    out["pipeline.executor_busy_ratio"] = median(
        [executor_s(w["window"].jobs) / (w["wave_s"] * cores) for w in waves])
    out["pipeline.jobs"] = median([len(w["window"].jobs) for w in waves])
    out["pipeline.untagged_executor_s"] = median(
        [attribution(spans, w["window"])["untagged_s"] for w in waves])

    writes = spans_named(spans, "catalog.write_partitions")
    for table in WAVE_TABLES:
        out[f"catalog.write_s.{table}"] = median(
            [s.seconds for s in writes if s.attrs.get("table") == table])
    out["catalog.commits"] = sum(
        1 for s in spans if s.name in COMMIT_SPANS) / n
    reads = spans_named(spans, "catalog.read_manifest")
    out["catalog.manifest_reads"] = len(reads) / n
    out["catalog.manifest_read_ms"] = 1000.0 * sum(s.seconds for s in reads) / n
    out["catalog.bytes_written"] = median([w["bytes_written"] for w in waves])

    executes = [s for s in spans_named(spans, "influxql.execute")
                if not _has_ancestor(s, spans, "influxql.execute")]
    n_stmt = max(1, len(executes))
    out["influxql.parse_ms"] = 1000.0 * sum(
        s.seconds for s in spans_named(spans, "influxql.parse")) / n_stmt
    out["influxql.plan_ms"] = 1000.0 * median(traced.plan_s)
    out["influxql.exec_ms"] = 1000.0 * median(traced.exec_s)
    out["influxql.tier_served_ratio"] = (
        sum(traced.tier_served) / len(traced.tier_served)
        if traced.tier_served else 0.0)
    out["influxql.py4j_calls_per_plan"] = median(
        [s.attrs.get("py4j", 0) for s in executes])

    qreads = spans_named(spans, "query.read_")
    out["query.read_calls"] = len(qreads) / n
    out["query.read_ms"] = 1000.0 * sum(s.seconds for s in qreads) / n

    ret = spans_named(spans, "retention.apply_retention")
    out["retention.apply_ms"] = 1000.0 * median([s.seconds for s in ret])

    out["spark.gc_s"] = sum(j.gc_ms for j in jobs) / 1000.0 / n
    out["spark.spill_bytes"] = sum(j.spill for j in jobs) / n
    out["spark.shuffle_read_bytes"] = sum(j.shuffle_read for j in jobs) / n

    out["trace.wave_overhead_ratio"] = median(traced.wave_s) / median(untraced.wave_s)
    out["trace.query_p50_overhead_ratio"] = (
        median(traced.query_s) / median(untraced.query_s))
    out.update(extra)
    return out


def _has_ancestor(span, spans, name: str) -> bool:
    by_id = {s.id: s for s in spans}
    p = by_id.get(span.parent)
    while p is not None:
        if p.name == name:
            return True
        p = by_id.get(p.parent)
    return False
