"""The benchmark's workloads: one pass of each, fused (as a user runs it)
and layered (each layer's output materialized in turn, for the trace).

Every call goes through the repo's public entry points: the ``jobs/*``
CLIs' ``main(argv)``, ``sources.mover``, ``io``, ``plans.*`` and
``queries.specs()``.
"""

from __future__ import annotations

import importlib.util
import os
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark import io as gio
from spark_hadoop_automation_in_cloud_spark import queries
from spark_hadoop_automation_in_cloud_spark.config import job_args, load_config
from spark_hadoop_automation_in_cloud_spark.plans.activity_rollup import (
    require_all_classes,
    zone_week_month_rollup,
)
from spark_hadoop_automation_in_cloud_spark.plans.demographics import user_demographics
from spark_hadoop_automation_in_cloud_spark.plans.recommendations import (
    friend_recommendations,
)
from spark_hadoop_automation_in_cloud_spark.sources.events import flatten_raw_events
from spark_hadoop_automation_in_cloud_spark.sources.mover import move_raw_to_staging

#: datamart jobs in run order: (job module, datamart name, oracle query)
DATAMARTS = (
    ("collect_demographics_job", "users-demographics-dm", "q17_user_demographics"),
    ("collect_zone_activity_job", "zone-activity-dm", "q18_zone_activity"),
    ("collect_recommendations_job", "friend-recommendations-dm", "q16_friend_recommendations"),
)
#: short layer names for the three jobs / plans
JOB_LAYER = {
    "collect_demographics_job": ("jobs.demographics", "demographics"),
    "collect_zone_activity_job": ("jobs.zone_activity", "activity_rollup"),
    "collect_recommendations_job": ("jobs.recommendations", "recommendations"),
}

#: registry queries of the iterative workload, by the layer they exercise
GRAPH_QUERIES = ("q69_pagerank",)
SEARCH_QUERIES = ("q30_ann_ivf_topk",)


@dataclass
class Ctx:
    root: str  # checkout root (jobs/ and config/ live here)
    spark: object
    lakes: dict[str, str]
    out_dir: str
    tracer: object = None
    outputs: dict = field(default_factory=dict)  # per-pass captured results
    counts: dict = field(default_factory=dict)  # rows seen by the layered pass

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()


def _job_module(root: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def job_window(root: str, job: str) -> tuple[str, int]:
    """(date, depth) of a job in config/config.yaml."""
    a = job_args(load_config(os.path.join(root, "config", "config.yaml")), job)
    return a.date, a.depth


def staging_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "staging")


def datamart_root(out_dir: str) -> str:
    return os.path.join(out_dir, "dm")


def captured_path(out_dir: str, layer: str) -> str:
    """Where a collected query result is kept for the checker."""
    return os.path.join(out_dir, "captured", layer + ".pkl")


# --- daily pipeline ---------------------------------------------------------


def daily_steps(ctx: Ctx):
    """Fused pass: the mover, then the three datamart CLIs via main(argv)."""
    yield "sources.mover", lambda: move_raw_to_staging(
        ctx.spark, ctx.lakes["raw"] + "/raw", staging_dir(ctx.out_dir)
    )
    for job, _, _ in DATAMARTS:
        date, depth = job_window(ctx.root, job)
        argv = [date, str(depth), ctx.lakes["event"], datamart_root(ctx.out_dir)]
        main = _job_module(ctx.root, job).main
        yield JOB_LAYER[job][0], lambda main=main, argv=argv: _check_rc(main(argv))


def _check_rc(rc: int) -> None:
    if rc != 0:
        raise RuntimeError(f"job exited {rc}")


def _count(ctx: Ctx, key: str, *frames) -> None:
    """Materialize persisted frames (count builds the whole cache)."""
    ctx.counts[key] = ctx.counts.get(key, 0) + sum(f.count() for f in frames)


def daily_layered(ctx: Ctx):
    """Traced pass: same work as ``daily_steps``, every layer's output
    persisted or sunk before the next layer runs.  Mirrors the job bodies
    in jobs/*.py."""
    spark, lake = ctx.spark, ctx.lakes["event"]
    # a persisted frame keeps the partitioning adaptive execution gave it,
    # as the fused plan would, instead of one task per shuffle partition
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    try:
        _daily_layered(ctx, spark, lake)
    finally:
        spark.conf.unset("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")


def _daily_layered(ctx: Ctx, spark, lake: str) -> None:
    with ctx.span("sources.mover"):
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        with ctx.span("sources.flatten"):
            flat = flatten_raw_events(spark.read.parquet(ctx.lakes["raw"] + "/raw")).persist()
            _count(ctx, "flat_rows", flat)
        with ctx.span("io.write"):
            gio.write_partitioned(flat, staging_dir(ctx.out_dir))
        flat.unpersist()
    for job, dm_name, _ in DATAMARTS:
        date, depth = job_window(ctx.root, job)
        job_layer, plan_layer = JOB_LAYER[job]
        with ctx.span(job_layer):
            frames = []
            if job == "collect_recommendations_job":
                with ctx.span("io.scan"):
                    e = gio.read_events_window(
                        gio.read_table(spark, lake, "events"), "ts", date, depth
                    ).persist()
                    pos = gio.read_events_window(
                        queries.geo_events(spark, lake), "ts", date, depth
                    ).persist()
                    _count(ctx, "scan_kept_rows", e, pos)
                    frames += [e, pos]
                with ctx.span(plan_layer):
                    dm = _recommendations(e, pos).persist()
                    _count(ctx, "recommendations_rows", dm)
            else:
                with ctx.span("nearest"):
                    ez = queries.nearest_city_events(spark, lake)
                    if job == "collect_zone_activity_job":
                        ez = ez.withColumnRenamed("city_id", "zone_id")
                    ez = gio.read_events_window(ez, "ts", date, depth).persist()
                    _count(ctx, "nearest_rows", ez)
                    frames.append(ez)
                with ctx.span(plan_layer):
                    if job == "collect_demographics_job":
                        dm = user_demographics(ez)
                    else:
                        dm = require_all_classes(
                            zone_week_month_rollup(ez, queries.EVENT_CLASSES),
                            queries.EVENT_CLASSES,
                        )
                    dm = dm.persist()
                    _count(ctx, plan_layer + "_rows", dm)
            frames.append(dm)
            with ctx.span("io.write"):
                gio.write_datamart(dm, datamart_root(ctx.out_dir), dm_name, date)
            for f in frames:
                f.unpersist()


def _recommendations(e, pos):
    """The body of jobs/collect_recommendations_job.py over its two
    windowed inputs."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    subs = e.where(F.col("event_type") == "signup").select("user_id", (k % 20).alias("channel"))
    contact_src = e.where(F.col("event_type") == "purchase").select(k.alias("k"), "user_id")
    last_pos = (
        pos.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(F.col("lat"), F.col("lon")),
                F.struct(F.col("ts"), F.col("event_id")),
            ).alias("__p")
        )
        .select("user_id", F.col("__p.lat").alias("lat"), F.col("__p.lon").alias("lon"))
    )
    return friend_recommendations(
        subs, None, last_pos, max_km=500.0, contact_memberships=contact_src
    )


# --- registry queries -------------------------------------------------------


def query_layer(name: str) -> str:
    return ("components." if name in GRAPH_QUERIES else "similarity.") + name


def registry_steps(ctx: Ctx):
    """One pass: each query built from ``queries.specs()`` and collected
    (the outputs are a few hundred rows; the collect is the sink and the
    captured frame is what the checker compares)."""
    by_name = {s.name: s for s in queries.specs()}
    for name in GRAPH_QUERIES + SEARCH_QUERIES:
        fn = by_name[name].fn

        def run(name=name, fn=fn):
            ctx.outputs[query_layer(name)] = fn(ctx.spark, ctx.lakes["registry"]).toPandas()

        yield query_layer(name), run


def registry_layered(ctx: Ctx):
    for layer, run in registry_steps(ctx):
        with ctx.span(layer):
            run()
