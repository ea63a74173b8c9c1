"""Traced run: per-layer metrics for one pipeline workload.

Spans are recorded from outside the program, around calls into each layer's
public functions, and kept in memory until the run ends. Each span that
runs Spark jobs sets the job group to its name, so the stage metrics of the
event log attach to it. A span's self time is its duration minus that of its
children.

* ``stage.*``: the pipeline stages. The replay below calls the public
  functions ``run_pipeline`` calls, stage by stage, after the untimed
  warm-up ``run_pipeline`` call on the same input, and must reproduce that
  call's per-sink and per-table row counts, so it cannot drift from the
  program.
* ``op.*``: one operator at a time into a noop sink. Each decorate operator
  (S1-S5) runs over its predecessor's cached output, so its span is its own
  cost; ``op.decorate`` is the whole chain uncached.
* ``sources.*``: ``Catalog.write`` of the cached routed frame (encode and
  commit without the decorate compute), and the bytes and files of the
  replay's tables.
* ``lineage.commit_s``: every ``LineageLog`` commit of the replay.
* ``spark.<stage>.*``: task metrics from Spark's event log, per replay stage.
* ``plan.*``: node counts of the final (adaptive) physical plans of the
  stages the workload runs.
* ``trace.turns_per_s_ex_steal``: input turns over the replay's time for
  the stages the workload runs, less the steal share of the traced part of
  the run, as in the untraced ``turns_per_s_ex_steal``. Against that metric
  it gives the overhead of tracing (job groups, event log, stage-by-stage
  calls).

The marshal stage always runs in the replay. On ``route_day``, whose config
has no marshal stage, it is a probe of the layer only and does not move that
workload's end-to-end metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from checks import CheckFailed, data_files

STAGES = ("routed_write", "clusters_write", "aggregates_write", "marshal_write")
SPARK_METRICS = {
    "task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "peak_exec_mem_mb": "MB",
}
PLAN_NODES = {
    "plan.exchanges": "Exchange",
    "plan.smj": "SortMergeJoin",
    "plan.bhj": "BroadcastHashJoin",
    "plan.python_evals": "ArrowEvalPython",
}
MARSHAL_FORMATS = ("body", "sumo_ic", "otlp_json", "otlp_proto")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    units = {f"stage.{s}_s": "s" for s in STAGES}
    for op in ("parse_keyvalue", "fingerprint", "redact", "enrich", "route", "decorate",
               "cluster_templates", "interval_aggregate"):
        units[f"op.{op}_s"] = "s"
    units["op.distinct_templates"] = "count"
    units.update({f"op.marshal.{fmt}_s": "s" for fmt in MARSHAL_FORMATS})
    units.update({
        "sources.routed_write_s": "s",
        "sources.routed_bytes": "B",
        "sources.routed_files": "count",
        "sources.aggregates_bytes": "B",
        "sources.marshaled_bytes": "B",
        "sources.marshaled_files": "count",
        "lineage.commit_s": "s",
    })
    for s in STAGES:
        units.update({f"spark.{s}.{m}": u for m, u in SPARK_METRICS.items()})
    units.update({name: "count" for name in PLAN_NODES})
    units["trace.turns_per_s_ex_steal"] = "turns/s"
    return units


class Tracer:
    """In-memory spans; a span with a ``group`` is also the Spark job group
    of the jobs that run inside it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {"id": len(self.spans), "name": name, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group:
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def with_self_times(self) -> list[dict]:
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [{**s, "duration_s": s["end"] - s["start"],
                 "self_s": s["end"] - s["start"] - child_s.get(s["id"], 0.0)}
                for s in self.spans]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes(paths: list[str]) -> tuple[int, int]:
    files = [f for p in paths for f in data_files(p)]
    return sum(os.path.getsize(f) for f in files), len(files)


def replay_pipeline(bench, tracer: Tracer, wh: str, marshal_sinks: dict[str, str]) -> None:
    """run_pipeline's stages, one public call at a time, into ``wh``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate
    from cardinalhq_otel_collector_spark.operators.fingerprint import cluster_templates
    from cardinalhq_otel_collector_spark.plans import pipeline as P
    from cardinalhq_otel_collector_spark.plans.lineage import LineageLog
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    spark, cfg = bench.spark, bench.cfg
    catalog = Catalog(spark, wh)
    lineage = LineageLog(catalog)
    run_id = "replay"
    sinks = [r["sink"] for r in cfg.rules] + [cfg.default_sink]

    def observe_sinks(frame):
        obs = Observation()
        return frame.observe(
            obs, *[F.count(F.when(F.col("sink") == s, 1)).alias(s) for s in sinks]), obs

    def write(frame, table, **kw):
        with tracer.span("sources.catalog.write"):
            catalog.write(frame, table, **kw)

    def commit(*args):
        with tracer.span("lineage.commit"):
            lineage.commit_many(*args)

    with tracer.span("stage.routed_write", group="routed_write"):
        routed, obs = observe_sinks(
            routed_frame(cfg, P.decorate(bench.df, cfg, cluster=False)))
        write(routed, P.ROUTED_TABLE, partition_by=partition_cols(cfg))
        commit(run_id, P.STAGE_ROUTED, [(s, n) for s, n in obs.get.items() if n > 0])

    with tracer.span("stage.clusters_write", group="clusters_write"):
        templates = templates_frame(catalog.read(P.ROUTED_TABLE))
        obs = Observation()
        mapping = cluster_templates(templates).select(
            "template", "fingerprint", "cluster_id").observe(obs, F.count(F.lit(1)).alias("n"))
        write(mapping, P.CLUSTERS_TABLE)
        with tracer.span("lineage.commit"):
            lineage.commit(run_id, P.STAGE_CLUSTERS, rows_out=obs.get["n"])
        templates.unpersist()

    with tracer.span("stage.aggregates_write", group="aggregates_write"):
        facts = catalog.read(P.ROUTED_TABLE)
        if (cfg.agg_interval_seconds == 3600
                and cfg.partition_granularity in ("hour", "minute")
                and P._tz_hour_aligned(spark.conf.get("spark.sql.session.timeZone"))):
            ts_type = facts.schema["ts"].dataType
            aggs = (
                facts.select("sink", "conv_id", "tool", "p_date", "p_hour")
                .where(F.col("p_date").isNotNull() & F.col("p_hour").isNotNull())
                .groupBy("sink", "conv_id", "tool", "p_date", "p_hour")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("bucket_start", F.to_timestamp(
                    F.concat_ws(" ", F.col("p_date").cast("string"),
                                F.lpad(F.col("p_hour").cast("string"), 2, "0")),
                    "yyyy-MM-dd HH").cast(ts_type))
                .select("sink", "conv_id", "tool", "n", "bucket_start")
            )
        else:
            aggs = interval_aggregate(facts.select("sink", "conv_id", "tool", "ts"),
                                      keys=["sink", "conv_id", "tool"],
                                      interval=cfg.agg_interval)
        aggs, obs = observe_sinks(aggs)
        write(aggs, P.AGG_TABLE, partition_by=["sink"])
        commit(run_id, P.STAGE_AGG, [(s, n) for s, n in obs.get.items() if n > 0])

    with tracer.span("stage.marshal_write", group="marshal_write"):
        per_sink = []
        for sink, fmt in sorted(marshal_sinks.items()):
            out = P.marshal_routed(
                catalog.read(P.ROUTED_TABLE).where(F.col("sink") == sink), fmt, sink)
            obs = Observation()
            out = out.observe(obs, F.count(F.lit(1)).alias("n"))
            table = P.MARSHAL_TABLE_PREFIX + sink
            if fmt == "otlp_proto":
                write(out, table, partition_by=["p_date"])
            else:
                with tracer.span("sources.text.write"):
                    out.write.mode("overwrite").partitionBy("p_date").text(catalog.path(table))
            per_sink.append((sink, obs.get["n"]))
        commit(run_id, P.STAGE_MARSHAL, per_sink)


def templates_frame(facts):
    """The clusters stage's input, persisted: one re-masked representative
    text per fingerprint of the routed facts."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from cardinalhq_otel_collector_spark.operators.fingerprint import mask_template

    return (
        facts.select("fingerprint", "text").groupBy("fingerprint")
        .agg(F.min("text").alias("text"))
        .withColumn("template", mask_template(F.col("text")))
        .select("template", "fingerprint")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def partition_cols(cfg) -> list[str]:
    return ["sink", "p_date"] + (
        ["p_hour"] if cfg.partition_granularity in ("hour", "minute") else []
    ) + (["p_minute"] if cfg.partition_granularity == "minute" else [])


def routed_frame(cfg, decorated):
    """Slimming, salting and time partitions over the S1-S5 output: the
    frame that run_pipeline hands to Catalog.write for the routed table."""
    from pyspark.sql import functions as F

    from cardinalhq_otel_collector_spark.plans.pipeline import slim_facts
    from cardinalhq_otel_collector_spark.sources.catalog import add_time_partitions

    decorated = slim_facts(decorated)
    if cfg.salt_partitions > 0:
        decorated = decorated.repartition(
            F.col("sink"),
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(cfg.salt_partitions)))
    return add_time_partitions(decorated, granularity=cfg.partition_granularity)


def probe_operators(bench, tracer: Tracer, wh: str, probe_wh: str,
                    marshal_sinks: dict[str, str]) -> dict:
    """Each layer's own cost, into noop sinks. Returns counts it took."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from cardinalhq_otel_collector_spark.datagen import role_lookup, tool_lookup
    from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate
    from cardinalhq_otel_collector_spark.operators.enrich import enrich
    from cardinalhq_otel_collector_spark.operators.fingerprint import (
        cluster_templates, fingerprint)
    from cardinalhq_otel_collector_spark.operators.parse import parse_keyvalue
    from cardinalhq_otel_collector_spark.operators.redact import redact
    from cardinalhq_otel_collector_spark.operators.route import route
    from cardinalhq_otel_collector_spark.plans import pipeline as P
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    spark, cfg = bench.spark, bench.cfg
    mem = StorageLevel.MEMORY_AND_DISK
    # decorate()'s S1-S5 chain (cluster=False), one operator per step
    chain = [
        ("op.parse_keyvalue", lambda d: parse_keyvalue(d, cfg.parse_fields)),
        ("op.fingerprint", fingerprint),
        ("op.redact", lambda d: redact(d, cfg.pii_patterns)),
        ("op.enrich", lambda d: enrich(
            d, tool_lookup(spark), "tool",
            fill_unknown={"tool_category": "unknown", "tool_owner": "unknown",
                          "valid": False})),
        ("op.enrich", lambda d: enrich(d, role_lookup(spark), "role",
                                       fill_unknown={"role_kind": "unknown"})),
        ("op.route", lambda d: route(d, cfg.rules, default_sink=cfg.default_sink)),
    ]
    # bench.df itself is cached for the first operator and released after it
    prev = bench.df.persist(mem)
    prev.count()
    for name, fn in chain:
        out = fn(prev)
        with tracer.span(name, group="probe." + name):
            _noop(out)
        out = out.persist(mem)
        out.count()
        prev.unpersist()
        prev = out
    chain_sinks = {r["sink"]: r["count"] for r in prev.groupBy("sink").count().collect()}
    routed = routed_frame(cfg, prev).persist(mem)
    routed.count()
    prev.unpersist()
    with tracer.span("sources.routed_write", group="probe.sources.routed_write"):
        Catalog(spark, probe_wh).write(routed, P.ROUTED_TABLE,
                                       partition_by=partition_cols(cfg))
    routed.unpersist()

    with tracer.span("op.decorate", group="probe.op.decorate"):
        _noop(P.decorate(bench.df, cfg, cluster=False))

    facts = Catalog(spark, wh).read(P.ROUTED_TABLE)
    templates = templates_frame(facts)
    distinct_templates = templates.count()
    with tracer.span("op.cluster_templates", group="probe.op.cluster_templates"):
        _noop(cluster_templates(templates))
    templates.unpersist()

    with tracer.span("op.interval_aggregate", group="probe.op.interval_aggregate"):
        _noop(interval_aggregate(facts.select("sink", "conv_id", "tool", "ts"),
                                 keys=["sink", "conv_id", "tool"],
                                 interval=cfg.agg_interval))
    for sink, fmt in sorted(marshal_sinks.items()):
        name = f"op.marshal.{fmt}"
        with tracer.span(name, group="probe." + name):
            _noop(P.marshal_routed(facts.where(F.col("sink") == sink), fmt, sink))
    return {"chain_sinks": chain_sinks, "distinct_templates": distinct_templates}


def traced_layers(bench, marshal_sinks: dict[str, str]) -> "Layers":
    """Replay and probe the layers of ``bench``'s workload, marshalling
    with ``marshal_sinks``; fails loudly when the replay or the operator
    chain disagrees with run_pipeline."""
    import checks

    tracer = Tracer(bench.spark)
    wh = os.path.join(bench.work, "wh_replay")
    replay_pipeline(bench, tracer, wh, marshal_sinks)
    replayed = checks.pipeline_outputs(wh, bench.expected, marshal_sinks)["lineage"]
    ran = {stage for stage, _, _ in bench.lineage}
    replayed_own = [r for r in replayed if r[0] in ran]
    if replayed_own != bench.lineage:
        raise CheckFailed(f"replay counts {replayed_own} != run_pipeline {bench.lineage}")
    counts = probe_operators(bench, tracer, wh, os.path.join(bench.work, "wh_probe"),
                             marshal_sinks)
    routed = {sink: n for stage, sink, n in bench.lineage if stage == "routed_write"}
    if counts["chain_sinks"] != routed:
        raise CheckFailed(f"operator chain routes {counts['chain_sinks']}, "
                          f"run_pipeline {routed}")
    sizes = {
        "routed": _bytes([os.path.join(wh, "routed")]),
        "aggregates": _bytes([os.path.join(wh, "sink_aggregates")]),
        "marshaled": _bytes([os.path.join(wh, "marshaled_" + s) for s in marshal_sinks]),
    }
    return Layers(bench, tracer, counts["distinct_templates"], sizes)


class Layers:
    def __init__(self, bench, tracer: Tracer, distinct_templates: int, sizes: dict):
        self.bench = bench
        self.tracer = tracer
        self.distinct_templates = distinct_templates
        self.sizes = sizes
        self.events_dir = os.path.join(bench.work, "events")
        self.own_stages = [s for s in STAGES
                           if s != "marshal_write" or bench.cfg.marshal_sinks]

    def finish(self, out_dir: str, detail: dict) -> dict:
        """Per-layer metrics, once Spark has stopped and flushed its event
        log; the spans and metrics go to a file under ``out_dir``."""
        t = self.tracer
        m: dict[str, float] = {f"stage.{s}_s": t.duration("stage." + s) for s in STAGES}
        for op in ("parse_keyvalue", "fingerprint", "redact", "enrich", "route",
                   "decorate", "cluster_templates", "interval_aggregate"):
            m[f"op.{op}_s"] = t.duration("op." + op)
        m["op.distinct_templates"] = self.distinct_templates
        for fmt in MARSHAL_FORMATS:
            m[f"op.marshal.{fmt}_s"] = t.duration(f"op.marshal.{fmt}")
        m["sources.routed_write_s"] = t.duration("sources.routed_write")
        m["sources.routed_bytes"], m["sources.routed_files"] = self.sizes["routed"]
        m["sources.aggregates_bytes"] = self.sizes["aggregates"][0]
        m["sources.marshaled_bytes"], m["sources.marshaled_files"] = self.sizes["marshaled"]
        m["lineage.commit_s"] = t.duration("lineage.commit")
        events = read_event_log(self.events_dir)
        stage_group, exec_group = _job_groups(events)
        spark = {g: spark_stage_metrics(events, stage_group, g)
                 for g in sorted({s["group"] for s in t.spans if s["group"]})}
        for s in STAGES:
            for k, v in spark[s].items():
                m[f"spark.{s}.{k}"] = v
        m.update(plan_counts(events, exec_group, self.own_stages))
        replay_s = sum(t.duration("stage." + s) for s in self.own_stages)
        # steal share over the whole traced part: replay and probes
        steal = detail["host"]["steal_pct"] / 100.0
        m["trace.turns_per_s_ex_steal"] = (
            self.bench.expected["turns"] / (replay_s * (1.0 - steal)))

        units = per_layer_units()
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{detail['workload']}-seed{detail['seed']}.json")
        with open(path, "w") as f:
            json.dump({"detail": detail, "spans": t.with_self_times(),
                       "spark_by_group": spark, "metrics": m}, f, indent=1)
        print(f"perfbench: spans written to {path}", flush=True)
        return {name: (m[name], unit) for name, unit in units.items()}


def read_event_log(events_dir: str) -> list[dict]:
    (name,) = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    with open(os.path.join(events_dir, name)) as f:
        return [json.loads(line) for line in f]


def _job_groups(events: list[dict]) -> tuple[dict[int, str], dict[int, str]]:
    """stage id -> job group, SQL execution id -> job group."""
    stages, executions = {}, {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        group = props.get("spark.jobGroup.id")
        if group is None:
            continue
        for sid in e["Stage IDs"]:
            stages[sid] = group
        if "spark.sql.execution.id" in props:
            executions[int(props["spark.sql.execution.id"])] = group
    return stages, executions


def spark_stage_metrics(events: list[dict], stage_group: dict[int, str],
                        group: str) -> dict[str, float]:
    """Task metrics summed over the Spark stages of one job group."""
    tasks: dict[int, list[dict]] = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and stage_group.get(e["Stage ID"]) == group:
            tm = e.get("Task Metrics")
            if tm:
                tasks.setdefault(e["Stage ID"], []).append(tm)
    every = [tm for ts in tasks.values() for tm in ts]
    mb = 1024.0 * 1024.0
    # skew of the stage that took the most task time: pooling stages would
    # compare tasks of different sizes
    skew = 0.0
    if tasks:
        big = max(tasks.values(), key=lambda ts: sum(tm["Executor Run Time"] for tm in ts))
        run_ms = [tm["Executor Run Time"] for tm in big]
        skew = max(run_ms) / max(statistics.median(run_ms), 1)
    return {
        "task_s": sum(tm["Executor Run Time"] for tm in every) / 1e3,
        "cpu_s": sum(tm["Executor CPU Time"] for tm in every) / 1e9,
        "gc_s": sum(tm["JVM GC Time"] for tm in every) / 1e3,
        "shuffle_write_mb": sum(
            tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] for tm in every) / mb,
        "spill_mb": sum(tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                        for tm in every) / mb,
        "task_skew": skew,
        "peak_exec_mem_mb": max((tm["Peak Execution Memory"] for tm in every),
                                default=0) / mb,
    }


def plan_counts(events: list[dict], exec_group: dict[int, str],
                groups: list[str]) -> dict[str, int]:
    """Node counts over the final physical plan of every SQL execution that
    ran jobs in one of ``groups``."""
    final: dict[int, dict] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            if exec_group.get(e["executionId"]) in groups:
                final[e["executionId"]] = e["sparkPlanInfo"]
    counts = {name: 0 for name in PLAN_NODES}

    def walk(node):
        for name, node_name in PLAN_NODES.items():
            if node["nodeName"] == node_name:
                counts[name] += 1
        for child in node.get("children", []):
            walk(child)

    for plan in final.values():
        walk(plan)
    return counts
