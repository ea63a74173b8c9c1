"""The end-to-end pipeline plan (SURVEY.md §7 north-star shape).

Mirrors the reference's logs path (docs/flow/flow.dot:28-47):
receivers → memory_limiter → chqdecorator → forward/* fan-out → per-sink
chains, re-expressed as ONE declarative DataFrame plan:

  S0 read → S1 parse → S2 fingerprint (pass 1) → S3 redact →
  S4 enrich (broadcast) → S5 route →
  S6 fan-out write (single pass, partitioned by sink) →
  S2' template→cluster dimension table (from the written table, pruned) →
  S7 per-sink windowed aggregate counts (from the written table, pruned) →
  S8 lineage commit per stage (idempotent resume)

Scale decisions baked in:
  * STAGED-TABLE fan-out: the decorated stream is computed once and
    written once; downstream stages re-read the committed table with
    column pruning instead of caching 10^12 rows in executor memory
    (forward-connector fan-out without recompute, SURVEY.md §4 — measured
    against persist() at sf0.1: table wins 7s+2s vs 62s);
  * the fan-out is one ``partitionBy("sink", p_date)`` write, not one
    scan per sink (batchperresourceattr analogue, factory.go:93-101);
  * the template→cluster map is a tiny dimension table joined back by
    broadcast at read time, never burned into fact rows;
  * optional salted repartition bounds file/partition size under hot
    conversations (salting + AQE, north-rule skew obligation);
  * aggregates are a single groupBy — Catalyst's partial+final hash agg
    keeps the shuffle proportional to group cardinality, not row count.
"""

from __future__ import annotations

import re
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import PipelineConfig
from ..datagen import role_lookup, routing_rules, tool_lookup
from ..operators.aggregate import interval_aggregate
from ..operators.enrich import enrich
from ..operators.fingerprint import (
    attach_clusters, cluster_templates, fingerprint, mask_template,
)
from ..operators.parse import parse_keyvalue
from ..operators.redact import redact
from ..operators.route import route
from ..sources.catalog import Catalog, add_time_partitions
from .lineage import LineageLog

__all__ = [
    "decorate",
    "slim_facts",
    "run_pipeline",
    "read_routed_with_clusters",
    "routed_partition_cols",
    "ROUTED_TABLE",
    "AGG_TABLE",
    "CLUSTERS_TABLE",
]


def slim_facts(df: DataFrame) -> DataFrame:
    """Fact-table slimming applied to BOTH the batch and streaming routed
    sinks (they must stay schema-identical twins): 'template' is derivable
    (mask regex over text) and recomputed by the clusters stage from a
    pruned read instead of being stored per row; 'text_redacted' is stored
    only where it differs from text (readers coalesce it back). At 10^12
    rows the storage/shuffle bandwidth of two extra text-sized columns
    dwarfs the recompute CPU."""
    return df.drop("template").withColumn(
        "text_redacted", F.when(F.col("has_pii"), F.col("text_redacted"))
    )

ROUTED_TABLE = "routed"
AGG_TABLE = "sink_aggregates"
CLUSTERS_TABLE = "template_clusters"


def routed_partition_cols(granularity: str) -> list[str]:
    """Partition columns of the batch and streaming routed tables alike:
    sink, then the time columns ``add_time_partitions`` derives."""
    return ["sink", "p_date"] + {"hour": ["p_hour"], "minute": ["p_hour", "p_minute"]}.get(
        granularity, []
    )


def _tz_hour_aligned(tz: str) -> bool:
    """True iff date_format-derived p_date/p_hour buckets coincide with
    epoch-aligned ``window(ts, '1 hour')`` buckets in session timezone
    ``tz``: UTC aliases or an explicit fixed whole-hour offset. Named
    regional zones are rejected even when currently whole-hour — DST
    transitions (fall-back merges two epoch hours into one local bucket)
    and :30/:45 offsets both break the S7 fast path's bucket equality."""
    t = tz.strip().upper()
    if t in ("UTC", "GMT", "Z", "ETC/UTC", "ETC/GMT", "+00:00", "-00:00"):
        return True
    return bool(re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2}):00(:00)?", t))


STAGE_ROUTED = "routed_write"
STAGE_CLUSTERS = "clusters_write"
STAGE_AGG = "aggregates_write"
STAGE_MARSHAL = "marshal_write"
MARSHAL_TABLE_PREFIX = "marshaled_"
MARSHAL_FORMATS = ("body", "sumo_ic", "otlp_json", "otlp_proto")


def marshal_routed(df: DataFrame, fmt: str, sink: str) -> DataFrame:
    """Render one sink's routed facts in its wire format (the marshal half
    of exporter.go:48-66; format selection mirrors marshaler.go:42-71).
    Returns (p_date, value): value is the marshaled line for the string
    formats or the protobuf wire bytes for otlp_proto. The body is the
    REDACTED text view — the same coalesce(text_redacted, text) contract
    every other consumer of the slimmed routed table uses."""
    from ..operators import marshal as M

    body = F.coalesce(F.col("text_redacted"), F.col("text"))
    host = F.coalesce(F.col("parsed_service"), F.lit("unknown"))
    if fmt == "body":
        # body_marshaler.go:26-45 — NULL renders as '' (AsString contract)
        return df.select("p_date", F.coalesce(body, F.lit("")).alias("value"))
    if fmt == "sumo_ic":
        out = M.sumo_ic_lines(
            df,
            source_name=F.lit(sink),
            source_host=host,
            source_category=F.coalesce(F.col("tool"), F.lit("unknown")),
            body=body,
            ts=F.col("ts"),
            fields={"tool_category": F.col("tool_category")},
            message_attrs={"conv_id": F.col("conv_id")},
            out_col="value",
        )
    elif fmt == "otlp_json":
        out = M.otlp_json_logs(
            df, body=body, ts=F.col("ts"),
            resource_attrs={"service": host},
            attrs={"tool": F.col("tool"), "level": F.col("parsed_level")},
            out_col="value",
        )
    elif fmt == "otlp_proto":
        out = M.otlp_proto_logs(
            df, body=body, ts=F.col("ts"),
            resource_attrs={"service": host},
            attrs={"tool": F.col("tool")},
            out_col="value",
        )
    else:
        raise ValueError(f"unknown marshal format {fmt!r}: use {MARSHAL_FORMATS}")
    return out.select("p_date", "value")


def decorate(
    transcripts: DataFrame,
    config: PipelineConfig,
    tools: DataFrame | None = None,
    roles: DataFrame | None = None,
    cluster: bool = True,
) -> DataFrame:
    """S1-S5: the chqdecorator-equivalent transform chain — one declarative
    plan, all JVM expressions (the only collect is over distinct templates
    in S2).

    ``cluster=False`` defers the S2 cluster-map join (pass 2): callers that
    persist the stream first should apply ``attach_clusters`` afterwards so
    the distinct-template scan reads the cache instead of recomputing the
    chain (run_pipeline does this).
    """
    spark = transcripts.sparkSession
    df = parse_keyvalue(transcripts, config.parse_fields)           # S1
    df = fingerprint(df)                                            # S2 pass 1
    if cluster:
        df = attach_clusters(df)                                    # S2 pass 2
    df = redact(df, config.pii_patterns)                            # S3
    df = enrich(df, tools if tools is not None else tool_lookup(spark), "tool",
                fill_unknown={"tool_category": "unknown", "tool_owner": "unknown", "valid": False})  # S4
    df = enrich(df, roles if roles is not None else role_lookup(spark), "role",
                fill_unknown={"role_kind": "unknown"})
    df = route(df, config.rules, default_sink=config.default_sink)  # S5
    return df


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: Catalog,
    config: PipelineConfig | None = None,
    run_id: str | None = None,
    resume: bool = False,
    fail_after_stage: str | None = None,
    tools: DataFrame | None = None,
    roles: DataFrame | None = None,
) -> dict:
    """Run (or resume) the full pipeline. Returns a summary dict:
    ``run_id``, ``stages_run``, ``stages_skipped`` and per-stage wall
    seconds in ``timings``. Stages run in the order routed_write,
    clusters_write, aggregates_write, then marshal_write when
    ``config.marshal_sinks`` is non-empty.

    Idempotence contract: sink tables are keyed by the pipeline identity,
    not the run — a stage is (re)written atomically (overwrite) and its
    completion recorded in ``_lineage`` keyed (run_id, stage, sink). A
    resumed run skips stages already committed for that run_id, so a
    mid-run crash + rerun converges to the same sink state as a clean run
    (F5.7 golden; design.md:51 dedup contract).

    ``fail_after_stage`` (a stage of this run) raises after that stage
    completes or is skipped — the crash half of the resume golden.
    """
    config = (config or PipelineConfig(rules=routing_rules())).validate()
    sinks = [r["sink"] for r in config.rules] + [config.default_sink]

    def write_per_sink(frame: DataFrame, table: str, partition_by: list[str]) -> list:
        # per-sink row counts via observed metrics ON the write job itself —
        # no second scan of the written table (sink labels are closed over
        # the rule table, so the metric set is static)
        obs = Observation()
        frame = frame.observe(
            obs, *[F.count(F.when(F.col("sink") == s, 1)).alias(s) for s in sinks]
        )
        catalog.write(frame, table, partition_by=partition_by)
        return [(s, n) for s, n in obs.get.items() if n > 0]

    # Staged-table design: the routed table is written in ONE pass and then
    # serves as the materialization for every downstream stage (cluster map,
    # aggregates) via column-pruned parquet reads. At 10^12 rows you cannot
    # cache the stream in executor memory — the committed table IS the
    # cache, and re-reads prune to the 2-4 columns each stage needs
    # (SURVEY.md §4 fan-out row: persist vs intermediate table — measured,
    # the table wins: persist cost 62s vs write 7s + pruned re-reads ~2s at
    # sf0.1/local[32]). The template→cluster mapping is deliberately a
    # separate tiny dimension table instead of a column burned into the
    # fact rows: deriving it costs O(distinct templates), joining it back
    # at read time is a broadcast, and re-clustering never rewrites facts.
    # Each writer returns the (sink, rows_out) pairs its stage commits.

    def write_routed() -> list:
        # ---- S6: single-pass fan-out write ---------------------------------
        decorated = slim_facts(
            decorate(transcripts, config, tools=tools, roles=roles, cluster=False)
        )
        if config.salt_partitions > 0:
            # bound partition size under hot conversations: spread each conv's
            # turns over salt buckets; sink stays the leading key so the
            # partitioned write still clusters by sink.
            decorated = decorated.repartition(
                F.col("sink"),
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(config.salt_partitions)),
            )
        routed = add_time_partitions(decorated, granularity=config.partition_granularity)
        return write_per_sink(
            routed, ROUTED_TABLE, routed_partition_cols(config.partition_granularity)
        )

    def write_clusters() -> list:
        # ---- S2 pass 2: template→cluster dimension table --------------------
        # The routed facts already carry ``fingerprint`` (pass 1), so the
        # fact-side work here is ONE hash aggregation: a representative
        # text per fingerprint (min — deterministic). Only those ~|distinct
        # templates| representatives get re-masked — every text with the
        # same fingerprint masks to the same template by construction, so
        # re-masking all rows (3 regexes × 10^12 texts) would buy nothing.
        # persist() the tiny result: the clustering size-probe and the
        # final join both consume it.
        reps = (
            catalog.read(ROUTED_TABLE)
            .select("fingerprint", "text")
            .groupBy("fingerprint")
            .agg(F.min("text").alias("text"))
        )
        templates = (
            reps.withColumn("template", mask_template(F.col("text")))
            .select("template", "fingerprint")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        obs = Observation()
        mapping = cluster_templates(templates).select(
            "template", "fingerprint", "cluster_id"
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        catalog.write(mapping, CLUSTERS_TABLE)
        templates.unpersist()
        return [(None, obs.get["n"])]

    def write_aggregates() -> list:
        # ---- S7: per-sink windowed aggregate counts -------------------------
        facts_all = catalog.read(ROUTED_TABLE)
        if (
            config.agg_interval_seconds == 3600
            and config.partition_granularity in ("hour", "minute")
            and _tz_hour_aligned(spark.conf.get("spark.sql.session.timeZone"))
        ):
            # Partition-bucket fast path: when the agg interval equals the
            # write's hour partition granularity, the bucket is already
            # materialized as partition VALUES (p_date/p_hour, zero IO) —
            # the parquet scan reads only the conv_id+tool bytes, no
            # timestamp decode, no window(). Same buckets by construction
            # ONLY when the session timezone is a fixed whole-hour offset
            # (gated above): p_date/p_hour are date_format(ts) in the
            # session tz while window(ts, '1 hour') is epoch-aligned — a
            # DST fall-back merges two epoch hours into one local bucket
            # and a :30/:45 offset shifts every boundary, so named
            # regional zones fall through to the generic path.
            # NULL-ts rows land in __HIVE_DEFAULT_PARTITION__ on write;
            # window() silently drops them in the generic path, so the
            # fast path filters NULL partition values for path equality.
            # Measured sub-stage account (BENCH.md round-4): the scan-side
            # stages are memory-bandwidth-bound, so shedding the widest
            # column is both a throughput and a scaling win.
            ts_type = facts_all.schema["ts"].dataType
            aggs = (
                facts_all.select("sink", "conv_id", "tool", "p_date", "p_hour")
                .where(F.col("p_date").isNotNull() & F.col("p_hour").isNotNull())
                .groupBy("sink", "conv_id", "tool", "p_date", "p_hour")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn(
                    "bucket_start",
                    # partition-column type inference reads p_hour=09 back
                    # as INT 9 and may read p_date as DATE — normalize both
                    F.to_timestamp(
                        F.concat_ws(
                            " ",
                            F.col("p_date").cast("string"),
                            F.lpad(F.col("p_hour").cast("string"), 2, "0"),
                        ),
                        "yyyy-MM-dd HH",
                    ).cast(ts_type),
                )
                .select("sink", "conv_id", "tool", "n", "bucket_start")
            )
        else:
            # generic path: pruned read of the 4 grouping columns
            facts = facts_all.select("sink", "conv_id", "tool", "ts")
            aggs = interval_aggregate(
                facts, keys=["sink", "conv_id", "tool"], interval=config.agg_interval
            )
        return write_per_sink(aggs, AGG_TABLE, ["sink"])

    def write_marshal() -> list:
        # ---- S6m: optional sink-boundary marshal stage ----------------------
        # exporter.go:48-66 shape (marshal → partition → upload per sub-batch):
        # each configured sink's routed facts are rendered in that sink's wire
        # format and written as time-partitioned files next to the tables. Off
        # by default — a sink that consumes parquet directly needs no marshal.
        # Reads are partition-pruned (sink is the leading partition key of the
        # routed table), so each marshal scans only its own sink's bytes.
        per_sink = []
        for sink, fmt in sorted(config.marshal_sinks.items()):
            facts = catalog.read(ROUTED_TABLE).where(F.col("sink") == sink)
            obs = Observation()
            out = marshal_routed(facts, fmt, sink).observe(obs, F.count(F.lit(1)).alias("n"))
            table = f"{MARSHAL_TABLE_PREFIX}{sink}"
            if fmt == "otlp_proto":
                # wire bytes: parquet binary column (text can't hold them)
                catalog.write(out, table, partition_by=["p_date"])
            else:
                # line formats: newline-delimited text objects, one
                # leaf dir per p_date — the upload layout shape
                out.write.mode("overwrite").partitionBy("p_date").text(catalog.path(table))
            per_sink.append((sink, obs.get["n"]))
        return per_sink

    stages = [
        (STAGE_ROUTED, write_routed),
        (STAGE_CLUSTERS, write_clusters),
        (STAGE_AGG, write_aggregates),
    ] + ([(STAGE_MARSHAL, write_marshal)] if config.marshal_sinks else [])
    names = [name for name, _ in stages]
    if fail_after_stage is not None and fail_after_stage not in names:
        raise ValueError(
            f"fail_after_stage={fail_after_stage!r} is not a stage of this run: {names}"
        )

    run_id = run_id or uuid.uuid4().hex
    lineage = LineageLog(catalog)
    done = lineage.committed_stages(run_id) if resume else set()
    summary: dict = {"run_id": run_id, "stages_run": [], "stages_skipped": [], "timings": {}}
    for stage, write in stages:
        if stage in done:
            summary["stages_skipped"].append(stage)
        else:
            t0 = time.perf_counter()
            lineage.commit_many(run_id, stage, write())
            summary["stages_run"].append(stage)
            summary["timings"][stage] = round(time.perf_counter() - t0, 3)
        if stage == fail_after_stage:
            raise RuntimeError(f"injected failure after {stage}")
    return summary


def read_routed_with_clusters(catalog: Catalog, sink: str | None = None) -> DataFrame:
    """Read the routed fact table joined (broadcast) with the cluster
    dimension — how consumers get cluster_id without it being burned into
    10^12 fact rows.

    The writer stores ``text_redacted`` only where it differs from ``text``
    (fact-table slimming above); this reader restores the full contract with
    ``coalesce(text_redacted, text)`` so the storage optimization is
    invisible to consumers."""
    facts = (
        catalog.read_partition(ROUTED_TABLE, sink=sink)
        if sink is not None
        else catalog.read(ROUTED_TABLE)
    )
    facts = facts.withColumn(
        "text_redacted", F.coalesce(F.col("text_redacted"), F.col("text"))
    )
    dim = catalog.read(CLUSTERS_TABLE).select("fingerprint", "cluster_id").distinct()
    return facts.join(F.broadcast(dim), "fingerprint", "left")
