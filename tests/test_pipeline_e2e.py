"""End-to-end pipeline goldens — the three north-rule invariants
(BASELINE.md targets), checked against an independent pure-Python oracle
over the same deterministic transcripts:

  1. routed-row equality per sink
  2. per-sink aggregate-count equality (conv_id × tool × hour bucket)
  3. per-turn text equality under stable (conv_id, turn_idx) ordering

plus the idempotent-resume golden (F5.7) and lineage consistency (F6).
"""

from __future__ import annotations

import re
from collections import Counter
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from cardinalhq_otel_collector_spark.config import PipelineConfig
from cardinalhq_otel_collector_spark.datagen import routing_rules, tool_lookup
from cardinalhq_otel_collector_spark.operators.redact import DEFAULT_PII_PATTERNS
from cardinalhq_otel_collector_spark.plans.lineage import LineageLog
from cardinalhq_otel_collector_spark.plans.pipeline import (
    AGG_TABLE,
    CLUSTERS_TABLE,
    ROUTED_TABLE,
    read_routed_with_clusters,
    run_pipeline,
)

_LEVEL_RE = re.compile(r'(?:^|\s)level=(?:"([^"]*)"|(\S+))')
_PII_RES = [re.compile(p) for _, p, _ in DEFAULT_PII_PATTERNS]


def oracle_route(rows, tool_cat: dict) -> dict:
    """Pure-Python reference router: (conv_id, turn_idx) -> sink."""
    out = {}
    for r in rows:
        m = _LEVEL_RE.search(r["text"])
        level = (m.group(1) or m.group(2)) if m else None
        cat = tool_cat.get(r["tool"], "unknown")
        has_pii = any(p.search(r["text"]) for p in _PII_RES)
        if level == "ERROR":
            sink = "errors"
        elif r["role"] == "tool" and cat == "search":
            sink = "search_tools"
        elif has_pii:
            sink = "pii_archive"
        else:
            sink = "default"
        out[(r["conv_id"], r["turn_idx"])] = sink
    return out


@pytest.fixture(scope="module")
def pipeline_state(spark, transcripts_df, tmp_path_factory):
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    summary = run_pipeline(spark, transcripts_df, catalog, run_id="run-1")
    return catalog, summary


def test_invariant_1_routed_row_equality(spark, transcripts_df, pipeline_state):
    catalog, _ = pipeline_state
    rows = transcripts_df.collect()
    tool_cat = {r["tool"]: r["tool_category"] for r in tool_lookup(spark).collect()}
    expected = oracle_route(rows, tool_cat)

    routed = catalog.read(ROUTED_TABLE).select("conv_id", "turn_idx", "sink").collect()
    got = {(r["conv_id"], r["turn_idx"]): r["sink"] for r in routed}
    assert len(routed) == len(rows)  # no dup, no loss
    assert got == expected
    assert set(got.values()) >= {"errors", "search_tools", "pii_archive", "default"}


def test_invariant_2_aggregate_count_equality(spark, transcripts_df, pipeline_state):
    catalog, _ = pipeline_state
    rows = transcripts_df.collect()
    tool_cat = {r["tool"]: r["tool_category"] for r in tool_lookup(spark).collect()}
    sinks = oracle_route(rows, tool_cat)
    expected = Counter(
        (
            sinks[(r["conv_id"], r["turn_idx"])],
            r["conv_id"],
            r["tool"],
            r["ts"].replace(minute=0, second=0, microsecond=0),
        )
        for r in rows
    )
    got = {
        (r["sink"], r["conv_id"], r["tool"], r["bucket_start"]): r["n"]
        for r in catalog.read(AGG_TABLE).collect()
    }
    assert got == dict(expected)


def test_invariant_3_per_turn_text_equality(transcripts_df, pipeline_state):
    catalog, _ = pipeline_state
    src = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in transcripts_df.orderBy("conv_id", "turn_idx").collect()
    ]
    out = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in catalog.read(ROUTED_TABLE).orderBy("conv_id", "turn_idx").collect()
    ]
    assert src == out  # byte-identical passthrough (body_marshaler.go:25-44)


def test_cluster_dimension_join(pipeline_state):
    """Every routed row resolves a cluster_id via the broadcast dimension
    join; pattern-family rows (same masked template) share one cluster."""
    catalog, _ = pipeline_state
    joined = read_routed_with_clusters(catalog)
    assert joined.filter(F.col("cluster_id").isNull()).count() == 0
    fam = joined.filter(F.col("text").startswith("connection "))
    assert fam.select("cluster_id").distinct().count() == 1


def test_lineage_consistency(pipeline_state):
    catalog, summary = pipeline_state
    lineage = LineageLog(catalog).read().filter(F.col("run_id") == "run-1")
    per_sink = {
        (r["stage"], r["sink"]): r["rows_out"] for r in lineage.collect()
    }
    table_counts = {
        r["sink"]: r["n"]
        for r in catalog.read(ROUTED_TABLE).groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    for sink, n in table_counts.items():
        assert per_sink[("routed_write", sink)] == n


# every stage of a marshal run, in order, with a table it writes
STAGE_TABLES = {
    "routed_write": ROUTED_TABLE,
    "clusters_write": CLUSTERS_TABLE,
    "aggregates_write": AGG_TABLE,
    "marshal_write": "marshaled_errors",
}
RESUME_STAGES = list(STAGE_TABLES)


def _resume_config() -> PipelineConfig:
    return PipelineConfig(
        rules=routing_rules(), marshal_sinks={"errors": "body", "default": "sumo_ic"}
    ).validate()


def _lineage_rows(catalog, run_id: str) -> list:
    rows = LineageLog(catalog).read().filter(F.col("run_id") == run_id).collect()
    return sorted((r["stage"], r["sink"] or "", r["rows_out"]) for r in rows)


@pytest.fixture(scope="module")
def clean_run(spark, transcripts_df, tmp_path_factory):
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    clean = Catalog(spark, str(tmp_path_factory.mktemp("clean")))
    run_pipeline(spark, transcripts_df, clean, config=_resume_config(), run_id="run-y")
    return clean


@pytest.mark.parametrize("stage", RESUME_STAGES)
def test_idempotent_resume(spark, transcripts_df, warehouse, clean_run, stage):
    """Crash after any stage, resume with the same run_id → final state and
    lineage identical to a clean run; committed stages not re-executed."""
    cfg = _resume_config()
    with pytest.raises(RuntimeError, match=f"injected failure after {stage}"):
        run_pipeline(
            spark, transcripts_df, warehouse, config=cfg, run_id="run-x",
            fail_after_stage=stage,
        )
    cut = RESUME_STAGES.index(stage) + 1
    # mid-run state: the stages up to the failure written, the rest absent
    for i, name in enumerate(RESUME_STAGES):
        assert warehouse.exists(STAGE_TABLES[name]) == (i < cut), name

    summary = run_pipeline(
        spark, transcripts_df, warehouse, config=cfg, run_id="run-x", resume=True
    )
    assert summary["stages_skipped"] == RESUME_STAGES[:cut]
    assert summary["stages_run"] == RESUME_STAGES[cut:]

    assert _lineage_rows(warehouse, "run-x") == _lineage_rows(clean_run, "run-y")
    for table in (ROUTED_TABLE, AGG_TABLE, CLUSTERS_TABLE):
        a = sorted(map(tuple, warehouse.read(table).drop("p_date", "p_hour").collect()))
        b = sorted(map(tuple, clean_run.read(table).drop("p_date", "p_hour").collect()))
        assert a == b


def test_fail_after_unknown_stage_raises(spark, transcripts_df, warehouse):
    """A misspelt stage, or one this run does not have (marshal_write with
    no marshal_sinks), is rejected before any stage writes."""
    for name in ("routed_writ", "marshal_write"):
        with pytest.raises(ValueError, match="not a stage of this run"):
            run_pipeline(
                spark, transcripts_df, warehouse, run_id="run-bad", fail_after_stage=name
            )
    assert not warehouse.exists(ROUTED_TABLE)


def test_rerun_same_run_id_is_noop(spark, transcripts_df, warehouse):
    run_pipeline(spark, transcripts_df, warehouse, run_id="run-z")
    before = sorted(map(tuple, warehouse.read(ROUTED_TABLE).collect()))
    summary = run_pipeline(spark, transcripts_df, warehouse, run_id="run-z", resume=True)
    assert summary["stages_run"] == []
    after = sorted(map(tuple, warehouse.read(ROUTED_TABLE).collect()))
    assert before == after


def test_hour_partition_agg_fast_path_matches_window_agg(spark, tmp_path):
    """S7 fast path: with hour partition granularity and a 1-hour agg
    interval, the aggregate is computed from partition VALUES (p_date,
    p_hour) without decoding ts. Must equal window(ts, '1 hour') exactly —
    including across a midnight boundary (p_date changes under the same
    run) and for the bucket containing the last event."""
    from datetime import datetime, timedelta

    from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    base = datetime(2026, 3, 1, 22, 15, 0)
    rows = []
    for conv in range(6):
        for i in range(40):
            ts = base + timedelta(minutes=7 * i + conv)  # crosses midnight
            rows.append(
                (
                    f"conv-{conv}",
                    i,
                    "tool" if i % 3 == 0 else "user",
                    f"level=INFO code=200 latency_ms={i} service=s msg=\"m\"",
                    "search" if i % 3 == 0 else "",
                    ts,
                )
            )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = PipelineConfig(
        rules=routing_rules(), partition_granularity="hour", agg_interval="1 hour"
    ).validate()
    catalog = Catalog(spark, str(tmp_path / "wh_fast"))
    run_pipeline(spark, df, catalog, config=cfg, run_id="fastpath")

    got = sorted(
        map(
            tuple,
            catalog.read(AGG_TABLE)
            .select("sink", "conv_id", "tool", "n", "bucket_start")
            .collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            interval_aggregate(
                catalog.read(ROUTED_TABLE).select("sink", "conv_id", "tool", "ts"),
                keys=["sink", "conv_id", "tool"],
                interval="1 hour",
            )
            .select("sink", "conv_id", "tool", "n", "bucket_start")
            .collect(),
        )
    )
    assert got == expected
    assert len({r[4].date() for r in got}) == 2  # midnight boundary exercised


def test_lineage_commit_survives_crashed_partial_write(spark, warehouse):
    """Resume-after-crash contract of the _lineage table: commits are
    written to a dot-prefixed temp file and renamed, so a crash mid-write
    leaves only an invisible temp — never a truncated parquet part that
    breaks the next run's committed_stages() read."""
    import os

    lineage = LineageLog(warehouse)
    lineage.commit("crash-run", "routed_write", rows_out=10)
    path = warehouse.path("_lineage")
    # simulate a crash mid-write: a truncated dot-prefixed temp left behind
    with open(os.path.join(path, ".part-deadbeef.parquet.tmp"), "wb") as f:
        f.write(b"PAR1\x00\x00garbage")  # not a valid parquet footer
    # Spark's parquet reader must ignore the dot-file: read succeeds and
    # the committed stage is still visible
    assert lineage.committed_stages("crash-run") == {"routed_write"}
    # committed_at round-trips as TIMESTAMP (LTZ), matching the fallback
    # schema in read() — pre/post-change files can coexist in one dir
    assert dict(lineage.read().dtypes)["committed_at"] == "timestamp"


def test_marshal_sink_stage_e2e(spark, transcripts_df, tmp_path):
    """S6m sink-boundary marshal (exporter.go:48-66 marshal→partition→
    upload): each configured sink's routed facts are rendered in its wire
    format and written as time-partitioned files. Exercises all three
    output families (text line via sumo_ic, raw body, binary otlp_proto)
    and the lineage/resume contract."""
    from cardinalhq_otel_collector_spark.operators.marshal import (
        parse_otlp_proto_logs,
    )
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    cfg = PipelineConfig(
        rules=routing_rules(),
        marshal_sinks={
            "errors": "sumo_ic",
            "default": "body",
            "search_tools": "otlp_proto",
        },
    ).validate()
    catalog = Catalog(spark, str(tmp_path / "wh_marshal"))
    summary = run_pipeline(spark, transcripts_df, catalog, config=cfg, run_id="m1")
    assert "marshal_write" in summary["stages_run"]

    routed = catalog.read(ROUTED_TABLE)
    by_sink = dict(
        routed.groupBy("sink").count().rdd.map(lambda r: (r["sink"], r["count"])).collect()
    )

    # sumo_ic text lines: count + shape
    sumo = spark.read.text(catalog.path("marshaled_errors"))
    assert sumo.count() == by_sink["errors"]
    line = sumo.first()["value"]
    assert line.startswith('{"date": "') and '"sourceName":"errors"' in line

    # body text lines: multiset equality with the redacted text view
    body = spark.read.text(catalog.path("marshaled_default"))
    got = sorted(r["value"] for r in body.collect())
    want = sorted(
        r[0]
        for r in routed.where(F.col("sink") == "default")
        .select(F.coalesce("text_redacted", "text"))
        .collect()
    )
    assert got == want

    # otlp_proto binary: decodes, body matches some routed search_tools row
    proto = catalog.read("marshaled_search_tools")
    assert proto.count() == by_sink["search_tools"]
    rec = parse_otlp_proto_logs(proto.first()["value"])
    texts = {
        r[0]
        for r in routed.where(F.col("sink") == "search_tools")
        .select(F.coalesce("text_redacted", "text"))
        .collect()
    }
    assert rec["body"] in texts and rec["ts_nanos"] > 0

    # resume: the stage is lineage-committed and skipped on rerun
    summary2 = run_pipeline(
        spark, transcripts_df, catalog, config=cfg, run_id="m1", resume=True
    )
    assert "marshal_write" in summary2["stages_skipped"]


def test_s7_fast_path_requires_hour_aligned_timezone(spark, tmp_path):
    """ADVICE round-4: p_date/p_hour follow the SESSION tz while
    window(ts,'1 hour') is epoch-aligned, so the partition-value fast path
    must fall back to the generic path under a non-whole-hour-offset zone
    (Asia/Kolkata = +5:30 shifts every bucket boundary by 30 min). The
    aggregate must equal window() regardless of session timezone."""
    from datetime import datetime, timedelta

    from cardinalhq_otel_collector_spark.operators.aggregate import interval_aggregate
    from cardinalhq_otel_collector_spark.plans.pipeline import _tz_hour_aligned
    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    # unit matrix for the gate itself
    for tz in ("UTC", "GMT", "Etc/UTC", "+05:00", "-08:00", "GMT+3:00"):
        assert _tz_hour_aligned(tz), tz
    for tz in ("Asia/Kolkata", "Asia/Kathmandu", "America/New_York",
               "Europe/Berlin", "+05:30"):
        assert not _tz_hour_aligned(tz), tz

    base = datetime(2026, 3, 1, 22, 15, 0)
    rows = [
        (f"conv-{c}", i, "user",
         'level=INFO code=200 latency_ms=1 service=s msg="m"', "",
         base + timedelta(minutes=11 * i + c))
        for c in range(4)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(
        rules=routing_rules(), partition_granularity="hour", agg_interval="1 hour"
    ).validate()
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        catalog = Catalog(spark, str(tmp_path / "wh_kolkata"))
        run_pipeline(spark, df, catalog, config=cfg, run_id="tzrun")
        got = sorted(
            map(tuple, catalog.read(AGG_TABLE)
                .select("sink", "conv_id", "n", "bucket_start").collect())
        )
        expected = sorted(
            map(tuple, interval_aggregate(
                catalog.read(ROUTED_TABLE).select("sink", "conv_id", "tool", "ts"),
                keys=["sink", "conv_id", "tool"], interval="1 hour",
            ).select("sink", "conv_id", "n", "bucket_start").collect())
        )
        assert got == expected
        # the +5:30 layout genuinely splits epoch hours across p_hour values,
        # so equality above proves the generic path ran, not the fast path
        hours = {
            r["bucket_start"].minute for r in catalog.read(AGG_TABLE).collect()
        }
        assert hours == {0}  # epoch-aligned buckets, not :30-shifted
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_s7_fast_path_drops_null_ts_like_window(spark, tmp_path):
    """ADVICE round-4: NULL-ts rows land in __HIVE_DEFAULT_PARTITION__ on
    write; window() silently drops them, so the fast path must too — both
    paths agree that null-timestamp rows produce no aggregate group."""
    from datetime import datetime

    from cardinalhq_otel_collector_spark.sources.catalog import Catalog

    rows = [
        ("c1", 0, "user", 'level=INFO code=1 latency_ms=1 service=s msg="m"',
         "", datetime(2026, 3, 1, 10, 5)),
        ("c1", 1, "user", 'level=INFO code=1 latency_ms=1 service=s msg="m"',
         "", None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = PipelineConfig(
        rules=routing_rules(), partition_granularity="hour", agg_interval="1 hour"
    ).validate()
    catalog = Catalog(spark, str(tmp_path / "wh_nullts"))
    run_pipeline(spark, df, catalog, config=cfg, run_id="nullts")
    aggs = catalog.read(AGG_TABLE).collect()
    assert sum(r["n"] for r in aggs) == 1  # the NULL-ts turn is not counted
    assert all(r["bucket_start"] is not None for r in aggs)
