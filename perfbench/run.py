#!/usr/bin/env python3
"""Repository benchmark: the transcript pipeline on local[k], end to end and,
with ``--trace 1``, layer by layer.

    python3 perfbench/run.py --workload route_day --seed 1 --seconds 10 --trace 0

Run it from the repository root. Detail lines (host conditions, per-rep
timings) come first; the last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

Workloads (the program sees only a seeded parquet input table):

* ``route_day``: ``run_pipeline`` with the default ``PipelineConfig`` plus
  datagen's routing rules and a salt of 2k: day partitions, no marshal
  stage. S7 takes the generic ``interval_aggregate`` path. This is the
  production path; at this input size ``routed_write`` and
  ``clusters_write`` take most of a rep.
* ``marshal_hour``: the same input with hour partitions and a wire format on
  every sink. S7 takes the partition-value fast path instead, and the
  marshal stage runs the only per-row Python (the ``otlp_proto`` pandas_udf).
  A marshal change should show here and not on ``route_day``; an
  ``interval_aggregate`` change the other way round.

End-to-end metrics: ``turns_per_s_ex_steal`` is input turns over the
median rep wall time less the share of CPU ticks the hypervisor stole during
the rep (system-wide, from /proc/stat). On a shared host the raw wall time
moves by a quarter with the neighbours' load, more than any bound a change
could be held to; the raw wall and steal of every rep are in the detail
line. ``cpu_s_per_mturn`` is the utime+stime of the Spark JVM and its Python
workers per 10^6 input turns, ``output_bytes_per_turn`` and
``files_written`` cover every table the run writes, and ``setup_s`` is the
set-up time.

The input is those conversations of a base table (``transcripts(2 * CONVS)``,
written by Spark once per checkout) whose seeded hash is even. Set-up is the
Spark session, writing that input (without Spark) and one untimed full-size
warm-up ``run_pipeline`` call with the workload's own config; the one-off
base table is not part of it. Each op (one ``run_pipeline`` call) writes a
fresh warehouse whose outputs are checked before it is deleted; a failed or
wrong op counts in ``failed`` and the run exits non-zero. With ``--trace 0``
the timed reps run until ``--seconds`` is spent and at least two have run,
and timings are their medians. With ``--trace 1`` the run turns on
Spark's event log and, instead of timed reps, replays and probes the layers
(see ``layers.py``); spans go to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cardinalhq_otel_collector_spark"

MARSHAL_SINKS = {
    "errors": "body",
    "search_tools": "sumo_ic",
    "pii_archive": "otlp_json",
    "default": "otlp_proto",
}

# local[k]: k <= nproc, and the same k on any host with 4 cores or more
CORES = min(4, os.cpu_count() or 1)
# The input is a seeded half of transcripts(2 * CONVS): ~8.2 turns per
# conversation, so ~25k turns. Sized so that a whole run (JVM start, input,
# warm-up, two timed reps, checks) takes about a minute at local[4] on a
# 4-core host, where one rep takes 6-14 s, most of it per-job overhead: a
# third of this input takes as long.
CONVS = 3000
# the fewest timed reps in a run, whatever --seconds asks for (see
# PipelineBench.measure)
MIN_REPS = 2
WORKLOADS = {
    "route_day": {"partition_granularity": "day", "marshal_sinks": {}},
    "marshal_hour": {"partition_granularity": "hour", "marshal_sinks": MARSHAL_SINKS},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, make the package
    importable in Spark's Python workers, and measure the package defaults:
    drop the env knobs ``build_spark`` would otherwise honour."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key in (
                "SPARK_MASTER", "MASTER", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[key]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # both JVMs (spark-submit's launcher and Spark's): temp files in
    # ``work``, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.makedirs(os.environ["TMPDIR"])


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


@contextlib.contextmanager
def host_window(host: dict):
    """Record into ``host`` the steal share of CPU ticks over the block and
    the load average at its end."""
    tot0, st0 = cpu_ticks()
    yield
    tot1, st1 = cpu_ticks()
    host["steal_pct"] = 100.0 * (st1 - st0) / max(tot1 - tot0, 1)
    host["loadavg"] = os.getloadavg()


def tree_cpu_s() -> float:
    """utime+stime, own and reaped children, of every process descending
    from this one: the Spark JVM and its Python daemon and workers."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    me = os.getpid()
    total = 0
    for pid, (_, ticks) in stats.items():
        p = pid
        while p in stats and p != me:
            p = stats[p][0]
        if p == me and pid != me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def host_conditions(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "k": CORES,
        "pyspark": pyspark.__version__,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def pipeline_config(workload: str):
    from cardinalhq_otel_collector_spark.config import PipelineConfig
    from cardinalhq_otel_collector_spark.datagen import routing_rules

    k = WORKLOADS[workload]
    return PipelineConfig(
        rules=routing_rules(),
        salt_partitions=2 * CORES,
        partition_granularity=k["partition_granularity"],
        marshal_sinks=dict(k["marshal_sinks"]),
    )


def build_session(event_log: str | None):
    from cardinalhq_otel_collector_spark.session import build_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_spark(
        app_name="perfbench", cores=CORES, shuffle_partitions=max(8, 2 * CORES),
        driver_mem="2g", extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def base_input(root: str) -> str:
    """``transcripts(2 * CONVS)`` as parquet, one file per generating task,
    written once per checkout (by a Spark session of its own, stopped before
    the set-up that is timed) and shared by every later run."""
    from cardinalhq_otel_collector_spark.datagen import transcripts

    n = 2 * CONVS
    path = os.path.join(root, f"base-{n}-{CORES}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    spark = build_session(None)
    try:
        transcripts(spark, n_convs=n, hot_convs=max(2, n // 1000),
                    partitions=CORES).write.parquet(tmp)
        os.rename(tmp, path)
    finally:
        stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def select_input(base: str, seed: int, dest: str) -> None:
    """Write the workload input: the conversations of the base table whose
    seeded hash is even, file by file, without Spark. Timestamps stay INT96
    as Spark wrote them, so the program reads the base table's schema."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from checks import data_files

    os.makedirs(dest)
    for f in sorted(data_files(base)):
        table = pq.read_table(f)
        keep = [c for c in table.column("conv_id").unique().to_pylist()
                if hashlib.blake2b(f"{seed}:{c}".encode(), digest_size=8).digest()[0] % 2 == 0]
        table = table.filter(pc.is_in(table["conv_id"], value_set=pa.array(keep, pa.string())))
        pq.write_table(table, os.path.join(dest, os.path.basename(f)),
                       compression="zstd", use_deprecated_int96_timestamps=True)


class PipelineBench:
    """Setup, timed reps and output checks for one pipeline workload."""

    def __init__(self, workload: str, seed: int, work: str, trace: bool):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.reps: list[dict] = []
        self.lineage: list | None = None
        self.spark = None

    def setup(self) -> None:
        import checks

        tb = time.perf_counter()
        base = base_input(os.path.dirname(self.work))
        t0 = time.perf_counter()
        self.spark = build_session(
            os.path.join(self.work, "events") if self.trace else None)
        t1 = time.perf_counter()
        self.src = os.path.join(self.work, "input")
        select_input(base, self.seed, self.src)
        self.expected = checks.input_counts(self.src)
        want, got = (self.spark.read.parquet(p).schema for p in (base, self.src))
        if want != got:
            raise RuntimeError(f"input schema {got} differs from the base table's {want}")
        t2 = time.perf_counter()
        self.cfg = pipeline_config(self.workload)
        self.df = self.spark.read.parquet(self.src)
        self.op("warmup")
        t3 = time.perf_counter()
        self.setup_parts = {"base_build_s": t0 - tb, "session_s": t1 - t0,
                            "input_s": t2 - t1, "warmup_s": t3 - t2}
        self.setup_s = t3 - t0
        self.host = host_conditions(self.spark)

    def op(self, label: str) -> dict | None:
        """One checked run_pipeline call into a fresh warehouse."""
        import checks
        from cardinalhq_otel_collector_spark.plans.pipeline import run_pipeline
        from cardinalhq_otel_collector_spark.sources.catalog import Catalog

        self.attempted += 1
        wh = os.path.join(self.work, f"wh_{label}")
        try:
            c0 = tree_cpu_s()
            tot0, st0 = cpu_ticks()
            t0 = time.perf_counter()
            summary = run_pipeline(self.spark, self.df, Catalog(self.spark, wh),
                                   config=self.cfg, run_id=label)
            wall = time.perf_counter() - t0
            tot1, st1 = cpu_ticks()
            cpu = tree_cpu_s() - c0
            out = checks.pipeline_outputs(wh, self.expected, self.cfg.marshal_sinks)
        except checks.CheckFailed as e:
            print(f"perfbench: {label}: wrong output: {e}", file=sys.stderr)
            self.failed += 1
            return None
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        self.lineage = out.pop("lineage")
        steal = (st1 - st0) / max(tot1 - tot0, 1)
        return {"label": label, "wall_s": wall, "steal": steal,
                "wall_ex_steal_s": wall * (1.0 - steal), "cpu_s": cpu,
                "timings": summary["timings"], **out}

    def measure(self, seconds: float) -> None:
        """Timed reps until ``seconds`` are spent and at least MIN_REPS have
        run. Reps get faster for several calls after the warm-up (JIT), so
        the median depends on how many there are; the floor keeps that
        count from following the host's speed."""
        spent = 0.0
        n = 0
        with host_window(self.host):
            while spent < seconds or n < MIN_REPS:
                n += 1
                t0 = time.perf_counter()
                rep = self.op(f"rep{len(self.reps)}")
                spent += time.perf_counter() - t0
                if rep is not None:
                    self.reps.append(rep)

    def end_to_end(self) -> dict:
        n = self.expected["turns"]

        def median(key):
            return statistics.median(r[key] for r in self.reps)

        return {
            "turns_per_s_ex_steal": (n / median("wall_ex_steal_s"), "turns/s"),
            "cpu_s_per_mturn": (1e6 * median("cpu_s") / n, "cpu_s/mturn"),
            "output_bytes_per_turn": (median("bytes") / n, "B/turn"),
            "files_written": (median("files"), "count"),
            "setup_s": (self.setup_s, "s"),
        }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the package under test is the one in this checkout, nothing installed
    sys.path.insert(0, ROOT)
    try:
        pkg = importlib.import_module(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PACKAGE} resolves to {pkg.__file__}, outside {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench = PipelineBench(args.workload, args.seed, work, bool(args.trace))
    try:
        prepare_env(work)
        layers = None
        try:
            bench.setup()
            if not args.trace:
                bench.measure(args.seconds)
            elif bench.lineage is not None:
                import layers as layer_trace

                with host_window(bench.host):
                    layers = layer_trace.traced_layers(bench, MARSHAL_SINKS)
        finally:
            if bench.spark is not None:
                stop_session(bench.spark)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": bench.host, "setup": bench.setup_parts, "input": bench.expected,
            "reps": bench.reps,
        }
        print("detail " + json.dumps(detail))
        if not (layers or bench.reps):
            print("perfbench: no op succeeded", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": bench.attempted,
                              "failed": bench.failed, "metrics": {}}))
            return 1
        if layers is not None:
            metrics = layers.finish(os.path.join(ROOT, ".perfbench_work", "traces"), detail)
        else:
            metrics = bench.end_to_end()
        correct = bench.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
