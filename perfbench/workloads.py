"""The benchmark's workloads, each run in its own process by run.py.

    python3 -m perfbench.workloads --workload <ingest|queries> --seed <n>
        --seconds <s> --trace <0|1> --cores <n> --driver-memory-mb <m>
        --work <dir>

A run builds its inputs from the seed, starts a session, makes one untimed
warm pass, measures for ``--seconds``, checks the outputs once, and prints
one JSON object as its last line. With ``--trace 1`` it alternates traced
and untraced repetitions and reports the per-layer metrics instead of the
end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time
from contextlib import nullcontext
from statistics import median

T_PROCESS_START = time.time()

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from kafka_connect_minio_pipeline_spark.pipeline.profile import profile_transform  # noqa: E402
from kafka_connect_minio_pipeline_spark.registry import all_queries  # noqa: E402
from kafka_connect_minio_pipeline_spark.session import get_spark  # noqa: E402
from kafka_connect_minio_pipeline_spark.sources.registry_avro import decode_kafka_frames  # noqa: E402
from kafka_connect_minio_pipeline_spark.streaming.pipeline import read_json_sink  # noqa: E402
from kafka_connect_minio_pipeline_spark.streaming.runner import run_to_files  # noqa: E402

from . import gen, reference  # noqa: E402
from .trace import (  # noqa: E402
    PeakRss,
    StatusStore,
    descendants,
    make_progress_listener,
    reap,
    shm_bytes_added,
    shm_entries,
    summarize_jobs,
    tail_percentile,
)

PACKAGE = "kafka_connect_minio_pipeline_spark."
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- workload sizes -----------------------------------------------------------

INGEST_RECORDS = 8_000  # per drain of the backlog
INGEST_PER_FILE = 2_000  # records per backlog file = per micro-batch
INGEST_WARM_FILES = 1

# The timed set: an aggregate, a shuffle join, a stateful stream and the
# connected-components loop (inside multimodal_phash_clusters).
QUERIES = (
    "agg_pricing_summary",
    "join_inner_revenue",
    "stream_stateful",
    "multimodal_phash_clusters",
)
# One query for each engine module the timed set leaves out; run, checked
# and traced in the traced run only, after its timed part.
EXTRA_QUERIES = (
    "dedup_minhash_lsh",
    "graph_wcc",
    "similarity_ann_ivfpq",
    "llm_substring_clean",
    "window_running",
    "scalar_json",
    "profile_reconciliation",
)
QUERY_TABLE_SEED = 20_260_416  # the tables are fixed; --seed orders queries
QUERY_SCALE = 0.002
MIN_PASSES = 5  # timed passes of a --trace 0 run; op_p50_ms is their median
# untimed noop passes after the cold, checked one: pass times keep falling
# for several passes while the JVM warms up
QUERY_WARM_PASSES = 2
SETUP_REPEATS = 3
# untimed full drains after the first, one-file drain
INGEST_WARM_DRAINS = 2
SINGLE_CORE_DRAINS = 2

MODULES = (
    "operators.dedup", "operators.graph", "operators.multimodal",
    "operators.similarity_pq", "operators.llmdata", "operators.joins",
    "operators.aggregates", "operators.windows", "functions.scalar",
    "pipeline.queries", "streaming.queries",
)
MODULE_FIELDS = ("build_ms", "execute_ms", "jobs", "tasks", "driver_gap_ms",
                 "exec_cpu_ms", "shuffle_bytes", "spill_bytes")
INGEST_LAYERS = (
    "sources.files.list_ms", "sources.registry_avro.decode_ms",
    "streaming.runner.add_batch_ms", "streaming.runner.commit_ms",
    "streaming.runner.tasks_per_batch", "streaming.runner.core_busy_share",
    "pipeline.profile.keep_ratio", "sinks.bytes_per_record",
    "sinks.files_written", "streaming.pipeline.readback_ms",
    "ingest.op_tail_ms", "ingest.op_tail_pct", "ingest.speedup_vs_1core",
)
QUERY_STREAM_LAYERS = ("sources.files.list_ms", "streaming.runner.add_batch_ms",
                       "streaming.runner.commit_ms")
STATE_LAYERS = ("streaming.state.rows_total", "streaming.state.memory_bytes",
                "streaming.state.commit_ms", "streaming.state.partitions")
RESOURCE_LAYERS = ("session.heap_used_mb", "session.peak_rss_mb", "scratch.shm_bytes",
                   "streaming.runner.memory_tables", "trace.overhead_pct")

UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "op_p50_ms": "ms",
    "build_ms": "ms", "execute_ms": "ms", "jobs": "count", "tasks": "count",
    "driver_gap_ms": "ms", "exec_cpu_ms": "ms", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "sources.files.list_ms": "ms", "sources.registry_avro.decode_ms": "ms",
    "streaming.runner.add_batch_ms": "ms", "streaming.runner.commit_ms": "ms",
    "streaming.runner.tasks_per_batch": "count",
    "streaming.runner.core_busy_share": "ratio", "pipeline.profile.keep_ratio": "ratio",
    "sinks.bytes_per_record": "bytes", "sinks.files_written": "count",
    "streaming.pipeline.readback_ms": "ms", "ingest.op_tail_ms": "ms",
    "ingest.op_tail_pct": "%",
    "ingest.speedup_vs_1core": "ratio",
    "streaming.state.rows_total": "count", "streaming.state.memory_bytes": "bytes",
    "streaming.state.commit_ms": "ms", "streaming.state.partitions": "count",
    "session.heap_used_mb": "MB", "session.peak_rss_mb": "MB",
    "scratch.shm_bytes": "bytes",
    "streaming.runner.memory_tables": "count", "trace.overhead_pct": "%",
}

KAFKA_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def per_layer_names() -> list[str]:
    names = [f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS]
    return names + list(INGEST_LAYERS) + list(STATE_LAYERS) + list(RESOURCE_LAYERS)


def unit_of(name: str) -> str:
    return UNITS.get(name) or UNITS[name.rsplit(".", 1)[1]]


# --- session -------------------------------------------------------------------


class Bench:
    """One workload run: the session, its observers and the work directory."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.work = args.work
        self.cores = args.cores
        self.spark: SparkSession | None = None
        self.store: StatusStore | None = None
        self.listener = None
        self.shm_before = shm_entries()

    def tmpdir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.work)

    def start(self, cores: int) -> None:
        self.spark = get_spark(
            app_name="perfbench", cores=cores,
            driver_memory=f"{self.args.driver_memory_mb}m",
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.store = StatusStore(self.spark)
        self.listener = make_progress_listener()
        self.spark.streams.addListener(self.listener)

    def stop(self) -> None:
        """Stop the session; the JVM keeps running until exit_jvm()."""
        if self.spark is not None:
            self.spark.streams.removeListener(self.listener)
            self.spark.stop()
            self.spark = None

    def exit_jvm(self) -> None:
        """Close the JVM's stdin, which ends it, wait for it, and end the
        Python workers it started."""
        gateway = SparkContext._gateway
        if gateway is None:
            return
        workers = descendants(gateway.proc.pid)
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        reap(workers)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def memory_tables(self) -> int:
        return sum(1 for t in self.spark.catalog.listTables()
                   if t.name.startswith("kcm_stream_"))

    def resources(self) -> dict[str, float]:
        """Sampled after each traced repetition; reported, never gated."""
        return {
            "session.heap_used_mb": self.store.heap_used_mb(),
            "scratch.shm_bytes": float(shm_bytes_added(self.shm_before)),
            "streaming.runner.memory_tables": float(self.memory_tables()),
        }


def configure_paths(work: str) -> None:
    """Keep the files Spark writes inside ``work``: the JVM's temporary
    directory and the warehouse. run.py sets TMPDIR and SPARK_LOCAL_DIRS.
    The engine's own scratch area (scratch.py: RAM-backed /dev/shm) is left
    where the engine puts it, so the stream checkpoints and staged
    relations are measured on the medium they use in production."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


# --- stream layers from progress events and the status store --------------------


def stream_layers(batches: list[dict], jobs: list[dict], stages: dict, lo_ms: float,
                  hi_ms: float, cores: int) -> dict[str, float]:
    n = len(batches) or 1

    def mean_of(*keys: str) -> float:
        return sum(sum(b["durationMs"].get(k, 0) for k in keys) for b in batches) / n

    s = summarize_jobs(jobs, stages, lo_ms, hi_ms)
    return {
        "sources.files.list_ms": mean_of("latestOffset", "getBatch"),
        "streaming.runner.add_batch_ms": mean_of("addBatch"),
        "streaming.runner.commit_ms": mean_of("walCommit", "commitOffsets"),
        "streaming.runner.tasks_per_batch": s["tasks"] / n,
        "streaming.runner.core_busy_share":
            s["exec_run_ms"] / max(1.0, (hi_ms - lo_ms) * cores),
    }


def state_layers(batches: list[dict]) -> dict[str, float]:
    if not batches:
        return {}
    ops = [b.get("stateOperators", []) for b in batches]
    last = ops[-1]
    return {
        "streaming.state.rows_total": float(sum(o["numRowsTotal"] for o in last)),
        "streaming.state.memory_bytes":
            float(max(sum(o["memoryUsedBytes"] for o in bo) for bo in ops)),
        "streaming.state.commit_ms":
            sum(sum(o.get("commitTimeMs", 0) for o in bo) for bo in ops) / len(ops),
        "streaming.state.partitions":
            float(max(sum(o.get("numShufflePartitions", 0) for o in bo) for bo in ops)),
    }


def jobs_in_groups(jobs: list[dict], groups: set[str]) -> list[dict]:
    return [j for j in jobs if j.get("jobGroup") in groups]


# --- ingest ----------------------------------------------------------------------


class Ingest:
    """The reference pipeline: a replayed registry-Avro backlog, one file
    per micro-batch, through decode -> profile transform -> JSON file sink."""

    def __init__(self, bench: Bench):
        self.b = bench
        self.users: list[tuple] = []
        self.valid: list[bool] = []

    def build_inputs(self) -> None:
        seed = self.b.args.seed
        self.users = gen.users(seed, INGEST_RECORDS)
        rows, self.valid = gen.frames(seed, self.users)
        self.src = self.b.tmpdir("backlog_")
        gen.write_frames(self.src, rows, INGEST_PER_FILE)
        self.warm = self.b.tmpdir("warm_")
        gen.write_frames(self.warm, rows[: INGEST_WARM_FILES * INGEST_PER_FILE],
                         INGEST_PER_FILE)

    def drain(self, src: str) -> dict:
        spark = self.b.spark
        sink = self.b.tmpdir("sink_")
        t0 = time.time() * 1000.0
        raw = (spark.readStream.schema(KAFKA_SPARK_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(src))
        run_to_files(profile_transform(decode_kafka_frames(raw)), sink, fmt="json")
        t1 = time.time() * 1000.0
        runs = self.b.listener.wait_runs(t0, t1, at_least=1)
        batches = [p for r in runs for p in self.b.listener.batches(r)
                   if p["numInputRows"] > 0]
        return {"t0": t0, "t1": t1, "runs": runs, "batches": batches, "sink": sink,
                "rows": sum(p["numInputRows"] for p in batches)}

    def warm_pass(self) -> None:
        """The first micro-batch pays for JIT compilation and Python worker
        start; drain times keep falling for a few drains after it."""
        self.drain(self.warm)
        for _ in range(INGEST_WARM_DRAINS):
            self.drain(self.src)

    def check(self, d: dict) -> list[str]:
        """Untimed: the sink read-back against the pure-Python reference."""
        errors = []
        got = [tuple(r) for r in read_json_sink(self.b.spark, d["sink"]).collect()]
        want = reference.transform(
            [u for u, ok in zip(self.users, self.valid) if ok])
        if len(got) != len(want):
            errors.append(f"sink rows {len(got)} != reference rows {len(want)}")
        if reference.digest(got) != reference.digest(want):
            errors.append("sink digest differs from the reference transform")
        if d["rows"] != len(self.users):
            errors.append(f"source rows {d['rows']} != generated {len(self.users)}")
        dropped = sum(self.valid) - len(got)
        expected = gen.filtered_by_construction(self.users, self.valid)
        if dropped != expected:
            errors.append(f"filtered {dropped} rows, generator made {expected} "
                          "rows with blank names")
        return errors

    def sink_stats(self, sink: str) -> tuple[int, int]:
        files = [f for f in os.listdir(sink) if f.endswith(".json")]
        return len(files), sum(os.path.getsize(os.path.join(sink, f)) for f in files)

    def layers(self, d: dict) -> dict[str, float]:
        b = self.b
        t = time.time()
        jobs, stages = b.store.jobs(), b.store.stages()
        out = stream_layers(d["batches"], jobs_in_groups(jobs, set(d["runs"])), stages,
                            d["t0"], d["t1"], b.cores)
        out["sources.registry_avro.decode_ms"] = (
            b.store.python_time_ms(d["exec_before"]) / max(1, len(d["batches"])))
        t_read = time.time()
        kept = read_json_sink(b.spark, d["sink"]).count()
        out["streaming.pipeline.readback_ms"] = (time.time() - t_read) * 1000.0
        out["pipeline.profile.keep_ratio"] = kept / max(1, d["rows"])
        files, nbytes = self.sink_stats(d["sink"])
        out["sinks.files_written"] = float(files)
        out["sinks.bytes_per_record"] = nbytes / max(1, kept)
        out["_harvest_s"] = time.time() - t
        return out

    def measure(self, traced: bool) -> tuple[dict, dict]:
        b, secs = self.b, self.b.args.seconds
        drains, layer_samples = [], []
        untraced_s, traced_s, untraced_rows = [], [], 0
        with PeakRss(b.jvm_pid()) if traced else nullcontext() as rss:
            t_start = time.time()
            while not drains or time.time() - t_start < secs or (
                    traced and (len(traced_s) < 2 or len(untraced_s) < 2
                                or sum(len(d["batches"]) for d in drains) < 20)):
                do_trace = traced and len(drains) % 2 == 1
                before = b.store.last_execution_id() if do_trace else -1
                d = self.drain(self.src)
                d["exec_before"] = before
                wall = (d["t1"] - d["t0"]) / 1000.0
                if do_trace:
                    lay = self.layers(d)
                    traced_s.append(wall + lay.pop("_harvest_s"))
                    lay.update(b.resources())
                    layer_samples.append(lay)
                else:
                    untraced_s.append(wall)
                    untraced_rows += d["rows"]
                drains.append(d)
                log(f"drain {wall:.2f}s, batches " + " ".join(
                    str(p["durationMs"]["triggerExecution"]) for p in d["batches"]))
        last = drains[-1]
        errors = self.check(last)
        lat = [p["durationMs"]["triggerExecution"] for d in drains for p in d["batches"]]
        e2e = {
            "rows_per_s": untraced_rows / sum(untraced_s),
            "op_p50_ms": median(lat),
        }
        counts = {"attempted": len(lat), "failed": len(last["batches"]) if errors else 0,
                  "errors": errors}
        per_layer = {}
        if traced:
            per_layer = mean_dicts(layer_samples)
            tail = tail_percentile(lat)
            if tail:
                per_layer["ingest.op_tail_pct"], per_layer["ingest.op_tail_ms"] = tail
            per_layer["trace.overhead_pct"] = overhead_pct(untraced_s, traced_s)
            per_layer["session.peak_rss_mb"] = rss.peak / 2**20
        return e2e, {**counts, "per_layer": per_layer}

    def single_core_rows_per_s(self) -> float:
        """Drain the same backlog on local[1] (the single-threaded baseline),
        warmed exactly like the main session."""
        self.b.stop()
        self.b.start(1)
        self.warm_pass()
        drains = [self.drain(self.src) for _ in range(SINGLE_CORE_DRAINS)]
        return (sum(d["rows"] for d in drains)
                / sum((d["t1"] - d["t0"]) / 1000.0 for d in drains))

    @staticmethod
    def not_applicable() -> set[str]:
        """No q_* call and no state operator runs on ingest."""
        return {f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS} | set(STATE_LAYERS)


# --- query set -------------------------------------------------------------------


class Queries:
    """A fixed set of registered queries over staged tables; one operation
    is one pass over the set, in an order drawn from the seed."""

    def __init__(self, bench: Bench):
        self.b = bench
        self.registry = all_queries()
        self.rng = random.Random(bench.args.seed)
        self.errors: list[str] = []
        self.checked = 0

    def build_inputs(self) -> None:
        self.data = self.b.tmpdir("tables_")
        tabs = gen.tables(QUERY_TABLE_SEED, QUERY_SCALE)
        gen.write_tables(self.data, tabs)
        self.rows_per_pass = sum(t.num_rows for t in tabs.values())

    def order(self, names: tuple[str, ...]) -> list[str]:
        names = list(names)
        self.rng.shuffle(names)
        return names

    def check(self, names: tuple[str, ...]) -> None:
        """Untimed: collect each query and compare it with its registered
        DuckDB oracle SQL through the repository's oracle net
        (tests/oracle_utils.py). A mismatch is recorded, not raised."""
        tests = os.path.join(ROOT, "tests")
        if tests not in sys.path:
            sys.path.append(tests)
        from oracle_utils import assert_matches_oracle

        for name in self.order(names):
            q = self.registry[name]
            self.checked += 1
            try:
                assert_matches_oracle(q.fn(self.b.spark, self.data), q.oracle, self.data)
            except AssertionError as e:
                self.errors.append(f"{name}: {e}")

    def warm_pass(self) -> None:
        """The first, cold pass checks every output once per run."""
        self.check(QUERIES)
        for _ in range(QUERY_WARM_PASSES):
            self.one_pass(QUERIES, traced=False)

    def one_pass(self, names: tuple[str, ...], traced: bool) -> list[tuple]:
        """Build each query and run it to a noop sink; with ``traced``, each
        call runs under a job group of its own."""
        b = self.b
        sc = b.spark.sparkContext
        calls = []
        for i, name in enumerate(self.order(names)):
            fn = self.registry[name].fn
            group = f"perfbench-{time.time_ns()}-{i}"
            if traced:
                sc.setJobGroup(group, name)
            t0 = time.time() * 1000.0
            df = fn(b.spark, self.data)
            t1 = time.time() * 1000.0
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time() * 1000.0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            calls.append((name, group, t0, t1, t2))
        log(f"pass {(calls[-1][4] - calls[0][2]) / 1000:.2f}s" + "".join(
            f" {n}={(t2 - t0) / 1000:.2f}" for n, _, t0, _, t2 in calls))
        return calls

    def attribute(self, calls: list[tuple]) -> dict[str, float]:
        """Per-module job metrics of a traced pass, and the stream and state
        layers of the streams its calls started."""
        b = self.b
        per_module: dict[str, dict[str, float]] = {}
        jobs, stages = b.store.jobs(), b.store.stages()
        batches, run_ids, stream_calls = [], set(), []
        for name, group, t0, t1, t2 in calls:
            runs = b.listener.wait_runs(t0, t2)
            s = summarize_jobs(jobs_in_groups(jobs, {group, *runs}), stages, t0, t2)
            if s["jobs"] == 0:
                raise RuntimeError(f"{name}: no jobs attributed to the call")
            s["build_ms"], s["execute_ms"] = t1 - t0, t2 - t1
            mod = self.registry[name].fn.__module__.removeprefix(PACKAGE)
            acc = per_module.setdefault(mod, {f: 0.0 for f in MODULE_FIELDS})
            for f in MODULE_FIELDS:
                acc[f] += s[f]
            if runs:
                run_ids.update(runs)
                stream_calls.append((t0, t2))
                batches += [p for r in runs for p in b.listener.batches(r)
                            if p["numInputRows"] > 0]
        out = {f"{m}.{f}": v for m, acc in per_module.items() for f, v in acc.items()}
        if batches:
            out.update(state_layers(batches))
            lo = min(t0 for t0, _ in stream_calls)
            hi = max(t2 for _, t2 in stream_calls)
            lay = stream_layers(batches, jobs_in_groups(jobs, run_ids), stages, lo, hi,
                                b.cores)
            for k in QUERY_STREAM_LAYERS:
                out[k] = lay[k]
        return out

    def measure(self, traced: bool) -> tuple[dict, dict]:
        b, secs = self.b, self.b.args.seconds
        # the traced run alternates, at least two passes of each kind
        need = 2 if traced else MIN_PASSES
        untraced_s, traced_s, samples = [], [], []
        with PeakRss(b.jvm_pid()) if traced else nullcontext() as rss:
            t_start = time.time()
            n = 0
            while (time.time() - t_start < secs or len(untraced_s) < need
                   or (traced and len(traced_s) < need)):
                do_trace = traced and n % 2 == 1
                t = time.time()
                calls = self.one_pass(QUERIES, do_trace)
                if do_trace:
                    lay = self.attribute(calls)
                    lay.update(b.resources())
                    samples.append(lay)
                    # a traced pass includes reading the status store
                    traced_s.append(time.time() - t)
                else:
                    untraced_s.append(time.time() - t)
                n += 1
        per_layer, extra_runs = {}, 0
        if traced:
            per_layer = mean_dicts(samples)
            per_layer["trace.overhead_pct"] = overhead_pct(untraced_s, traced_s)
            per_layer["session.peak_rss_mb"] = rss.peak / 2**20
            # one query for each module the timed set leaves out, after the
            # timed part: checked once (its cold run), then traced once
            self.check(EXTRA_QUERIES)
            for k, v in self.attribute(self.one_pass(EXTRA_QUERIES, True)).items():
                per_layer[k] = per_layer.get(k, 0.0) + v
            extra_runs = len(EXTRA_QUERIES)
        p50 = median(untraced_s)
        e2e = {"rows_per_s": self.rows_per_pass / p50, "op_p50_ms": p50 * 1000.0}
        attempted = self.checked + len(QUERIES) * n + extra_runs
        counts = {"attempted": attempted, "failed": len(self.errors),
                  "errors": self.errors}
        return e2e, {**counts, "per_layer": per_layer}

    @staticmethod
    def not_applicable() -> set[str]:
        return set(INGEST_LAYERS) - set(QUERY_STREAM_LAYERS)


# --- shared ----------------------------------------------------------------------


def mean_dicts(samples: list[dict]) -> dict[str, float]:
    keys = {k for s in samples for k in s}
    return {k: sum(s.get(k, 0.0) for s in samples) / len(samples) for k in keys}


def overhead_pct(untraced: list[float], traced: list[float]) -> float:
    base = median(untraced)
    return (median(traced) - base) / base * 100.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def metric(name: str, value: float) -> dict:
    return {"value": float(value), "unit": unit_of(name)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--driver-memory-mb", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    configure_paths(args.work)
    bench = Bench(args)
    workload = (Ingest if args.workload == "ingest" else Queries)(bench)
    bench.start(args.cores)
    t_session = time.time()
    builds = []
    for _ in range(SETUP_REPEATS):
        t = time.time()
        workload.build_inputs()
        builds.append(time.time() - t)
    t_warm = time.time()
    workload.warm_pass()
    t_measure = time.time()
    setup_s = (t_session - T_PROCESS_START) + median(builds) + (t_measure - t_warm)

    traced = bool(args.trace)
    e2e, info = workload.measure(traced)
    log(f"session {t_session - T_PROCESS_START:.1f}s, input build "
        f"{'/'.join(f'{b:.1f}' for b in builds)}s, warm pass {t_measure - t_warm:.1f}s, "
        f"measured {time.time() - t_measure:.1f}s")
    for err in info["errors"]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    if traced:
        layers = dict(info["per_layer"])
        if isinstance(workload, Ingest):
            layers["ingest.speedup_vs_1core"] = (
                e2e["rows_per_s"] / workload.single_core_rows_per_s())
        # a layer the workload runs must have produced samples; only the
        # layers it never runs read 0
        skip = workload.not_applicable()
        missing = sorted(set(per_layer_names()) - skip - set(layers))
        if missing:
            raise RuntimeError(f"no samples for layers {missing}")
        layers.update({name: 0.0 for name in skip})
        metrics = {k: metric(k, v) for k, v in sorted(layers.items())}
    else:
        e2e["setup_s"] = setup_s
        metrics = {k: metric(k, v) for k, v in e2e.items()}
    bench.stop()
    bench.exit_jvm()
    correct = not info["errors"]
    print(json.dumps({"correct": correct, "attempted": info["attempted"],
                      "failed": info["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
