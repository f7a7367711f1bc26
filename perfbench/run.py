"""Benchmark of the covid_19_fl_spark engine, run from the repo root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One driver process, one client, closed loop: the next query (or day)
starts when the previous one completes. A run sets the engine up five
times (the first launches the JVM, the next four restart the session in
it and re-import the query registry), runs one cold pass, lets the JIT
settle with an unmeasured warm-up pass on ``query_mix``, then runs
steady-state passes until ``--seconds`` have elapsed, collecting garbage
before each timed pass. Every operation's output is checked. The last
stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``; with ``--trace 1``, per-layer metrics from traced
passes that alternate with untraced ones, so the same run also
measures the tracing overhead. See WORKLOADS.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import Tally, highest_supported_percentile  # noqa: E402
from spans import REC, SparkProbe, dir_stats, phase_counters, self_times  # noqa: E402

PKG = "covid_19_fl_spark"

# One registry workload, two kinds of query. Eight of the 42
# reference-surface and TPC-H queries: each runs in well under a second,
# so per-query fixed costs dominate.
SHORT_QUERIES = [
    "a1_global_max",
    "a2_daily_counts",
    "w1_cumulative_daily",
    "j1_broadcast_left_join",
    "j4_anti_join",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q18_large_volume_customers",
]
# An iterative operator that runs jobs while the frame is built
# (operators.graph PageRank), and two candidate-generation joins
# (similarity top-k, dedup LSH bands).
HEAVY_TAIL = [
    "x_pagerank",
    "ss_knn_graph",
    "dd_minhash_lsh_pairs",
]
WORKLOADS = ("query_mix", "etl_write")
SETUPS = 5

END_TO_END = ("setup_s", "cold_wall_s", "wall_s")


def configure_env(root: str, work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEM": "2g",
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )


class Engine:
    """The engine as a user sees it: a session plus the query registry."""

    def __init__(self) -> None:
        self.spark = None
        self.suite = None
        self.setups: list[tuple[float, float, float]] = []

    def setup(self) -> None:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
            for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[m]
        from covid_19_fl_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        from covid_19_fl_spark import suite

        t3 = time.perf_counter()
        self.suite = suite
        self.setups.append((t3 - t0, t2 - t1, t3 - t2))

    def settle(self) -> None:
        """Collect garbage on both sides before a timed pass, so a pass
        does not pay for the one before it."""
        gc.collect()
        self.spark._jvm.System.gc()

    def jvm_hwm_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def shutdown(self) -> None:
        """Stop every stream, the session and the JVM; wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            for q in self.spark.streams.active:
                q.stop()
        finally:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


class Registry:
    """A registry workload: one pass runs every query once; an operation
    is one query (build plus ``count()``). Each pass has its own order,
    a permutation seeded by ``(seed, pass)``, so order effects average
    out over a run's passes."""

    # The steady pass right after the cold one still runs 10-40 % slow
    # while the JVM compiles; one unmeasured pass lets it settle.
    warm_passes = 1
    # A fixed floor of steady passes, so a run's median does not hinge
    # on whether one more pass fitted into --seconds; with three, each
    # query's median shrugs off one disturbed pass.
    min_passes = 3

    def __init__(self, names: list[str], seed: int, sf_dir: str, expected: dict[str, int]) -> None:
        self.names = list(names)
        self.seed = seed
        self.sf_dir = sf_dir
        self.expected = expected

    def order(self, p: int) -> list[str]:
        names = list(self.names)
        random.Random(self.seed * 1_000_003 + p).shuffle(names)
        return names

    def run_pass(self, eng: Engine, p: int, probe, tally: Tally) -> dict[str, float]:
        """Latency of every operation that succeeded, by name."""
        lat = {}
        for q in self.order(p):
            with REC.span("query", query=q):
                t0 = time.perf_counter()
                try:
                    n = self._one(eng, p, q, probe)
                    ok = tally.record(n == self.expected[q], f"{q}: count {n}, expected {self.expected[q]}")
                except Exception as exc:  # noqa: BLE001 — a failure is counted, not fatal
                    tally.record(False, f"{q}: {type(exc).__name__}: {str(exc)[:200]}")
                    ok = False
                if ok:
                    lat[q] = time.perf_counter() - t0
        return lat

    def _one(self, eng: Engine, p: int, q: str, probe) -> int:
        if probe is None:
            return eng.suite.QUERIES[q](eng.spark, self.sf_dir).count()
        group = f"{p}:{q}"
        probe.begin(group + ":build")
        with REC.span("suite.build"):
            df = eng.suite.QUERIES[q](eng.spark, self.sf_dir)
        phase_counters(probe.end(group + ":build"), "build")
        probe.cache_sample()
        probe.begin(group + ":action")
        with REC.span("suite.action"):
            n = df.count()
        phase_counters(probe.end(group + ":action"), "action")
        probe.cache_sample()
        REC.add("spark.result_rows", n)
        return n


class Etl:
    """``etl_write``: one pass replays every day into a fresh store; an
    operation is one day."""

    # A day is long enough that the first steady pass is already warm.
    warm_passes = 0
    min_passes = 1

    def __init__(self, seed: int, work: str) -> None:
        import etl

        self.etl = etl
        self.inputs = etl.make_inputs(seed)
        self.work = os.path.join(work, "etl")
        self.replay = None

    def bind(self, eng: Engine, listener) -> None:
        self.replay = self.etl.Replay(eng.spark, self.inputs, self.work, listener)

    def run_pass(self, eng: Engine, p: int, probe, tally: Tally) -> dict[str, float]:
        self.replay.reset(p)
        lat = {}
        for d in range(1, self.replay.days + 1):
            with REC.span("day", day=d):
                t0 = time.perf_counter()
                if probe is not None:
                    probe.begin(f"{p}:day{d}")
                try:
                    ok, why = self.replay.run_day(d)
                except Exception as exc:  # noqa: BLE001
                    ok, why = False, f"day {d}: {type(exc).__name__}: {str(exc)[:200]}"
                if probe is not None:
                    phase_counters(probe.end(f"{p}:day{d}"), "day")
                    probe.cache_sample()
                if tally.record(ok, why):
                    lat[f"day{d}"] = time.perf_counter() - t0
                else:
                    # later days depend on this one: count them failed too
                    for later in range(d + 1, self.replay.days + 1):
                        tally.record(False, f"day {later}: skipped after day {d} failed")
                    break
        if probe is not None:
            REC.add("sinks.live_bytes", dir_stats(self.replay.store)[0])
        return lat


def op_medians(ops: dict[str, list[float]]) -> list[float]:
    return [statistics.median(v) for v in ops.values()]


def steady_wall(ops: dict[str, list[float]], walls: list[float]) -> float:
    """A steady-state pass: the sum of every operation's median latency
    over the steady passes, so one slow query in one pass does not move
    it. Falls back to the median pass when no operation succeeded."""
    return sum(op_medians(ops)) if ops else statistics.median(walls)


def op_p50(ops: dict[str, list[float]]) -> float:
    """Median per-operation latency: the median over operations of each
    one's median over the steady passes (0 when none succeeded; the run
    then already reads failed)."""
    return statistics.median(op_medians(ops)) if ops else 0.0


def load_workload(name: str, seed: int, work: str):
    if name == "etl_write":
        return Etl(seed, work)
    import corpus

    with open(os.path.join(HERE, "expected_counts.json")) as fh:
        expected = json.load(fh)
    return Registry(SHORT_QUERIES + HEAVY_TAIL, seed, corpus.ensure_corpus(work), expected["counts"])


def layer_of(span: str) -> str:
    if span in ("pass", "query", "day"):
        return "harness"
    for prefix in ("operators.graph", "llmops.dedup", "llmops.similarity", "sinks", "pipelines", "streaming"):
        if span.startswith(prefix + "."):
            return prefix
    return span


SELF_LAYERS = (
    "harness",
    "suite.build",
    "suite.action",
    "tables.load",
    "confs.ensure_session_defaults",
    "suite.drain_persisted_state",
    "operators.graph",
    "llmops.dedup",
    "llmops.similarity",
    "sinks",
    "pipelines",
    "sources.read_html_table",
    "streaming",
)


def per_layer(eng: Engine, traced: list[float], untraced: list[float], cores: int, rss_mb: float) -> dict:
    """Per-layer metrics, each per traced steady pass (spans are only
    recorded while a traced pass runs)."""
    n = len(traced)
    st = self_times(REC.spans)
    c = REC.counters
    m: dict[str, tuple[float, str]] = {}

    def calls(name):
        return st.get(name, [0, 0, 0])[2] / n

    def total(name):
        return st.get(name, [0, 0, 0])[1] / n

    def pre(prefix, i):
        return sum(v[i] for k, v in st.items() if k.startswith(prefix)) / n

    m["tables.load_calls"] = (calls("tables.load"), "count")
    m["tables.load_s"] = (total("tables.load"), "s")
    m["tables.load_ms_per_call"] = (1000 * total("tables.load") / calls("tables.load") if calls("tables.load") else 0.0, "ms")
    for name in ("confs.ensure_session_defaults", "suite.drain_persisted_state"):
        m[f"{name}_calls"] = (calls(name), "count")
        m[f"{name}_s"] = (total(name), "s")
    for phase in ("build", "action"):
        m[f"suite.{phase}_s"] = (total(f"suite.{phase}"), "s")
        m[f"suite.{phase}_jobs"] = (c[f"suite.{phase}_jobs"] / n, "count")
    wall = statistics.median(traced)
    m["spark.jobs"] = (c["spark.jobs"] / n, "count")
    m["spark.stages"] = (c["spark.stages"] / n, "count")
    m["spark.tasks"] = (c["spark.tasks"] / n, "count")
    m["spark.failed_tasks"] = (c["spark.failed_tasks"] / n, "count")
    m["spark.slot_util"] = (c["spark.run_s"] / (sum(traced) * cores), "ratio")
    m["spark.shuffle_write_bytes"] = (c["spark.shuffle_write_bytes"] / n, "bytes")
    m["spark.spill_bytes"] = (c["spark.spill_bytes"] / n, "bytes")
    m["spark.join_output_rows"] = (c["spark.join_output_rows"] / n, "rows")
    m["spark.result_rows"] = (c["spark.result_rows"] / n, "rows")
    m["spark.rows_useful_ratio"] = (
        c["spark.result_rows"] / c["spark.join_output_rows"] if c["spark.join_output_rows"] else 0.0,
        "ratio",
    )
    m["cache.persisted_rdds_peak"] = (c["cache.persisted_rdds_peak"], "count")
    m["cache.storage_bytes_peak"] = (c["cache.storage_bytes_peak"], "bytes")
    for verb in ("overwrite", "replace_where", "append_new", "merge_update", "compact"):
        m[f"sinks.{verb}_calls"] = (calls(f"sinks.{verb}"), "count")
        m[f"sinks.{verb}_s"] = (total(f"sinks.{verb}"), "s")
    m["sinks.bytes_written"] = (c["sinks.bytes_written"] / n, "bytes")
    m["sinks.files_written"] = (c["sinks.files_written"] / n, "count")
    m["sinks.write_amp"] = (c["sinks.bytes_written"] / c["sinks.live_bytes"] if c["sinks.live_bytes"] else 0.0, "ratio")
    m["sources.read_html_table_calls"] = (calls("sources.read_html_table"), "count")
    m["sources.read_html_table_s"] = (total("sources.read_html_table"), "s")
    for name in ("run_csv_ingest", "run_stats_pipeline", "run_county_stats_pipeline"):
        m[f"pipelines.{name}_s"] = (total(f"pipelines.{name}"), "s")
    for mod in ("operators.graph", "llmops.dedup", "llmops.similarity"):
        m[f"{mod}_calls"] = (pre(mod + ".", 2), "count")
    m["streaming.batches"] = (c["streaming.batches"] / n, "count")
    m["streaming.input_rows"] = (c["streaming.input_rows"] / n, "rows")
    for k in ("add_batch_s", "wal_commit_s", "state_commit_s"):
        m[f"streaming.{k}"] = (c[f"streaming.{k}"] / n, "s")
    m["streaming.state_rows"] = (c["streaming.state_rows"] / n, "rows")
    m["mem.peak_rss_mb"] = (rss_mb, "MB")
    m["session.get_spark_s"] = (statistics.median(s[1] for s in eng.setups), "s")
    m["suite.import_s"] = (statistics.median(s[2] for s in eng.setups), "s")
    by_layer: dict[str, float] = dict.fromkeys(SELF_LAYERS, 0.0)
    for name, (self_s, _tot, _n) in st.items():
        layer = layer_of(name)
        by_layer[layer] = by_layer.get(layer, 0.0) + self_s / n
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (by_layer[layer], "s")
    m["trace.wall_s"] = (wall, "s")
    m["trace.attributed_frac"] = (sum(by_layer.values()) / (sum(traced) / n), "ratio")
    base = statistics.median(untraced)
    m["trace.overhead_s"] = (wall - base, "s")
    m["trace.overhead_frac"] = ((wall - base) / base, "ratio")
    m["trace.spans_per_pass"] = (len(REC.spans) / n, "count")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "suite.py")):
        print(f"run from the repo root: no {PKG}/suite.py under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work")
    configure_env(root, work)

    workload = load_workload(args.workload, args.seed, work)
    eng = Engine()
    for _ in range(SETUPS):
        eng.setup()
    cores = eng.spark.sparkContext.defaultParallelism

    listener = None
    if args.trace:
        import spans

        spans.install(eng.spark)
        if args.workload == "etl_write":
            listener = spans.make_stream_listener()
            eng.spark.streams.addListener(listener)
    if isinstance(workload, Etl):
        workload.bind(eng, listener)

    tally = Tally()
    eng.settle()
    t0 = time.perf_counter()
    workload.run_pass(eng, 0, None, tally)
    cold = time.perf_counter() - t0
    for p in range(1, workload.warm_passes + 1):
        workload.run_pass(eng, p, None, tally)

    probe = SparkProbe(eng.spark) if args.trace else None
    walls, traced = [], []
    ops: dict[str, list[float]] = {}  # operation → its latencies in the untraced steady passes
    REC.run_id = f"{args.workload}-{args.seed}"
    start = time.perf_counter()
    p = workload.warm_passes + 1
    while True:
        # closed loop: past the workload's floor of untraced passes (and,
        # in a traced run, one traced pass), start a pass only if it
        # should end within --seconds, judged by the mean pass so far
        done = walls + traced
        enough = len(walls) >= workload.min_passes and (bool(traced) or not args.trace)
        if enough and time.perf_counter() - start + statistics.mean(done) > args.seconds:
            break
        on = bool(args.trace) and len(traced) < len(walls)
        REC.on = on
        eng.settle()
        with REC.span("pass", n=p):
            t0 = time.perf_counter()
            lat = workload.run_pass(eng, p, probe if on else None, tally)
            wall = time.perf_counter() - t0
        REC.on = False
        if on:
            traced.append(wall)
        else:
            walls.append(wall)
            for op, s in lat.items():
                ops.setdefault(op, []).append(s)
        p += 1

    n_ops = sum(len(v) for v in ops.values())
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    rss = py_mb + eng.jvm_hwm_mb()
    layer = per_layer(eng, traced, walls, cores, rss) if args.trace else None
    eng.shutdown()

    for why in tally.reasons[:20]:
        print(f"# FAILED {why}")
    print(
        f"# workload={args.workload} seed={args.seed} cores={cores} clients=1 loop=closed "
        f"passes={len(walls) + len(traced)} (traced {len(traced)}) warm_up={workload.warm_passes} "
        f"op_samples={n_ops} highest_supported_percentile={highest_supported_percentile(n_ops)} "
        f"op_p50_ms={1000 * op_p50(ops):.1f} failed_frac={tally.failed_frac:.4f} peak_rss_mb={rss:.0f}\n"
        f"# setup_s={[round(s[0], 3) for s in eng.setups]} cold_s={cold:.3f} "
        f"pass_s={[round(w, 3) for w in walls]} traced_pass_s={[round(w, 3) for w in traced]}\n"
        f"# op_median_s={ {op: round(statistics.median(v), 3) for op, v in sorted(ops.items())} }"
    )
    if layer is not None:
        REC.dump(os.path.join(work, "spans", f"{REC.run_id}.jsonl"))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        for k, v in metrics.items():
            print(f"#   {k:<44} {v['value']:>16.6g} {v['unit']}")
    else:
        values = {
            "setup_s": (statistics.median(s[0] for s in eng.setups), "s"),
            "cold_wall_s": (cold, "s"),
            "wall_s": (steady_wall(ops, walls), "s"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
