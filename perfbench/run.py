"""Closed-loop benchmark of the weather-analytics engine.

    python3 perfbench/run.py --workload <weather_daily|analytics_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. One process and one client thread send
the next op only when the previous one has returned, to a session on
``local[nproc]`` with the heap pinned by ``SPARK_GRAFT_DRIVER_MEM``. The
inputs are the read-only tables under ``$SPARK_GRAFT_SF_DIR`` (default:
the ``sf0.1`` directory beside the program's ``SF_SMOKE`` tables) and
the program's own deterministic weather feed; the seed chooses only the
op order and the weather extraction timestamps. Outputs are checked
against the DuckDB oracles outside the timed window.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates traced and untraced ops and prints the
per-layer metrics, measured by ``layers.py``. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See ``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Callable  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from datetime import datetime, timedelta  # noqa: E402

import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "4g"
CPUS = len(os.sched_getaffinity(0))
# op_tail_s is the highest percentile with at least this many samples beyond it
TAIL_BEYOND = 10
# untimed runs of each distinct op before timing starts
WARMUP_PER_OP = 1
# extraction timestamps of the weather ops are drawn from this year
STAMP_BASE = datetime(2024, 1, 15, 6, 0, 0)

ANALYTICS_QUERIES = (
    "q15_market_basket",
    "q14_rolling_active_users",
    "w9_resample_gapfill",
    "w16_seasonal_anomaly",
    "agro2_dry_spells",
    "a21_drift_psi",
    "e2e_weather_pipeline",
    "x40_semantic_dedup_pairs",
    "e2e_dedup_survivors",
    "e2e_retrieval_eval",
    "x130_retrieval_quality_pruned",
)
STREAM_RUNNERS = ("st1_windowed_counts",)
WEATHER_GUARD = "e2e_weather_pipeline"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Everything the JVM and its Python workers inherit; must run
    before the session starts."""
    for sub in ("tmp", "jvm", "local", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    env = os.environ
    # Python workers import the package (the weather_api DataSource)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM (the spark-submit launcher too) keeps its temp files in
    # the run directory; no hsperfdata file in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'jvm')}"
    )
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


@dataclass
class Op:
    """One timed call and, when traced, what it cost each layer."""

    name: str
    latency_s: float
    ok: bool
    traced: bool
    jobs: list = field(default_factory=list)
    busy_s: float = 0.0
    gc_s: float = 0.0
    leaked_tmp: int = 0
    phases: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)


class Bench:
    """State of one benchmark process: the session, the oracles, the
    seeded generator and every op run so far."""

    def __init__(self, args: argparse.Namespace, run_dir: str, entry, sf_dir: str):
        from kenya_agricultural_regions_weather_etl_pipeline_spark.session import (
            get_spark,
        )

        self.entry = entry
        self.args = args
        self.run_dir = run_dir
        self.tmp_dir = os.environ["TMPDIR"]
        self.sf_dir = sf_dir
        self.rng = random.Random(args.seed)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=str(CPUS))
        self.boot_s = time.perf_counter() - t0
        self.oracles = self.open_oracles(self.sf_dir)
        self.ops: list[Op] = []
        self.probes: list[Op] = []
        self.failures: list[str] = []
        self.check_s = 0.0  # spent checking; not part of setup_s
        self.setup_check_s = 0.0
        self.first_op_at: float | None = None
        self.table_counts: dict[str, float] = {}
        self.summary: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": CPUS,
            "heap": HEAP,
            "sf_dir": self.sf_dir,
            "trace": args.trace,
        }
        if args.trace:
            self.ledger = layers.JobLedger(self.spark)
            self.listener = layers.StreamProgress()

    # -- running ops ------------------------------------------------------

    def run_op(
        self,
        name: str,
        body: Callable[[], object],
        traced: bool = False,
        probe: bool = False,
    ) -> tuple[Op, object]:
        """Run ``body`` once, timed, and return the op with the body's
        result. Timed ops go to ``self.ops``, probes to ``self.probes``."""
        marks: dict[str, float] = {}
        tracing = contextlib.ExitStack()
        if traced:
            tmp_before = set(os.listdir(self.tmp_dir))
            gc_before = layers.jvm_gc_s(self.spark)
            tracing.enter_context(layers.stream_listener(self.spark, self.listener))
            tracing.enter_context(layers.weather_write_spans(marks))
        if self.first_op_at is None and not probe:
            self.first_op_at = time.perf_counter()
            self.setup_check_s = self.check_s
        with tracing:
            t0_ms = layers.now_ms()
            start = time.perf_counter()
            try:
                out, error = body(), None
            except Exception:
                out, error = None, traceback.format_exc(limit=3)
            latency = time.perf_counter() - start
            t1_ms = layers.now_ms()
            batches = self.listener.drain() if traced else []
        op = Op(name=name, latency_s=latency, ok=True, traced=traced)
        if traced:
            op.jobs = self.ledger.jobs_between(t0_ms, t1_ms)
            op.busy_s = layers.busy_ms(op.jobs, t0_ms, t1_ms) / 1000.0
            op.gc_s = layers.jvm_gc_s(self.spark) - gc_before
            op.leaked_tmp = len(set(os.listdir(self.tmp_dir)) - tmp_before)
            op.batches = batches
            op.phases = weather_phases(op.jobs, t0_ms, t1_ms, marks)
        (self.probes if probe else self.ops).append(op)
        if error is not None:
            self.fail(op, error)
        return op, out

    def verify(self, op: Op, check: Callable[[object], str | None], out: object) -> None:
        """Check an op's result, outside its timed window."""
        if op.ok:
            error = self.timed_check(lambda: check(out))
            if error is not None:
                self.fail(op, error)

    def timed_check(self, check: Callable[[], str | None]) -> str | None:
        t = time.perf_counter()
        try:
            return check()
        finally:
            self.check_s += time.perf_counter() - t

    def fail(self, op: Op, error: str) -> None:
        op.ok = False
        self.failures.append(f"{op.name}: {error}")
        print(f"[perfbench] FAILED {op.name}: {error}", file=sys.stderr)

    def measure(self, next_round: Callable[[], list[tuple]], min_rounds: int) -> None:
        """Timed closed loop in whole rounds, until ``--seconds`` of op
        time and ``min_rounds`` rounds are reached. A traced run traces
        each distinct op in every other round, so that half of its runs
        are traced. A round is a list of ``(name, body, check)``;
        ``check`` may be ``None``."""
        min_rounds = max(min_rounds, 2) if self.args.trace else min_rounds
        rounds, timed_s = 0, 0.0
        slots: dict[str, int] = {}
        while (
            rounds < min_rounds
            or len(self.ops) <= TAIL_BEYOND
            or timed_s < self.args.seconds
        ):
            for name, body, check in next_round():
                slot = slots.setdefault(name, len(slots))
                traced = bool(self.args.trace) and (rounds + slot) % 2 == 1
                op, out = self.run_op(name, body, traced)
                timed_s += op.latency_s
                if check is not None:
                    self.verify(op, check, out)
            rounds += 1

    def probe(self, name: str, times: int = 3) -> None:
        """Traced runs of one query after the timed loop, for a layer the
        workload's own ops do not reach; reported as their median."""
        for _ in range(times):
            op, df = self.run_op(name, self.query_op(name, self.sf_dir), traced=True, probe=True)
            self.verify(op, self.query_check(name), df)

    def open_oracles(self, sf_dir: str):
        return oracle.Oracles(sf_dir, self.entry.oracle_sql())

    def query_op(self, name: str, sf_dir: str) -> Callable[[], object]:
        fn = self.entry.queries()[name]

        def body():
            df = fn(self.spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df

        return body

    def query_check(self, name: str) -> Callable[[object], str | None]:
        return lambda df: oracle.mismatch(df.toPandas(), self.oracles.expected(name))

    # -- results ----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        # every attempted op, failed ones too, keeps its latency; a
        # failure shows in "failed" and "correct", not as a gap here
        lat = sorted(op.latency_s for op in self.ops)
        n = len(lat)
        tail_idx = max(n - 1 - TAIL_BEYOND, 0)
        self.summary["samples"] = n
        self.summary["op_tail_percentile"] = round(100.0 * (tail_idx + 1) / n, 1)
        self.summary["op_tail_samples_beyond"] = n - 1 - tail_idx
        return {
            "setup_s": self.first_op_at - PROCESS_START - self.setup_check_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": lat[tail_idx],
            "ops_per_s": sum(op.ok for op in self.ops) / sum(lat),
            "retained_heap_mb": layers.jvm_heap_used_mb(self.spark),
        }

    def per_layer(self) -> dict[str, float]:
        traced = [op for op in self.ops if op.traced]
        untraced = [op for op in self.ops if not op.traced]

        def mean(values) -> float:
            values = list(values)
            return statistics.fmean(values) if values else 0.0

        def median(values) -> float:
            values = list(values)
            return statistics.median(values) if values else 0.0

        m = {
            "session.boot_s": self.boot_s,
            "spark.jobs_per_op": mean(len(op.jobs) for op in traced),
            "spark.stages_per_op": mean(sum(j.stages for j in op.jobs) for op in traced),
            "spark.tasks_per_op": mean(sum(j.tasks for j in op.jobs) for op in traced),
            "spark.job_s_per_op": mean(op.busy_s for op in traced),
            "driver_s_per_op": mean(op.latency_s - op.busy_s for op in traced),
            "jvm.gc_s_per_op": mean(op.gc_s for op in traced),
            "jvm.peak_rss_mb": layers.jvm_peak_rss_mb(self.spark),
            "python.peak_rss_mb": layers.python_peak_rss_mb(),
            "tmp.leaked_entries_per_op": mean(op.leaked_tmp for op in traced),
            "trace.overhead_s": median(op.latency_s for op in traced)
            - median(op.latency_s for op in untraced),
        }
        weather = [op for op in traced if op.phases]
        for phase in ("extract_transform", "load", "quality"):
            m[f"weather.{phase}_s"] = mean(op.phases[phase][0] for op in weather)
            m[f"weather.{phase}_jobs"] = mean(op.phases[phase][1] for op in weather)
        m["weather.table_rows"] = self.table_counts.get("rows", 0)
        m["weather.table_partitions"] = self.table_counts.get("partitions", 0)
        by_name = traced + self.probes
        streams = [op for op in by_name if op.name in STREAM_RUNNERS]
        batches = [b for op in streams for b in op.batches]
        m["stream.batches_per_op"] = mean(len(op.batches) for op in streams)
        m["stream.batch_s_p50"] = median(b.get("triggerExecution", 0.0) / 1000 for b in batches)
        m["stream.add_batch_s_p50"] = median(b.get("addBatch", 0.0) / 1000 for b in batches)
        m["stream.log_commit_s_p50"] = median(
            (b.get("walCommit", 0.0) + b.get("commitOffsets", 0.0)) / 1000 for b in batches
        )
        for runner in STREAM_RUNNERS:
            ops = [op for op in by_name if op.name == runner]
            m[f"stream.{runner}_s"] = median(op.latency_s for op in ops)
            m[f"stream.{runner}_jobs"] = mean(len(op.jobs) for op in ops)
        for query in ANALYTICS_QUERIES:
            ops = [op for op in by_name if op.name == query]
            m[f"query.{query}_s"] = median(op.latency_s for op in ops)
            m[f"query.{query}_driver_s"] = median(op.latency_s - op.busy_s for op in ops)
        return m

    def close(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it started) to exit."""
        from pyspark import SparkContext

        self.oracles.close()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def weather_phases(jobs, t0_ms: float, t1_ms: float, marks: dict) -> dict:
    """Split a traced ``run_batch`` at its call into the write: each
    phase gets ``(seconds, jobs submitted in it)``."""
    if "write_start" not in marks:
        return {}
    bounds = {
        "extract_transform": (t0_ms, marks["write_start"]),
        "load": (marks["write_start"], marks["write_end"]),
        "quality": (marks["write_end"], t1_ms + 1),
    }
    return {
        phase: ((hi - lo) / 1000.0, sum(1 for j in jobs if lo <= j.submit_ms < hi))
        for phase, (lo, hi) in bounds.items()
    }


# -- workloads ------------------------------------------------------------


def weather_daily(b: Bench) -> None:
    """The reference's daily job: a 365-day table, then one 3-day
    upsert per op, each merged, written and quality-checked."""
    from kenya_agricultural_regions_weather_etl_pipeline_spark.plans import (
        weather_pipeline as wp,
    )

    table = os.path.join(b.run_dir, "data", "weather")
    used: set[int] = set()
    latest = [STAMP_BASE]

    def next_stamp() -> datetime:
        while True:
            s = b.rng.randrange(1, 365 * 86400)
            if s not in used:
                used.add(s)
                stamp = STAMP_BASE + timedelta(seconds=s)
                latest[0] = max(latest[0], stamp)
                return stamp

    def upsert(days: int) -> Callable[[], dict]:
        stamp = next_stamp()
        return lambda: wp.run_batch(b.spark, table, days=days, extraction_ts=stamp)

    expected = b.oracles.expected(WEATHER_GUARD)
    touched = sorted(datetime.strptime(d, "%Y-%m-%d").date() for d in set(expected["date_str"]))

    def partitions() -> int:
        return sum(1 for e in os.listdir(table) if e.startswith("date="))

    table_glob = f"read_parquet('{table}/date=*/*.parquet', hive_partitioning = true)"
    touched_sql = ", ".join(f"DATE '{d}'" for d in touched)

    def check(verdict: dict) -> str | None:
        bad = sorted(k for k, v in verdict.items() if isinstance(v, bool) and not v)
        if bad:
            return f"verdict false: {bad}"
        if verdict["corrupt_quarantined"] != 1:
            return f"corrupt_quarantined={verdict['corrupt_quarantined']}"
        if partitions() != 365:
            return f"{partitions()} date partitions, expected 365"
        rows = b.oracles.sql(
            f"SELECT * EXCLUDE (date), strftime(date, '%Y-%m-%d') AS date_str "
            f"FROM {table_glob} WHERE date IN ({touched_sql})"
        )
        want = expected.copy()
        # last write wins: every touched row carries the newest stamp so far
        want["extraction_timestamp"] = latest[0]
        return oracle.mismatch(rows, want)

    def table_rows() -> int:
        return int(b.oracles.sql(f"SELECT count(*) AS n FROM {table_glob}")["n"][0])

    history = upsert(365)()
    if partitions() != 365 or history["corrupt_quarantined"] != 1:
        raise RuntimeError(f"365-day history fixture is wrong: {history}")
    rows_after_history = table_rows()
    for _ in range(WARMUP_PER_OP):
        upsert(3)()
    b.measure(lambda: [("run_batch", upsert(3), check)], min_rounds=TAIL_BEYOND + 1)
    rows = table_rows()
    if rows != rows_after_history:
        b.failures.append(f"table has {rows} rows, {rows_after_history} after the history")
    b.table_counts = {"rows": rows, "partitions": partitions()}
    if b.args.trace:
        # guard: the read-only extract+transform, which a change to
        # run_batch alone must not move
        b.probe(WEATHER_GUARD)


def analytics_mix(b: Bench) -> None:
    """Read-only queries at the benchmark scale factor, each forced
    through the noop sink, in seeded order, in whole rounds."""
    names = list(ANALYTICS_QUERIES)
    # Setup runs each query, and the runner the traced run probes, on the
    # sibling sf0.01 tables, collected:
    # that run pays the one-off costs (class loading, codegen, Python
    # workers) for a fraction of the sf0.1 cost, and its result is
    # hash-matched against the oracle over the same tables. A query whose
    # result is wrong fails each of its timed runs.
    warm_sf = os.path.join(os.path.dirname(os.path.normpath(b.sf_dir)), "sf0.01")
    warm_oracles = b.open_oracles(warm_sf)
    wrong: dict[str, str] = {}
    for name in names + list(STREAM_RUNNERS):
        for _ in range(WARMUP_PER_OP):
            result = b.entry.queries()[name](b.spark, warm_sf).toPandas()
        error = b.timed_check(lambda: oracle.mismatch(result, warm_oracles.expected(name)))
        if error is not None:
            wrong[name] = error
    warm_oracles.close()

    def next_round() -> list[tuple]:
        order = list(names)
        b.rng.shuffle(order)
        return [(n, b.query_op(n, b.sf_dir), None) for n in order]

    # two rounds: 22 samples put the median and the tail on the middle
    # query's two runs instead of on the gap beside it
    b.measure(next_round, min_rounds=2)
    for op in b.ops:
        if op.name in wrong:
            b.fail(op, wrong[op.name])
    if b.args.trace:
        # the stream layer: no analytics query reaches streaming.micro_batch
        for runner in STREAM_RUNNERS:
            b.probe(runner)


WORKLOADS: dict[str, Callable[[Bench], None]] = {
    "weather_daily": weather_daily,
    "analytics_mix": analytics_mix,
}


def metric_spec(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"[perfbench] no program to run: {ROOT}/__spark_entry__.py is missing", file=sys.stderr)
        return 2
    spec = metric_spec(bool(args.trace))
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(scratch, f"run-{os.getpid()}")
    prepare_environment(run_dir)
    bench = None
    try:
        import __spark_entry__ as entry

        # the sf0.1 tables beside the program's own smoke-test tables
        default_sf = os.path.join(os.path.dirname(entry.SF_SMOKE), "sf0.1")
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", default_sf)
        if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
            print(f"[perfbench] no input tables under {sf_dir}", file=sys.stderr)
            return 2
        bench = Bench(args, run_dir, entry, sf_dir)
        WORKLOADS[args.workload](bench)
        values = bench.per_layer() if args.trace else bench.end_to_end()
        missing = [m["name"] for m in spec if m["name"] not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        bench.summary["check_s"] = bench.check_s
        bench.summary["ops"] = [[op.name, round(op.latency_s, 3)] for op in bench.ops]
        if args.trace:
            # jobs, stages and tasks of each traced op: counts that repeat
            # exactly from run to run once warm
            bench.summary["traced_counts"] = [
                [op.name, len(op.jobs), sum(j.stages for j in op.jobs), sum(j.tasks for j in op.jobs)]
                for op in bench.ops + bench.probes
                if op.traced
            ]
        bench.summary["failures"] = bench.failures
        print(json.dumps(bench.summary))
        result = {
            "correct": not bench.failures,
            "attempted": len(bench.ops),
            "failed": sum(1 for op in bench.ops if not op.ok),
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in spec
            },
        }
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)  # only when no other run is using it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
