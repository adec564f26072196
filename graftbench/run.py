"""Benchmark of the etl_pipeline_old_spark query engine, one workload per run.

    python3 graftbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

One driver process runs one SparkSession (``local[4]``, or
``local[$SPARK_GRAFT_CPUS]``) and one query at a time, closed loop.  After
set-up (imports, registry, session, one untimed first pass that stages
fixtures and compiles code, and a warm-up pass) the timed section runs whole
passes over the workload's queries, each pass in a seeded order: at least
three untraced ones, and more until ``--seconds`` have passed.
Every query is built through ``registry.QUERIES[name].fn`` and materialized
with a ``noop`` write.  Afterwards the last result of every query is checked
against its DuckDB oracle; ``failed`` counts query runs that raised plus
queries whose result differs, and ``attempted`` counts query runs (and, in a
traced run, the kernel round trips too).

The last line of stdout is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run whose
passes alternate between untraced and traced.  The tables are the package's
sf0.01 test data, kept in ``graftbench/data/``, so they are the same in every
run; ``--seed`` sets the query order and the kernel inputs.  Scratch, temp and
warehouse files go to ``.graftbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_old_spark"

# The package's sf0.01 test tables (lineitem 60k rows), read in place.
SF_DIR = os.path.join(HERE, "data", "sf0.01")
# Untraced timed passes per run at least.  After the warm-up pass, passes
# within a run agree to within 10%, while whole runs move together by more
# with the host's load, so a fourth pass would buy little and cost time that
# the runs of both workloads must fit in.  A traced run alternates untraced
# and traced passes and ends on an untraced one, so that each traced pass
# sits between two untraced ones and any warming trend cancels out of
# trace.overhead_s.
MIN_PASSES = 3

# On a 4-vCPU VM a run costs ~7 s of JVM and session start plus a cold first
# pass 3-4x a warm one, so each query set is the smallest that still drives
# its layers; BENCHMARK.json says why each workload exists.
WORKLOADS = {
    "etl": [
        "tpch_q1_pricing_summary",
        "sessionization",
        "k7_partitioned_write_prune",
        "stream_tumbling_window_counts",
    ],
    "dedup_media": [
        "er_golden_record",
        "multimodal_zstd_shards_ingest",
        "multimodal_orc_ingest",
    ],
}

def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def median(xs) -> float:
    """Median, or 0 when every sample failed (the run then reports failures)."""
    return statistics.median(xs) if xs else 0.0


class BenchError(Exception):
    """A condition under which the benchmark cannot produce a result."""


def cpu_count(env: str | None) -> int:
    """Cores for ``local[n]``: ``$SPARK_GRAFT_CPUS`` when set, else 4.

    A set but empty, non-integer, zero or negative value is an error, not a
    silent fallback."""
    if env is None:
        return 4
    try:
        n = int(env.strip())
    except ValueError:
        raise BenchError(f"SPARK_GRAFT_CPUS={env!r} is not an integer") from None
    if n <= 0:
        raise BenchError(f"SPARK_GRAFT_CPUS={env!r} must be positive")
    return n


def prepare_environment(work: str, cpus: int) -> None:
    """Point every scratch, temp and warehouse path into ``work`` and make
    the package importable by Spark's Python workers."""
    dirs = {k: os.path.join(work, k) for k in ("scratch", "tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SCRATCH_BASE=dirs["scratch"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        # every JVM, the launcher's too: no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
        f" -Dderby.system.home={work}",
        # JIT with C1 only.  In a process this short, C2's background
        # compiles took 40-60% of the tree's CPU in every timed pass on a
        # 4-vCPU VM, and how much varied from run to run by more than
        # anything the program did; C1 compiles cost about 1 CPU-s a pass.
        # C1 alone also shrinks the code cache from 240 to 48 MB, which the
        # generated query code fills about a minute in; from then on the
        # sweeper flushed and C1 recompiled 2-5 CPU-s of code a pass, so the
        # tiered default size is restored.  The heap starts at the 2 GB it
        # otherwise grows to from 256 MB in the first passes, with G1
        # concurrent cycles that cost 1-2.5 CPU-s a pass while it grows; the
        # maximum stays the package's.
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={dirs['warehouse']}"
        " --driver-java-options"
        " '-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -Xms2g'"
        " pyspark-shell",
    )
    sys.path.insert(0, ROOT)


class Runner:
    """Runs the workload's queries and keeps what the metrics need."""

    def __init__(self, spark, registry, sf_dir: str, names: list[str], tracer=None):
        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.names = names
        self.tracer = tracer
        self.last_df: dict = {}
        self.attempted = 0
        self.failed: list[str] = []

    def query(self, name: str, latencies: dict | None, traced: bool) -> None:
        store = self.tracer.store if traced else None
        self.attempted += 1
        try:
            j0 = store.jobs() if traced else 0
            t0 = time.perf_counter()
            df = self.registry.QUERIES[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            j1 = store.jobs() if traced else 0
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            self.failed.append(f"{name}: raised")
            return
        self.last_df[name] = df
        if latencies is not None:
            latencies.setdefault(name, []).append(t2 - t0)
        if traced:
            j2 = store.jobs()
            self.tracer.pass_totals.update(
                {
                    "queries.build_s": t1 - t0,
                    "queries.build_jobs": j1 - j0,
                    "exec.s": t2 - t1,
                    "exec.jobs": j2 - j1,
                }
            )
            self.tracer.pass_totals.update(store.stages(j1, j2))

    def one_pass(self, order: list[str], latencies, traced: bool = False) -> None:
        for name in order:
            self.query(name, latencies, traced)

    def check_oracles(self, oracle_utils) -> None:
        """Check each query's last result; a mismatch is a failure of that
        query, not an operation of its own."""
        con = oracle_utils.duckdb_conn(self.sf_dir)
        for name in self.names:
            if name not in self.last_df:
                continue  # already counted as failed when it raised
            try:
                ok, why = oracle_utils.compare(
                    self.last_df[name], con, self.registry.QUERIES[name].oracle
                )
            except Exception:
                traceback.print_exc()
                ok, why = False, "oracle check raised"
            if not ok:
                self.failed.append(f"{name}: {why}")


class Tracer:
    """Per-layer counters for traced passes (see spans.py)."""

    def __init__(self, spark, catalog, tree):
        import spans

        self.tree = tree
        self.store = spans.SparkStore(spark)
        self.load_table = spans.LoadTableSpan(catalog, self.store, PACKAGE)
        self.listener = spans.stream_listener(self.store)
        self.streams = spark.streams
        self.pass_totals: Counter = Counter()
        self.passes: list[Counter] = []

    def begin(self) -> None:
        self.store.sql_since(keep=False)  # skip what untraced passes ran
        self.load_table.take()
        self.load_table.active = True
        self.streams.addListener(self.listener)
        self.pass_totals = Counter()
        self._worker_cpu = self.tree.jvm_children_cpu_s()

    def end(self) -> None:
        self.load_table.active = False
        t = self.pass_totals
        t.update(self.store.sql_since())
        t.update(self.load_table.take())
        t.update(self.listener.take())
        self.streams.removeListener(self.listener)
        t["python.worker_cpu_s"] = self.tree.jvm_children_cpu_s() - self._worker_cpu
        self.passes.append(t)

    def medians(self) -> dict[str, float]:
        keys = set().union(*self.passes)
        return {k: statistics.median(p.get(k, 0) for p in self.passes) for k in keys}


class Jvm:
    """Memory and JIT counters of the driver JVM, from its management beans."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._mem = mf.getMemoryMXBean()
        self._jit = mf.getCompilationMXBean()

    def live_mb(self) -> tuple[float, float]:
        """Heap in use after a full collection, and non-heap in use: what
        the program holds, whatever size the collector grew the heap to."""
        self._mem.gc()
        heap = self._mem.getHeapMemoryUsage().getUsed()
        return heap / 1e6, self._mem.getNonHeapMemoryUsage().getUsed() / 1e6

    def jit_s(self) -> float:
        """Time the JIT compilers have spent so far."""
        return self._jit.getTotalCompilationTime() / 1e3


def stop_jvm(timeout_s: float = 60) -> None:
    """End the JVM PySpark launched, and wait until the Python workers it
    started have exited too."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    import proctree

    deadline = time.monotonic() + timeout_s
    while (left := proctree.descendants(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        os.kill(pid, signal.SIGKILL)


def run(args) -> tuple[dict, int, list[str]]:
    """Set up, measure and check one workload; returns the metrics, the
    number of operations attempted and the failures."""
    names = WORKLOADS[args.workload]
    for need in (os.path.join(PACKAGE, "registry.py"), os.path.join("tests", "oracle_utils.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise BenchError(f"{need} not found under {ROOT}: run from a full checkout")
    if not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")):
        raise BenchError(f"test tables not found in {SF_DIR}")
    cpus = cpu_count(os.environ.get("SPARK_GRAFT_CPUS"))
    prepare_environment(os.path.join(ROOT, ".graftbench"), cpus)
    import proctree

    tree = proctree.Tree()
    layer: dict[str, float] = {}
    from etl_pipeline_old_spark import catalog, registry, session

    t = time.perf_counter()
    registry._ensure_loaded()
    layer["registry.load_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark = session.get_spark("graftbench", cpus)
    layer["session.start_s"] = time.perf_counter() - t
    try:
        jvm = Jvm(spark)
        tracer = Tracer(spark, catalog, tree) if args.trace else None
        runner = Runner(spark, registry, SF_DIR, names, tracer)
        rng = random.Random(args.seed)

        def order() -> list[str]:
            return rng.sample(names, len(names))

        # the first pass always runs in the listed order: whichever query
        # comes first pays the JVM's cold start, so a seeded order would
        # move set-up time between runs
        t = time.perf_counter()
        first: dict[str, list[float]] = {}
        runner.one_pass(names, first)
        layer["staging.first_pass_s"] = time.perf_counter() - t
        print("# first pass: " + ", ".join(f"{n} {s[0]:.2f}" for n, s in first.items()))
        # the pass after the cold one still spends about 10% more CPU, on
        # JIT compiles, than later ones
        runner.one_pass(names, None)

        setup_s = time.monotonic() - T_START
        latencies: dict[str, list[float]] = {}
        walls: list[float] = []
        cpus_used: list[float] = []
        jit_used: list[float] = []
        traced_walls: list[float] = []
        steal0 = proctree.host_steal_s()
        t_timed = time.perf_counter()
        while True:
            traced = bool(args.trace) and (len(walls) + len(traced_walls)) % 2 == 1
            if traced:
                tracer.begin()
            c0, j0, t0 = tree.cpu_s(), jvm.jit_s(), time.perf_counter()
            runner.one_pass(order(), None if traced else latencies, traced)
            wall, cpu = time.perf_counter() - t0, tree.cpu_s() - c0
            jit_used.append(jvm.jit_s() - j0)
            if traced:
                tracer.end()
                traced_walls.append(wall)
            else:
                walls.append(wall)
                cpus_used.append(cpu)
            if len(walls) >= MIN_PASSES and not traced and (
                time.perf_counter() - t_timed >= args.seconds
            ):
                break
        timed_s = time.perf_counter() - t_timed
        steal_s = proctree.host_steal_s() - steal0
        queries_run = runner.attempted
        # taken once, after the timed section: a full collection between
        # passes would change what the passes after it cost
        held = (*jvm.live_mb(), tree.python_pss_mb())

        import tests.oracle_utils as oracle_utils

        t = time.perf_counter()
        runner.check_oracles(oracle_utils)
        print(f"# oracle check {time.perf_counter() - t:.1f} s")
        print(
            f"# {args.workload}: {len(walls) + len(traced_walls)} passes in "
            f"{timed_s:.1f} s (host steal {steal_s:.1f} CPU-s), "
            f"{sum(map(len, latencies.values()))} untraced query samples, "
            f"{queries_run} queries run, failed_frac="
            f"{len(runner.failed) / queries_run:.4f} (fraction), sf=0.01, "
            f"local[{cpus}]; held MB: JVM heap {held[0]:.0f}, non-heap "
            f"{held[1]:.0f}, Python {held[2]:.0f}; query medians "
            + ", ".join(f"{n} {median(v):.2f}" for n, v in sorted(latencies.items()))
            + "; pass walls "
            + " ".join(f"{w:.2f}" for w in walls) + "; pass CPU "
            + " ".join(f"{c:.2f}" for c in cpus_used) + "; pass JIT "
            + " ".join(f"{c:.2f}" for c in jit_used) + "; set-up: "
            + ", ".join(f"{k} {v:.2f}" for k, v in layer.items()),
            flush=True,
        )
        if args.trace:
            import kernels

            metrics = dict(layer)
            metrics.update(tracer.medians())
            kern, wrong = kernels.measure(args.seed)
            metrics.update(kern)
            runner.attempted += len(kern)
            runner.failed += [f"kernel {k}: round trip differs" for k in wrong]
            metrics["trace.overhead_s"] = median(traced_walls) - median(walls)
            units = metric_units("per_layer")
            print(f"# load_table wrapped in {tracer.load_table.modules} modules")
            if metrics.get("lost_jobs"):
                print(f"# {metrics['lost_jobs']} jobs per pass left the status store "
                      "before their stages were read; spark.* undercount them")
            for name in units:
                if name not in metrics:
                    print(f"# {name}: nothing ran that reports it; reported as 0")
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": median(walls),
                "query_p50_s": median([median(v) for v in latencies.values()]),
                "cpu_s": median(cpus_used),
                "held_mb": sum(held),
            }
            units = metric_units("end_to_end")
    finally:
        spark.stop()
        stop_jvm()
    out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return out, runner.attempted, runner.failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        metrics, attempted, failed = run(args)
    except BenchError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 2
    for f in failed:
        print(f"# FAILED {f}", file=sys.stderr)
    print(f"# run took {time.monotonic() - T_START:.1f} s")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": attempted,
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
