"""Per-layer counters read around the package's public calls.

Nothing inside the package is instrumented.  Spark work is attributed to a
span by the range of job IDs submitted while it was open (streaming
micro-batch threads and thread pools do not inherit a job group, but every
job takes the next ID), and stage statistics are read from the status store
right after each span, before its retention limits can drop them.
"""

from __future__ import annotations

import gzip
import json
import statistics
import sys
import time
from collections import Counter

MB = 1e6

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}

# SQL metric name -> (layer metric, scale to the reported unit)
_SQL_METRICS = {
    "data sent to Python workers": ("python.mb_to_worker", 1 / MB),
    "data returned from Python workers": ("python.mb_from_worker", 1 / MB),
    "number of written files": ("sink.files", 1),
    "written output": ("sink.mb_written", 1 / MB),
}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: ``'14'``, ``'1,370'``,
    ``'1370.0 B'`` or ``'total (min, med, max ...)\\n8.4 KiB (4.2 KiB, ...)'``."""
    line = text.split("\n", 1)[-1].split(" (", 1)[0].strip()
    num, _, unit = line.partition(" ")
    return float(num.replace(",", "")) * _SIZE.get(unit, 1)


class SparkStore:
    """Job counter, stage statistics and SQL metrics of one session."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext._jsc.statusTracker()
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._ser = spark._jvm.org.apache.spark.status.KVUtils.KVStoreScalaSerializer()
        self._last_exec = -1
        self.sql_since(keep=False)  # skip executions that ran before this object

    def jobs(self) -> int:
        """Jobs submitted so far; job IDs are assigned from this counter."""
        return self._sc.dagScheduler().numTotalJobs()

    def _load(self, obj) -> dict:
        return json.loads(gzip.decompress(bytes(self._ser.serialize(obj))))

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._sc.listenerBus().waitUntilEmpty()

    def stages(self, lo: int, hi: int) -> Counter:
        """Totals over the stages of jobs ``lo`` .. ``hi - 1``."""
        self.drain()
        out: Counter = Counter()
        seen: set[int] = set()
        store = self._sc.statusStore()
        for job in range(lo, hi):
            info = self._tracker.getJobInfo(job)
            if info is None:
                out["lost_jobs"] += 1
                continue
            for sid in info.stageIds():
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._load(store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st["numCompleteTasks"]
                out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["spark.shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                out["spark.shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                out["spark.spill_mb"] += (
                    st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                ) / MB
        return out

    def sql_since(self, keep: bool = True) -> Counter:
        """Python-worker and write metrics of the SQL executions not read
        before; ``keep=False`` only marks them read."""
        self.drain()
        out: Counter = Counter()
        count = self._sql.executionsCount()
        window = 64
        while True:  # widen until the window reaches an execution already read
            lst = self._sql.executionsList(max(0, count - window), window)
            n = lst.length()
            if n == 0 or count <= window or lst.apply(0).executionId() <= self._last_exec:
                break
            window *= 4
        for i in range(n):
            ex = lst.apply(i)
            if ex.executionId() <= self._last_exec:
                continue
            if keep:
                d = self._load(ex)
                values = d.get("metricValues") or {}
                for m in d["metrics"]:
                    key = _SQL_METRICS.get(m["name"])
                    text = values.get(str(m["accumulatorId"]))
                    if key and text:
                        out[key[0]] += parse_metric(text) * key[1]
            self._last_exec = max(self._last_exec, ex.executionId())
        return out


class LoadTableSpan:
    """Counts, times and job counts of ``catalog.load_table`` calls.

    Query modules bind ``load_table`` by name at import, so the wrapper
    replaces that name in every package module that holds the original.
    """

    def __init__(self, catalog, store: SparkStore, package: str):
        self.active = False
        self.totals: Counter = Counter()
        self.modules = 0
        orig = catalog.load_table

        def load_table(spark, sf_dir, name):
            if not self.active:
                return orig(spark, sf_dir, name)
            lo, t0 = store.jobs(), time.perf_counter()
            try:
                return orig(spark, sf_dir, name)
            finally:
                self.totals["catalog.load_table.s"] += time.perf_counter() - t0
                self.totals["catalog.load_table.calls"] += 1
                self.totals["catalog.load_table.jobs"] += store.jobs() - lo

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(package) and (
                getattr(mod, "load_table", None) is orig
            ):
                mod.load_table = load_table
                self.modules += 1

    def take(self) -> Counter:
        out, self.totals = self.totals, Counter()
        return out


def stream_listener(store: SparkStore):
    """A progress listener plus a ``take()`` giving the totals since the
    last call.  Per query run, the state figures come from its last batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batch_ms: list[float] = []
            self.commit_ms = 0.0
            self.last_state: dict[str, tuple[int, int]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ms = p.durationMs
            self.batch_ms.append(p.batchDuration)
            self.commit_ms += ms.get("walCommit", 0) + ms.get("commitOffsets", 0)
            ops = p.stateOperators
            self.last_state[str(p.runId)] = (
                sum(op.numRowsTotal for op in ops),
                sum(op.numStateStoreInstances for op in ops),
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> Counter:
            store.drain()
            out = Counter()
            out["stream.batches"] = len(self.batch_ms)
            out["stream.batch_ms_p50"] = (
                statistics.median(self.batch_ms) if self.batch_ms else 0.0
            )
            out["stream.commit_ms"] = self.commit_ms
            out["stream.state_rows"] = sum(r for r, _ in self.last_state.values())
            out["stream.state_store_instances"] = sum(
                n for _, n in self.last_state.values()
            )
            self.batch_ms, self.commit_ms, self.last_state = [], 0.0, {}
            return out

    return Progress()
