"""Traced runs: spans kept in memory, per-layer numbers read from
Spark's own status stores.

Each traced query phase runs under its own job group,
``sgb|<pass>|<query>|<phase>`` with phase ``build`` (the registry
function, i.e. plan-build and any job it starts eagerly) or ``act``
(the action on its result).  Spark copies the group into every job,
stage and SQL execution it starts, so after a pass the stages
(``AppStatusStore.stageList``) and SQL executions
(``SQLAppStatusStore.executionsList``) of that pass are picked out by
their description.  Both stores are serialized to JSON inside the JVM
with Jackson's Scala module, one py4j call per store.

Spans nest workload -> pass -> query -> build/act -> stage and are
written to one JSON file when the run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import time

MIB = 1024.0 * 1024.0
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024, "TiB": MIB * MIB}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: SQL operator metric name -> (per-layer metric, kind); kind is how
#: the formatted store value is read back: ``ms`` (timing), ``mb``
#: (size) or ``n`` (count).
SQL_SUMS = {
    "scan time": ("sql.scan_ms", "ms"),
    "size of files read": ("sql.files_read_mb", "mb"),
    "time to run Python workers": ("sql.python_run_ms", "ms"),
    "time to start Python workers": ("sql.python_start_ms", "ms"),
    "time to initialize Python workers": ("sql.python_start_ms", "ms"),
    "data sent to Python workers": ("sql.python_io_mb", "mb"),
    "data returned from Python workers": ("sql.python_io_mb", "mb"),
    "time in aggregation build": ("sql.agg_build_ms", "ms"),
    "sort time": ("sql.sort_ms", "ms"),
    "time to broadcast": ("sql.broadcast_ms", "ms"),
    "shuffle write time": ("sql.shuffle_write_ms", "ms"),
}

#: Stages whose total executor run time is below this are left out of
#: the straggler counts: a 20 ms stage with one task is scheduling
#: overhead, not a parallelism problem.
STRAGGLER_MIN_RUN_MS = 100


def parse_metric(text: str, kind: str) -> float:
    """Read a value the SQL status store formatted for display
    (``"1,234"``, ``"901 ms"``, ``"1.6 s"``, ``"318.9 KiB"``).  When the
    store shows a per-task breakdown, the total is on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unreadable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "ms":
        return num * _TIME_MS[unit or "ms"]
    if kind == "mb":
        return num * _SIZE[unit or "B"] / MIB
    return num


def unit(metric: str) -> str:
    """Unit of a per-pass metric, from its name's suffix."""
    suffix = metric.rsplit("_", 1)[-1]
    return {"s": "s", "ms": "ms", "mb": "MiB", "util": "ratio", "max": "ratio"}.get(suffix, "count")


class StatusStores:
    """JSON views of the live status stores of one SparkSession."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        statuses = jvm.java.util.ArrayList()
        statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        self._statuses = statuses  # skipped stages are left out
        self._quantiles = self._gw.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self) -> list[dict]:
        return self._json(self._store.stageList(
            self._statuses, False, False,
            self._gw.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList(),
        ))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def task_skew(self, stage: dict) -> float | None:
        """Slowest task run time over the median one, from the store's
        task quantiles."""
        summary = self._store.taskSummary(stage["stageId"], stage["attemptId"], self._quantiles)
        if not summary.isDefined():
            return None
        med, top = self._json(summary.get())["executorRunTime"]
        return top / max(med, 1.0)

    def scan_row_metric_ids(self, execution_id: int) -> list[int]:
        """Accumulator ids of the output-row counters of scan nodes."""
        nodes = self._sql.planGraph(execution_id).allNodes()
        ids = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name().startswith("Scan"):
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "number of output rows":
                        ids.append(m.accumulatorId())
        return ids


class Tracer:
    """Spans of one run plus the per-pass layer numbers."""

    def __init__(self, spark, workload: str, cores: int):
        self.spark = spark
        self.stores = StatusStores(spark)
        self.cores = cores
        self.spans: list[dict] = []
        self.root = self.span("workload", workload, None, time.time(), None)
        self.passes: list[dict] = []

    def span(self, kind: str, name: str, parent: int | None, start: float,
             end: float | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "kind": kind, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    def group(self, pass_no: int, query: str, phase: str) -> None:
        desc = f"sgb|{pass_no}|{query}|{phase}"
        self.spark.sparkContext.setJobGroup(desc, desc)

    def clear_group(self) -> None:
        self.spark.sparkContext.setJobGroup("sgb|idle", "sgb|idle")

    def read_pass(self, pass_no: int, wall_s: float, query_spans: dict[str, dict]) -> dict:
        """Per-layer numbers of traced pass ``pass_no`` from the stores,
        and its stage spans under the query phase that started them."""
        prefix = f"sgb|{pass_no}|"
        pass_span = self.span("pass", f"pass {pass_no}", self.root,
                              min(q["build"][0] for q in query_spans.values()),
                              max(q["act"][1] for q in query_spans.values()))
        phase_span, query_span = {}, {}
        for query, t in query_spans.items():
            qs = query_span[query] = self.span("query", query, pass_span, t["build"][0],
                                               t["act"][1], sql={})
            for phase in ("build", "act"):
                phase_span[(query, phase)] = self.span(phase, query, qs, *t[phase])

        out = dict.fromkeys((
            "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
            "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.gc_s",
            "spark.single_task_stages", "operators.build_jobs", "exec.jobs",
            "sql.scan_rows", "sql.peak_mem_mb", *(v[0] for v in SQL_SUMS.values()),
        ), 0.0)
        out["spark.task_skew_max"] = 1.0

        for job in self.stores.jobs():
            group = job.get("jobGroup") or ""
            if group.startswith(prefix):
                key = "operators.build_jobs" if group.endswith("|build") else "exec.jobs"
                out[key] += 1

        for st in self.stores.stages():
            desc = st.get("description") or ""
            if not desc.startswith(prefix):
                continue
            _, _, query, phase = desc.split("|")
            run_ms = st["executorRunTime"]
            out["spark.stages"] += 1
            out["spark.tasks"] += st["numTasks"]
            out["spark.executor_run_s"] += run_ms / 1000.0
            out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["spark.shuffle_write_mb"] += st["shuffleWriteBytes"] / MIB
            out["spark.shuffle_read_mb"] += st["shuffleReadBytes"] / MIB
            out["spark.spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MIB
            out["spark.gc_s"] += st["jvmGcTime"] / 1000.0
            skew = None
            if run_ms >= STRAGGLER_MIN_RUN_MS:
                if st["numTasks"] == 1:
                    out["spark.single_task_stages"] += 1
                else:
                    skew = self.stores.task_skew(st)
                    if skew is not None:
                        out["spark.task_skew_max"] = max(out["spark.task_skew_max"], skew)
            self.span("stage", st["name"], phase_span.get((query, phase)),
                      st["submissionTime"] / 1000.0, st["completionTime"] / 1000.0,
                      stage_id=st["stageId"], tasks=st["numTasks"], run_ms=run_ms,
                      cpu_ms=st["executorCpuTime"] / 1e6, task_skew=skew)

        for ex in self.stores.executions():
            desc = ex.get("description") or ""
            if not desc.startswith(prefix):
                continue
            # the operator sums of each query also go on its span, so the
            # trace shows which queries ran Python workers, scanned, ...
            qs = query_span.get(desc.split("|")[2])  # None: the query failed
            query_sql = self.spans[qs]["sql"] if qs is not None else {}
            names = {str(m["accumulatorId"]): m["name"] for m in ex["metrics"]}
            values = ex.get("metricValues") or {}
            for aid, text in values.items():
                name = names.get(aid)
                if name in SQL_SUMS:
                    key, kind = SQL_SUMS[name]
                    v = parse_metric(text, kind)
                    out[key] += v
                    query_sql[key] = query_sql.get(key, 0.0) + v
                elif name == "peak memory":
                    out["sql.peak_mem_mb"] = max(out["sql.peak_mem_mb"], parse_metric(text, "mb"))
            for aid in self.stores.scan_row_metric_ids(ex["executionId"]):
                if str(aid) in values:
                    out["sql.scan_rows"] += parse_metric(values[str(aid)], "n")

        out["spark.core_util"] = out["spark.executor_run_s"] / (wall_s * self.cores)
        self.passes.append(out)
        return out

    def medians(self) -> dict[str, tuple[float, str]]:
        """Each per-pass number's median over the traced passes, with its unit."""
        keys = self.passes[0].keys() if self.passes else ()
        return {k: (statistics.median(p[k] for p in self.passes), unit(k)) for k in keys}

    def write(self, path: str, extra: dict) -> None:
        self.spans[self.root]["end"] = time.time()
        with open(path, "w") as f:
            json.dump({**extra, "passes": self.passes, "spans": self.spans}, f)
