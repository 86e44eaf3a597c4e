"""Per-node figures from Spark's own SQL status store, read from outside.

After each action the benchmark reads every new SQL execution through
``spark._jsparkSession.sharedState().statusStore()``: ``planGraph(id)``
names the plan nodes and their metric accumulators, ``executionMetrics(id)``
holds the rendered values. Spark renders a per-task metric as

    total (min, med, max (stageId: taskId))
    1.2 s (34 ms, 175 ms, 304 ms (stage 2.0: task 15))

and a driver-side one as a single value (``23 ms``, ``2.2 MiB``, ``12,500``).
:func:`parse_metric` turns both into numbers (seconds, bytes or counts) and
:func:`pipeline_layers` maps one ``run_pipeline`` call's executions onto the
``parse.*``, ``route.*`` and ``aggregate.*`` layer names. The write stage's
per-task run times come from the application status store
(``sparkContext.statusStore().taskList``), because no SQL node of that
stage times the whole task: the codegen ``duration`` leaves out the
Parquet writing done by the consuming writer.
"""

from __future__ import annotations

import re
import statistics

_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "PiB": 2**50, "EiB": 2**60,
}
_VALUE = r"(-?[\d,]+(?:\.\d+)?)(?:\s*([A-Za-z]+))?"
_STAT = re.compile(
    rf"^{_VALUE} \({_VALUE}, {_VALUE}, {_VALUE} \(stage (\d+)\.(\d+): task (\d+)\)\)$"
)
_SINGLE = re.compile(rf"^{_VALUE}$")


def _number(num: str, unit: str | None) -> float:
    x = float(num.replace(",", ""))
    if unit is None:
        return x
    if unit in _TIME:
        return x * _TIME[unit]
    if unit in _SIZE:
        return x * _SIZE[unit]
    raise ValueError(f"unknown metric unit {unit!r}")


def parse_metric(text: str) -> dict:
    """Rendered SQL metric -> {"total", "min", "med", "max", "stage"}, with
    "stage" as (stage id, attempt id). A single value fills only "total"
    ("stage" is None)."""
    body = text.strip().rsplit("\n", 1)[-1].strip()
    m = _STAT.match(body)
    if m:
        g = m.groups()
        vals = [_number(g[i], g[i + 1]) for i in range(0, 8, 2)]
        return {
            "total": vals[0], "min": vals[1], "med": vals[2], "max": vals[3],
            "stage": (int(g[8]), int(g[9])),
        }
    m = _SINGLE.match(body)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return {
        "total": _number(*m.groups()), "min": None, "med": None, "max": None,
        "stage": None,
    }


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Reads the SQL executions a session has finished since the last read."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = spark.sparkContext._jsc.sc().statusStore()
        self.skip()

    def task_run_times(self, stage: tuple[int, int]) -> list[float]:
        """Executor run time in seconds of every task of (stage, attempt)."""
        return [
            t.taskMetrics().get().executorRunTime() / 1000
            for t in _iter(self._app_store.taskList(stage[0], stage[1], 100_000))
            if t.taskMetrics().isDefined()
        ]

    def skip(self) -> None:
        """Mark every execution so far as read."""
        ids = [e.executionId() for e in _iter(self._store.executionsList())]
        self._seen = max(ids, default=-1)

    def new_executions(self) -> list[list[tuple[str, dict]]]:
        """One entry per new execution: [(node name, {metric: parsed})]."""
        out = []
        for e in _iter(self._store.executionsList()):
            eid = e.executionId()
            if eid <= self._seen:
                continue
            values = self._store.executionMetrics(eid)
            nodes = []
            for node in _iter(self._store.planGraph(eid).allNodes()):
                metrics = {}
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nodes.append((node.name(), metrics))
            out.append(nodes)
            self._seen = max(self._seen, eid)
        return out


def _ratio(stat: dict) -> float:
    return stat["max"] / stat["med"] if stat["med"] else 1.0


def pipeline_layers(executions: list, stage_seconds: dict, task_run_times) -> dict:
    """Layer figures of one ``run_pipeline`` call.

    The routed write is the execution holding the InsertInto node; its
    MapInArrow node is the parse stage (JVM feed or direct source), its
    Exchange the route shuffle, and the stage of the write's task commits
    is the write stage, whose tasks ``task_run_times(stage)`` times. Every
    other execution of the call is the manifest/metrics scan."""
    out = {
        "route.parse_route_write_s": stage_seconds["parse_route_write"],
        "aggregate.manifest_s": stage_seconds["manifest_metrics"],
        "aggregate.build_s": 0.0,
    }
    for nodes in executions:
        names = [n for n, _ in nodes]
        if not any(n.startswith("Execute InsertInto") for n in names):
            for _, m in nodes:
                if "time in aggregation build" in m:
                    out["aggregate.build_s"] += m["time in aggregation build"]["total"]
            continue
        by_name = {}
        for name, m in nodes:
            by_name.setdefault(name, m)
        parse = by_name["MapInArrow"]
        run = parse["time to run Python workers"]
        init = parse["time to initialize Python workers"]
        out.update({
            "parse.python_run_s": run["total"],
            "parse.python_start_s": parse["time to start Python workers"]["total"],
            "parse.python_init_s": init["total"],
            "parse.python_init_max_s": init["max"] if init["max"] is not None else init["total"],
            "parse.bytes_to_python": parse["data sent to Python workers"]["total"],
            "parse.bytes_from_python": parse["data returned from Python workers"]["total"],
            "parse.task_max_over_med": _ratio(run),
        })
        ex = by_name["Exchange"]
        out.update({
            "route.shuffle_write_s": ex["shuffle write time"]["total"],
            "route.shuffle_bytes": ex["shuffle bytes written"]["total"],
            "route.fetch_wait_s": ex["fetch wait time"]["total"],
            "route.read_bytes_max_over_med": _ratio(ex["local bytes read"]),
        })
        ins = next(m for n, m in nodes if n.startswith("Execute InsertInto"))
        commit = ins["task commit time"]
        out.update({
            "route.files_written": ins["number of written files"]["total"],
            "route.task_commit_s": commit["total"],
            "route.job_commit_s": ins["job commit time"]["total"],
        })
        write = task_run_times(commit["stage"])
        out["route.write_task_s"] = sum(write)
        med = statistics.median(write) if write else 0.0
        out["route.write_task_max_over_med"] = max(write) / med if med else 1.0
    return out
