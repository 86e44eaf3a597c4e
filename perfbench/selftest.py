"""Self-test of the status-store reader on strings captured from a real run
(pyspark 4.1.2, local[4], one ``run_pipeline`` call over 12,500 rows; the
write-stage task run times are from a 50,000-row ``pipeline_hostile`` pass).

Run directly (``python3 perfbench/selftest.py``); ``run.py`` also runs it
before every measurement, so a Spark upgrade that changes the rendering
fails the benchmark instead of silently reporting zeros.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstats import parse_metric, pipeline_layers  # noqa: E402

_HDR = "total (min, med, max (stageId: taskId))\n"

# (rendered value, expected {"total", "min", "med", "max", "stage"})
CASES = [
    (_HDR + "1.2 s (34 ms, 175 ms, 304 ms (stage 2.0: task 15))",
     (1.2, 0.034, 0.175, 0.304, (2, 0))),
    (_HDR + "1556.2 KiB (70.7 KiB, 147.8 KiB, 171.0 KiB (stage 0.0: task 2))",
     (1556.2 * 1024, 70.7 * 1024, 147.8 * 1024, 171.0 * 1024, (0, 0))),
    (_HDR + "256.5 MiB (32.1 MiB, 32.1 MiB, 32.1 MiB (stage 2.0: task 12))",
     (256.5 * 2**20, 32.1 * 2**20, 32.1 * 2**20, 32.1 * 2**20, (2, 0))),
    (_HDR + "0.0 B (0.0 B, 0.0 B, 0.0 B (stage 2.0: task 12))",
     (0.0, 0.0, 0.0, 0.0, (2, 0))),
    (_HDR + "2.4 KiB (208.0 B, 208.0 B, 208.0 B (stage 0.0: task 3))",
     (2.4 * 1024, 208.0, 208.0, 208.0, (0, 0))),
    (_HDR + "1.5 m (2 ms, 1.3 s, 1.3 s (stage 10.1: task 1))",
     (90.0, 0.002, 1.3, 1.3, (10, 1))),
    ("23 ms", (0.023, None, None, None, None)),
    ("12,500", (12500.0, None, None, None, None)),
    ("2.2 MiB", (2.2 * 2**20, None, None, None, None)),
    ("0.0 B", (0.0, None, None, None, None)),
    ("186", (186.0, None, None, None, None)),
]


# the routed-write execution and one manifest scan of that run, as
# (node name, {metric: rendered value}); unrelated metrics trimmed
WRITE_EXEC = [
    ("AdaptiveSparkPlan", {}),
    ("Execute InsertIntoHadoopFsRelationCommand", {
        "task commit time": _HDR + "1.2 s (34 ms, 175 ms, 304 ms (stage 2.0: task 15))",
        "number of written files": "186",
        "job commit time": "23 ms",
        "written output": "2.2 MiB",
    }),
    ("WriteFiles", {}),
    ("Sort", {"sort time": _HDR + "66 ms (1 ms, 7 ms, 24 ms (stage 2.0: task 13))"}),
    ("WholeStageCodegen (3)", {
        "duration": _HDR + "15.2 s (984 ms, 2.6 s, 2.8 s (stage 2.0: task 12))",
    }),
    ("Exchange", {
        "shuffle write time": _HDR + "95 ms (1 ms, 6 ms, 30 ms (stage 0.0: task 1))",
        "shuffle bytes written": _HDR + "1556.2 KiB (70.7 KiB, 147.8 KiB, 171.0 KiB (stage 0.0: task 2))",
        "fetch wait time": _HDR + "0 ms (0 ms, 0 ms, 0 ms (stage 2.0: task 12))",
        "local bytes read": _HDR + "1556.2 KiB (177.4 KiB, 193.3 KiB, 234.6 KiB (stage 2.0: task 17))",
    }),
    ("WholeStageCodegen (2)", {
        "duration": _HDR + "7.5 s (305 ms, 396 ms, 1.2 s (stage 0.0: task 0))",
    }),
    ("MapInArrow", {
        "time to run Python workers": _HDR + "12.3 s (301 ms, 362 ms, 2.5 s (stage 0.0: task 3))",
        "data returned from Python workers": _HDR + "2.7 MiB (143.1 KiB, 250.4 KiB, 311.2 KiB (stage 0.0: task 0))",
        "time to start Python workers": _HDR + "5.3 s (2 ms, 1.3 s, 1.3 s (stage 0.0: task 1))",
        "time to initialize Python workers": _HDR + "5.9 s (265 ms, 561 ms, 740 ms (stage 0.0: task 3))",
        "data sent to Python workers": _HDR + "2.4 KiB (208.0 B, 208.0 B, 208.0 B (stage 0.0: task 3))",
    }),
    ("WholeStageCodegen (1)", {
        "duration": _HDR + "22.8 s (57 ms, 153 ms, 5.4 s (stage 0.0: task 2))",
    }),
]
SCAN_EXEC = [
    ("ObjectHashAggregate", {"time in aggregation build": "105 ms"}),
    ("ObjectHashAggregate", {
        "time in aggregation build": _HDR + "4.1 s (969 ms, 1.1 s, 1.1 s (stage 4.0: task 22))",
    }),
    ("Scan parquet ", {"scan time": _HDR + "2.8 s (678 ms, 683 ms, 743 ms (stage 4.0: task 22))"}),
]
# executor run times (ms) of the eight write tasks; the last two write
# the salted halves of the hot sink
WRITE_TASK_MS = [544, 550, 642, 755, 788, 907, 989, 1033]
EXPECTED_LAYERS = {
    "route.parse_route_write_s": 14.78,
    "aggregate.manifest_s": 3.69,
    "aggregate.build_s": 4.205,
    "parse.python_run_s": 12.3,
    "parse.python_start_s": 5.3,
    "parse.python_init_s": 5.9,
    "parse.python_init_max_s": 0.74,
    "parse.bytes_to_python": 2.4 * 1024,
    "parse.bytes_from_python": 2.7 * 2**20,
    "parse.task_max_over_med": 2.5 / 0.362,
    "route.shuffle_write_s": 0.095,
    "route.shuffle_bytes": 1556.2 * 1024,
    "route.fetch_wait_s": 0.0,
    "route.read_bytes_max_over_med": 234.6 / 193.3,
    "route.files_written": 186.0,
    "route.task_commit_s": 1.2,
    "route.job_commit_s": 0.023,
    "route.write_task_s": sum(WRITE_TASK_MS) / 1000,
    "route.write_task_max_over_med": 1033 / ((755 + 788) / 2),
}


def _close(a, b) -> bool:
    if a is None or b is None or isinstance(a, tuple):
        return a == b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def run() -> list[str]:
    """Returns the failures (empty when the reader is sound)."""
    bad = []
    for text, want in CASES:
        got = parse_metric(text)
        got_t = (got["total"], got["min"], got["med"], got["max"], got["stage"])
        if not all(_close(g, w) for g, w in zip(got_t, want)):
            bad.append(f"parse_metric({text!r}) = {got_t}, want {want}")
    for text in ("", "n/a", "1.2 parsecs"):
        try:
            parse_metric(text)
            bad.append(f"parse_metric({text!r}) did not raise")
        except ValueError:
            pass
    execs = [
        [(n, {k: parse_metric(v) for k, v in m.items()}) for n, m in ex]
        for ex in (WRITE_EXEC, SCAN_EXEC)
    ]
    asked = []

    def task_run_times(stage):
        asked.append(stage)
        return [ms / 1000 for ms in WRITE_TASK_MS]

    layers = pipeline_layers(
        execs, {"parse_route_write": 14.78, "manifest_metrics": 3.69},
        task_run_times,
    )
    if asked != [(2, 0)]:
        bad.append(f"write-stage task times asked for {asked}, want [(2, 0)]")
    if set(layers) != set(EXPECTED_LAYERS):
        bad.append(f"layer names {sorted(set(layers) ^ set(EXPECTED_LAYERS))}")
    for k, want in EXPECTED_LAYERS.items():
        if k in layers and not _close(layers[k], want):
            bad.append(f"{k} = {layers[k]}, want {want}")
    return bad


if __name__ == "__main__":
    failures = run()
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    sys.exit(1 if failures else 0)
