"""The repository benchmark: parse -> enrich -> route -> aggregate pipelines.

    python3 perfbench/run.py --workload pipeline_clean --seed 1 --seconds 15 --trace 0

Workloads (inputs built afresh from --seed by ``inputs.py`` in every run):

* ``pipeline_clean``: all-ASCII synthetic syslog, ~1.5% malformed; the fast
  path parses nearly every row and the route write is balanced.
* ``pipeline_hostile``: one (severity, source) sink holds >= 90% of rows
  and ~30% of rows take the per-row oracle fallback.

A run generates its input, sets up a local[nproc] session (build + one
untimed warm-up pass), runs WARMUP_PASSES - 1 more untimed passes, then
times ``run_pipeline`` passes for --seconds (at least MIN_PASSES); run_s
counts the passes during which the host stole little CPU time (see
QUIET_STEAL). Every pass, warm-up passes too, is checked: per-sink
manifest rows equal the oracle's counts, routed plus error rows equal the
input rows, and per-sink row-set checksums agree across passes.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics instead: Spark SQL status-store figures of every traced pass, a
Spark-free pass over the parse kernel, and spans written to
``.perfbench/spans``. Traced and untraced passes alternate, so
``trace.overhead_s`` is measured in one run.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The exit code is 0 only when every check passed. Everything the run writes
(JVM and Python temp files included) stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ROWS = 50_000
# Untimed passes, the set-up pass included. The JVMs run with C1 only
# (see JVM_OPTIONS), so a session has no long warm-up slope: the second
# pass takes ~1.1x as long as later ones, and from the third on passes
# differ by host noise only.
WARMUP_PASSES = 2
# At least this many timed passes (MIN_TRACED_PASSES when traced, half of
# them untraced), so that a slower machine does not get fewer.
MIN_PASSES = 4
MIN_TRACED_PASSES = 4
# run_s counts only the timed passes during which other guests of the host
# took less than this share of the machine's CPU time (from /proc/stat).
# Stolen time stretches a pass: over 10 seeds per workload on 4 CPUs,
# passes with 10-27% stolen took up to twice as long as quiet passes of
# the same run, and the quartile spread of run_s over runs was 0.25
# (clean) and 0.35 (hostile) with every pass counted, 0.13 and 0.15 with
# only the passes under 3%.
QUIET_STEAL = 0.03

# With tiered compilation up to C2, passes of a fresh session kept getting
# faster for 5-10 passes, by a different amount in each session (the C2
# compiler threads compete with the 4 task threads for 4 CPUs): one session
# still took 7.3, 6.9 and 6.1 s for its 4th-6th passes where another had
# settled at 4.3 s. With C1 only the same input settled from the 2nd pass
# on, at about C2's settled speed (5.0-5.5 s against 4.7-5.8 s, back to
# back), and the set-up pass took 14.7 s instead of 17.9 s. The pipeline
# is mostly Python workers and per-job overhead, which C2 barely speeds up.
JVM_OPTIONS = ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]

END_TO_END_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "run_s": "s", "peak_rss_mb": "MB",
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def driver_mem_mb() -> int:
    """An eighth of MemAvailable, between 512 MiB and 1 GiB: the inputs are
    ~10 MB, and a heap that fills up keeps the peak RSS steady."""
    with open("/proc/meminfo") as f:
        avail_kb = next(
            int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
        )
    return max(512, min(1024, avail_kb // 1024 // 8))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def machine(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(total_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


class Bench:
    """One process's Spark session, work dirs and check bookkeeping."""

    def __init__(self, cores: int, tmp: str):
        self.cores = cores
        self.tmp = tmp
        self.out = os.path.join(tmp, "out")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checksums = None
        self.shipped = False

    def ship_package(self, spark):
        """``session._ship_package`` with the package zip kept in the run's
        work dir instead of /tmp."""
        import zipfile

        self.shipped = True
        zpath = os.path.join(self.tmp, "syslog_spark_pkg.zip")
        if not os.path.exists(zpath):
            pkg = os.path.join(ROOT, "syslog_spark")
            with zipfile.ZipFile(zpath, "w") as z:
                for dp, _, fs in os.walk(pkg):
                    for f in fs:
                        if f.endswith(".py"):
                            full = os.path.join(dp, f)
                            z.write(full, os.path.relpath(full, ROOT))
        spark.sparkContext.addPyFile(zpath)

    def build(self):
        from syslog_spark import session

        # build_session zips the package into /tmp through this hook; the
        # benchmark may write only inside its checkout
        if not hasattr(session, "_ship_package"):
            raise RuntimeError("session._ship_package is gone: the package "
                               "zip can no longer be kept out of /tmp")
        session._ship_package = self.ship_package
        self.spark = session.build_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": f"{driver_mem_mb()}m",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.ui.showConsoleProgress": "false",
            },
        )
        if not self.shipped:
            raise RuntimeError("build_session no longer calls "
                               "session._ship_package: the package zip went "
                               "elsewhere")

    def stop(self):
        """Stop the session, then the JVM, and wait until it has exited
        (it would otherwise outlive this process by a moment)."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
        gateway.proc.wait(timeout=60)

    def run_pass(self, inp: dict):
        """One checked ``run_pipeline`` call -> (wall seconds, result), or
        None when it raised or its output failed a check."""
        from syslog_spark.operators.route import read_local_table
        from syslog_spark.plans.pipeline import run_pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        os.sync()  # the last pass's (and the input's) writeback is not timed
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            res = run_pipeline(self.spark, inp["tokens"], self.out)
            wall = time.perf_counter() - t0
            manifest = read_local_table(os.path.join(self.out, "manifest"))
            problems = self.check(inp, res, manifest)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            log(traceback.format_exc())
            problems = ["run_pipeline raised"]
        if problems:
            self.failed += 1
            log("CHECK FAILED:", "; ".join(problems[:5]))
            return None
        return wall, res

    def check(self, inp: dict, res: dict, manifest: list[dict]) -> list[str]:
        got = {(r["sink_severity"], r["source"]): r["rows"] for r in manifest}
        problems = [
            f"sink {k}: {got.get(k)} rows, oracle says {v}"
            for k, v in inp["expected"].items() if got.get(k) != v
        ]
        problems += [f"unexpected sink {k}" for k in got.keys() - inp["expected"].keys()]
        if res["routed_rows"] + res["error_rows"] != inp["rows"]:
            problems.append(
                f"routed {res['routed_rows']} + error {res['error_rows']} "
                f"!= input {inp['rows']}"
            )
        sums = {(r["sink_severity"], r["source"]): r["row_set_checksum"] for r in manifest}
        if self.checksums is None:
            self.checksums = sums
        elif sums != self.checksums:
            problems.append("row_set_checksum differs from the first pass")
        return problems


def setup(bench: Bench, inp: dict, tracer) -> tuple[float, float, list]:
    """Session build + one untimed warm-up pass -> (build_s, warmup_s),
    then the remaining warm-up passes, whose walls are the third item."""
    with tracer.span("session.setup"):
        t0 = time.perf_counter()
        with tracer.span("session.build"):
            bench.build()
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            bench.run_pass(inp)
        t2 = time.perf_counter()
    walls = []
    for i in range(1, WARMUP_PASSES):
        with tracer.span("warmup_pass", index=i):
            done = bench.run_pass(inp)
        walls.append(done and done[0])
    return t1 - t0, t2 - t1, walls


def timed_passes(bench: Bench, inp: dict, seconds: float, tracer, rss, store=None):
    """Passes until `seconds` have elapsed. With a status store, traced and
    untraced passes alternate; a traced pass also reads its executions.
    Returns per-pass lists: walls, RSS peaks and CPU steal shares of the
    untraced passes; walls, steal shares, store-read times and layer
    figures of the traced ones."""
    from sparkstats import pipeline_layers

    got = {"walls": [], "rss": [], "steal": [], "traced_walls": [],
           "traced_steal": [], "reads": [], "layers": []}
    start = time.perf_counter()
    i = 0
    least = MIN_TRACED_PASSES if store else MIN_PASSES
    while i < least or time.perf_counter() - start < seconds:
        # untraced, traced, traced, untraced, ...: both kinds see early
        # and late passes alike
        traced = store is not None and i % 4 in (1, 2)
        rss.take_peak()
        steal0, total0 = cpu_ticks()
        with tracer.span("pass", index=i, traced=traced):
            with tracer.span("run_pipeline"):
                done = bench.run_pass(inp)
            steal1, total1 = cpu_ticks()
            stolen = (steal1 - steal0) / max(1, total1 - total0)
            if traced and done is not None:
                t0 = time.perf_counter()
                with tracer.span("status_store.read"):
                    execs = store.new_executions()
                got["reads"].append(time.perf_counter() - t0)
                got["traced_walls"].append(done[0] + got["reads"][-1])
                got["traced_steal"].append(stolen)
                got["layers"].append(pipeline_layers(
                    execs, done[1]["stage_seconds"], store.task_run_times
                ))
            elif done is not None:
                got["walls"].append(done[0])
                got["rss"].append(rss.take_peak())
                got["steal"].append(stolen)
        if store is not None and not traced:
            store.skip()
        bench.spark._jvm.System.gc()
        i += 1
    return got


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401
        import syslog_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the program is not importable here: {e}")
        return 2
    import inputs
    import selftest

    if args.workload not in inputs.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {inputs.WORKLOADS}")
        return 2
    failures = selftest.run()
    if failures:
        log("perfbench: status-store reader self-test failed:", *failures, sep="\n  ")
        return 3

    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (Spark's launcher too) keeps its temp files and perf-data
    # file out of /tmp, and compiles with C1 only
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        *JVM_OPTIONS,
    ]))
    try:
        return measure(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _median(xs):
    return statistics.median(xs) if xs else None


def quiet_walls(walls: list, steal: list) -> list:
    """The walls of the passes with less than QUIET_STEAL of CPU time
    stolen; the least-stolen pass's when there is none."""
    if not walls:
        return []
    quiet = [w for w, s in zip(walls, steal) if s < QUIET_STEAL]
    return quiet or [min(zip(steal, walls))[1]]


def measure(args, tmp: str) -> int:
    import inputs
    from sparkstats import StatusStore
    from spans import RssSampler, Tracer

    tracer = Tracer(bool(args.trace))
    with tracer.span("inputs"):
        inp = inputs.make_input(
            os.path.join(tmp, "input"), args.workload, args.seed, ROWS
        )
    bench = Bench(len(os.sched_getaffinity(0)), tmp)
    try:
        with RssSampler() as rss:
            build_s, warmup_s, warmup_walls = setup(bench, inp, tracer)
            store = StatusStore(bench.spark) if args.trace else None
            got = timed_passes(bench, inp, args.seconds, tracer, rss, store)
            info = machine(bench.spark)
    finally:
        bench.stop()
    walls = got["walls"]
    run_s = _median(quiet_walls(walls, got["steal"]))
    detail = {
        "workload": args.workload, "seed": args.seed, "rows": inp["rows"],
        "machine": info, "build_s": build_s, "warmup_s": warmup_s,
        "warmup_run_s": warmup_walls, "run_s": walls,
        # share of CPU time the hypervisor gave to other guests during
        # each untraced timed pass: high values explain slow passes
        "cpu_steal": got["steal"],
        "rss_mb": [r / 2**20 for r in got["rss"]],
    }
    if not args.trace:
        metrics = {
            "setup_s": build_s + warmup_s,
            "rows_per_s": inp["rows"] / run_s if run_s else None,
            "run_s": run_s,
            "peak_rss_mb": _median(detail["rss_mb"]),
        }
        units = END_TO_END_UNITS
    else:
        import kernel

        layers = got["layers"]
        metrics = {k: _median([d[k] for d in layers]) for k in layers[0]} if layers else {}
        with tracer.span("kernel.pass"):
            metrics.update(kernel.kernel_pass(kernel.load_sample(inp["tokens"])))
        traced_s = _median(quiet_walls(got["traced_walls"], got["traced_steal"]))
        metrics.update({
            "session.build_s": build_s,
            "session.warmup_s": warmup_s,
            "gen.input_s": inp["gen_s"],
            "trace.overhead_s": traced_s - run_s if traced_s and run_s else None,
            "trace.status_store_s": _median(got["reads"]),
            "checks.error_rate": bench.failed / bench.attempted,
        })
        units = layer_units(metrics)
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        detail["spans"] = os.path.join(spans_dir, f"{tracer.run_id}.jsonl")
        tracer.write(detail["spans"])
    correct = bench.failed == 0 and all(v is not None for v in metrics.values())
    print(json.dumps(detail), flush=True)
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())
        },
    }), flush=True)
    return 0 if correct else 1


def layer_units(metrics: dict) -> dict:
    def unit(name: str) -> str:
        if "over_med" in name or name.endswith(("ratio", "rate")):
            return "ratio"
        if name.endswith("rows_per_s"):
            return "1/s"
        if "bytes" in name:
            return "B"
        if name.endswith("_s") or "_s." in name:
            return "s"
        return "count"

    return {k: unit(k) for k in metrics}


if __name__ == "__main__":
    sys.exit(main())
