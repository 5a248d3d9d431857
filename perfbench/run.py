"""dot_spark benchmark: one workload in one fresh process.

Run from the repository root:

    python3 perfbench/run.py --workload elt_batch --seed 1 --seconds 5 --trace 0

The run generates its input tables from the seed (`datagen.py`) and
times its cold set-up, from process start to the first action of the
session `get_spark` builds. It then runs one cold pass over the
workload's items and `WARM_PASSES` warm passes, one item after another
(a closed loop with one client). The amount of work is fixed:
`--seconds` is accepted and not used.
An item is one registered query, `QUERIES[name](spark, sf_dir)`,
followed by a `noop` write; both halves are timed. The seed also sets
the item order of every pass. After the timed passes every item's
output is checked against its DuckDB oracle.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` Spark's event log is
on and the metrics are the per-layer split of the warm passes
(`fold.py`). The line before it is a record of the run: the pass wall
times, per-item times, the failed share, scratch bytes stored per pass,
failures and the box's load and CPU steal.

Everything the run writes lives in a private directory under
`.perfbench_runs/` that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
# the warm-pass figures are medians of exactly this many passes. Each
# warm pass is faster than the one before while the JIT warms, so the
# count must not vary with how fast the box is.
WARM_PASSES = 4
MB = 1e6


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_workload(name: str) -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if name not in workloads:
        raise SystemExit(f"unknown workload {name!r}; known: {sorted(workloads)}")
    return workloads[name]


def box_snapshot() -> dict:
    """Load average and cumulative CPU steal and total ticks, so a run
    slowed by co-tenants can be told apart from a slow program."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "steal": ticks[7] if len(ticks) > 7 else 0, "total": sum(ticks)}


def steal_pct(before: dict, after: dict) -> float:
    dt = after["total"] - before["total"]
    return 100.0 * (after["steal"] - before["steal"]) / dt if dt > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                pass  # removed while we walked
    return total


def proc_field(pid: int, name: str, field: str) -> int:
    """An integer field of /proc/<pid>/<name> ("wchar" of io, "VmHWM" of status)."""
    with open(f"/proc/{pid}/{name}") as f:
        for line in f:
            key, _, value = line.partition(":")
            if key == field:
                return int(value.split()[0])
    raise KeyError(f"{field} not in /proc/{pid}/{name}")


def process_age() -> float:
    """Seconds since this process started, interpreter start included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(excluded_s: float):
    """Import the registry, build the session and run a first action.

    Returns the session and the set-up's phases in seconds. `import_s`
    runs from process start to the registry imported, less
    `excluded_s`: time the caller spent on work that is not set-up."""
    from dot_spark import get_spark
    from dot_spark.queries import QUERIES  # noqa: F401  the 13k-line registry

    import_s = process_age() - excluded_s
    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    spark.range(1000).count()
    return spark, {
        "import_s": import_s,
        "get_spark_s": t1 - t0,
        "first_action_s": time.perf_counter() - t1,
    }


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def descendants(pid: int) -> set[int]:
    """Every live process below `pid` (the JVM's Python workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # exited while we looked
    found, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return found


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process, by process `pid` and by
    every process below it, reaped children included. Stolen time is
    not in it, so it moves less than wall time on a shared box."""
    ticks = 0
    for p in {pid, *descendants(pid)}:
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            pass  # exited while we looked; its time is in its parent's
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(spark) -> None:
    """Stop the session and its JVM, so the next get_spark starts cold,
    and wait until the JVM and the Python workers it started are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in children):
        time.sleep(0.05)


def prepare_env(run_dir: str, cpus: int, trace: bool, sf_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers must import dot_spark whatever their cwd
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.getcwd() + (os.pathsep + path if path else "")
    # ss3's oracle literals are built from the tables at import time
    os.environ["DOT_SPARK_GATE_SF_DIR"] = sf_dir
    # keep the JVM's own temp files inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        # get_spark has no conf hook: the event log goes in through the
        # launcher, and the master is pinned to get_spark's own default
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
        os.environ["DOT_SPARK_MASTER"] = f"local[{cpus}]"


class Runner:
    def __init__(self, spark, queries: dict, sf_dir: str, tracer=None):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.errors: dict[str, str] = {}

    def item(self, name: str):
        """Build and sink one item: (start, built, end, DataFrame or None)."""
        t0 = time.time()
        t1 = df = None
        try:
            fn = self.queries.get(name)
            if fn is None:
                raise KeyError(f"{name} is not a registered query")
            df = fn(self.spark, self.sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # one failing item must not end the run
            self.errors.setdefault(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc(file=sys.stderr)
            df = None
        t2 = time.time()
        if self.tracer is not None:
            from fold import Span

            self.tracer.spans.append(Span("queries", t0, t1 or t2))
            if t1 is not None:
                self.tracer.spans.append(Span("sink", t1, t2))
        return t0, t1, t2, df

    def run_pass(self, order: list[str]) -> dict:
        pid = jvm_pid()
        scratch = os.environ["TMPDIR"]
        wchar0, stored0 = proc_field(pid, "io", "wchar"), dir_bytes(scratch)
        cpu0 = tree_cpu_s(pid)
        start = time.time()
        items = [(name, *self.item(name)) for name in order]
        return {
            "wall": time.time() - start,
            "cpu": tree_cpu_s(pid) - cpu0,
            "items": items,
            "written": proc_field(pid, "io", "wchar") - wchar0,
            "stored": dir_bytes(scratch) - stored0,
        }


def count_failed(executions: list[tuple], mismatched: dict[str, str]) -> int:
    """Executions that raised, plus every execution of an item whose
    output did not match its oracle."""
    return sum(1 for name, *_, df in executions if df is None or name in mismatched)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dot_spark", "queries.py")):
        print("perfbench: run from the repository root (dot_spark/ not found)", file=sys.stderr)
        return 2
    spec = load_workload(args.workload)
    sys.path.insert(0, root)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".perfbench_runs", f"{os.getpid()}-{time.time_ns()}")
    sf_dir = os.path.join(run_dir, "data")
    try:
        prepare_env(run_dir, cpus, bool(args.trace), sf_dir)
        os.chdir(run_dir)  # spark-warehouse/ and derby logs land here
        return bench(args, spec, cpus, run_dir, sf_dir)
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still holds its directory


def bench(args, spec: dict, cpus: int, run_dir: str, sf_dir: str) -> int:
    import datagen

    box0 = box_snapshot()
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    datagen.generate(sf_dir, args.seed, spec["sf"])
    phase("data")

    tracer = None
    if args.trace:
        from fold import Tracer

        tracer = Tracer()
        tracer.install()  # before dot_spark.queries binds the layer names
    spark, setup = start_session(excluded_s=phases["data"])
    phase("setup")
    from check import mismatch, oracle_connection
    from dot_spark.queries import ORACLE, QUERIES

    runner = Runner(spark, QUERIES, sf_dir, tracer)
    names = spec["items"]
    rng = random.Random(args.seed)
    # the cold pass keeps the listed order, as a scheduled job would;
    # the seed shuffles the order of every warm pass
    cold = runner.run_pass(names)
    warm = [runner.run_pass(rng.sample(names, len(names))) for _ in range(WARM_PASSES)]
    phase("passes")

    # correctness, outside the timed passes: the last warm pass's
    # DataFrames are collected again and compared with the oracle
    con = oracle_connection(sf_dir)
    mismatched: dict[str, str] = {}
    check_s: dict[str, float] = {}
    for name, _, _, _, df in warm[-1]["items"]:
        if df is None:
            continue
        t0 = time.perf_counter()
        try:
            problem = mismatch(df, ORACLE.get(name), con)
        except Exception as exc:
            problem = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
        check_s[name] = round(time.perf_counter() - t0, 3)
        if problem:
            mismatched[name] = problem
    phase("check")

    executions = [it for p in [cold, *warm] for it in p["items"]]
    failed = count_failed(executions, mismatched)
    pass_s = statistics.median(p["wall"] for p in warm)
    warm_item_s = [t2 - t0 for p in warm for _, t0, _, t2, _ in p["items"]]

    if args.trace:
        metrics = layer_metrics(spark, tracer, setup, warm, pass_s, cpus, run_dir)
    else:
        stop_jvm(spark)
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            # CPU, not wall: co-tenant CPU steal moves a run's wall times
            # together by up to a third. All passes, not the warm ones:
            # the JIT's work shifts between passes from run to run, but
            # its sum does not.
            "passes_cpu_s": (cold["cpu"] + sum(p["cpu"] for p in warm), "s"),
            "written_mb_per_pass": (statistics.median(p["written"] for p in warm) / MB, "MB"),
        }
    phase("stop")
    box1 = box_snapshot()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "warm_passes": len(warm),
        "setup_s": {k: round(v, 3) for k, v in setup.items()},
        # Not gated; see passes_cpu_s
        "first_pass_s": cold["wall"],
        "pass_s": pass_s,
        "first_pass_cpu_s": cold["cpu"],
        "pass_cpu_s": statistics.median(p["cpu"] for p in warm),
        "warm_pass_s": [round(p["wall"], 3) for p in warm],
        "warm_pass_cpu_s": [round(p["cpu"], 3) for p in warm],
        # Not gated: with a handful of distinct items the median falls
        # on whichever item sits in the middle. A p90 would need ten
        # warm samples beyond it, which no workload has.
        "item_s_p50": statistics.median(warm_item_s),
        "warm_item_samples": len(warm_item_s),
        "failed_share": failed / len(executions),
        "stored_mb_per_pass": statistics.median(p["stored"] for p in warm) / MB,
        "item_s": {
            name: [round(t2 - t0, 3) for n, t0, _, t2, _ in executions if n == name]
            for name in names
        },
        "phases_s": phases,
        "check_s": check_s,
        "errors": runner.errors,
        "mismatched": mismatched,
        "box": {"loadavg": [box0["loadavg"], box1["loadavg"]], "steal_pct": steal_pct(box0, box1)},
    }
    print(json.dumps({"run": record}))
    print(
        json.dumps(
            {
                "correct": not runner.errors and not mismatched,
                "attempted": len(executions),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


TRACED_MODULES = ("graph", "textdedup")


def layer_metrics(spark, tracer, setup, warm, pass_s, cpus, run_dir) -> dict:
    """Per-layer split of the warm passes, each a per-pass mean."""
    from fold import fold, read_events

    app_id = spark.sparkContext.applicationId
    rss_mb = proc_field(jvm_pid(), "status", "VmHWM") * 1024 / MB
    stop_jvm(spark)  # completes the event log
    events = read_events(os.path.join(run_dir, "events"), app_id)
    windows = [(t0, t2) for p in warm for _, t0, _, t2, _ in p["items"]]
    lo, hi = windows[0][0], windows[-1][1]
    spans = [s for s in tracer.spans if lo <= s.start <= hi]
    folded, layer_jobs = fold(events, windows, spans, cpus)
    n = len(warm)

    def span_s(layer):
        return sum(s.end - s.start for s in spans if s.layer == layer) / n

    def calls(layer):
        return sum(s.layer == layer for s in spans) / n

    def jobs(layer):
        return layer_jobs.get(layer, 0) / n

    m: dict[str, tuple[float, str]] = {
        "session.import_s": (setup["import_s"], "s"),
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.first_action_s": (setup["first_action_s"], "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        "queries.build_s": (span_s("queries"), "s"),
        "queries.build_jobs": (jobs("queries"), "count"),
        "sink.s": (span_s("sink"), "s"),
        "sink.jobs": (jobs("sink"), "count"),
    }
    for mod in TRACED_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.s"] = (span_s(layer), "s")
        m[f"{layer}.calls"] = (calls(layer), "count")
        m[f"{layer}.jobs"] = (jobs(layer), "count")
    for layer in ("operators.woo_flatten", "operators.flatten"):
        m[f"{layer}.calls"] = (calls(layer), "count")
    for layer in ("loads", "txlog", "pipelines", "sources"):
        m[f"{layer}.s"] = (span_s(layer), "s")
        m[f"{layer}.calls"] = (calls(layer), "count")
    m["txlog.commits"] = (sum(lo <= t <= hi for t in tracer.commits) / n, "count")
    units = {"_s": "s", "_mb": "MB", "share": "ratio", "util": "ratio"}
    for key, value in folded.items():
        unit = next((u for suffix, u in units.items() if key.endswith(suffix)), "count")
        per_pass = value if key in ("spark.slot_util", "streaming.empty_batch_share") else value / n
        m[key] = (per_pass, unit)
    m["scratch.stored_mb_per_pass"] = (statistics.median(p["stored"] for p in warm) / MB, "MB")
    m["trace.pass_s"] = (pass_s, "s")
    return m


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main(sys.argv[1:]))
