"""Self-tests of the benchmark's own machinery.

Run from the repository root (takes about half a minute):

    python3 perfbench/selftest.py

1. A known job, `spark.range(n).repartition(k)` then an aggregate, with
   adaptive execution off so the plan is fixed, must fold to one job of
   three stages with p + k + s tasks and non-zero shuffle bytes, and be
   attributed to the span around it.
2. A known `mapInPandas` must fold to one job of one stage with p
   tasks, and non-zero bytes sent to and returned from Python workers.
3. An item whose output is deliberately wrong must count as failed; a
   right one must not.

Exit status 0 when every check holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def double(batches):
    for pdf in batches:
        yield pdf.assign(id=pdf["id"] * 2)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import run
    from fold import Span, fold, read_events

    run_dir = os.path.join(root, ".perfbench_runs", f"selftest-{os.getpid()}")
    failures = []

    def expect(what: str, ok: bool, got) -> None:
        print(f"{'PASS' if ok else 'FAIL'} {what}: {got}")
        if not ok:
            failures.append(what)

    try:
        run.prepare_env(run_dir, 4, True, os.path.join(run_dir, "data"))
        from dot_spark import get_spark
        from pyspark.sql import functions as F

        spark = get_spark()
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        p, k, s = 4, 3, 5
        spans = []

        t0 = time.time()
        spark.range(0, 20_000, numPartitions=p).repartition(k).groupBy(
            (F.col("id") % 10).alias("key")
        ).count().collect()
        spans.append(Span("known", t0, time.time()))

        t0 = time.time()
        spark.range(0, 5_000, numPartitions=p).mapInPandas(double, "id long").collect()
        spans.append(Span("pandas", t0, time.time()))

        app_id = spark.sparkContext.applicationId
        run.stop_jvm(spark)
        events = read_events(os.path.join(run_dir, "events"), app_id)

        known, known_jobs = fold(events, [(spans[0].start, spans[0].end)], spans, 4)
        expect("known job: jobs", known["spark.jobs"] == 1, known["spark.jobs"])
        expect("known job: stages", known["spark.stages"] == 3, known["spark.stages"])
        expect("known job: tasks", known["spark.tasks"] == p + k + s, known["spark.tasks"])
        expect("known job: shuffle written", known["spark.shuffle_write_mb"] > 0, known["spark.shuffle_write_mb"])
        expect("known job: shuffle read", known["spark.shuffle_read_mb"] > 0, known["spark.shuffle_read_mb"])
        expect("known job: attributed to its span", known_jobs.get("known") == 1, known_jobs.get("known"))
        expect("known job: not attributed elsewhere", known_jobs.get("pandas") == 0, known_jobs.get("pandas"))

        pandas, pandas_jobs = fold(events, [(spans[1].start, spans[1].end)], spans, 4)
        expect("mapInPandas: jobs", pandas["spark.jobs"] == 1, pandas["spark.jobs"])
        expect("mapInPandas: stages", pandas["spark.stages"] == 1, pandas["spark.stages"])
        expect("mapInPandas: tasks", pandas["spark.tasks"] == p, pandas["spark.tasks"])
        expect("mapInPandas: bytes sent", pandas["python.sent_mb"] > 0, pandas["python.sent_mb"])
        expect("mapInPandas: bytes returned", pandas["python.returned_mb"] > 0, pandas["python.returned_mb"])
        slots_s = (spans[1].end - spans[1].start) * p
        expect("mapInPandas: Python run time within its slots", 0 < pandas["python.run_s"] <= slots_s, pandas["python.run_s"])
        expect("mapInPandas: attributed to its span", pandas_jobs.get("pandas") == 1, pandas_jobs.get("pandas"))

        # the correctness channel, on a session of its own
        from check import mismatch, oracle_connection

        import datagen

        sf_dir = os.path.join(run_dir, "data")
        datagen.generate(sf_dir, 1, 0.001)
        spark = get_spark()
        con = oracle_connection(sf_dir)
        queries = {
            "right": lambda spark, sf: spark.read.parquet(f"{sf}/region.parquet"),
            "wrong": lambda spark, sf: spark.read.parquet(f"{sf}/region.parquet").limit(4),
        }
        oracle = "SELECT * FROM region"
        runner = run.Runner(spark, queries, sf_dir)
        executions = [(name, *runner.item(name)) for name in ("right", "wrong", "missing")]
        mismatched = {
            name: problem
            for name, *_, df in executions
            if df is not None and (problem := mismatch(df, oracle, con))
        }
        expect("right item: no mismatch", "right" not in mismatched, mismatched.get("right"))
        expect("wrong item: mismatch", "wrong" in mismatched, mismatched.get("wrong"))
        expect("unregistered item: raised", "missing" in runner.errors, runner.errors.get("missing"))
        failed = run.count_failed(executions, mismatched)
        expect("wrong and unregistered items count as failed", failed == 2, failed)
        run.stop_jvm(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # a benchmark run still holds its directory
    print(f"{'FAILED' if failures else 'OK'}: {len(failures)} of the checks failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
