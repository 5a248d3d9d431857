"""Driver-contract invariants for __spark_entry__."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from dot_spark.queries import ORACLE, QUERIES


def test_oracle_keys_subset_of_queries():
    # every query has an oracle: a generated-literal builder that
    # returns None (gate table missing) fails here, not silently
    assert set(ORACLE) == set(QUERIES)


def test_events_ts_contract_canary(spark, sf_dir):
    """Testdata-contract canary (the r4 lesson: the harness regenerated
    events.parquet with a new physical ts format and every downstream
    timestamp silently landed in 1970). Post-registry, events.ts must
    be a session-UTC TIMESTAMP with values inside the fixture's era,
    for BOTH the batch and the streaming source boundary."""
    from dot_spark.sources.registry import load_table
    from dot_spark.streaming import stream_events

    ev = load_table(spark, "events", sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    lo, hi = ev.selectExpr("MIN(ts)", "MAX(ts)").first()
    assert 2000 <= lo.year <= 2100, f"batch min(ts)={lo}: 1970-collapse or garbage"
    assert 2000 <= hi.year <= 2100, f"batch max(ts)={hi}"
    assert dict(stream_events(spark, sf_dir).dtypes)["ts"] == "timestamp"


def test_events_ts_dispatch_rejects_unknown_physical_format():
    """A THIRD physical ts dtype (string, INT96 regeneration, ...)
    must fail loudly at the shared dispatch point, not pass through
    as 'already UTC' — the silent-wrong-data mode of r4/r5 (r6
    advisor finding)."""
    from dot_spark.sources.registry import events_ts_dispatch

    # the three known formats dispatch
    for known in ("bigint", "timestamp_ntz", "timestamp"):
        events_ts_dispatch(known)
    for unknown in ("string", "date", "int", None):
        with pytest.raises(RuntimeError, match="not a known"):
            events_ts_dispatch(unknown)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.fixture(scope="module")
def oracle_db(sf_dir):
    from tools.oracle_check import open_oracle_db

    con = open_oracle_db(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_at_sf0001(registry_dfs, oracle_db, name):
    """The oracle gate on one query: row count (cross-checked by an
    Observation on the collect), column set and canonical value hash
    against its DuckDB oracle over the same sf0.001 tables."""
    from tools.oracle_check import check_query

    _, problems = check_query(registry_dfs[name], oracle_db, ORACLE[name])
    assert not problems, "\n".join(problems)


def test_queries_survive_bare_driver_session(tmp_path):
    """The harness may run queries() on a SparkSession it built
    itself — none of get_spark's configs present. load_table's
    ensure_session_confs must make the risky surfaces (TIMESTAMP
    NANOS events, Python-source pushdown, Arrow UDFs) work anyway.
    Subprocess: one JVM per process."""
    import subprocess
    import sys as _sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
        "from dot_spark.queries import QUERIES\n"
        "names = ('a2_watermark_max', 's2_paged_rest_scan', 'f8_hmac_sha256',\n"
        "          'mm1_decode_media',\n"
        "          's13_jsonl_roundtrip', 'dd8_dedup_clusters',\n"
        "          'ss3_ivf_trained_topk', 'dd9_chunk_dedup',\n"
        "          'pl7_corpus_build_pipeline',\n"
        # round-7 continuation surfaces: native session windows +
        # events ts dispatch (st8), sequence explode on events (a14),
        # warehouse merge writes (pl8), iterative localCheckpoint
        # loops (t13, pl9), Arrow mapInPandas resize (mm4)
        "          'st8_session_window', 'a14_gapfill_locf',\n"
        "          'pl8_merge_upsert', 't13_bpe_merges',\n"
        "          'pl9_semdedup', 'mm4_image_resize',\n"
        # second continuation surfaces: iterative persist/checkpoint
        # loop (g1), events ts dispatch through a window (a21),
        # train-then-encode with the driver-side merge artifact (t17),
        # XML codegen round-trip (n11)
        "          'g1_pagerank', 'a21_cumulative_distinct',\n"
        "          't17_bpe_encode', 'n11_xml_roundtrip',\n"
        # session-4 surfaces: eager extent collect + bucketed rank
        # windows (p20), chunk-boundary array HOF chain (dd16)
        "          'p20_zorder_layout', 'dd16_cdc_chunks')\n"
        # write-heavy surfaces, run one at a time after the pool:
        # CSV checkpoint sink (s9), streaming dedup checkpoint (st3),
        # foreachBatch + TxTable commit loop + JSONL drops +
        # epoch-micros round-trip (pl14)
        "writers = ('s9_csv_checkpoint', 'st3_stream_corpus_dedup',\n"
        "           'pl14_streaming_mv')\n"
        # 4 concurrent query runs (guide section 2.6: independent
        # jobs overlap; each query writes only its own artifacts) —
        # the sequential loop was the suite's single slowest test
        "def _run(n):\n"
        "    assert len(QUERIES[n](spark, '/root/testdata/sf0.001').collect()) >= 0, n\n"
        "    return n\n"
        "with ThreadPoolExecutor(max_workers=4) as pool:\n"
        "    assert sorted(pool.map(_run, names)) == sorted(names)\n"
        "assert [_run(n) for n in writers] == list(writers)\n"
        "print('BARE_SESSION_OK')\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert "BARE_SESSION_OK" in out.stdout, out.stderr[-2000:]


def test_session_master_defaults_to_cpu_affinity(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, a bare process runs local[N] with
    N = the CPUs it may run on, never a constant sized for another
    box; shuffle partitions follow. getOrCreate is patched to hand
    back the builder's options, so no second JVM starts."""
    from pyspark.sql import SparkSession

    from dot_spark import get_spark

    for var in (
        "SPARK_GRAFT_CPUS",
        "DOT_SPARK_MASTER",
        "DOT_SPARK_SHUFFLE_PARTITIONS",
        "PYSPARK_GATEWAY_PORT",
        "PYSPARK_SUBMIT_ARGS",
    ):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    opts = get_spark("session_default_probe")
    n = len(os.sched_getaffinity(0))
    assert opts["spark.master"] == f"local[{n}]"
    assert opts["spark.sql.shuffle.partitions"] == str(n)


def test_bench_isolates_per_query_failures(spark, sf_dir, monkeypatch, capsys):
    """One broken query must cost its own {"err": ...} row, never the
    whole bench artifact; and a query's row is its builder plus its
    sink, so a builder's own time is never left out."""
    import json
    import time

    import bench

    def boom(spark, sf_dir):
        raise RuntimeError("synthetic bench failure")

    def slow_build(spark, sf_dir):
        time.sleep(0.3)
        return spark.range(1)

    monkeypatch.setattr(
        bench,
        "QUERIES",
        {**bench.QUERIES, "zz_broken": boom, "zz_slow_build": slow_build},
    )
    monkeypatch.setenv("DOT_SPARK_BENCH_ROUNDS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    bench.main(["s1_scan_projection", "zz_broken", "zz_slow_build"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_errors"] == 1
    assert "synthetic bench failure" in out["queries"]["zz_broken"]["err"]
    assert isinstance(out["queries"]["s1_scan_projection"], float)
    assert out["queries"]["zz_slow_build"] >= 0.3
    assert out["value"] > 0
    # a name the registry does not know exits non-zero and is named
    with pytest.raises(SystemExit) as exc:
        bench.main(["s1_scan_projection", "zz_unregistered"])
    assert exc.value.code != 0
    assert "zz_unregistered" in capsys.readouterr().err


def test_all_query_outputs_are_scalar_typed(registry_dfs):
    """The driver's canonicalizer lexsorts every output column in
    pandas; ndarray/list/dict cells raise `unhashable type` and fail
    the official gate (the r2 c1/mm2 defect). No queries() output —
    oracle-twinned OR rows-only — may carry ArrayType / MapType /
    StructType; serialize to scalars in the final projection."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = {}
    for name, df in registry_dfs.items():
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex-typed query outputs: {bad}"


def test_survey_generated_inventory_matches_registry():
    """SURVEY.md §2.12 (the generated registry inventory) must list
    exactly the registered query names — a query added or removed
    without rerunning tools/survey_inventory.py fails here. Line
    numbers in the table may go stale between regenerations; names
    may not."""
    import re

    with open(os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")) as f:
        text = f.read()
    begin = "<!-- BEGIN GENERATED REGISTRY INVENTORY"
    assert begin in text, "SURVEY.md §2.12 missing — run tools/survey_inventory.py"
    section = text.split(begin, 1)[1].split("<!-- END", 1)[0]
    names_in_doc = set(re.findall(r"^\| `([a-z0-9_]+)` \|", section, re.M))
    assert names_in_doc == set(QUERIES), (
        "SURVEY.md §2.12 is stale — run: python tools/survey_inventory.py "
        f"(doc-only: {sorted(names_in_doc - set(QUERIES))[:5]}, "
        f"registry-only: {sorted(set(QUERIES) - names_in_doc)[:5]})"
    )
