"""Integration tests: write protocols (S7/S8/D1/D2) and the
recomposed reference pipelines (SURVEY §3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dot_spark.loads import Warehouse
from dot_spark.operators.dedup import dedupe_keep_latest
from dot_spark.pipelines import okta_full_refresh, route_events_batch, woo_incremental
from dot_spark.sources.registry import load_table


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def test_dispositions(wh, spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    wh.write(df, "t", "truncate")
    assert wh.read("t").count() == 5
    wh.write(df, "t", "append")
    assert wh.read("t").count() == 10
    wh.write(df, "t", "truncate")
    assert wh.read("t").count() == 5
    with pytest.raises(ValueError):
        wh.write(df, "t", "empty")


def test_load_batches_truncates_then_appends(wh, spark):
    wh.write(spark.range(99).withColumnRenamed("id", "k"), "t", "truncate")
    batches = [spark.range(3).withColumnRenamed("id", "k") for _ in range(4)]
    n = wh.load_batches(batches, "t")
    assert n == 4
    # prior contents replaced by the first batch, then 3 appends
    assert wh.read("t").count() == 12


def test_promote_swaps_atomically(wh, spark):
    wh.write(spark.range(3).withColumnRenamed("id", "k"), "target", "truncate")
    wh.write(spark.range(7).withColumnRenamed("id", "k"), "staging", "truncate")
    wh.promote("staging", "target")
    assert wh.read("target").count() == 7
    assert not wh.exists("staging")


def test_promote_missing_staging_raises(wh):
    with pytest.raises(FileNotFoundError):
        wh.promote("nope", "target")


def test_rewrite_in_place_dedups(wh, spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "k BIGINT, v BIGINT, s STRING"
    )
    wh.write(df, "t", "truncate")
    wh.rewrite("t", lambda d: dedupe_keep_latest(d, ["k"], ["v"]))
    rows = {r.k: r.s for r in wh.read("t").collect()}
    assert rows == {1: "b", 2: "c"}


def test_okta_full_refresh_end_to_end(wh, spark, sf_dir):
    """§3.1: align -> load -> dedup -> promote over the events fixture
    with injected duplicates; target holds one row per key, newest
    wins, and staging is gone."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    dup = ev.limit(50)  # duplicate deliveries
    src = ev.unionByName(dup)
    promoted = okta_full_refresh(
        wh,
        sources={"events_synced": src},
        schemas={
            "events_synced": {
                "event_id": "bigint",
                "ts": "timestamp",
                "user_id": "bigint",
                "event_type": "string",
                "value": "double",
            }
        },
        dedup_config={"events_synced": (["event_id"], ["ts"])},
    )
    assert promoted == ["events_synced"]
    got = wh.read("events_synced")
    assert got.count() == ev.count()  # dups collapsed
    assert not wh.exists("temp_events_synced")
    assert got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_woo_incremental_only_ingests_new_rows(wh, spark, sf_dir):
    """§3.2: first run full, second run zero (nothing newer), third
    run picks up exactly the rows past the stored watermark."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "user_id")
    cutoff = (
        ev.orderBy("ts").limit(int(ev.count() * 0.8)).agg(F.max("ts")).collect()[0][0]
    )
    old = ev.filter(F.col("ts") <= F.lit(cutoff))
    n1 = woo_incremental(wh, old, "orders_synced")
    assert n1 == old.count()
    n2 = woo_incremental(wh, old, "orders_synced")
    assert n2 == 0
    n3 = woo_incremental(wh, ev, "orders_synced")
    assert n3 == ev.count() - old.count()
    assert wh.read("orders_synced").count() == ev.count()


def test_route_events_batch_partitions(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    routes = route_events_batch(ev)
    n = sum(df.count() for df in routes.values())
    assert n == ev.count()
    assert routes["retry"].filter(F.col("event_type") != "error").count() == 0


def test_geo_refresh_zip_to_typed_table(spark, tmp_path):
    """ZIP source + schema registry + warehouse promote end-to-end:
    GeoNames-style dump lands as the typed table, sentinels null out,
    Namibia survives, types match the declared schema."""
    import zipfile

    from dot_spark.loads import Warehouse
    from dot_spark.pipelines import geo_refresh

    body = (
        "1\tWindhoek\tWindhoek\t\tn/a\t17.08\tP\tPPLC\tNA\t\t\t\t\t\t431000\t\\N\t1700\tAfrica/Windhoek\t2026-01-05\n"
        "2\tParis\tParis\t\t48.85\t2.35\tP\tPPLC\tFR\t\t\t\t\t\t2148000\t35\t42\tEurope/Paris\t2026-02-10\n"
    )
    zp = tmp_path / "allCountries.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("readme.md", "not me")
        zf.writestr("allCountries.txt", body)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    out = geo_refresh(wh, str(zp))
    rows = {r.geoname_id: r for r in out.collect()}
    assert set(rows) == {1, 2}
    # sentinel tokens -> NULL; "NA" stays Namibia
    assert rows[1].latitude is None and rows[1].elevation is None
    assert rows[1].country_code == "NA"
    assert rows[2].population == 2148000
    # typed per the declared schema
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got["latitude"] == "double" and got["modification_date"] == "date"
    import datetime as dt

    assert rows[2].modification_date == dt.date(2026, 2, 10)


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    """Two incremental runs (initial load, then late + new rows) must
    land the exact tier a from-scratch rollup of all events builds —
    including late rows that fell into the open (re-computed) bucket."""
    import datetime as dt

    from dot_spark.loads import Warehouse
    from dot_spark.pipelines import incremental_rollup

    t0 = dt.datetime(2026, 4, 1)
    m = dt.timedelta(minutes=1)
    rows1 = [(1, t0, "click", 1.0), (2, t0 + 61 * m, "click", 2.0)]
    rows2 = rows1 + [
        (3, t0 + 62 * m, "view", 4.0),     # late, open bucket
        (4, t0 + 180 * m, "click", 8.0),   # new bucket
    ]
    ddl = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    incremental_rollup(wh, spark.createDataFrame(rows1, ddl))
    out = incremental_rollup(wh, spark.createDataFrame(rows2, ddl))

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    full = incremental_rollup(wh2, spark.createDataFrame(rows2, ddl), table="full")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, full.collect()))
    got = {(str(r.bucket_h)[11:13], r.event_type): (r.n, r.sum_value)
           for r in out.collect()}
    assert got == {("00", "click"): (1, 1.0), ("01", "click"): (1, 2.0),
                   ("01", "view"): (1, 4.0), ("03", "click"): (1, 8.0)}


def test_incremental_rollup_recovers_from_empty_tier(spark, tmp_path):
    """An existing-but-empty tier has no watermark; the next run must
    fall back to a full aggregate instead of filtering on NULL and
    landing nothing forever."""
    import datetime as dt

    from dot_spark.loads import Warehouse
    from dot_spark.pipelines import incremental_rollup

    ddl = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    incremental_rollup(wh, spark.createDataFrame([], ddl))
    assert wh.read("events_hourly").count() == 0
    out = incremental_rollup(
        wh, spark.createDataFrame([(1, dt.datetime(2026, 4, 1), "click", 1.0)], ddl)
    )
    assert out.count() == 1


def test_rollup_tier_answers_distinct_from_sketches(spark, tmp_path):
    """COUNT DISTINCT over any bucket range from the tier's mergeable
    HLL column — matches the exact distinct over raw events."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dot_spark.loads import Warehouse
    from dot_spark.pipelines import incremental_rollup

    ddl = "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    t0 = dt.datetime(2026, 5, 1)
    m = dt.timedelta(minutes=1)
    rows = [(i, t0 + (i * 30) * m, "click", 1.0) for i in range(8)]
    rows += [(100 + i, t0 + (i * 30) * m, "click", 1.0) for i in range(4)]
    df = spark.createDataFrame(rows, ddl)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tier = incremental_rollup(wh, df)
    est = tier.agg(
        F.hll_sketch_estimate(F.hll_union_agg("distinct_sk")).alias("e")
    ).collect()[0].e
    exact = df.select("user_id").distinct().count()
    assert abs(est - exact) <= max(1, 0.05 * exact)


def test_woo_incremental_scans_source_once(wh, spark, sf_dir, tmp_path, monkeypatch):
    """Single-scan ingest protocol: the only pass over the SOURCE is
    the staging write; the row count comes from the staged parquet.
    Proven by spying on DataFrame.count and asserting no counted plan
    reads the source files (the old shape counted the filtered
    source, then scanned it again to write)."""
    src_dir = str(tmp_path / "src")
    load_table(spark, "events", sf_dir).select("event_id", "ts", "user_id").write.parquet(src_dir)
    source = spark.read.parquet(src_dir)

    # patch the CONCRETE class (pyspark.sql.classic.dataframe
    # overrides the abstract DataFrame.count)
    cls = type(source)
    counted: list[list[str]] = []
    orig = cls.count

    def spy(self):
        counted.append(list(self.inputFiles()))
        return orig(self)

    monkeypatch.setattr(cls, "count", spy)
    n1 = woo_incremental(wh, source, "t")
    n2 = woo_incremental(wh, source, "t")
    monkeypatch.undo()
    assert n1 == source.count() and n2 == 0
    assert counted, "count() should run on the staged delta"
    for files in counted:
        assert not any(src_dir in f for f in files), (
            "count() executed against the source scan — double scan"
        )


def test_woo_incremental_by_store_per_key_watermarks(wh, spark):
    """Per-store watermarks (woo-sync/main.py:26-42 per store config):
    a store lagging behind another must still ingest its own newer
    rows — a single global MAX would silently drop them."""
    import datetime as dt

    from dot_spark.pipelines import woo_incremental_by_store

    ddl = "store STRING, event_id BIGINT, ts TIMESTAMP"
    t = lambda h: dt.datetime(2026, 6, 1, h)  # noqa: E731
    first = [("A", 1, t(10)), ("B", 2, t(20))]
    n1 = woo_incremental_by_store(wh, spark.createDataFrame(first, ddl), "t")
    assert n1 == 2
    second = [
        ("A", 3, t(5)),   # older than A's mark: dropped
        ("A", 4, t(15)),  # newer than A's mark but OLDER than B's: kept
        ("B", 5, t(15)),  # older than B's mark: dropped
        ("B", 6, t(23)),  # newer than B's mark: kept
        ("C", 7, t(1)),   # brand-new store, no mark: kept
    ]
    n2 = woo_incremental_by_store(wh, spark.createDataFrame(second, ddl), "t")
    assert n2 == 3
    got = sorted(r.event_id for r in wh.read("t").collect())
    assert got == [1, 2, 4, 6, 7]


def test_incremental_rollup_schema_drift_rebuilds(spark, tmp_path):
    """Toggling the sketch column between runs is tier schema drift:
    the run must rebuild the tier under the NEW schema instead of
    failing (or silently corrupting) the old/delta union."""
    import datetime as dt

    from dot_spark.loads import Warehouse
    from dot_spark.pipelines import incremental_rollup

    ddl = "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    t0 = dt.datetime(2026, 4, 1)
    rows = [(i, t0 + dt.timedelta(hours=i), "click", float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, ddl)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tier1 = incremental_rollup(wh, df, distinct_col=None)
    assert "distinct_sk" not in tier1.columns
    tier2 = incremental_rollup(wh, df, distinct_col="user_id")  # drift on
    assert "distinct_sk" in tier2.columns
    assert tier2.count() == 4
    assert tier2.agg(F.sum("n")).collect()[0][0] == 4
    tier3 = incremental_rollup(wh, df, distinct_col=None)  # drift off
    assert "distinct_sk" not in tier3.columns and tier3.count() == 4


def test_adopt_files_appends_without_rewrite(wh, spark):
    """adopt_files moves staged part files into the target — same
    rows as a write-append, no re-read of the delta."""
    wh.write(spark.range(5).withColumnRenamed("id", "k"), "t", "truncate")
    wh.write(spark.range(5, 8).withColumnRenamed("id", "k"), "delta", "truncate")
    wh.adopt_files("delta", "t")
    assert sorted(r.k for r in wh.read("t").collect()) == list(range(8))


def test_csv_checkpoint_sink_roundtrip(wh, spark):
    """S9: overwrite then append, header honored, schema-stable
    read-back (okta-sync/main.py:758-789)."""
    ddl = "user_id BIGINT, login STRING"
    wh.write_csv(spark.createDataFrame([(1, "a"), (2, "b")], ddl), "ckpt")
    wh.write_csv(spark.createDataFrame([(3, "c")], ddl), "ckpt", mode="append")
    got = sorted((r.user_id, r.login) for r in wh.read_csv("ckpt", ddl).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(ValueError):
        wh.write_csv(spark.createDataFrame([(9, "z")], ddl), "ckpt", mode="errorifexists")


def test_jsonl_corpus_sink_roundtrip(wh, spark):
    """JSONL export/import: overwrite + append (mixed gzip and plain
    parts), contract-schema read-back, escaping survives hostile
    text."""
    ddl = "doc_id BIGINT, text STRING"
    nasty = 'quote " backslash \\ newline\nunicode é tab\t end'
    wh.write_jsonl(
        spark.createDataFrame([(1, "plain"), (2, nasty)], ddl), "corpus"
    )
    wh.write_jsonl(
        spark.createDataFrame([(3, "late drop")], ddl), "corpus",
        mode="append", compression=None,
    )
    got = sorted((r.doc_id, r.text) for r in wh.read_jsonl("corpus", ddl).collect())
    assert got == [(1, "plain"), (2, nasty), (3, "late drop")]
    with pytest.raises(ValueError):
        wh.write_jsonl(spark.createDataFrame([(9, "z")], ddl), "corpus", mode="errorifexists")


def test_compact_shrinks_file_count_preserves_rows(wh, spark):
    """A micro-batch-fragmented table (64 tiny parts) compacts to the
    byte-budgeted file count with identical content, and readers
    never see a partial table (staged + atomic promote)."""
    import glob
    import os

    df = spark.range(10_000).withColumnRenamed("id", "k")
    wh.write(df.repartition(64), "frag", "truncate")

    def parts(table):
        return [
            p for p in glob.glob(os.path.join(wh.path(table), "*"))
            if not os.path.basename(p).startswith(("_", "."))
        ]

    assert len(parts("frag")) == 64
    n_files = wh.compact("frag", target_file_mb=128)
    assert n_files == 1  # 10k longs is far under one 128 MB budget
    assert len(parts("frag")) == 1
    assert sorted(r.k for r in wh.read("frag").collect()) == list(range(10_000))


def test_compact_preserves_hive_partition_layout(wh, spark):
    """Compacting a date-partitioned table must keep the key=value
    directory levels (and therefore partition pruning) — flattening
    the layout would silently cost every downstream query its
    pruning."""
    import os

    df = spark.range(2000).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS day"
    )
    wh.write(df.repartition(16), "p", "truncate", partition_cols=["day"])
    assert wh.partition_cols_of("p") == ["day"]
    wh.compact("p", target_file_mb=128)
    assert wh.partition_cols_of("p") == ["day"]
    assert sorted(
        e for e in os.listdir(wh.path("p")) if e.startswith("day=")
    ) == ["day=0", "day=1", "day=2"]
    got = wh.read("p")
    assert got.count() == 2000
    assert got.filter("day = '1'").count() == df.filter("day = '1'").count()


def test_object_store_put_get_roundtrip(tmp_path):
    """S10: path-targeted blob write with atomic visibility
    (okta_sync_utils.py:398-434)."""
    from dot_spark.loads import ObjectStore

    store = ObjectStore(str(tmp_path / "bucket"))
    store.put_bytes("exports/2026/ids.bin", b"\x00\x01\x02")
    assert store.exists("exports/2026/ids.bin")
    assert store.get_bytes("exports/2026/ids.bin") == b"\x00\x01\x02"
    store.put_bytes("exports/2026/ids.bin", b"\xff")  # overwrite = re-upload
    assert store.get_bytes("exports/2026/ids.bin") == b"\xff"
    assert store.list("exports/") == ["exports/2026/ids.bin"]
    with pytest.raises(ValueError):
        store.put_bytes("../escape", b"x")


def test_object_store_single_csv_object(tmp_path, spark):
    """put_csv lands ONE object with exactly one header line no
    matter how many partitions wrote parts."""
    from dot_spark.loads import ObjectStore

    store = ObjectStore(str(tmp_path / "bucket"))
    df = spark.range(100).repartition(8).withColumnRenamed("id", "k")
    n_bytes = store.put_csv(df, "exports/ids.csv")
    text = store.get_bytes("exports/ids.csv").decode()
    lines = [ln for ln in text.strip().split("\n") if ln]
    assert n_bytes == len(text.encode())
    assert lines.count("k") == 1 and lines[0] == "k"
    assert sorted(int(x) for x in lines[1:]) == list(range(100))


def test_corpus_ingest_dedup_cross_batch(wh, spark):
    """A re-sent document (same normalized text, new id) must never
    re-enter the corpus; genuinely new text must."""
    from dot_spark.pipelines import corpus_ingest_dedup

    ddl = "doc_id BIGINT, text STRING"
    n1 = corpus_ingest_dedup(
        wh, spark.createDataFrame([(1, "alpha beta"), (2, "alpha  BETA"), (3, "gamma")], ddl),
        "corpus",
    )
    assert n1 == 2  # "alpha beta" and "alpha  BETA" normalize identically
    n2 = corpus_ingest_dedup(
        wh, spark.createDataFrame([(9, "Alpha Beta"), (10, "delta")], ddl), "corpus"
    )
    assert n2 == 1  # only "delta" is new
    got = sorted(r.doc_id for r in wh.read("corpus").collect())
    assert got == [1, 3, 10]


def test_object_store_list_hides_inflight_and_allows_dotdot_prefix(tmp_path):
    """A crashed upload's staging file must never surface in list();
    a key whose first segment merely BEGINS with '..' is legal."""
    import os

    from dot_spark.loads import ObjectStore

    store = ObjectStore(str(tmp_path / "bucket"))
    store.put_bytes("exports/a.bin", b"ok")
    # simulate a crash mid-upload: staging file left behind
    with open(os.path.join(store.root, "exports", "b.bin.upload-deadbeef"), "wb") as fh:
        fh.write(b"partial")
    assert store.list("exports/") == ["exports/a.bin"]
    store.put_bytes("..archive/x.bin", b"y")  # legal non-escaping key
    assert store.get_bytes("..archive/x.bin") == b"y"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.put_bytes("../escape", b"x")
    with _pytest.raises(ValueError):
        store.put_bytes("a/../../escape", b"x")


def test_streaming_mv_replay_skip_and_merge_law(spark, tmp_path):
    """The MV foreachBatch sink must (a) equal the one-shot aggregate
    after a sequence of per-batch merges and (b) SKIP a replayed
    batch id — mv_merge double-counts on replay, so exactly-once is
    the manifest-recorded batch id, not natural idempotence."""
    import json
    import os

    from dot_spark.pipelines import mv_merge, mv_partials, streaming_mv_maintain
    from dot_spark.txlog import TxTable

    ddl = "event_id BIGINT, user_id BIGINT, value DOUBLE, ts_us BIGINT"
    rows = [(i, i % 3, float(i), 1000 + i) for i in range(30)]
    drops = tmp_path / "drops"
    drops.mkdir()
    for part in range(3):
        with open(drops / f"d{part}.jsonl", "w") as fh:
            for e, u, v, t in rows[part * 10 : (part + 1) * 10]:
                fh.write(
                    json.dumps(
                        {"event_id": e, "user_id": u, "value": v, "ts_us": t}
                    )
                    + "\n"
                )

    mv_table = TxTable(spark, str(tmp_path / "mv_tx"))
    q = streaming_mv_maintain(
        spark,
        str(drops),
        mv_table,
        str(tmp_path / "cp"),
        keys=["user_id"],
        value_col="value",
        ts_col="ts_us",
        schema=ddl,
    )
    q.awaitTermination()
    assert mv_table.latest_version() == 3  # one merge per drop

    whole = spark.createDataFrame(rows, ddl)
    expect = {
        r.user_id: (r.mv_n, r.mv_sum, r.mv_min_ts, r.mv_max_ts)
        for r in mv_partials(whole, ["user_id"], "value", "ts_us").collect()
    }
    got = {
        r.user_id: (r.mv_n, r.mv_sum, r.mv_min_ts, r.mv_max_ts)
        for r in mv_table.read().collect()
    }
    assert got == expect

    # replay skip: re-running the stream with a FRESH checkpoint
    # re-delivers batch ids 0..2; every one must be found in the
    # manifests and skipped — state unchanged, no new version
    q2 = streaming_mv_maintain(
        spark,
        str(drops),
        mv_table,
        str(tmp_path / "cp2"),
        keys=["user_id"],
        value_col="value",
        ts_col="ts_us",
        schema=ddl,
    )
    q2.awaitTermination()
    assert mv_table.latest_version() == 3
    got2 = {
        r.user_id: (r.mv_n, r.mv_sum, r.mv_min_ts, r.mv_max_ts)
        for r in mv_table.read().collect()
    }
    assert got2 == expect

    # and the merge law directly: any slicing == the whole
    s1 = mv_partials(whole.filter("event_id < 7"), ["user_id"], "value", "ts_us")
    s2 = mv_partials(whole.filter("event_id >= 7"), ["user_id"], "value", "ts_us")
    law = {
        r.user_id: (r.mv_n, r.mv_sum, r.mv_min_ts, r.mv_max_ts)
        for r in mv_merge(s1, s2).collect()
    }
    assert law == expect


def test_streaming_mv_crash_replay_exactly_once(spark, tmp_path):
    """Crash-replay proof of pl14's exactly-once claim (r11 verdict
    task 6), both crash points injected by monkeypatching the
    manifest claim:

    (a) CRASH BETWEEN STAGE AND CLAIM — the merge output is staged
        but the manifest commit never runs. The checkpoint cannot
        advance (foreachBatch raised), so the restart REPLAYS the
        batch id, finds no manifest record, and applies it once: the
        MV equals the single-apply rollup, one version, and the
        orphaned staged files are never referenced.
    (b) CRASH AFTER CLAIM, BEFORE THE CHECKPOINT COMMITS — the
        restart replays the batch id, finds it in the manifests, and
        skips BEFORE any work: no double count, no new version.
    """
    import json

    from dot_spark.pipelines import mv_partials, streaming_mv_maintain
    from dot_spark.txlog import TxTable

    ddl = "event_id BIGINT, user_id BIGINT, value DOUBLE, ts_us BIGINT"
    rows1 = [(i, i % 3, float(i), 1000 + i) for i in range(10)]
    rows2 = [(100 + i, i % 3, 10.0 + i, 2000 + i) for i in range(10)]
    drops = tmp_path / "drops"
    drops.mkdir()
    with open(drops / "d0.jsonl", "w") as fh:
        for e, u, v, t in rows1:
            fh.write(json.dumps({"event_id": e, "user_id": u, "value": v, "ts_us": t}) + "\n")

    mv_table = TxTable(spark, str(tmp_path / "mv_tx"))
    cp = str(tmp_path / "cp")
    kwargs = dict(keys=["user_id"], value_col="value", ts_col="ts_us", schema=ddl)

    def rollup(rs):
        whole = spark.createDataFrame(rs, ddl)
        return {
            r.user_id: (r.mv_n, r.mv_sum, r.mv_min_ts, r.mv_max_ts)
            for r in mv_partials(whole, ["user_id"], "value", "ts_us").collect()
        }

    def mv_state():
        return {
            r.user_id: (r.mv_n, r.mv_sum, r.mv_min_ts, r.mv_max_ts)
            for r in mv_table.read().collect()
        }

    # ---- crash point (a): after stage, before claim -------------
    real_claim = mv_table._try_claim

    def crash_before_claim(version, manifest):
        raise RuntimeError("injected crash between stage and claim")

    mv_table._try_claim = crash_before_claim
    q = streaming_mv_maintain(spark, str(drops), mv_table, cp, **kwargs)
    try:
        q.awaitTermination()
        raised = False
    except Exception:
        raised = True
    assert raised, "injected crash did not propagate"
    assert not mv_table.latest_version()  # nothing committed

    mv_table._try_claim = real_claim  # "restart the process"
    q = streaming_mv_maintain(spark, str(drops), mv_table, cp, **kwargs)
    q.awaitTermination()
    assert mv_table.latest_version() == 1  # replay applied exactly once
    assert mv_state() == rollup(rows1)

    # ---- crash point (b): after claim, before checkpoint ---------
    with open(drops / "d1.jsonl", "w") as fh:
        for e, u, v, t in rows2:
            fh.write(json.dumps({"event_id": e, "user_id": u, "value": v, "ts_us": t}) + "\n")

    def crash_after_claim(version, manifest):
        ok = real_claim(version, manifest)
        if ok:
            raise RuntimeError("injected crash after manifest commit")
        return ok

    mv_table._try_claim = crash_after_claim
    q = streaming_mv_maintain(spark, str(drops), mv_table, cp, **kwargs)
    try:
        q.awaitTermination()
        raised = False
    except Exception:
        raised = True
    assert raised
    assert mv_table.latest_version() == 2  # the claim DID land
    expect_both = rollup(rows1 + rows2)
    assert mv_state() == expect_both

    mv_table._try_claim = real_claim
    q = streaming_mv_maintain(spark, str(drops), mv_table, cp, **kwargs)
    q.awaitTermination()
    # replayed batch id found in the manifests -> skipped before any
    # work: no double count, no new version
    assert mv_table.latest_version() == 2
    assert mv_state() == expect_both


def test_pl17_composition_keeps_stage_shapes(spark, sf_dir):
    """pl17 composes t25 -> dd18 -> p22; each stage must keep its
    shape through the composition: the survivor pair mining is a
    band-bucket EQUI-join (never a nested loop), the returned plan
    runs zero Python, and the accounting matches a from-parts
    replay (gate, then soft weights over survivors, then the sqrt
    mixture over exact decimal mass)."""
    from dot_spark.plans import plan_counts
    from dot_spark.queries import (
        pl17_soft_corpus_build,
        t25_hashed_linear_quality,
    )

    out = pl17_soft_corpus_build(spark, sf_dir)
    counts = plan_counts(out)
    assert counts["py_eval"] == 0 and counts["nested_loop"] == 0, counts
    got = {r["source"]: r for r in out.collect()}

    # the gate feeds the pipeline: a survivor set must exist and the
    # per-source accounting must cover it
    kept = {
        r["doc_id"]
        for r in t25_hashed_linear_quality(spark, sf_dir).collect()
        if r["kept"]
    }
    assert got and kept
    # mass conservation at the pipeline level: weighted tokens never
    # exceed raw survivor tokens, and the binding source has rate 1
    rates = [r["keep_rate"] for r in got.values()]
    assert max(rates) == 1.0
    assert all(0 < r <= 1.0 for r in rates)
