"""Paginated REST-style Python Data Source (S1 link-chain pagination,
S3 per-key fan-out, P3 server-side pushdown)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dot_spark.plans import physical_plan
from dot_spark.sources.rest import register_paged_json

SCHEMA = "id BIGINT, status STRING, modified BIGINT, group_id STRING"


def _write_chain(root, records, page_size=2):
    root.mkdir(parents=True, exist_ok=True)
    pages = [records[i : i + page_size] for i in range(0, len(records), page_size)] or [[]]
    for i, recs in enumerate(pages):
        nxt = f"page-{i + 1}" if i + 1 < len(pages) else None
        (root / f"page-{i}.json").write_text(
            json.dumps({"records": recs, "next": nxt})
        )


@pytest.fixture()
def api_dir(tmp_path):
    # two parent keys, each with its own multi-page chain
    _write_chain(
        tmp_path / "g1",
        [{"id": i, "status": "ACTIVE" if i % 2 else "DEPROVISIONED", "modified": 100 + i}
         for i in range(5)],
    )
    _write_chain(
        tmp_path / "g2",
        [{"id": 10 + i, "status": "ACTIVE", "modified": 200 + i} for i in range(3)],
    )
    return str(tmp_path)


def _read(spark, api_dir, **opts):
    register_paged_json(spark)
    reader = (
        spark.read.format("paged_json")
        .option("path", api_dir)
        .option("schema", SCHEMA)
        .option("keys", "g1,g2")
        .option("parent_col", "group_id")
        .option("filterable", "status,modified")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_link_chain_pagination_reads_all_pages(spark, api_dir):
    df = _read(spark, api_dir)
    assert df.count() == 8  # 5 across 3 pages + 3 across 2 pages
    # rows carry their parent key (S3 fan-out tagging)
    by_group = {r.group_id: r.cnt for r in df.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert by_group == {"g1": 5, "g2": 3}


def test_fanout_is_one_partition_per_key(spark, api_dir):
    df = _read(spark, api_dir)
    assert df.rdd.getNumPartitions() == 2


def test_server_side_pushdown_filters_at_source(spark, api_dir):
    df = _read(spark, api_dir).filter(
        (F.col("status") == "DEPROVISIONED") & (F.col("modified") >= 102)
    )
    got = sorted(r.id for r in df.collect())
    assert got == [2, 4]
    # both predicates are on declared-filterable columns => pushed;
    # the scan node must NOT be followed by a Spark Filter on them
    plan = physical_plan(df)
    assert "DEPROVISIONED" not in plan.split("BatchScan")[0], plan


def test_unsupported_filter_stays_in_spark(spark, api_dir):
    # id is not server-filterable: Spark must keep evaluating it
    df = _read(spark, api_dir).filter(F.col("id") > 1)
    assert sorted(r.id for r in df.collect()) == [2, 3, 4, 10, 11, 12]
    plan = physical_plan(df)
    assert "Filter" in plan, plan


def test_empty_chain_single_empty_page(spark, tmp_path):
    (tmp_path / "page-0.json").write_text(json.dumps({"records": [], "next": None}))
    register_paged_json(spark)
    df = (spark.read.format("paged_json").option("path", str(tmp_path))
          .option("schema", SCHEMA).load())
    assert df.count() == 0


def test_missing_fields_become_nulls(spark, tmp_path):
    # records missing declared columns -> NULL, extra keys ignored
    (tmp_path / "page-0.json").write_text(json.dumps(
        {"records": [{"id": 1, "surprise": "x"}], "next": None}))
    register_paged_json(spark)
    row = (spark.read.format("paged_json").option("path", str(tmp_path))
           .option("schema", SCHEMA).load()).collect()[0]
    assert row.id == 1 and row.status is None and row.modified is None


# --- live-transport retry policy (okta_sync_utils.py:72-193 parity) ----
#
# The policy is a pure function over an injectable transport+sleeper,
# so every failure class is testable without a network: 429 backs off
# exponentially from 1 s WITHOUT consuming the bounded budget; invalid
# JSON and transient faults burn one of max_retries+1 attempts each
# with their class delay; exhaustion raises (a Spark task must fail
# loudly, not yield an empty page).

from dot_spark.sources.rest import (  # noqa: E402
    FetchFailed,
    PagedJsonReader,
    RateLimited,
    TransientFetchError,
    fetch_with_retry,
)


class _ScriptedTransport:
    """Raises/returns each scripted step in order; records calls."""

    def __init__(self, steps):
        self.steps = list(steps)
        self.calls = 0

    def __call__(self, url):
        self.calls += 1
        step = self.steps.pop(0)
        if isinstance(step, Exception):
            raise step
        return step


def test_retry_rate_limit_backs_off_doubling_without_burning_budget():
    sleeps = []
    # 7 consecutive 429s (> max_retries) then success: rate limiting
    # must NOT exhaust the bounded budget
    t = _ScriptedTransport([RateLimited()] * 7 + ['{"records": [], "next": null}'])
    doc = fetch_with_retry(t, "u", max_retries=5, sleep=sleeps.append)
    assert doc == {"records": [], "next": None}
    assert sleeps == [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0]  # 1s doubling
    assert t.calls == 8


def test_retry_invalid_json_bounded_then_raises():
    sleeps = []
    t = _ScriptedTransport(["not json"] * 6)
    with pytest.raises(FetchFailed):
        fetch_with_retry(t, "u", max_retries=5, sleep=sleeps.append)
    assert t.calls == 6  # max_retries + 1 attempts
    assert sleeps == [300.0] * 5  # the reference's 5-minute pause


def test_retry_transient_fault_uses_class_delay_then_recovers():
    sleeps = []
    t = _ScriptedTransport(
        [
            TransientFetchError("timeout", delay=60.0),
            TransientFetchError("http 503", delay=180.0),
            {"records": [{"id": 1}], "next": None},
        ]
    )
    doc = fetch_with_retry(t, "u", max_retries=5, sleep=sleeps.append)
    assert doc["records"] == [{"id": 1}]
    assert sleeps == [60.0, 180.0]


def test_retry_transient_exhaustion_raises_not_none():
    t = _ScriptedTransport([TransientFetchError(delay=1.0)] * 6)
    with pytest.raises(FetchFailed):
        fetch_with_retry(t, "u", max_retries=5, sleep=lambda _: None)
    assert t.calls == 6


def test_retry_non_retryable_error_propagates_immediately():
    t = _ScriptedTransport([PermissionError("401")])
    with pytest.raises(PermissionError):
        fetch_with_retry(t, "u", max_retries=5, sleep=lambda _: None)
    assert t.calls == 1


def test_reader_fetch_page_goes_through_retry_policy(spark, tmp_path, monkeypatch):
    """The reader's page walk survives a transient fault mid-chain:
    the policy wraps the transport INSIDE read(), not just at the
    chain head."""
    from pyspark.sql.types import StructType

    _write_chain(tmp_path / "g1", [{"id": 1}, {"id": 2}, {"id": 3}], page_size=2)
    schema = StructType.fromDDL("id BIGINT, status STRING, modified BIGINT, group_id STRING")
    reader = PagedJsonReader(schema, {"path": str(tmp_path), "keys": "g1"})

    fails = {"n": 2}

    def flaky(path):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise TransientFetchError("reset", delay=0.0)
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    monkeypatch.setattr(PagedJsonReader, "transport", staticmethod(flaky))
    monkeypatch.setattr("dot_spark.sources.rest.time", type("T", (), {"sleep": staticmethod(lambda _: None)}))
    part = reader.partitions()[0]
    rows = list(reader.read(part))
    assert [r[0] for r in rows] == [1, 2, 3]
    assert fails["n"] == 0


# --- loopback HTTP integration (real sockets, stdlib http.server) ------
#
# The retry policy's unit tests above inject transports; these stand
# up a real in-process HTTP server on 127.0.0.1 and drive the SAME
# code paths over actual sockets: status-code mapping in
# http_transport, the full fetch_with_retry cadence, and the reader's
# page walk (including through real executors via option
# transport=http).

import threading  # noqa: E402
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer  # noqa: E402

from dot_spark.sources.rest import http_transport  # noqa: E402


class _ScriptedHTTPHandler(BaseHTTPRequestHandler):
    """Serves per-path scripted (status, body) sequences; the last
    step of a script is sticky so retries/extra requests converge."""

    def do_GET(self):
        steps = self.server.scripts.get(self.path)
        if steps is None:
            self.send_response(404)
            self.end_headers()
            return
        with self.server.lock:
            status, body = steps.pop(0) if len(steps) > 1 else steps[0]
        payload = body.encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture()
def loopback(request):
    def make(scripts):
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _ScriptedHTTPHandler)
        srv.scripts = {k: list(v) for k, v in scripts.items()}
        srv.lock = threading.Lock()
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        request.addfinalizer(srv.shutdown)
        return f"http://127.0.0.1:{srv.server_address[1]}"

    return make


def test_http_transport_maps_status_codes_over_real_sockets(loopback):
    base = loopback(
        {
            "/limited": [(429, "slow down")],
            "/flaky": [(503, "boom")],
            "/gone": [(404, "nope")],
            "/ok": [(200, '{"records": [], "next": null}')],
        }
    )
    with pytest.raises(RateLimited):
        http_transport(f"{base}/limited")
    with pytest.raises(TransientFetchError) as exc:
        http_transport(f"{base}/flaky")
    assert exc.value.delay == 180.0  # the reference's http-error class delay
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):  # non-retryable: propagates
        http_transport(f"{base}/gone")
    assert json.loads(http_transport(f"{base}/ok"))["next"] is None


def test_fetch_with_retry_full_cadence_over_real_sockets(loopback):
    """429 -> 5xx -> garbage-200 -> good-200, all over one socket:
    the cadence must be 1s pacing (no budget), 180s http-class delay,
    300s invalid-JSON pause — exactly the injected-transport law, now
    proven against real HTTP semantics."""
    base = loopback(
        {
            "/p": [
                (429, ""),
                (503, ""),
                (200, "definitely not json"),
                (200, '{"records": [{"id": 7}], "next": null}'),
            ]
        }
    )
    sleeps = []
    doc = fetch_with_retry(http_transport, f"{base}/p", sleep=sleeps.append)
    assert doc["records"] == [{"id": 7}]
    assert sleeps == [1.0, 180.0, 300.0]


def test_paged_reader_http_chain_through_executors(spark, loopback):
    """End-to-end: spark.read with transport=http walks a multi-page
    link chain over real sockets FROM EXECUTOR PROCESSES (the
    transport choice is an option, so it survives pickling — no
    monkeypatch seam involved)."""
    base = loopback(
        {
            "/g1/page-0.json": [
                (200, json.dumps({"records": [{"id": 1, "status": "ACTIVE"},
                                              {"id": 2, "status": "ACTIVE"}],
                                  "next": "page-1"}))
            ],
            "/g1/page-1.json": [
                (200, json.dumps({"records": [{"id": 3, "status": "DEPROVISIONED"}],
                                  "next": None}))
            ],
            "/g2/page-0.json": [
                (200, json.dumps({"records": [{"id": 10, "status": "ACTIVE"}],
                                  "next": None}))
            ],
        }
    )
    register_paged_json(spark)
    df = (
        spark.read.format("paged_json")
        .option("path", base)
        .option("schema", SCHEMA)
        .option("keys", "g1,g2")
        .option("parent_col", "group_id")
        .option("transport", "http")
        .load()
    )
    rows = {(r.id, r.group_id) for r in df.collect()}
    assert rows == {(1, "g1"), (2, "g1"), (3, "g1"), (10, "g2")}


def test_paged_reader_http_retries_rate_limit_and_garbage_mid_chain(loopback):
    """The reader's page walk survives a 429 and a garbage 200 body
    mid-chain over a real socket, with the pacing knobs zeroed via
    reader options (the per-transport override seam)."""
    from pyspark.sql.types import StructType

    base = loopback(
        {
            "/page-0.json": [
                (429, ""),
                (200, "garbage body"),
                (200, json.dumps({"records": [{"id": 1}], "next": "page-1"})),
            ],
            "/page-1.json": [
                (200, json.dumps({"records": [{"id": 2}], "next": None}))
            ],
        }
    )
    schema = StructType.fromDDL(SCHEMA)
    reader = PagedJsonReader(
        schema,
        {
            "path": base,
            "transport": "http",
            "backoff_initial": "0",
            "invalid_json_delay": "0",
        },
    )
    part = reader.partitions()[0]
    assert [r[0] for r in reader.read(part)] == [1, 2]


def test_file_transport_fails_fast_on_corrupt_page(spark, tmp_path, monkeypatch):
    """A corrupt LOCAL page file must fail the task immediately (one
    attempt, zero sleeps) — retrying a local read is pointless, and
    the reference cadence's 5x300s would stall the task ~25 minutes.
    The sleep seam resolves time.sleep at call time, so this records
    any accidental wait."""
    from pyspark.sql.types import StructType

    (tmp_path / "page-0.json").write_text("definitely not json")
    schema = StructType.fromDDL(SCHEMA)
    reader = PagedJsonReader(schema, {"path": str(tmp_path)})

    sleeps = []
    monkeypatch.setattr(
        "dot_spark.sources.rest.time",
        type("T", (), {"sleep": staticmethod(sleeps.append)}),
    )
    with pytest.raises(FetchFailed):
        list(reader.read(reader.partitions()[0]))
    assert sleeps == []
