"""The woo order-document flattening (woo-sync/main.py:570-819
semantics) — rule-per-test over a hand-built nested fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from dot_spark.operators.woo_flatten import flatten_order_items, flatten_orders
from dot_spark.plans import physical_plan

ITEM = "id BIGINT, sku STRING, bundled_by STRING, name STRING, price STRING, quantity BIGINT, total_tax STRING, product_id BIGINT, cru_data STRUCT<donor_premium STRING>, meta_data ARRAY<STRUCT<key STRING, value STRING>>"
RAW_DDL = (
    "id BIGINT, order_key STRING, date_created TIMESTAMP, status STRING, "
    "billing STRUCT<city STRING, email STRING, country STRING>, "
    "cru_data STRUCT<agent STRUCT<email STRING, name STRING>, po_number STRING, "
    "discounts ARRAY<STRUCT<amount STRING, code STRING, type STRING>>>, "
    "meta_data ARRAY<STRUCT<key STRING, value STRING>>, "
    f"line_items ARRAY<STRUCT<{ITEM}>>, "
    "total STRING, total_tax STRING, shipping_total STRING"
)


def _item(iid, sku, bundled_by, price="1.00", meta=None, dp=None):
    # dp=None means NO cru_data block at all (the reference's
    # `'cru_data' in li` false branch) — a present-but-None
    # donor_premium would FREEZE the carry at None (:745-749)
    return (iid, sku, bundled_by, f"n{iid}", price, 1, "0.10", 100 + iid,
            (dp,) if dp is not None else None, meta or [])


@pytest.fixture(scope="module")
def raw(spark):
    import datetime as dt

    t = dt.datetime(2026, 1, 1)
    rows = [
        # order 1: two discounts (last wins), explicit origin meta,
        # standalone item then two bundle members then a second
        # standalone whose sku resets the carry
        (1, "k1", t, "completed", ("Orlando", "a@x.org", "US"),
         (("agent@cru.org", "Agent A"), "PO-7",
          [("5.00", "EARLY", "percent"), ("2.50", "FINAL", "fixed")]),
         [("event_code", "EC1"), ("cru_order_origin", "PHONE")],
         [_item(11, "SKU-A", ""), _item(12, None, "11"),
          _item(13, None, "11", meta=[("_alg_wc_cog_item_cost", "3.25")]),
          _item(14, "SKU-B", "", dp="1")],
         "100.00", "7.00", "9.99"),
        # order 2: no discounts, no origin meta (default WEB), single item
        (2, "k2", t, "processing", ("Berlin", "b@x.org", "DE"),
         (("agent2@cru.org", "Agent B"), None, []),
         [],
         [_item(21, "SKU-C", "")],
         "20.00", "1.00", "0.00"),
    ]
    return spark.createDataFrame(rows, RAW_DDL).cache()


def test_struct_paths_and_decimals(raw):
    o = {r.order_number: r for r in flatten_orders(raw).collect()}
    assert o[1].billing_city == "Orlando" and o[1].agent_email == "agent@cru.org"
    assert str(o[1].total) == "100.000000000"  # decimal(38,9), exact
    assert o[2].billing_country == "DE"


def test_last_discount_wins(raw):
    o = {r.order_number: r for r in flatten_orders(raw).collect()}
    assert o[1].discount_codes == "FINAL" and str(o[1].discount_amount).startswith("2.5")
    assert o[2].discount_codes is None


def test_meta_lift_defaults(raw):
    o = {r.order_number: r for r in flatten_orders(raw).collect()}
    assert o[1].event_code == "EC1" and o[1].order_origin == "PHONE"
    # reference parity: event_code accumulates from '' and is appended
    # even when the meta key is absent (woo-sync/main.py:628-633)
    assert o[2].event_code == "" and o[2].order_origin == "WEB"


def test_explode_carries_parents_and_positions(raw):
    items = flatten_order_items(raw).collect()
    assert len(items) == 5
    assert {r.order_number for r in items} == {1, 2}
    by_id = {r.order_item_id: r for r in items}
    # reference parity: standalone items get bundled_by 0, not NULL
    # (woo-sync/main.py:812-815)
    assert by_id[12].bundled_by == 11 and by_id[11].bundled_by == 0


def test_sticky_sku_carry_and_reset(raw):
    by_id = {r.order_item_id: r for r in flatten_order_items(raw).collect()}
    # bundle members inherit the preceding standalone's sku
    assert by_id[12].product_sku == "SKU-A"
    assert by_id[13].product_sku == "SKU-A"
    # a later standalone resets the carry
    assert by_id[14].product_sku == "SKU-B"


def test_item_flags_and_meta_cost(raw):
    by_id = {r.order_item_id: r for r in flatten_order_items(raw).collect()}
    assert by_id[14].product_donor_premium is True
    assert by_id[11].product_donor_premium is False
    assert str(by_id[13].product_cost).startswith("3.25")
    # reference parity: missing/garbage meta cost -> 0 (:723-730)
    assert by_id[11].product_cost == 0


def test_flatten_stays_codegen_single_window_shuffle(raw):
    plan = physical_plan(flatten_order_items(raw))
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
    # the sticky carry's window is the only exchange
    assert plan.count("Exchange hashpartitioning") <= 1, plan


# --- FULL-WIDTH parity: every builder's output schema must equal the
# declared DDL (names, types, order), and the builder-specific
# semantics (meta pivots, sentinels, freezes, sign flips) must match
# the reference loops they re-express.

from dot_spark import schemas
from dot_spark.operators.woo_flatten import (
    flatten_product_attributes,
    flatten_product_bundles,
    flatten_product_categories,
    flatten_products,
    flatten_refund_items,
    flatten_refunds,
)

FULL_ITEM = (
    "id BIGINT, sku STRING, bundled_by STRING, name STRING, price STRING, "
    "quantity BIGINT, total_tax STRING, weight STRING, product_id BIGINT, "
    "brand STRING, dept STRING, impact STRING, project STRING, "
    "sub_brand STRING, product_inactive STRING, per_case STRING, "
    "total_manuals STRING, next_receipt_date STRING, "
    "cru_data STRUCT<component STRUCT<cost STRING, id BIGINT, msrp STRING, "
    "regular_price STRING, sku STRING>, discount STRING, "
    "donor_premium STRING, exclude_discounting STRING, free_shipping STRING, "
    "gift_card STRING, msrp STRING, regular_price STRING, royalty STRING>, "
    "meta_data ARRAY<STRUCT<key STRING, value STRING>>"
)
FULL_RAW_DDL = (
    "id BIGINT, order_key STRING, date_created STRING, status STRING, "
    "billing STRUCT<address_1 STRING, address_2 STRING, city STRING, "
    "company STRING, country STRING, email STRING, first_name STRING, "
    "last_name STRING, phone STRING, postcode STRING, state STRING>, "
    "shipping STRUCT<address_1 STRING, address_2 STRING, city STRING, "
    "company STRING, country STRING, email STRING, first_name STRING, "
    "last_name STRING, phone STRING, postcode STRING, state STRING>, "
    "cru_data STRUCT<agent STRUCT<email STRING, name STRING>, "
    "ordered_by STRUCT<email STRING, name STRING, phone STRING>, "
    "shipping STRUCT<custom_note STRING, date_shipped STRING, "
    "shipped_method STRING, method_id STRING, method_title STRING>, "
    "customer_role STRING, po_number STRING, "
    "radio_station STRUCT<id STRING, description STRING>, "
    "salesforce_account STRING, "
    "discounts ARRAY<STRUCT<amount STRING, code STRING, type STRING, "
    "description STRING>>, subtotal STRING, subtotal_tax STRING>, "
    "meta_data ARRAY<STRUCT<key STRING, value STRING>>, "
    f"line_items ARRAY<STRUCT<{FULL_ITEM}>>, "
    "cart_hash STRING, cart_tax STRING, created_via STRING, "
    "currency STRING, customer_id BIGINT, customer_ip_address STRING, "
    "customer_note STRING, customer_user_agent STRING, "
    "date_completed STRING, date_modified STRING, date_paid STRING, "
    "discount_tax STRING, discount_total STRING, order_type STRING, "
    "parent_id BIGINT, payment_method STRING, payment_method_title STRING, "
    "prices_include_tax BOOLEAN, salesforce_id STRING, "
    "shipping_tax STRING, shipping_total STRING, total STRING, "
    "total_tax STRING, transaction_id STRING, version STRING"
)


@pytest.fixture(scope="module")
def full_raw(spark):
    # one JSON document covering every path, read through the same
    # DDL the production scan would declare
    doc = {
        "id": 9, "order_key": "k9", "date_created": "2026-01-02 03:04:05",
        "status": "completed",
        "billing": {k: f"b_{k}" for k in (
            "address_1", "address_2", "city", "company", "country", "email",
            "first_name", "last_name", "phone", "postcode", "state")},
        "shipping": {k: f"s_{k}" for k in (
            "address_1", "address_2", "city", "company", "country", "email",
            "first_name", "last_name", "phone", "postcode", "state")},
        "cru_data": {
            "agent": {"email": "a@x", "name": "A"},
            "ordered_by": {"email": "o@x", "name": "O", "phone": "555"},
            "shipping": {"custom_note": "note",
                         "date_shipped": "0000-00-00 00:00:00",
                         "shipped_method": "GROUND", "method_id": "m1",
                         "method_title": "Ground"},
            "customer_role": "donor", "po_number": "PO-9",
            "radio_station": {"id": "R1", "description": "Radio One"},
            "salesforce_account": "SF-ACC",
            "discounts": [
                {"amount": "1.00", "code": "A", "type": "t", "description": "d1"},
                {"amount": "2.00", "code": "B", "type": "u", "description": "d2"},
            ],
            "subtotal": "10.00", "subtotal_tax": "0.80",
        },
        "meta_data": [{"key": "event_code", "value": "EC9"}],
        "line_items": [
            {"id": 91, "sku": "SKU-9", "bundled_by": "", "name": "n91",
             "price": "5.00", "quantity": 2, "total_tax": "0.40",
             "weight": "", "product_id": 191, "brand": "BR", "dept": "DP",
             "impact": "IM", "project": "PJ", "sub_brand": "SB",
             "product_inactive": "0", "per_case": "", "total_manuals": "3",
             "next_receipt_date": "2026-02-01",
             "cru_data": {"component": {"cost": "1.10", "id": 7,
                                        "msrp": "9.99", "regular_price": "8.88",
                                        "sku": "C-SKU"},
                          "discount": "0.50", "donor_premium": "0",
                          "exclude_discounting": "1", "free_shipping": "0",
                          "gift_card": "0", "msrp": "9.99",
                          "regular_price": "8.88", "royalty": "1"},
             "meta_data": [{"key": "_alg_wc_cog_item_cost", "value": "1.25"}]},
            # donor_premium '1' AFTER a frozen '0': must NOT unfreeze
            {"id": 92, "sku": None, "bundled_by": "91", "name": "n92",
             "price": "0.00", "quantity": 1, "total_tax": "0.00",
             "weight": "2.5", "product_id": 192, "brand": None, "dept": None,
             "impact": None, "project": None, "sub_brand": None,
             "product_inactive": None, "per_case": "6", "total_manuals": None,
             "next_receipt_date": None,
             "cru_data": {"component": {"cost": "", "id": None, "msrp": "",
                                        "regular_price": "", "sku": ""},
                          "discount": "0.00", "donor_premium": "1",
                          "exclude_discounting": "", "free_shipping": "",
                          "gift_card": "", "msrp": "", "regular_price": "",
                          "royalty": ""},
             "meta_data": []},
        ],
        "cart_hash": "h", "cart_tax": "0.10", "created_via": "checkout",
        "currency": "USD", "customer_id": 77, "customer_ip_address": "1.2.3.4",
        "customer_note": "cn", "customer_user_agent": "ua",
        "date_completed": "2026-01-03 00:00:00",
        "date_modified": "2026-01-02 12:00:00", "date_paid": "2026-01-02 06:00:00",
        "discount_tax": "0.05", "discount_total": "2.00", "order_type": "sale",
        "parent_id": 0, "payment_method": "cc", "payment_method_title": "Card",
        "prices_include_tax": False, "salesforce_id": "SF-9",
        "shipping_tax": "0.20", "shipping_total": "4.00", "total": "15.00",
        "total_tax": "1.00", "transaction_id": "tx9", "version": "7.0",
    }
    import json as _json
    return spark.createDataFrame([( _json.dumps(doc),)], "j string").select(
        F.from_json("j", FULL_RAW_DDL).alias("o")
    ).select("o.*").cache()


def _assert_schema(df, table):
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(n, t) for n, t in schemas.columns_of(table).items()]
    assert got == want, f"{table}: {got} != {want}"


def test_full_width_orders_schema_and_values(full_raw):
    out = flatten_orders(full_raw, store_wid=3, rls_value="familylife_woo",
                         sync_timestamp=F.lit("2026-03-01 00:00:00").cast("timestamp"),
                         load_ts=1767225600)
    _assert_schema(out, "woo_api_orders")
    r = out.collect()[0]
    assert r.store_wid == 3 and r.rls_value == "familylife_woo"
    assert r.billing_address_1 == "b_address_1" and r.shipping_state == "s_state"
    assert r.custom_shipping_note == "note" and r.shipped_method == "GROUND"
    assert r.date_shipped is None  # zero-date sentinel -> NULL
    assert r.discount_codes == "B" and r.discount_description == "d2"
    assert str(r.discount_amount) == "2.000000000"
    assert r.radio_station == "R1" and r.radio_station_description == "Radio One"
    assert r.ordered_by_phone == "555" and r.prices_include_tax is False
    assert r.timestamp == 1767225600 and r.order_origin == "WEB"


def test_full_width_items_schema_and_values(full_raw):
    out = flatten_order_items(full_raw)
    _assert_schema(out, "woo_api_order_items")
    by_id = {r.order_item_id: r for r in out.collect()}
    r91, r92 = by_id[91], by_id[92]
    assert r91.product_brand == "BR" and r92.product_brand == ""
    assert str(r91.product_component_cost) == "1.100000000"
    assert r92.product_component_cost is None  # '' -> NULL (no default)
    assert r91.product_component_id == 7 and r92.product_component_id == 0
    assert str(r91.product_cost) == "1.250000000" and r92.product_cost == 0
    assert r91.product_exclude_discounting == "1"
    assert str(r91.product_weight) == "0E-9"  # '' sentinel -> 0.00
    assert str(r92.product_weight) == "2.500000000"
    assert r91.products_per_case == 0 and r92.products_per_case == 6
    assert r91.bundled_by == 0 and r92.bundled_by == 91
    assert r92.product_sku == "SKU-9"  # sticky carry
    assert r91.product_total_manuals == "3" and r92.product_total_manuals == ""


def test_donor_premium_freezes_on_first_non_false(spark):
    """woo-sync/main.py:745-749: donor_premium updates only while the
    accumulator is the literal 'false' — a '0' FREEZES it, a later
    '1' cannot unfreeze, and a present-but-None value freezes too
    (the reference assigns cd['donor_premium'] verbatim). Items whose
    documents carry NO cru_data block never assign at all."""
    ddl = ("id BIGINT, order_key STRING, date_created STRING, "
           f"line_items ARRAY<STRUCT<id BIGINT, sku STRING, bundled_by STRING, "
           f"cru_data STRUCT<donor_premium STRING>>>")
    rows = [
        # order 1: '0' freezes; the later '1' cannot unfreeze
        (1, "k", "2026-01-01 00:00:00",
         [(11, "a", "", ("false",)), (12, "b", "", ("0",)), (13, "c", "", ("1",))]),
        # order 2: '1' first -> all true from item 21 on
        (2, "k", "2026-01-01 00:00:00",
         [(21, "a", "", ("1",)), (22, "b", "", ("0",))]),
        # order 3: present-but-None FREEZES at None -> NULL out, and
        # the later '1' cannot set it (the ADVICE r10 divergence)
        (3, "k", "2026-01-01 00:00:00",
         [(31, "a", "", (None,)), (32, "b", "", ("1",))]),
        # order 4: NO cru_data block -> no assignment (stays false),
        # then a 'false' value keeps it assignable, then '1' sets it
        (4, "k", "2026-01-01 00:00:00",
         [(41, "a", "", None), (42, "b", "", ("false",)), (43, "c", "", ("1",))]),
    ]
    raw = spark.createDataFrame(rows, ddl)
    got = {r.order_item_id: r.product_donor_premium
           for r in flatten_order_items(raw).collect()}
    assert got == {11: False, 12: False, 13: False, 21: True, 22: True,
                   31: None, 32: None, 41: False, 42: False, 43: True}


def test_meta_pivot_duplicate_keys_match_reference_loop(spark):
    """Duplicate meta keys are legal in WooCommerce; the reference
    pivot is a loop, so (main.py:846-892):
    - plain value keys: the LAST entry wins, even a None one;
    - ''-guarded keys: the LAST NON-EMPTY entry wins ('' can't
      clobber back to the default);
    - flag keys: sticky — 1 if ANY entry is the EXACT string '1'
      ('true' does NOT count, and a later '0' can't clear it)."""
    rows = [
        (1, "P", "sd", "publish", "2026-01-01 00:00:00", "2026-01-01 00:00:00",
         "1.00", "", "", "S", "", "simple", 1, "", "", "",
         [("brand", "first"), ("brand", "last"),          # last wins
          ("product_isbn", "kept"), ("product_isbn", None),  # None wins (verbatim assign)
          ("_alg_wc_cog_cost", "7.25"), ("_alg_wc_cog_cost", ""),  # '' skipped
          ("case_qty", ""), ("case_qty", "4"), ("case_qty", ""),   # guarded last non-''
          ("royalty", "0"), ("royalty", "1"), ("royalty", "0"),    # sticky any-'1'
          ("gift_card", "true"), ("gift_card", "0"),               # 'true' is NOT '1'
          ("donor_premium", "1")],
         [], [], []),
    ]
    r = flatten_products(spark.createDataFrame(rows, PRODUCT_DDL)).collect()[0]
    assert r.brand == "last"
    assert r.product_isbn is None
    assert str(r.alg_wc_cog_cost) == "7.250000000"
    assert r.case_qty == 4
    assert r.royalty is True
    assert r.gift_card is False
    assert r.donor_premium is True


PRODUCT_DDL = (
    "id BIGINT, name STRING, short_description STRING, status STRING, "
    "date_created STRING, date_modified STRING, price STRING, "
    "regular_price STRING, msrp_price STRING, sku STRING, weight STRING, "
    "type STRING, stock_quantity BIGINT, backorders_allowed STRING, "
    "downloadable STRING, virtual STRING, "
    "meta_data ARRAY<STRUCT<key STRING, value STRING>>, "
    "bundled_items ARRAY<STRUCT<bundled_item_id BIGINT, product_id BIGINT, "
    "quantity_default BIGINT>>, "
    "categories ARRAY<STRUCT<id BIGINT, name STRING, slug STRING>>, "
    "attributes ARRAY<STRUCT<id BIGINT, name STRING, slug STRING, "
    "options ARRAY<STRING>>>"
)


@pytest.fixture(scope="module")
def product_raw(spark):
    rows = [
        (5, "Prod", "sd", "publish", None, "2026-01-05 00:00:00",
         "12.00", "", "", "P-SKU", "1.5", "simple", 40, "1", "", "0",
         [("exclude_from_all_discounting", "1"), ("free_shipping", "0"),
          ("donor_premium", "1"), ("next_receipt_date", "2026-04-01"),
          ("_alg_wc_cog_cost", "3.00"), ("fl_staff_price_field", ""),
          ("case_qty", "12"), ("product_page_count", ""),
          ("product_isbn", "isbn-5"), ("brand", "B5"), ("royalty", "1"),
          ("impact", "I5"), ("product_language", "en"), ("sub_brand", "SB5"),
          ("total_manuals", "2")],
         [(501, 601, 3)],
         [(71, "Cat", "cat")],
         [(81, "Color", "color", ["Red", "Blue"])]),
    ]
    return spark.createDataFrame(rows, PRODUCT_DDL).cache()


def test_full_width_products(product_raw):
    out = flatten_products(product_raw, load_ts=5)
    _assert_schema(out, "woo_api_products")
    r = out.collect()[0]
    # date_created falls back to date_modified (:897-901)
    assert str(r.date_created) == "2026-01-05 00:00:00"
    assert r.backorders_allowed is True and r.downloadable is False
    assert r.exclude_from_all_discounting is True and r.free_shipping is False
    assert r.product_inactive is False and r.donor_premium is True
    assert str(r.next_receipt_date) == "2026-04-01"
    assert r.brand == "B5" and r.product_publisher == ""
    assert r.status == "Publish"  # .title()
    assert str(r.alg_wc_cog_cost) == "3.000000000"
    assert r.fl_staff_price_field == 0  # '' keeps the 0.00 default
    assert r.msrp_price == 0 and str(r.price) == "12.000000000"
    assert r.regular_price == 0 and str(r.weight) == "1.500000000"
    assert r.case_qty == 12 and r.product_page_count == 0
    assert r.total_manuals == 2 and r.timestamp == 5


def test_product_children(product_raw):
    b = flatten_product_bundles(product_raw, load_ts=5)
    _assert_schema(b, "woo_api_product_bundles")
    rb = b.collect()[0]
    assert (int(rb.id), int(rb.bundled_item_id), int(rb.product_id),
            rb.quantity_default) == (5, 501, 601, 3)
    c = flatten_product_categories(product_raw, load_ts=5)
    _assert_schema(c, "woo_api_product_categories")
    rc = c.collect()[0]
    assert (rc.product_id, rc.id, rc.name, rc.slug) == (5, 71, "Cat", "cat")
    a = flatten_product_attributes(product_raw, load_ts=5)
    _assert_schema(a, "woo_api_product_attributes")
    ra = a.collect()[0]
    assert ra.option == "Red"  # options[0] (:1029)


REFUND_DDL = (
    "id BIGINT, parent_id BIGINT, date_created STRING, amount STRING, "
    "cru_data STRUCT<agent_email STRING, agent_name STRING, "
    "subtotal STRING, subtotal_tax STRING>, "
    "shipping_lines ARRAY<STRUCT<total STRING, total_tax STRING>>, "
    "line_items ARRAY<STRUCT<id BIGINT, product_id BIGINT, name STRING, "
    "price STRING, quantity BIGINT, sku STRING, total_tax STRING, "
    "meta_data ARRAY<STRUCT<key STRING, value STRING>>>>"
)


@pytest.fixture(scope="module")
def refund_raw(spark):
    rows = [
        (300, 9, "2026-01-10 00:00:00", "25.00",
         ("ra@x", "RA", "20.00", "1.60"),
         [("3.00", "0.24"), ("4.00", "0.32")],  # LAST wins
         [(3001, 191, "n91", "5.00", 1, "SKU-9", "0.40",
           [("_refunded_item_id", "91"), ("_alg_wc_cog_item_cost", "1.25")])]),
    ]
    return spark.createDataFrame(rows, REFUND_DDL).cache()


def test_full_width_refunds(refund_raw):
    out = flatten_refunds(refund_raw, load_ts=7)
    _assert_schema(out, "woo_api_refunds")
    r = out.collect()[0]
    assert r.refund_number == 300 and r.order_number == 9 and r.parent_id == 9
    assert str(r.date_modified) == str(r.date_created)  # :1057
    assert str(r.shipping) == "4.000000000"  # last shipping line wins
    assert str(r.shipping_tax) == "0.320000000"
    assert str(r.total) == "-25.000000000"  # negated amount (:1078-1079)
    assert r.agent_email == "ra@x"


def test_full_width_refund_items(refund_raw):
    out = flatten_refund_items(refund_raw, load_ts=7)
    _assert_schema(out, "woo_api_refund_items")
    r = out.collect()[0]
    assert r.refund_item_id == 3001 and r.order_item_id == 91
    assert str(r.product_component_cost) == "1.250000000"
    assert str(r.product_cost) == "1.250000000"
    assert r.refund_number == 300 and r.order_number == 9
