"""ZIP source with regex member selection (S4:
process-geography/main.py:168-200, no-match error main_test.py:151-168,
NA-list-excludes-"NA" main.py:115-137)."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from dot_spark.plans import physical_plan
from dot_spark.sources.files import read_zip_csv, read_zip_members

GEO_SCHEMA = {
    "geonameid": "bigint",
    "name": "string",
    "country_code": "string",
    "population": "bigint",
}


@pytest.fixture()
def geo_zip(tmp_path):
    # two members: the regex must pick allCountries.txt and skip the
    # readme; rows exercise skip-rows, the custom NA token, and the
    # "NA"-is-Namibia trap
    body = (
        "# header line to skip\n"
        "1\tWindhoek\tNA\t431000\n"
        "2\tNowhere\t\\N\t\\N\n"
        "3\tParis\tFR\t2148000\n"
    )
    p = tmp_path / "allCountries.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("readme.txt", "ignore me")
        zf.writestr("allCountries.txt", body)
    return str(p)


def test_member_regex_selects_one(spark, geo_zip):
    got = read_zip_members(spark, geo_zip, r"allCountries\.txt$").collect()
    assert [r.member for r in got] == ["allCountries.txt"]
    assert b"Windhoek" in got[0].content


def test_zip_csv_types_sentinels_and_namibia(spark, geo_zip):
    df = read_zip_csv(
        spark,
        geo_zip,
        GEO_SCHEMA,
        member_regex=r"allCountries\.txt$",
        sep="\t",
        skip_rows=1,
        null_tokens=["\\N"],
    )
    rows = {r.geonameid: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "string", "bigint",
    ]
    # custom sentinel becomes NULL ...
    assert rows[2].country_code is None and rows[2].population is None
    # ... but "NA" stays Namibia
    assert rows[1].country_code == "NA"
    assert rows[3].population == 2148000


def test_no_matching_member_raises(spark, geo_zip):
    with pytest.raises(ValueError, match="no ZIP member"):
        read_zip_csv(spark, geo_zip, GEO_SCHEMA, member_regex=r"missing\.csv$")


def test_extraction_stays_distributed(spark, geo_zip):
    # the plan must be a binaryFile scan + one Python map — no
    # collect-based loop; the CSV parse stages stay JVM-side
    df = read_zip_csv(
        spark, geo_zip, GEO_SCHEMA,
        member_regex=r"allCountries\.txt$", skip_rows=1,
    )
    plan = physical_plan(df)
    assert plan.count("MapInPandas") == 1, plan
    # generate/posexplode + projection after the Python stage
    assert "Generate" in plan, plan


def test_empty_member_yields_no_rows(spark, tmp_path):
    import zipfile

    p = tmp_path / "empty.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("data.txt", "")
    df = read_zip_csv(spark, str(p), GEO_SCHEMA, member_regex=r"\.txt$")
    assert df.count() == 0


def test_multiple_archives_scan_in_one_read(spark, tmp_path):
    import zipfile

    for i in range(3):
        with zipfile.ZipFile(tmp_path / f"part{i}.zip", "w") as zf:
            zf.writestr("data.txt", f"{i}\tname{i}\tXX\t{i * 10}\n")
    df = read_zip_csv(spark, str(tmp_path), GEO_SCHEMA, member_regex=r"\.txt$")
    assert sorted(r.geonameid for r in df.collect()) == [0, 1, 2]
    # per-archive parallelism: the binaryFile scan sees 3 files
    assert len({r.archive for r in read_zip_members(
        spark, str(tmp_path), r"\.txt$").collect()}) == 3
