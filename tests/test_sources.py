"""REST-source tests with fake transports (no network in container)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_python_azure_spark.schema import flatten_struct_columns
from etl_python_azure_spark.sources import rest
from etl_python_azure_spark.sources.rest import (
    distributed_fetch,
    fetch_json,
    paginated_fetch,
    parse_fetched_json,
    records_to_df,
)


def fake_transport_factory(responses: dict[str, tuple[int, str]]):
    def transport(url, headers):
        return responses.get(url, (404, "not found"))

    return transport


def test_fetch_json_envelope_and_status():
    t = fake_transport_factory(
        {"http://x/data": (200, json.dumps({"data": [{"id": 1}, {"id": 2}]}))}
    )
    recs = fetch_json(t, "http://x/data", envelope_key="data")
    assert [r["id"] for r in recs] == [1, 2]
    with pytest.raises(RuntimeError, match="status=404"):
        fetch_json(t, "http://x/missing")


def test_paginated_fetch_stops_on_short_page():
    pages = {
        "http://x?length=2&start=0": (200, json.dumps([{"i": 0}, {"i": 1}])),
        "http://x?length=2&start=2": (200, json.dumps([{"i": 2}])),
    }
    t = fake_transport_factory(pages)
    recs = paginated_fetch(
        t, "http://x?length={length}&start={start}", page_size=2, max_pages=5
    )
    assert [r["i"] for r in recs] == [0, 1, 2]


def test_records_to_df_flattens_nested(spark):
    recs = [
        {"id": 1, "audience_provider": {"id": 9, "name": "prov"}},
        {"id": 2, "audience_provider": None},
    ]
    df = records_to_df(spark, recs)
    assert set(df.columns) == {"id", "audience_provider_id", "audience_provider_name"}
    got = {r.id: r.audience_provider_name for r in df.collect()}
    assert got == {1: "prov", 2: None}


def test_records_to_df_plans_over_an_rdd_not_a_local_relation(spark):
    """A LocalRelation leaf would make Catalyst's ConvertToLocalRelation
    evaluate the whole parse chain on the driver at every action. The
    lazy checkpoint behind the frame must also give the same rows to a
    second, different action."""
    recs = [
        {
            "id": i,
            "updated_at": f"2024-03-{i % 28 + 1:02d}T{i % 24:02d}:30:00",
            "team": {"id": str(i % 30) if i % 4 else None},
        }
        for i in range(2000)
    ]
    df = (
        records_to_df(spark, recs)
        .withColumn("updated_at", F.to_timestamp("updated_at"))
        .withColumn("team_id", F.col("team_id").cast("bigint"))
        .filter(F.col("id") % 2 == 0)
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan
    first = sorted(df.collect())
    again = df.orderBy(F.col("id").desc()).collect()
    assert len(first) == 1000
    assert sorted(again) == first
    assert first[3].id == 6 and str(first[3].updated_at) == "2024-03-07 06:30:00"
    assert first[3].team_id == 6 and first[2].team_id is None


# payload, and whether Arrow can type it like read.json (else fallback)
_TWIN_PAYLOADS = {
    "ragged_keys": (
        [{"b": "x", "a": 1}, {"a": 2, "c": 1.5}, {"d": True}, {}],
        True,
    ),
    "null_nested_struct": (
        [
            {"id": 1, "p": {"name": "prov", "id": 9}},
            {"id": 2, "p": None},
            {"id": 3, "p": {"id": 4}},
        ],
        True,
    ),
    "null_until_late": (
        [{"id": i, "v": None, "s": None} for i in range(60)]
        + [{"id": 60, "v": "late", "s": {"k": 1.5}}],
        True,
    ),
    "empty_list": (
        [{"id": 1, "tags": []}, {"id": 2, "tags": ["a", "b"]}, {"id": 3, "tags": None}],
        True,
    ),
    "list_of_structs": (
        [{"w": [{"z": 1, "a": "s"}, {"a": "t"}]}, {"w": []}],
        True,
    ),
    "only_empty_lists": ([{"id": 1, "tags": []}, {"id": 2, "tags": []}], False),
    "all_null_field": ([{"id": 1, "v": None}, {"id": 2, "v": None}], False),
    "mixed_int_string": ([{"v": 1}, {"v": "a"}], False),
    "mixed_bool_int": ([{"v": True}, {"v": 1}], False),
    "mixed_list_struct": ([{"v": [1]}, {"v": {"a": 1}}], False),
    "beyond_int64": ([{"v": 1}, {"v": 2**70}], False),
}


@pytest.mark.parametrize("name", sorted(_TWIN_PAYLOADS))
def test_records_to_df_arrow_path_matches_read_json(spark, name):
    """Twin paths: Arrow inference and the read.json fallback give the
    same columns, types and rows, flattened or not; payloads Arrow
    cannot type the same way must take the fallback."""
    recs, arrow_ok = _TWIN_PAYLOADS[name]
    assert (rest._arrow_df(spark, recs) is not None) == arrow_ok
    twin = rest._json_df(spark, recs)
    for got, want in (
        (records_to_df(spark, recs, flatten=False), twin),
        (records_to_df(spark, recs), flatten_struct_columns(twin)),
    ):
        assert got.schema == want.schema
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


# module-level so it pickles cleanly to executors
def _executor_transport(url, headers):
    if url.endswith("/boom"):
        return -1, "connection refused"
    content_id = url.rsplit("/", 1)[-1]
    return 200, json.dumps(
        {"report": [{"display": 7, "content": int(content_id), "shows": 3}]}
    )


def test_distributed_fetch_error_capture(spark):
    reqs = spark.createDataFrame(
        [(1, "http://api/report/1"), (2, "http://api/report/2"), (3, "http://api/boom")],
        "content_id long, url string",
    )
    fetched = distributed_fetch(reqs, _executor_transport)
    rows = {r.content_id: r for r in fetched.collect()}
    assert rows[1].status == 200 and rows[3].status == -1
    assert "refused" in rows[3].body

    ok = fetched.filter(F.col("status") == 200)
    parsed = parse_fetched_json(
        ok,
        "display int, content int, shows int",
        envelope_key="report",
    )
    got = {r.content: (r.display, r.shows) for r in parsed.collect()}
    assert got == {1: (7, 3), 2: (7, 3)}
    assert "body" not in parsed.columns


# ---- datatable-protocol pagination properties (r03 verdict item 8) ----

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(total=st.integers(0, 47), page_size=st.integers(1, 12))
def test_paginated_fetch_recovers_all_records(total, page_size):
    """A well-behaved datatable server (`L:78` protocol): any
    (total, page_size) combination — including ragged and empty last
    pages — yields exactly the full record list, in order."""
    data = [{"i": i} for i in range(total)]

    def transport(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        start, length = int(q["start"]), int(q["length"])
        return 200, json.dumps(data[start : start + length])

    recs = paginated_fetch(
        transport,
        "http://x?length={length}&start={start}",
        page_size=page_size,
        max_pages=100,
    )
    assert recs == data


@settings(max_examples=30, deadline=None)
@given(total=st.integers(1, 30), page_size=st.integers(1, 10))
def test_paginated_fetch_duplicate_page_defense(total, page_size):
    """A misbehaving server that ignores ``start=`` (always returns
    the first page) must not loop or duplicate: the walk stops as
    soon as a page repeats, so the result is exactly one page."""
    data = [{"i": i} for i in range(total)]

    def transport(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        return 200, json.dumps(data[: int(q["length"])])

    recs = paginated_fetch(
        transport,
        "http://x?length={length}&start={start}",
        page_size=page_size,
        max_pages=100,
    )
    assert recs == data[:page_size]


def test_paginated_fetch_id_key_survives_identical_pages():
    """With row identity, genuinely identical-looking consecutive
    pages keep paginating (the equality heuristic would truncate),
    and a server that ignores start= still stops after one page."""
    data = [{"id": i, "v": "same"} for i in range(5)]

    def honest(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        s, ln = int(q["start"]), int(q["length"])
        return 200, json.dumps(data[s : s + ln])

    recs = paginated_fetch(
        honest, "http://x?length={length}&start={start}",
        page_size=2, max_pages=10, id_key="id",
    )
    assert recs == data

    def stuck(url, headers):
        import urllib.parse as up

        q = dict(up.parse_qsl(up.urlsplit(url).query))
        return 200, json.dumps(data[: int(q["length"])])

    recs = paginated_fetch(
        stuck, "http://x?length={length}&start={start}",
        page_size=2, max_pages=10, id_key="id",
    )
    assert recs == data[:2]
