"""Golden tests for the MetricsRequest translator against engineered
fixtures (expected values computed by hand from the fixture design)."""

from __future__ import annotations

import pytest

from metrics_service_spark.plans.metrics_request import MetricsRequestPlanner, MetricsTables
from metrics_service_spark.testing.fixtures import make_tables


@pytest.fixture(scope="module")
def planner(spark):
    return MetricsRequestPlanner(spark, make_tables(spark))


def _rows(df):
    return [tuple(r) for r in df.collect()]


def request(filter_type, values, *, start="01/01/2018", end="03/01/2018", group_by=None):
    return {
        "metricsPage": {"total": 0, "start": 0, "count": 0},
        "metrics": ["citations", "downloads", "views"],
        "filterBy": [
            {"filterType": filter_type, "values": values, "interpretAs": "list"},
            {"filterType": "month", "values": [start, end], "interpretAs": "range"},
        ],
        "groupBy": group_by or ["month"],
    }


def test_dataset_landing_page(planner):
    df = planner.plan(request("dataset", ["doi:10.5063/A1"]))
    # (bucket, downloads, views, unique_downloads, unique_views, citations)
    # NOTE no "2018-03" row: the reference spine iterates
    # range((end-start).days) — END-DAY EXCLUSIVE — so a range ending
    # 03/01 contributes no March bucket (metricsreader.py:1030).
    assert _rows(df) == [
        ("2017-12", 0, 0, 0, 0, 1),  # citation-only month, outer-merged
        ("2018-01", 2, 3, 2, 2, 0),  # robots excluded; dup eventId -> uniq 2
        ("2018-02", 2, 0, 2, 0, 1),  # family member A2 counted; B1 not
    ]


def test_dataset_response_shape(planner):
    resp = planner.response(request("dataset", ["doi:10.5063/A1"]))
    assert resp["results"]["months"] == ["2017-12", "2018-01", "2018-02"]
    assert resp["results"]["downloads"] == [0, 2, 2]
    assert resp["results"]["views"] == [0, 3, 0]
    assert resp["results"]["citations"] == [1, 0, 1]
    assert resp["resultDetails"] == {
        "totalDownloads": 4,
        "totalViews": 3,
        "totalCitations": 2,
    }


def test_dataset_by_sid(planner):
    # filtering by the series id resolves the same family
    df = planner.plan(request("dataset", ["urn:sid:A"]))
    assert _rows(df)[1] == ("2018-01", 2, 3, 2, 2, 0)


def test_repository_filter(planner):
    df = planner.plan(request("repository", ["urn:node:ARCTIC"]))
    by_bucket = {r[0]: tuple(r) for r in df.collect()}
    # only the two B1 events, one DATA one METADATA, both in Feb
    assert by_bucket["2018-02"][1:3] == (1, 1)
    assert by_bucket["2018-01"][1:3] == (0, 0)


def test_portal_filter(planner):
    df = planner.plan(request("portal", ["urn:sid:portalX"]))
    by_bucket = {r[0]: tuple(r) for r in df.collect()}
    assert by_bucket["2018-01"][1] == 1  # e02 only (e03/e04 are robots)
    assert by_bucket["2018-02"][1] == 1  # e12


def test_user_path_public_only(planner):
    # alice owns public family A
    df = planner.plan(request("user", ["uid=alice"]))
    assert {r[0]: r[1] for r in df.collect()}["2018-01"] == 2
    # bob's family is non-public -> nothing
    df_bob = planner.plan(request("user", ["uid=bob"]))
    assert all(r[1] == 0 and r[2] == 0 for r in df_bob.collect())


def test_day_aggregation(planner):
    df = planner.plan(
        request("dataset", ["doi:10.5063/A1"], start="01/02/2018", end="01/06/2018", group_by=["day"])
    )
    rows = _rows(df)
    # spine is the request days [start, end) — the 6th is excluded by
    # the end-exclusive spine AND its event e05 (METADATA, 12:00 on the
    # 6th) is excluded by the lte-midnight end bound (reference parses
    # MM/dd/yyyy to 00:00).  Citation-only buckets outside the range
    # are appended (J6 unseen-citation-month semantics).
    assert [r[0] for r in rows] == [
        "2017-12-01",
        "2018-01-02", "2018-01-03", "2018-01-04", "2018-01-05",
        "2018-02-15",
    ]
    assert [r[1] for r in rows] == [0, 1, 1, 0, 0, 0]
    assert [r[2] for r in rows] == [0, 0, 0, 0, 0, 0]
    assert [r[5] for r in rows] == [1, 0, 0, 0, 0, 1]


def test_start_bound_is_strict(spark, planner):
    """The reference filters dateLogged with strict gt on the start
    instant (metricselasticsearch.py:261): an event logged exactly at
    start-day midnight is NOT counted."""
    from metrics_service_spark.testing.fixtures import make_tables
    import datetime as dt

    tables = make_tables(spark)
    midnight = tables.events.limit(1).collect()[0].asDict()
    midnight.update(
        eventId="e_mid",
        dateLogged=dt.datetime(2018, 1, 2, 0, 0, 0),
        formatType="DATA",
    )
    ev2 = tables.events.union(
        spark.createDataFrame([tuple(midnight.values())], tables.events.schema)
    )
    p = MetricsRequestPlanner(
        spark, type(tables)(ev2, tables.identifiers, tables.citations)
    )
    df = p.plan(
        request("dataset", ["doi:10.5063/A1"], start="01/02/2018", end="01/06/2018", group_by=["day"])
    )
    by_day = {r[0]: r[1] for r in df.collect()}
    assert by_day["2018-01-02"] == 1  # e01 at 12:00 only; e_mid excluded


def test_full_text_scope_yields_empty(planner):
    """interpretAs values other than 'list' on a scope filter fall
    through every reference dispatcher branch (metricsreader.py:126-156)
    and return empty results; mirrored as a scope matching nothing."""
    req = request("dataset", ["doi:10.5063/A1"])
    req["filterBy"][0]["interpretAs"] = "full_text"
    df = planner.plan(req)
    assert all(
        r["downloads"] == 0 and r["views"] == 0 for r in df.collect()
    )


def test_month_filter_with_list_interpret_is_ignored(planner):
    """A date filter not flagged interpretAs=range is ignored by the
    reference (metricsreader.py:282): no range filter, no spine."""
    req = request("dataset", ["doi:10.5063/A1"])
    req["filterBy"][1]["interpretAs"] = "list"
    df = planner.plan(req)
    months = [r["bucket"] for r in df.collect()]
    assert months == ["2017-12", "2018-01", "2018-02"]  # data-driven, no spine


def test_country_grouping(planner):
    df = planner.plan(request("dataset", ["doi:10.5063/A1"], group_by=["month", "country"]))
    rows = {(r["bucket"], r["country"]): r["downloads"] for r in df.collect()}
    assert rows[("2018-02", "DE")] == 1
    assert rows[("2018-02", "US")] == 1


# --- golden: the documented catalog-page request/response pair -------------
# /root/reference notes.rst documents one verbatim request from the search
# UI browse page (25 catalog PIDs + month range, groupBy month) and its
# response.  The fixture below realizes exactly the documented per-dataset
# unique counts; the response must reproduce the documented structure and
# the documented pid -> count mapping (the reference's array order came
# from a pre-3.7 dict; ours is request order, so compare as mappings).

NOTES_RST_REQUEST_VALUES = [
    "p1161.ds2423_20181010_0300", "p1151.ds2412_20181010_0300",
    "urn:uuid:2e9143a6-2623-46be-9cc5-788c238f27ea", "PPBioMA.50.4",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/93/1",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/45/1",
    "doi:10.6067:XCV8446794_meta$v=1538938553701",
    "doi:10.6067:XCV8446793_meta$v=1538934411225",
    "p10.ds237_20181007_0300", "p17.ds2553_20181006_0302",
    "p1284.ds2551_20181006_0302", "p1284.ds2550_20181006_0302",
    "p17.ds2547_20181006_0302", "p17.ds2546_20181006_0301",
    "p17.ds2545_20181006_0301", "p1229.ds2543_20181006_0301",
    "p1279.ds2539_20181006_0301", "p1279.ds2538_20181006_0301",
    "p1278.ds2537_20181006_0301", "p1278.ds2536_20181006_0301",
    "p1278.ds2535_20181006_0301", "p1278.ds2534_20181006_0301",
    "p1278.ds2533_20181006_0301", "p1278.ds2532_20181006_0301",
    "p43.ds2520_20181006_0301",
]

NOTES_RST_DATASETS = [
    "p1278.ds2534_20181006_0301", "p17.ds2546_20181006_0301",
    "p1278.ds2537_20181006_0301", "p10.ds237_20181007_0300",
    "urn:uuid:2e9143a6-2623-46be-9cc5-788c238f27ea",
    "doi:10.6067:XCV8446794_meta$v=1538938553701",
    "p1279.ds2538_20181006_0301",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/93/1",
    "p1278.ds2535_20181006_0301", "p17.ds2545_20181006_0301",
    "p1151.ds2412_20181010_0300", "p1278.ds2533_20181006_0301",
    "p17.ds2553_20181006_0302", "p1284.ds2551_20181006_0302",
    "p43.ds2520_20181006_0301", "p1284.ds2550_20181006_0302",
    "p1279.ds2539_20181006_0301", "p1229.ds2543_20181006_0301",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/45/1",
    "doi:10.6067:XCV8446793_meta$v=1538934411225", "PPBioMA.50.4",
    "p1161.ds2423_20181010_0300", "p1278.ds2536_20181006_0301",
    "p1278.ds2532_20181006_0301", "p17.ds2547_20181006_0302",
]
NOTES_RST_VIEWS = [3, 3, 3, 5, 13, 0, 3, 3, 3, 3, 2, 3, 5, 3, 3, 3, 3, 3, 3, 0, 3, 4, 3, 3, 3]
NOTES_RST_DOWNLOADS = [0, 0, 0, 0, 15, 0, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 4, 0, 0, 0, 0, 0, 0]

NOTES_RST_REQUEST = {
    "metricsPage": {"total": 0, "start": 0, "count": 0},
    "metrics": ["citations", "downloads", "views"],
    "filterBy": [
        {
            "filterType": "catalog",
            "values": NOTES_RST_REQUEST_VALUES,
            "interpretAs": "list",
        },
        {
            "filterType": "month",
            "values": ["01/01/2000", "10/16/2018"],
            "interpretAs": "range",
        },
    ],
    "groupBy": ["month"],
}


@pytest.fixture(scope="module")
def notes_rst_planner(spark):
    from metrics_service_spark.schemas import (
        CITATION_SCHEMA,
        EVENT_SCHEMA,
        IDENTIFIER_SCHEMA,
    )
    from metrics_service_spark.plans.metrics_request import MetricsTables
    from metrics_service_spark.testing.fixtures import _ev

    doc_views = dict(zip(NOTES_RST_DATASETS, NOTES_RST_VIEWS))
    doc_downloads = dict(zip(NOTES_RST_DATASETS, NOTES_RST_DOWNLOADS))
    events, identifiers = [], []
    for i, pid in enumerate(NOTES_RST_REQUEST_VALUES):
        identifiers.append((pid, None, [pid], True, "METADATA", ["uid=u"], [pid]))
        for j in range(doc_views[pid]):
            events.append(_ev(f"v{i}_{j}", pid, (j % 27) + 1, fmt="METADATA"))
        for j in range(doc_downloads[pid]):
            events.append(_ev(f"d{i}_{j}", pid, (j % 27) + 1, fmt="DATA"))
    tables = MetricsTables(
        events=spark.createDataFrame(events, EVENT_SCHEMA),
        identifiers=spark.createDataFrame(identifiers, IDENTIFIER_SCHEMA),
        citations=spark.createDataFrame([], CITATION_SCHEMA),
    )
    return MetricsRequestPlanner(spark, tables)


def test_notes_rst_catalog_golden_pair(notes_rst_planner):
    resp = notes_rst_planner.response(NOTES_RST_REQUEST)
    # top-level and results structure exactly as documented
    assert set(resp) == {"results", "metricsRequest", "resultDetails"}
    assert resp["metricsRequest"] == NOTES_RST_REQUEST
    assert resp["resultDetails"] == {}
    results = resp["results"]
    assert set(results) == {
        "views", "country", "citations", "datasets", "downloads", "months",
    }
    assert results["country"] == [] and results["months"] == []
    # parallel arrays: one entry per requested dataset, request order
    assert results["datasets"] == NOTES_RST_REQUEST_VALUES
    for key in ("views", "downloads", "citations"):
        assert len(results[key]) == len(NOTES_RST_REQUEST_VALUES)
    # per-dataset values match the documented pairing
    got_views = dict(zip(results["datasets"], results["views"]))
    got_downloads = dict(zip(results["datasets"], results["downloads"]))
    assert got_views == dict(zip(NOTES_RST_DATASETS, NOTES_RST_VIEWS))
    assert got_downloads == dict(zip(NOTES_RST_DATASETS, NOTES_RST_DOWNLOADS))
    assert results["citations"] == [0] * 25


def test_oracle_mx_guard_fires_loudly():
    # ADVICE r14: if the synthetic pid suffix domain ever exceeds the
    # over-generated series bound, the oracle must ERROR, not silently
    # under-cover.  Force the measured bound past the guard and prove
    # the DuckDB error() actually fires (and short-circuits when not).
    import re

    import duckdb
    import pytest

    from metrics_service_spark.catalog.request import ORACLE_USER_REQUEST

    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id INT, ts TIMESTAMP, user_id INT, event_type VARCHAR, value INT, props VARCHAR)")
    con.execute("INSERT INTO events VALUES (1, TIMESTAMP '2024-01-05 00:00:00', 3, 'view', 5, '{\"k\": \"7\"}')")
    # sanity: with mx <= 9999 the query runs (guard short-circuits)
    con.execute(ORACLE_USER_REQUEST).fetchall()
    breached = re.sub(
        r"bound AS \(\n.*?\n\)", "bound AS (SELECT 10000 AS mx)",
        ORACLE_USER_REQUEST, count=1, flags=re.S,
    )
    assert "SELECT 10000 AS mx" in breached
    with pytest.raises(Exception, match="series guard"):
        con.execute(breached).fetchall()


# --- the driver-resolved family ----------------------------------------------
# A request collects its identifier family once and filters with the
# literal list.  The expected rows below are those of the earlier
# broadcast-join planner on the same inputs.


def test_unmatched_id_gives_all_zero_spine(planner):
    # an empty family filters out every event and citation: the month
    # spine remains, all zeros, and nothing raises
    req = request("dataset", ["doi:10.5063/NONE"])
    assert _rows(planner.plan(req)) == [
        ("2018-01", 0, 0, 0, 0, 0),
        ("2018-02", 0, 0, 0, 0, 0),
    ]
    assert planner.response(req)["resultDetails"] == {
        "totalDownloads": 0,
        "totalViews": 0,
        "totalCitations": 0,
    }
    # a value cannot break out of its literal in the pid list, and a
    # value that is not a string is refused
    assert _rows(planner.plan(request("dataset", ["x' OR true OR 'y"]))) == _rows(
        planner.plan(req)
    )
    with pytest.raises(TypeError, match="must be strings"):
        planner.plan(request("dataset", [7]))
    # grouped by country there are no observed countries to spread the
    # spine over, so the result is empty
    by_country = request("dataset", ["doi:10.5063/NONE"], end="01/04/2018", group_by=["day", "country"])
    assert _rows(planner.plan(by_country)) == []


def test_user_with_only_private_datasets(planner):
    # bob's one dataset is not public: the family is empty, and so are
    # both the event and the citation side
    assert _rows(planner.plan(request("user", ["uid=bob"]))) == [
        ("2018-01", 0, 0, 0, 0, 0),
        ("2018-02", 0, 0, 0, 0, 0),
    ]


def _null_member_planner(spark):
    from metrics_service_spark.schemas import EVENT_SCHEMA, IDENTIFIER_SCHEMA
    from metrics_service_spark.testing.fixtures import A1, A2, AMAP, _ev

    t = make_tables(spark)
    ids = spark.createDataFrame(
        [(A1, "urn:sid:A", [A1], True, "METADATA", ["uid=alice"], [A1, None, A2, AMAP])],
        IDENTIFIER_SCHEMA,
    )
    # an event with a NULL pid, which the NULL family member must not match
    ev = t.events.union(spark.createDataFrame([_ev("e_null", None, 20)], EVENT_SCHEMA))
    return MetricsRequestPlanner(spark, MetricsTables(ev, ids, t.citations))


def test_null_family_member_matches_nothing(spark, planner):
    from metrics_service_spark.testing.fixtures import A1

    p = _null_member_planner(spark)
    # family_pids still returns the NULL row ...
    assert None in [r.pid for r in p.family_pids("dataset", [A1]).collect()]
    # ... but neither the NULL-pid event nor any citation matches it:
    # the rows equal those of the family without the NULL
    assert _rows(p.plan(request("dataset", [A1]))) == _rows(
        planner.plan(request("dataset", [A1]))
    ) == [
        ("2017-12", 0, 0, 0, 0, 1),
        ("2018-01", 2, 3, 2, 2, 0),
        ("2018-02", 2, 0, 2, 0, 1),
    ]
    assert _rows(p.plan(request("user", ["uid=alice"], group_by=["month", "country"]))) == [
        ("2017-12", None, 0, 0, 0, 0, 1),
        ("2018-01", "DE", 0, 0, 0, 0, 0),
        ("2018-01", "US", 2, 3, 2, 2, 0),
        ("2018-02", "DE", 1, 0, 1, 0, 1),
        ("2018-02", "US", 1, 0, 1, 0, 1),
    ]
    summary = {
        r.seed: tuple(r)[1:]
        for r in p.catalog_summary_frame(
            {"filterBy": [{"filterType": "catalog", "values": [A1, "x"]}]}
        ).collect()
    }
    assert summary == {A1: (4, 2, 3), "x": (0, 0, 0)}


MIXED = "doi:10.5063/MiXeD?ver=2"
UNICODE = "doi:10.5063/Ünï"
QUOTED = "doi:10.5063/O'Neil\\x"


@pytest.fixture(scope="module")
def mixed_planner(spark):
    """One public dataset whose family holds a mixed-case pid with a
    Dryad '?suffix', a non-ASCII pid, and a pid with a quote and a
    backslash (which the literal list must escape)."""
    from metrics_service_spark.schemas import (
        CITATION_SCHEMA,
        EVENT_SCHEMA,
        IDENTIFIER_SCHEMA,
    )
    from metrics_service_spark.testing.fixtures import _ev

    ids = spark.createDataFrame(
        [(MIXED, None, [MIXED], True, "DATA", ["uid=carol"], [MIXED, UNICODE, QUOTED])],
        IDENTIFIER_SCHEMA,
    )
    events = spark.createDataFrame(
        [_ev("m1", MIXED, 3), _ev("m2", UNICODE, 4, fmt="METADATA"), _ev("m3", QUOTED, 5)],
        EVENT_SCHEMA,
    )

    def cite(target, source, date):
        return (target, source, None, date, None, None, None, None, None, "cites")

    cites = spark.createDataFrame(
        [
            cite("10.5063/mixed", "s1", "2018-01-05"),  # suffix stripped
            cite("10.5063/MIXED", "s2", "2018-01-06"),  # both sides lowercased
            cite("10.5063/mixed?ver=2", "s3", "2018-01-07"),  # no: the pid loses its suffix
            cite("10.5063/ÜNÏ", "s4", "2018-02-01"),  # Unicode lowercasing
            cite("10.5063/ünï", "s5", "2018-02-02"),
            cite("MiXeD", "s6", "2018-02-03"),  # any substring
            cite("10.5063/other", "s7", "2018-02-04"),  # no
            cite("10.5063/o'neil\\x", "s8", "2018-02-05"),
            cite("O'NEIL", "s9", "2018-02-06"),
            cite("neil\\\\x", "s10", "2018-02-07"),  # no: two backslashes
        ],
        CITATION_SCHEMA,
    )
    return MetricsRequestPlanner(spark, MetricsTables(events, ids, cites))


def test_mixed_case_suffixed_pid_against_citations(mixed_planner):
    expected = [("2018-01", 2, 1, 2, 1, 2), ("2018-02", 0, 0, 0, 0, 5)]
    assert _rows(mixed_planner.plan(request("dataset", [MIXED]))) == expected
    assert _rows(mixed_planner.plan(request("user", ["uid=carol"]))) == expected
    # per seed, on the catalog-summary path; a repeated id keeps its row
    values = [MIXED, UNICODE, QUOTED, "doi:10.5063/none", MIXED]
    rows = mixed_planner.catalog_summary_frame(
        {"filterBy": [{"filterType": "catalog", "values": values}]}
    ).collect()
    assert sorted(map(tuple, rows)) == [
        (MIXED, 2, 1, 7),
        (MIXED, 2, 1, 7),
        (QUOTED, 2, 1, 7),
        ("doi:10.5063/none", 0, 0, 0),
        (UNICODE, 2, 1, 7),
    ]


# --- the date spine -------------------------------------------------------------
SPINE_CASES = [
    # the end is exclusive: a range ending on the 1st has no bucket for it
    ("2024-01-01", "2024-03-01", "month", ["2024-01", "2024-02"]),
    ("2024-01-29", "2024-02-01", "day", ["2024-01-29", "2024-01-30", "2024-01-31"]),
    ("2024-01-15", "2024-01-15", "day", []),
    ("2024-01-15", "2024-01-15", "month", []),
    ("2023-11-20", "2024-02-10", "month", ["2023-11", "2023-12", "2024-01", "2024-02"]),
    ("2023-06-01", "2025-01-01", "year", ["2023", "2024"]),
    ("2023-06-01", "2025-01-02", "year", ["2023", "2024", "2025"]),
]


@pytest.mark.parametrize("start,end,agg_type,expected", SPINE_CASES)
def test_spine_matches_sequence_distinct(spark, start, end, agg_type, expected):
    """The array-expression spine gives, in order, the bucket set of a
    `sequence -> explode -> filter(< end) -> date_format -> distinct`
    spine."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from metrics_service_spark.plans.metrics_request import AGG_FORMATS, spine_buckets

    first, last = (F.lit(d).cast("date") for d in (start, end))
    old = (
        spark.range(1)
        .select(F.explode(F.sequence(first, last, F.expr("INTERVAL 1 DAY"))).alias("d"))
        .filter(F.col("d") < last)
        .select(F.date_format("d", AGG_FORMATS[agg_type]).alias("bucket"))
        .distinct()
    )
    new = spine_buckets(datetime.fromisoformat(start), datetime.fromisoformat(end), agg_type)
    got = spark.range(1).selectExpr(f"{new} AS b").first().b
    assert got == sorted(r.bucket for r in old.collect()) == expected


def test_spine_in_requests(planner):
    from metrics_service_spark.testing.fixtures import A1

    # start == end: no spine, and the range holds no event; the family's
    # citations outside it still surface
    same_day = [("2017-12", 0, 0, 0, 0, 1), ("2018-02", 0, 0, 0, 0, 1)]
    assert _rows(planner.plan(request("dataset", [A1], start="01/15/2018", end="01/15/2018"))) == same_day
    # a month range across the year end
    assert _rows(planner.plan(request("dataset", [A1], start="11/20/2017", end="02/10/2018"))) == [
        ("2017-11", 0, 0, 0, 0, 0),
        ("2017-12", 0, 0, 0, 0, 1),
        ("2018-01", 2, 3, 2, 2, 0),
        ("2018-02", 0, 0, 0, 0, 1),
    ]
    # year buckets; the range ends before any event (lte midnight of
    # the 2nd), and 2018 is a spine year through its first day
    assert _rows(
        planner.plan(request("dataset", [A1], start="06/01/2016", end="01/02/2018", group_by=["year"]))
    ) == [("2016", 0, 0, 0, 0, 0), ("2017", 0, 0, 0, 0, 1), ("2018", 0, 0, 0, 0, 1)]
    # day x country: the spine spreads over the observed countries,
    # citation-only days keep their NULL country
    assert _rows(
        planner.plan(
            request("repository", ["urn:node:KNB"], start="12/30/2017", end="01/04/2018", group_by=["day", "country"])
        )
    ) == [
        ("2017-12-01", None, 0, 0, 0, 0, 1),
        ("2017-12-30", "US", 0, 0, 0, 0, 0),
        ("2017-12-31", "US", 0, 0, 0, 0, 0),
        ("2018-01-01", "US", 0, 0, 0, 0, 0),
        ("2018-01-02", "US", 1, 0, 1, 0, 0),
        ("2018-01-03", "US", 1, 0, 1, 0, 0),
        ("2018-01-20", None, 0, 0, 0, 0, 1),
        ("2018-02-15", None, 0, 0, 0, 0, 1),
    ]


# --- Spark jobs per request ---------------------------------------------------
# Under AQE every exchange is a job: the family job, two for the
# distinct aggregation, two for the citation dedupe and count, and the
# result stage.  A scope without a family (repository, portal) skips
# the family job and the dedupe; a catalog/package request with several
# ids takes the per-dataset summary branch (the family job, the two
# exchanges of its one aggregation, the result stage).
REQUEST_JOBS = {
    "metrics_request_landing": ("LANDING_REQUEST", 6),
    "metrics_request_daily_country": ("DAILY_COUNTRY_REQUEST", 6),
    "metrics_request_user": ("USER_REQUEST", 6),
    "metrics_request_group": ("GROUP_REQUEST", 6),
    "metrics_request_repository": ("REPOSITORY_REQUEST", 4),
    "metrics_request_portal": ("PORTAL_REQUEST", 4),
    "metrics_request_package": ("PACKAGE_REQUEST", 4),
    "metrics_request_catalog_summary": ("CATALOG_SUMMARY_REQUEST", 4),
}


@pytest.fixture(scope="module")
def catalog_planner(spark, sf_dir):
    from metrics_service_spark.catalog.request import _tables

    return MetricsRequestPlanner(spark, _tables(spark, sf_dir))


@pytest.mark.parametrize("entry", sorted(REQUEST_JOBS))
def test_request_job_count_pinned(spark, catalog_planner, entry):
    """One `response()` of each catalog request launches exactly its
    pinned number of Spark jobs, counted by job id under the request's
    own job group (not by the length of Spark's retained job list)."""
    from metrics_service_spark.catalog import request as catalog

    name, pinned = REQUEST_JOBS[entry]
    sc = spark.sparkContext
    group = f"job-count-{entry}"
    sc.setJobGroup(group, entry)
    try:
        catalog_planner.response(getattr(catalog, name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(set(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs == pinned, f"{entry}: {jobs} Spark jobs, pinned at {pinned}"
