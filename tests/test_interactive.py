"""Interactive query layer (HTTP facade over the store registry) + topic
admin parity.  Mirrors ref store/http.go endpoints and admin mocks."""

import json
import urllib.request

import pytest

from kstream_spark import StreamBuilder
from kstream_spark.admin import InMemoryTopicAdmin, Topic, live_admin
from kstream_spark.stores.http import StoreHttpServer


@pytest.fixture(scope="module")
def server(spark):
    b = StreamBuilder(spark)
    df = spark.createDataFrame(
        [(1, 1, "alpha", "x"), (2, 1, "beta", "y"), (1, 2, "alpha2", "x")],
        "key long, version long, payload string, tag string")
    b.stores.materialize("accounts", df, key="key", version="version")
    srv = StoreHttpServer(b.stores).start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, json.loads(r.read())


def test_list_stores(server):
    assert _get(server, "/stores") == (200, ["accounts"])


def test_full_scan(server):
    code, rows = _get(server, "/stores/accounts")
    assert code == 200
    assert {r["key"]: r["payload"] for r in rows} == {1: "alpha2", 2: "beta"}


def test_full_scan_limit(server):
    """?limit= caps the scan (ref pages via an iterator, http.go:149-192 —
    collect() needs an explicit cap instead)."""
    code, rows = _get(server, "/stores/accounts?limit=1")
    assert code == 200 and len(rows) == 1
    # default cap exists (not unbounded): monkeying the constant is not
    # observable over HTTP with 2 rows, so assert the parse path accepts
    # a larger explicit limit too
    code, rows = _get(server, "/stores/accounts?limit=50")
    assert code == 200 and len(rows) == 2


def test_full_scan_truncation_signal(server):
    """A capped scan is distinguishable from a complete one: X-Truncated
    header flips when rows were dropped (ref returns the complete store,
    so a silent cap would be a parity lie)."""
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/stores/accounts?limit=1") as r:
        assert r.status == 200
        assert r.headers["X-Truncated"] == "true"
        assert len(json.loads(r.read())) == 1
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/stores/accounts?limit=50") as r:
        assert r.headers["X-Truncated"] == "false"


def test_full_scan_bad_limit_400(server):
    """A bad ?limit= (or ?offset=) answers 400 naming the parameter and
    the rejected value — on the paged scan and the index dump alike."""
    for path, text in (
            ("/stores/accounts?limit=abc", "bad limit/offset: 'abc'/0"),
            ("/stores/accounts?limit=-1", "bad limit/offset: -1/0"),
            ("/stores/accounts?offset=-2", "bad limit/offset: 10000/-2"),
            ("/stores/accounts/indexes/tag?limit=abc", "bad limit: 'abc'"),
            ("/stores/accounts/indexes/tag?limit=-1", "bad limit: -1")):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(server, path)
        assert ei.value.code == 400
        assert json.loads(ei.value.read()) == {"error": text}


def test_point_lookup_and_miss(server):
    code, row = _get(server, "/stores/accounts/1")
    assert code == 200 and row["payload"] == "alpha2"
    try:
        code, _ = _get(server, "/stores/accounts/99")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_index_lookup(server):
    code, rows = _get(server, "/stores/accounts/indexes/tag/y")
    assert code == 200 and [r["key"] for r in rows] == [2]


def test_global_index_listing(server):
    """GET /indexes (ref http.go:138-147): every store's index-able
    columns — in the Spark model, the non-key schema columns."""
    code, idx = _get(server, "/indexes")
    assert code == 200
    assert idx == {"accounts": ["payload", "tag", "version"]}


def test_store_index_listing(server):
    """GET /stores/{s}/indexes (ref http.go:194-250) lists the store's
    index-able columns; the route shadows a literal key 'indexes' the
    same way the reference's mux does."""
    code, idx = _get(server, "/stores/accounts/indexes")
    assert code == 200
    assert idx == ["payload", "tag", "version"]


def test_unknown_store_404(server):
    import urllib.error
    try:
        code, _ = _get(server, "/stores/nope")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_topic_admin_roundtrip():
    admin = InMemoryTopicAdmin()
    admin.create_topics({"t1": Topic("t1", num_partitions=4)})
    t = admin.ensure_changelog_topic("t1")
    assert t.config["cleanup.policy"] == "compact"
    info = admin.fetch_info(["t1", "t1_changelog", "absent"])
    assert set(info) == {"t1", "t1_changelog"}
    admin.delete_topics(["t1"])
    assert admin.fetch_info(["t1"]) == {}


def test_live_admin_gated():
    with pytest.raises(NotImplementedError):
        live_admin("broker:9092")


def test_full_scan_offset_paging_walks_complete_store(spark):
    """The reference pages the COMPLETE store through an iterator
    (store/http.go:149-192); here ?offset= + the X-Next-Offset
    continuation header walk every row in deterministic key order —
    a store larger than one page is fetched page by page with no gaps,
    repeats, or reordering."""
    b = StreamBuilder(spark)
    df = spark.createDataFrame(
        [(i, 1, f"p{i}") for i in range(25)],
        "key long, version long, payload string")
    b.stores.materialize("paged", df, key="key", version="version")
    srv = StoreHttpServer(b.stores).start()
    try:
        got, offset, pages = [], 0, 0
        while True:
            with urllib.request.urlopen(
                    f"http://127.0.0.1:{srv.port}/stores/paged"
                    f"?limit=7&offset={offset}") as r:
                assert r.status == 200
                rows = json.loads(r.read())
                got.extend(rows)
                pages += 1
                if r.headers["X-Truncated"] == "false":
                    assert "X-Next-Offset" not in r.headers
                    break
                offset = int(r.headers["X-Next-Offset"])
        assert pages == 4                       # 7 + 7 + 7 + 4
        assert [r["key"] for r in got] == list(range(25))
        # arbitrary-offset entry is deterministic too (not just the walk)
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stores/paged"
                f"?limit=5&offset=20") as r:
            assert [x["key"] for x in json.loads(r.read())] == \
                [20, 21, 22, 23, 24]
            assert r.headers["X-Truncated"] == "false"
    finally:
        srv.stop()


def test_index_dump(server):
    """GET /stores/{s}/indexes/{index} (ref http.go:251-331): the whole
    index as a map of json-encoded index value -> record keys."""
    code, idx = _get(server, "/stores/accounts/indexes/tag")
    assert code == 200
    assert idx == {'"x"': [1], '"y"': [2]}
    code, idx = _get(server, "/stores/accounts/indexes/version")
    assert code == 200
    assert idx == {"1": [2], "2": [1]}
    try:
        code, _ = _get(server, "/stores/accounts/indexes/nope")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_index_dump_truncation_signal(server):
    """A ?limit=-capped index dump is distinguishable from a complete
    one: X-Truncated flips exactly like the paged-scan route (the ref
    dumps idx.Values() wholesale, so a silent cap would be a parity
    lie)."""
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}"
            f"/stores/accounts/indexes/tag?limit=1") as r:
        assert r.status == 200
        assert r.headers["X-Truncated"] == "true"
        assert len(json.loads(r.read())) == 1
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}"
            f"/stores/accounts/indexes/tag?limit=50") as r:
        assert r.headers["X-Truncated"] == "false"
        assert json.loads(r.read()) == {'"x"': [1], '"y"': [2]}


def _code(srv, path):
    try:
        return _get(srv, path)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_lookup_segments_decode_by_column_type(spark):
    """Point and index segments decode by the column's Spark type, as the
    reference's key encoder does: on a string key '007' is the string
    '007', on a long key it is 7; a segment that does not parse as the
    column's type answers 400, an unknown index column 404."""
    b = StreamBuilder(spark)
    b.stores.materialize("str", spark.createDataFrame(
        [("a", 1, 7), ("007", 1, 8), ("123", 1, 7)],
        "key string, version long, n long"), key="key", version="version")
    b.stores.materialize("num", spark.createDataFrame(
        [(7, 1, 2.5), (8, 1, 2.5)], "key long, version long, x double"),
        key="key", version="version")
    srv = StoreHttpServer(b.stores).start()
    try:
        assert _code(srv, "/stores/str/123")[1]["key"] == "123"
        assert _code(srv, "/stores/str/007")[1]["key"] == "007"
        assert _code(srv, "/stores/str/7")[0] == 404
        assert _code(srv, "/stores/num/007") == (
            200, {"key": 7, "version": 1, "x": 2.5})
        assert sorted(r["key"] for r in
                      _code(srv, "/stores/str/indexes/n/7")[1]) == ["123", "a"]
        assert sorted(r["key"] for r in
                      _code(srv, "/stores/num/indexes/x/2.5")[1]) == [7, 8]
        for path in ("/stores/num/a", "/stores/num/9223372036854775808",
                     "/stores/num/1_0", "/stores/str/indexes/n/x",
                     "/stores/num/indexes/x/abc"):
            code, body = _code(srv, path)
            assert code == 400 and body["error"].startswith("bad "), path
        assert _code(srv, "/stores/num/indexes/nope/1") == (
            404, {"error": "index dose not exist: nope"})
        assert _code(srv, "/stores/nope/1") == (
            404, {"error": "store not found: nope"})
    finally:
        srv.stop()


def test_decode_segment_by_type():
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    from kstream_spark.stores.http import decode_segment
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    for text, dtype, want in (
            ("007", T.StringType(), "007"), ("007", T.LongType(), 7),
            ("-128", T.ByteType(), -128), ("-2.5", T.DoubleType(), -2.5),
            ("True", T.BooleanType(), True),
            ("1.50", T.DecimalType(4, 2), Decimal("1.50")),
            ("2024-01-02", T.DateType(), ts.date()),
            ("2024-01-02T03:04:05", T.TimestampType(), ts),
            ("2024-01-02T03:04:05", T.TimestampNTZType(), ts),
            ("2024-01-02T03:04:05+00:00", T.TimestampType(),
             ts.replace(tzinfo=datetime.timezone.utc).astimezone()
             .replace(tzinfo=None))):
        assert decode_segment(text, dtype) == want, (text, dtype)
    for text, dtype in (
            ("128", T.ByteType()), ("9223372036854775808", T.LongType()),
            ("1_0", T.LongType()), (" 7", T.LongType()), ("7.0", T.LongType()),
            ("x", T.DoubleType()), ("yes", T.BooleanType()),
            ("NaN", T.DecimalType(4, 2)), ("x", T.DecimalType(4, 2)),
            ("2024-13-01", T.DateType()),
            ("2024-01-02T03:04:05+00:00", T.TimestampNTZType()),
            ("1", T.ArrayType(T.LongType()))):
        with pytest.raises((ValueError, ArithmeticError)):
            decode_segment(text, dtype)
