"""Unit tests for the WARC source (sources/warc.py)."""

from py_image_toolkit_spark.sources.warc import warc_records


def build_warc(records: list[tuple[str, str, str, bytes]]) -> bytes:
    """Serialize (warc_type, url, date, payload) tuples into WARC bytes:
    the inverse of ``warc_records``."""
    out = bytearray()
    for warc_type, url, date, payload in records:
        hdr = (
            f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
            f"WARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(payload)}\r\n"
        ).encode()
        out += hdr + b"\r\n" + payload + b"\r\n\r\n"
    return bytes(out)


def http_response(body: bytes, status: int = 200) -> bytes:
    """Wrap a body in a minimal HTTP response message."""
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode() + b"\r\n" + body


def _blob_df(spark, rows):
    return spark.createDataFrame(rows, "blob_id long, data binary")


def test_warc_roundtrip(spark):
    body = "<html><body>hello</body></html>".encode()
    blob = build_warc(
        [
            (
                "response",
                "https://a.example/1",
                "2024-01-02T03:04:05Z",
                http_response(body),
            ),
            (
                "request",
                "https://a.example/1",
                "2024-01-02T03:04:05Z",
                b"GET / HTTP/1.1\r\n\r\n",
            ),
        ]
    )
    out = warc_records(_blob_df(spark, [(7, blob)])).orderBy("record_idx").collect()
    assert len(out) == 2
    r0, r1 = out
    assert (r0.blob_id, r0.record_idx, r0.warc_type) == (7, 0, "response")
    assert r0.url == "https://a.example/1"
    assert r0.warc_date == "2024-01-02T03:04:05Z"
    assert r0.http_status == 200
    assert bytes(r0.body) == body
    assert r0.ok is True and r0.error is None
    # non-response records carry the raw payload, no HTTP split
    assert (r1.warc_type, r1.http_status, r1.body) == ("request", None, None)
    assert bytes(r1.payload) == b"GET / HTTP/1.1\r\n\r\n"


def test_warc_payload_may_contain_separator(spark):
    # Content-Length framing: a body containing \r\n\r\n must not split
    body = b"part1\r\n\r\npart2"
    blob = build_warc(
        [("response", "https://a.example/x", "2024-01-01T00:00:00Z",
          http_response(body))]
    )
    out = warc_records(_blob_df(spark, [(1, blob)])).collect()
    assert len(out) == 1
    assert bytes(out[0].body) == body


def test_warc_utf8_body_lengths(spark):
    body = "한국어 본문 텍스트".encode()  # multi-byte: octet framing matters
    blob = build_warc(
        [("response", "https://a.example/k", "2024-01-01T00:00:00Z",
          http_response(body))]
    )
    out = warc_records(_blob_df(spark, [(1, blob)])).collect()
    assert bytes(out[0].body) == body


def test_warc_malformed_blob_is_contained(spark):
    good = build_warc(
        [("response", "https://a.example/ok", "2024-01-01T00:00:00Z",
          http_response(b"fine"))]
    )
    bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nno content length"
    long_record = build_warc(
        [("response", "https://a.example/cut", "2024-01-01T00:00:00Z",
          http_response(b"x" * 200))]
    )
    # the payload ends 67 bytes in, short of its Content-Length
    cut = long_record[:long_record.index(b"\r\n\r\n") + 4 + 67]
    # a negative length must not swallow the records after it
    negative = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -5\r\n\r\n"
        + good
    )
    blobs = [(1, good), (2, bad), (3, cut), (4, negative)]
    out = {r.blob_id: r for r in warc_records(_blob_df(spark, blobs)).collect()}
    assert out[1].ok is True and out[1].url == "https://a.example/ok"
    for blob_id in (2, 3, 4):
        assert out[blob_id].ok is False
        assert "warc_parse_error" in out[blob_id].error
        assert out[blob_id].record_idx == -1


def test_warc_parse_is_map_side_only(spark):
    from tests.test_plan_contracts import plan_of

    blob = build_warc(
        [("response", "https://a.example/1", "2024-01-01T00:00:00Z",
          http_response(b"x"))]
    )
    plan = plan_of(warc_records(_blob_df(spark, [(1, blob)])))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
