"""WARC ingestion: framing, tolerance, PAGES load edge."""

from crawlspark.warc import _walk_warc, encode_warc


def _recs(data: bytes):
    return list(_walk_warc("t", data))


def test_roundtrip_response_and_metadata():
    data = encode_warc(
        [
            {"url": "https://a.org/x", "date": "2024-05-06T07:08:09Z",
             "body": "<html>hi</html>"},
            {"url": "https://a.org/y", "date": "2024-05-06T07:08:10Z",
             "body": "notes", "warc_type": "metadata"},
        ]
    )
    rows = _recs(data)
    assert len(rows) == 2
    src, idx, wtype, uri, date, status, payload, plen, err = rows[0]
    assert (wtype, uri, status, err) == ("response", "https://a.org/x", 200, None)
    assert payload == b"<html>hi</html>" and plen == 15
    assert rows[1][2] == "metadata" and rows[1][5] is None
    assert rows[1][6] == b"notes"


def test_content_length_framing_beats_embedded_magic():
    # a payload containing 'WARC/1.0\r\n\r\n' must NOT resync the parser
    body = "before WARC/1.0\r\n\r\nafter"
    data = encode_warc(
        [
            {"url": "u1", "date": "2024-01-01T00:00:00Z", "body": body},
            {"url": "u2", "date": "2024-01-01T00:00:01Z", "body": "second"},
        ]
    )
    rows = _recs(data)
    assert [r[3] for r in rows] == ["u1", "u2"]
    assert rows[0][6].decode() == body
    assert rows[0][8] is None and rows[1][8] is None


def test_truncated_and_malformed_quarantine():
    good = encode_warc([{"url": "u", "date": "2024-01-01T00:00:00Z",
                         "body": "ok"}])
    rows = _recs(good[:-20])  # cut into the payload
    assert rows[-1][8] is not None and "truncated" in rows[-1][8]
    rows = _recs(b"GARBAGE")
    assert rows[0][8] is not None and "bad magic" in rows[0][8]
    # missing Content-Length
    bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\npayload"
    rows = _recs(bad)
    assert "Content-Length" in rows[0][8]


def test_parse_warc_spark_and_pages(spark):
    from crawlspark.warc import pages_from_warc, parse_warc

    archives = [
        ("f1", encode_warc([
            {"url": "https://a.org/1", "date": "2024-03-04T05:06:07Z",
             "body": "<html>1</html>"},
            {"url": "https://a.org/m", "date": "2024-03-04T05:06:08Z",
             "body": "m", "warc_type": "metadata"},
        ])),
        ("f2", encode_warc([
            {"url": "https://b.org/2", "date": "2024-03-05T00:00:00Z",
             "body": "<html>2</html>", "status": 404},
        ])),
    ]
    df = spark.createDataFrame(archives, ["path", "content"])
    recs = parse_warc(df, tasks=3).collect()
    by = {(r["src"], r["record_index"]): r for r in recs}
    assert len(by) == 3
    assert by[("f1", 0)]["http_status"] == 200
    assert by[("f2", 0)]["http_status"] == 404
    assert by[("f1", 1)]["warc_type"] == "metadata"
    pages = pages_from_warc(parse_warc(df, tasks=2)).collect()
    got = {r["url"]: r for r in pages}
    assert set(got) == {"https://a.org/1", "https://b.org/2"}
    assert bytes(got["https://a.org/1"]["html"]) == b"<html>1</html>"
    ts = got["https://b.org/2"]["warc_ts"]
    assert (ts.year, ts.month, ts.day) == (2024, 3, 5)


def test_pages_warc_date_is_utc(spark):
    """WARC-Date is UTC whatever the session time zone; an explicit offset
    (non-conforming, but seen in the wild) is kept, and a reduced-precision
    value is still read as UTC."""
    from pyspark.sql import functions as F

    from crawlspark.warc import pages_from_warc, parse_warc

    dates = {
        "2024-01-02T03:04:05Z": 1704164645,
        "2024-01-02T03:04:05.5Z": 1704164645,
        "2024-01-02T03:04:05+01:00": 1704164645 - 3600,
        "2024-01-02T03:04:05-0500": 1704164645 + 5 * 3600,
        "2024-01-02T03:04Z": 1704164640,
        "2024-01-02": 1704153600,
        "2024-03-10T02:30:00Z": 1710037800,  # no such wall clock in New York
    }
    recs = [
        {"url": f"https://a.org/{i}", "date": d, "body": f"<html>{i}</html>"}
        for i, d in enumerate(dates)
    ]
    df = spark.createDataFrame([("f", encode_warc(recs))], ["path", "content"])
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = pages_from_warc(parse_warc(df, tasks=1)).select(
            "url", F.unix_timestamp("warc_ts").alias("t")
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    by_url = {r["url"]: r["t"] for r in got}
    assert by_url == {f"https://a.org/{i}": t for i, t in enumerate(dates.values())}


def test_negative_content_length_quarantined():
    """A negative Content-Length must quarantine, not walk backwards onto
    the record's own magic and loop forever (review finding, round 5)."""
    from crawlspark.warc import _walk_warc

    raw = (b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: -54\r\n\r\n"
           b"payload\r\n\r\n")
    rows = list(_walk_warc("src", raw))
    assert len(rows) == 1
    assert "negative Content-Length" in rows[0][-1]


def test_non_ascii_payload_framing(spark):
    """Content-Length framed as BYTES of the UTF-8 encoding: non-ASCII
    payloads must survive the walk intact (char-count framing truncates)."""
    from pyspark.sql import functions as F

    from crawlspark.warc import parse_warc

    body = "café élève"  # 10 chars, 13 utf-8 bytes
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n\r\n"), F.lit(body)
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: https://x.org/p\r\nContent-Length: "),
        F.length(F.encode(http, "UTF-8")).cast("string"),
        F.lit("\r\n\r\n"), http, F.lit("\r\n\r\n"),
    )
    df = spark.range(1).select(
        F.lit("a").alias("path"), F.encode(rec, "UTF-8").alias("content")
    )
    rows = parse_warc(df).collect()
    assert len(rows) == 1 and rows[0]["error"] is None
    assert bytes(rows[0]["payload"]) == body.encode("utf-8")
    assert rows[0]["http_status"] == 200
