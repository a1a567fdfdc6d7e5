"""Extraction parity: the golden fixture of the reference's own test
(/root/reference/src/abcd/abcd_parser.rs:232-298, fixture XML 300-348,
spec 350-413) plus quick-xml semantic edge cases, and the Spark mapInPandas
path against the synthetic expected-text oracle."""

import io
import zipfile

from pyspark.sql import functions as F

from crawlspark import synth
from crawlspark.extract import parse_abcd, extract_pages, split_dataset_units
from crawlspark.fields import AbcdFields
from crawlspark.synth import GOLDEN_SPEC, LANDING_PAGE_FIELD

TECHNICAL_CONTACT_NAME = "TECHNICAL CONTACT NAME"
DESCRIPTION_TITLE = "DESCRIPTION TITLE"
LANDING_PAGE = "http://LANDING-PAGE/"
UNIT_ID = "UNIT ID"
UNIT_LONGITUDE = 10.911
UNIT_LATITUDE = 49.911
UNIT_SPATIAL_DATUM = "TECHNICAL WGS84 EMAIL"


def xml_events(data: bytes):
    """quick-xml-compatible event stream: (kind, payload, attrs) triples,
    kind ∈ {'start','end','text'} — the parity mirror of the scan loop
    inlined in ``parse_abcd``.

    Start/End carry the namespace-stripped tag name; Text carries the RAW
    (escaped, trimmed) bytes. Start events additionally carry the raw
    attribute byte-span of the tag (``b""`` for end/text) so callers can
    sniff attributes — the reference reads them exactly once, for the ABCD
    version (abcd_parser.rs:62-78). Comments, PIs, DOCTYPE, CDATA and
    self-closing tags emit nothing (reference ignores those events).
    """
    n = len(data)
    i = 0
    find = data.find  # bound method, as in parse_abcd's inlined loop
    while i < n:
        j = find(b"<", i)
        if j < 0:
            break
        if j > i:
            text = data[i:j].strip(b" \t\r\n")
            if text:
                yield ("text", text, b"")
        # single-character dispatch on the byte after '<' (replaces five
        # chained startswith probes per tag — same classification: '/'⇒end,
        # '!'⇒comment/CDATA/DOCTYPE, '?'⇒PI, else start tag; an EOF '<' has
        # c == b'' and falls through to the start branch's find/break
        # exactly like the startswith chain did)
        c = data[j + 1 : j + 2]
        if c == b"/":
            k = find(b">", j + 2)
            if k < 0:
                break
            name = data[j + 2 : k].strip(b" \t\r\n")
            ci = name.find(b":")
            if ci >= 0:  # namespace strip (abcd_parser.rs:174-179), inlined
                name = name[ci + 1 :]
            yield ("end", name, b"")
            i = k + 1
        elif c == b"!":
            if data.startswith(b"<!--", j):
                k = find(b"-->", j + 4)
                i = n if k < 0 else k + 3
            elif data.startswith(b"<![CDATA[", j):
                k = find(b"]]>", j + 9)
                i = n if k < 0 else k + 3
            else:
                k = find(b">", j + 2)
                i = n if k < 0 else k + 1
        elif c == b"?":
            k = find(b"?>", j + 2)
            i = n if k < 0 else k + 2
        else:
            k = find(b">", j + 1)
            if k < 0:
                break
            inner = data[j + 1 : k]
            if inner.endswith(b"/"):
                i = k + 1  # self-closing == quick-xml Event::Empty, ignored
                continue
            parts = inner.split(None, 1)
            name = parts[0] if parts else inner
            attrs = parts[1] if len(parts) > 1 else b""
            ci = name.find(b":")
            if ci >= 0:
                name = name[ci + 1 :]
            yield ("start", name, attrs)
            i = k + 1
    # trailing text after the last tag is ignored (EOF)


def golden_xml() -> bytes:
    # byte-equivalent of the reference fixture (abcd_parser.rs:300-348)
    return f"""
            <?xml version="1.0" encoding="UTF-8"?>
            <abcd:DataSets xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"
                           xmlns:abcd="http://www.tdwg.org/schemas/abcd/2.06"
                           xsi:schemaLocation=" http://www.tdwg.org/schemas/abcd/2.06 http://rs.tdwg.org/abcd/2.06/ABCD_2.06.xsd">
            <abcd:DataSet>
                <abcd:TechnicalContacts>
                    <abcd:TechnicalContact>
                        <abcd:Name>{TECHNICAL_CONTACT_NAME}</abcd:Name>
                    </abcd:TechnicalContact>
                </abcd:TechnicalContacts>
                <abcd:Metadata>
                    <abcd:Description>
                        <abcd:Representation language="en">
                            <abcd:Title>{DESCRIPTION_TITLE}</abcd:Title>
                            <abcd:URI>{LANDING_PAGE}</abcd:URI>
                        </abcd:Representation>
                    </abcd:Description>
                </abcd:Metadata>
                <abcd:Units>
                    <abcd:Unit>
                        <abcd:UnitID>{UNIT_ID}</abcd:UnitID>
                        <abcd:Gathering>
                            <abcd:SiteCoordinateSets>
                                <abcd:SiteCoordinates>
                                    <abcd:CoordinatesLatLong>
                                        <abcd:LongitudeDecimal>{UNIT_LONGITUDE}</abcd:LongitudeDecimal>
                                        <abcd:LatitudeDecimal>{UNIT_LATITUDE}</abcd:LatitudeDecimal>
                                        <abcd:SpatialDatum>{UNIT_SPATIAL_DATUM}</abcd:SpatialDatum>
                                    </abcd:CoordinatesLatLong>
                                </abcd:SiteCoordinates>
                            </abcd:SiteCoordinateSets>
                        </abcd:Gathering>
                    </abcd:Unit>
                </abcd:Units>
            </abcd:DataSet>
            </abcd:DataSets>
            """.encode()


def fields() -> AbcdFields:
    return AbcdFields.from_list(GOLDEN_SPEC)


def test_golden_fixture_matches_reference_asserts():
    ds, units, landing, ver = parse_abcd(fields(), LANDING_PAGE_FIELD, golden_xml(), "proposal")
    # the exact asserts of abcd_parser.rs:260-297
    assert landing == LANDING_PAGE
    # version sniff (abcd_parser.rs:62-78): the 2.06 URI is the SECOND
    # attribute of the golden DataSets tag — the non-matching xsi URI before
    # it must fall through, and the schemaLocation containing "2.06" as a
    # substring must never match (exact value equality only)
    assert ver == "2.06"
    assert ds["/DataSets/DataSet/TechnicalContacts/TechnicalContact/Name"] == TECHNICAL_CONTACT_NAME
    assert ds["/DataSets/DataSet/Metadata/Description/Representation/Title"] == DESCRIPTION_TITLE
    assert len(units) == 1
    u = units[0]
    assert u["/DataSets/DataSet/Units/Unit/UnitID"] == UNIT_ID
    assert u[
        "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/CoordinatesLatLong/SpatialDatum"
    ] == UNIT_SPATIAL_DATUM
    assert abs(u[
        "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/CoordinatesLatLong/LongitudeDecimal"
    ] - UNIT_LONGITUDE) < 0.01
    assert abs(u[
        "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/CoordinatesLatLong/LatitudeDecimal"
    ] - UNIT_LATITUDE) < 0.01


def test_landing_page_proposal_when_uri_absent():
    xml = golden_xml().replace(f"<abcd:URI>{LANDING_PAGE}</abcd:URI>".encode(), b"")
    _, _, landing, _ = parse_abcd(fields(), LANDING_PAGE_FIELD, xml, "proposal")
    assert landing == "proposal"  # abcd_parser.rs:137-144 coalesce


def test_no_dataset_metadata_errors():
    import pytest
    from crawlspark.extract import ParseError

    with pytest.raises(ParseError):
        parse_abcd(fields(), LANDING_PAGE_FIELD, b"<NotAbcd><X>1</X></NotAbcd>", "p")


def test_escaped_entities_not_unescaped():
    # the reference stores e.escaped() bytes — &amp; survives as-is
    # (abcd_parser.rs:111,118)
    xml = golden_xml().replace(
        TECHNICAL_CONTACT_NAME.encode(), b"A &amp; B &lt;C&gt;"
    )
    ds, _, _, _ = parse_abcd(fields(), LANDING_PAGE_FIELD, xml, "p")
    assert ds["/DataSets/DataSet/TechnicalContacts/TechnicalContact/Name"] == "A &amp; B &lt;C&gt;"


def test_numeric_parse_failure_drops_value():
    xml = golden_xml().replace(b"10.911", b"not-a-number")
    _, units, _, _ = parse_abcd(fields(), LANDING_PAGE_FIELD, xml, "p")
    lon = "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/CoordinatesLatLong/LongitudeDecimal"
    assert lon not in units[0]  # abcd_parser.rs:110-114: silent drop


def test_self_closing_and_cdata_ignored():
    events = list(xml_events(b"<a><b/><c><![CDATA[hidden]]></c><d>kept</d></a>"))
    kinds = [(k, p) for k, p, _ in events]
    assert ("start", b"b") not in kinds          # Event::Empty ignored
    assert not any(k == "text" and b"hidden" in p for k, p, _ in events)
    assert ("text", b"kept") in kinds


def test_namespace_strip_matches_reference():
    events = list(xml_events(b"<ns:a xmlns:ns='x'><ns:b>v</ns:b></ns:a>"))
    assert events[0] == ("start", b"a", b"xmlns:ns='x'")
    assert events[1] == ("start", b"b", b"")


def test_multiple_units_and_value_reset():
    xml = (
        b'<abcd:DataSets xmlns:abcd="http://www.tdwg.org/schemas/abcd/2.06">'
        b"<abcd:DataSet><abcd:Units>"
        b"<abcd:Unit><abcd:UnitID>u1</abcd:UnitID></abcd:Unit>"
        b"<abcd:Unit><abcd:UnitID>u2</abcd:UnitID></abcd:Unit>"
        b"<abcd:Unit></abcd:Unit>"
        b"</abcd:Units></abcd:DataSet></abcd:DataSets>"
    )
    _, units, _, _ = parse_abcd(fields(), LANDING_PAGE_FIELD, xml, "p")
    assert len(units) == 3
    assert units[0]["/DataSets/DataSet/Units/Unit/UnitID"] == "u1"
    assert units[1]["/DataSets/DataSet/Units/Unit/UnitID"] == "u2"
    assert "/DataSets/DataSet/Units/Unit/UnitID" not in units[2]  # cleared per unit


def test_spark_extraction_matches_synth_oracle(spark):
    """End-to-end: mapInPandas extraction reproduces the synthetic pages'
    expected text byte-for-byte (BASELINE.json input_hint invariant), using
    the csvsink rendering."""
    from crawlspark.csvsink import render_unit_rows_expr

    n = 60
    rows = [synth.page_row(i, 5) for i in range(n)]
    df = spark.createDataFrame(
        [(r["url"], r["html"], "prov") for r in rows], ["url", "html", "provider"]
    )
    f = fields()
    extracted = extract_pages(df, f, LANDING_PAGE_FIELD)
    got = render_unit_rows_expr(extracted, f)
    got_map = {r["url"]: r["text"] for r in got.collect()}
    for r in rows:
        assert got_map.get(r["url"], "") == r["text"], r["url"]


def test_zip_member_order_and_error_tolerance(spark):
    # bad zip member → error row, remaining members still parsed
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.xml", golden_xml())
        zf.writestr("b.xml", b"<garbage>")
        zf.writestr("c.xml", golden_xml())
    df = spark.createDataFrame([("u1", buf.getvalue(), "p")], ["url", "html", "provider"])
    out = extract_pages(df, fields(), LANDING_PAGE_FIELD).collect()
    by_kind = {}
    for r in out:
        by_kind.setdefault(r["kind"], []).append(r)
    assert len(by_kind["dataset"]) == 2
    assert len(by_kind["unit"]) == 2
    assert len(by_kind["error"]) == 1
    assert by_kind["error"][0]["member_index"] == 1
    ds, un = split_dataset_units(
        extract_pages(df, fields(), LANDING_PAGE_FIELD), fields()
    )
    assert ds.count() == 2 and un.count() == 2


def test_abcd_version_sniff_variants():
    # abcd_parser.rs:62-78: first attribute VALUE equal to a known TDWG URI
    # wins; no attributes / unknown namespaces ⇒ Unknown (None here)
    def v(xml: bytes):
        _, _, _, ver = parse_abcd(fields(), LANDING_PAGE_FIELD, xml, "p")
        return ver

    base = b"<DataSet><Units><Unit></Unit></Units></DataSet></DataSets>"
    assert v(b'<DataSets xmlns="http://www.tdwg.org/schemas/abcd/2.06">' + base) == "2.06"
    assert v(b"<DataSets xmlns='http://www.tdwg.org/schemas/abcd/2.1'>" + base) == "2.1"
    assert v(b"<DataSets>" + base) is None
    assert v(b'<DataSets xmlns="http://example.org/other">' + base) is None
    # 2.06 URI as a later attribute still matches (iteration, not first-only)
    assert v(
        b'<DataSets a="x" xmlns:abcd="http://www.tdwg.org/schemas/abcd/2.06">' + base
    ) == "2.06"
    # nested DataSets path elsewhere must not re-sniff: only /DataSets counts
    assert v(
        b'<DataSets><DataSet><Units><Unit></Unit></Units>'
        b'<DataSets xmlns="http://www.tdwg.org/schemas/abcd/2.1"/>'
        b"</DataSet></DataSets>"
    ) is None


def test_abcd_version_column_through_spark(spark):
    from crawlspark.synth import golden_fields, page_row, LANDING_PAGE_FIELD as LPF
    from crawlspark.extract import extract_pages

    rows = [page_row(i, 2) for i in range(4)]
    df = spark.createDataFrame(
        [(r["url"], r["html"], "prov") for r in rows], ["url", "html", "provider"]
    )
    out = extract_pages(df, golden_fields(), LPF)
    got = {(r["kind"], r["abcd_version"]) for r in out.collect()}
    # synth template pins the 2.06 namespace; every PARSED row carries it
    # (synth plants ~1% non-ABCD members → error rows with version NULL)
    assert {("dataset", "2.06"), ("unit", "2.06")} <= got
    assert got - {("error", None)} == {("dataset", "2.06"), ("unit", "2.06")}


def test_parse_abcd_matches_event_driven():
    """The inlined scan loop inside parse_abcd (round-6 optimization) must
    behave exactly like driving xml_events: this mirror implements the
    documented parse semantics ON TOP of xml_events and is compared against
    parse_abcd over a battery of tricky inputs (mismatched end tags, CDATA,
    comments, PIs, self-closing tags, namespaces, attr sniffs, truncated
    tails, whitespace-only text, escaped entities)."""
    from crawlspark.extract import ParseError, attr_values
    from crawlspark.rustcompat import parse_f64

    fields = AbcdFields.from_list(GOLDEN_SPEC)

    def parse_via_events(xml_bytes: bytes, proposal: str):
        whitelist = fields.byte_whitelist
        path = bytearray()
        values, units = {}, []
        dataset_data = None
        version = None
        for kind, payload, attrs in xml_events(xml_bytes):
            if kind == "start":
                path += b"/"
                path += payload
                if bytes(path) == b"/DataSets":
                    for v in attr_values(attrs):
                        if v == b"http://www.tdwg.org/schemas/abcd/2.06":
                            version = "2.06"
                            break
                        if v == b"http://www.tdwg.org/schemas/abcd/2.1":
                            version = "2.1"
                            break
                elif bytes(path) == b"/DataSets/DataSet/Units":
                    dataset_data = dict(values)
                    values.clear()
            elif kind == "end":
                del path[max(0, len(path) - len(payload) - 1):]
                if bytes(path) == b"/DataSets/DataSet/Units" and payload == b"Unit":
                    units.append(dict(values))
                    values.clear()
            else:
                spec = whitelist.get(bytes(path))
                if spec is not None:
                    s = payload.decode("utf-8", errors="replace")
                    if spec.numeric:
                        v = parse_f64(s)
                        if v is not None:
                            values[spec.name] = v
                    else:
                        values[spec.name] = s
        if dataset_data is None:
            raise ParseError("ABCD file contains no dataset metadata.")
        lp = dataset_data.get(LANDING_PAGE_FIELD)
        landing = lp if isinstance(lp, str) else proposal
        return dataset_data, units, landing, version

    tricky = [
        golden_xml(),
        b"<DataSets><DataSet><Units><Unit><x>1</x></Unit></Units></DataSet></DataSets>",
        # mismatched end tag exercises the length-truncation (not stack-pop) rule
        b"<DataSets><DataSet><Units><Unit><aaa>v</bb></Unit></Units></DataSet></DataSets>",
        b"<DataSets version='x'><DataSet><Units></Units></DataSet></DataSets>",
        b'<DataSets a="http://www.tdwg.org/schemas/abcd/2.1"><DataSet><Units/>'
        b"<Units></Units></DataSet></DataSets>",
        b"<!-- c --><?pi?><DataSets><![CDATA[zap]]><DataSet><Units></Units>"
        b"</DataSet></DataSets>",
        b"<DataSets><DataSet><Units></Units></DataSet></DataSets> trailing",
        b"<DataSets><DataSet><Units></Units></DataSet></DataSets><broken",
        b"<DataSets><DataSet><Units><Unit>  \t\r\n  </Unit></Units></DataSet></DataSets>",
        b"no tags at all",
        b"<DataSets><DataSet><Units><Unit><ns:y xmlns:ns='u'>&amp;X</ns:y>"
        b"</Unit></Units></DataSet></DataSets>",
    ]
    for xml in tricky:
        try:
            a = parse_abcd(fields, LANDING_PAGE_FIELD, xml, "prop")
            a_err = None
        except ParseError as e:
            a, a_err = None, str(e)
        try:
            b = parse_via_events(xml, "prop")
            b_err = None
        except ParseError as e:
            b, b_err = None, str(e)
        assert a == b and a_err == b_err, xml
