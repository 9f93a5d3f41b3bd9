"""W3 cursor semantics: limit+1 truncation, token codec, and the
folder-vs-leaf cursor disambiguation over byte-ordered names — the
load-bearing fixture from the reference's object-list-v2 tests
(src/test/object-list-v2.test.ts:27-118 in spirit: folders + leaves,
shuffled input, golden sorted expectations, pages of several sizes)."""

from __future__ import annotations

import random

import pytest

from storage_spark.operators.listing import list_objects_with_delimiter
from storage_spark.operators.pagination import (
    clamp_limit,
    decode_token,
    encode_token,
    paginate,
    take_page,
)


def _mk_names():
    # 3-letter codes; n in 1..3 uppercased — exercises case-sensitive byte
    # order (uppercase sorts before lowercase, '/' sorts below alphanumerics)
    def code(n):
        s = ""
        m = n
        for _ in range(3):
            s = chr(ord("a") + m % 26) + s
            m //= 26
        return s.upper() if 1 <= n <= 3 else s

    names = []
    for n in range(30):
        c = code(n)
        if n > 5:
            names.append(f"{c}.txt")  # root leaves
        if n < 18:
            kids = 9 if c == "aal" else 3
            names.extend(f"{c}/dummy-{c}-{j}.txt" for j in range(kids))
    return names


@pytest.fixture(scope="module")
def objects_df(spark):
    names = _mk_names()
    rng = random.Random(7)
    rng.shuffle(names)  # shuffled insert order, like the reference fixture
    rows = [
        ("fixture-bucket", name, str(i), 10 + i, 1000 + i, 1000 + i, "text/plain")
        for i, name in enumerate(names)
    ]
    return spark.createDataFrame(
        rows,
        "bucket_id string, name string, id string, size long,"
        " created_at_ms long, updated_at_ms long, mimetype string",
    ).cache()


def _golden(names):
    folders = sorted({n.split("/")[0] + "/" for n in names if "/" in n})
    leaves = sorted(n for n in names if "/" not in n)
    return sorted(folders + leaves)


def test_full_listing_matches_golden(spark, objects_df):
    got = [
        r.name
        for r in list_objects_with_delimiter(objects_df, "fixture-bucket").collect()
    ]
    assert got == _golden(_mk_names())


@pytest.mark.parametrize("page_size", [1, 2, 3, 5])
def test_cursor_pagination_covers_everything_once(spark, objects_df, page_size):
    pages = list(
        paginate(
            lambda after: list_objects_with_delimiter(
                objects_df, "fixture-bucket", start_after=after
            ),
            page_size,
        )
    )
    names = [r.name for p in pages for r in p.rows]
    assert names == _golden(_mk_names())  # no dup, no gap, in order
    assert all(p.is_truncated for p in pages[:-1])
    assert not pages[-1].is_truncated
    assert all(len(p.rows) <= page_size for p in pages)


def test_folder_cursor_skips_subtree(spark, objects_df):
    # resume from a folder cursor: the next page must start PAST the whole
    # folder subtree (children 'aal/dummy-…' sort after 'aal/' but are
    # folded into it; byte order guarantees the skip)
    listing = list_objects_with_delimiter(
        objects_df, "fixture-bucket", start_after="aal/"
    )
    first = listing.limit(1).collect()[0].name
    assert first > "aal/"
    assert not first.startswith("aal/")


def test_token_codec_roundtrip():
    assert decode_token(encode_token("a/b/c.txt")) == "a/b/c.txt"
    with pytest.raises(ValueError):
        decode_token(encode_token("x").replace("b", "a", 1) + "zz")


def test_clamp():
    assert clamp_limit(None) == 1000
    assert clamp_limit(5000) == 1000
    assert clamp_limit(5) == 5


def test_take_page_limit_zero_uses_default(spark, objects_df):
    """limit<=0 falls back to the protocol default (maxKeys || 1000) — a
    literal 0 page reported is_truncated with no token and spun paginate
    forever."""
    listing = list_objects_with_delimiter(objects_df, "fixture-bucket")
    page = take_page(listing, 0)
    assert len(page.rows) > 0
    assert not (page.is_truncated and page.next_token is None)


def test_s3_v2_response_shaping(spark, objects_df):
    from storage_spark.operators.s3proto import shape_list_objects_v2

    listing = list_objects_with_delimiter(objects_df, "fixture-bucket")
    page = shape_list_objects_v2(listing, max_keys=10)
    assert page.key_count == 10 and page.is_truncated
    assert page.next_continuation_token
    # folders → CommonPrefixes (NULL id), leaves → Contents
    assert all(p.endswith("/") for p in page.common_prefixes)
    assert all(c["Key"] and not c["Key"].endswith("/") for c in page.contents)
    assert len(page.contents) + len(page.common_prefixes) == 10
    full = shape_list_objects_v2(listing, max_keys=1000)
    assert not full.is_truncated and full.next_continuation_token is None
    golden = _golden(_mk_names())
    got = sorted(full.common_prefixes + [c["Key"] for c in full.contents])
    assert got == golden


def test_list_bucket_result_xml(spark, objects_df):
    from xml.etree import ElementTree as ET

    from storage_spark.operators.s3proto import (
        shape_list_objects_v2,
        to_list_bucket_result_xml,
    )

    listing = list_objects_with_delimiter(objects_df, "fixture-bucket")
    page = shape_list_objects_v2(listing, max_keys=7)
    xml = to_list_bucket_result_xml(page, "fixture-bucket", max_keys=7)
    ns = {"s3": "http://s3.amazonaws.com/doc/2006-03-01/"}
    root = ET.fromstring(xml)
    assert root.findtext("s3:KeyCount", namespaces=ns) == "7"
    assert root.findtext("s3:IsTruncated", namespaces=ns) == "true"
    assert root.findtext("s3:NextContinuationToken", namespaces=ns)
    keys = [c.findtext("s3:Key", namespaces=ns) for c in root.findall("s3:Contents", ns)]
    prefixes = [
        p.findtext("s3:Prefix", namespaces=ns)
        for p in root.findall("s3:CommonPrefixes", ns)
    ]
    assert len(keys) + len(prefixes) == 7
    assert all(p.endswith("/") for p in prefixes)


def test_s3_v1_token_remap(spark, objects_df):
    """V1 ListObjects = V2 + the cursorV1 remap (s3-handler.ts:162-195,
    :267-272): tokens are raw keys, NextMarker only when truncated AND a
    delimiter was requested."""
    from storage_spark.operators.s3proto import (
        shape_list_objects_v1,
        shape_list_objects_v2,
        v1_marker_to_v2,
    )
    from storage_spark.operators.pagination import decode_token

    listing = list_objects_with_delimiter(objects_df, "fixture-bucket")
    v1 = shape_list_objects_v1(listing, max_keys=10, delimiter="/")
    v2 = shape_list_objects_v2(listing, max_keys=10)
    assert v1.is_truncated and v1.key_count == 10
    # raw-key token == decoded V2 token
    assert v1.next_marker == decode_token(v2.next_continuation_token)
    assert v1.marker == v1.next_marker
    # no delimiter -> NextMarker omitted even when truncated (:179-184)
    v1_nd = shape_list_objects_v1(listing, max_keys=10, delimiter=None)
    assert v1_nd.is_truncated and v1_nd.next_marker is None
    # request-side remap: Marker feeds StartAfter unchanged
    assert v1_marker_to_v2("some/key.txt") == "some/key.txt"
    # full page: no tokens at all
    full = shape_list_objects_v1(listing, max_keys=1000)
    assert not full.is_truncated and full.marker is None


def test_xml_request_parsing():
    from storage_spark.operators.s3proto import (
        MalformedXMLError,
        parse_complete_multipart_upload_xml,
        parse_delete_objects_xml,
    )
    import pytest as _pytest

    body = """
    <CompleteMultipartUpload xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
      <Part><PartNumber>1</PartNumber><ETag>"etag-a"</ETag></Part>
      <Part><PartNumber>2</PartNumber><ETag>etag-b</ETag></Part>
    </CompleteMultipartUpload>"""
    assert parse_complete_multipart_upload_xml(body) == [
        (1, "etag-a"),
        (2, "etag-b"),
    ]
    with _pytest.raises(MalformedXMLError):
        parse_complete_multipart_upload_xml("<CompleteMultipartUpload/>")
    with _pytest.raises(MalformedXMLError):
        parse_complete_multipart_upload_xml(
            "<CompleteMultipartUpload><Part><PartNumber>x</PartNumber>"
            "<ETag>e</ETag></Part></CompleteMultipartUpload>"
        )
    with _pytest.raises(MalformedXMLError):
        parse_complete_multipart_upload_xml("not xml at all <<<")

    dbody = """
    <Delete>
      <Quiet>true</Quiet>
      <Object><Key>a/b.txt</Key></Object>
      <Object><Key>c.bin</Key></Object>
    </Delete>"""
    assert parse_delete_objects_xml(dbody) == (["a/b.txt", "c.bin"], True)
    with _pytest.raises(MalformedXMLError):
        parse_delete_objects_xml("<Delete><Quiet>false</Quiet></Delete>")


def test_list_bucket_result_xml_roundtrip(spark, objects_df):
    from storage_spark.operators.s3proto import (
        parse_list_bucket_result_xml,
        shape_list_objects_v2,
        to_list_bucket_result_xml,
    )

    listing = list_objects_with_delimiter(objects_df, "fixture-bucket")
    page = shape_list_objects_v2(listing, max_keys=7)
    xml = to_list_bucket_result_xml(page, "fixture-bucket", max_keys=7)
    back = parse_list_bucket_result_xml(xml)
    assert back.key_count == page.key_count
    assert back.is_truncated == page.is_truncated
    assert back.next_continuation_token == page.next_continuation_token
    assert back.common_prefixes == page.common_prefixes
    assert [c["Key"] for c in back.contents] == [c["Key"] for c in page.contents]
    assert [c["Size"] for c in back.contents] == [c["Size"] for c in page.contents]


def test_list_parts_xml_roundtrip():
    from storage_spark.operators.s3proto import (
        parse_list_parts_result_xml,
        to_list_parts_result_xml,
    )

    parts = [
        {"PartNumber": 1, "ETag": "e1", "Size": 500},
        {"PartNumber": 2, "ETag": "e2", "Size": 300},
    ]
    xml = to_list_parts_result_xml(
        parts, "b1", "a/b.bin", "up-1", is_truncated=True,
        next_part_number_marker=2,
    )
    back = parse_list_parts_result_xml(xml)
    assert back["Bucket"] == "b1" and back["UploadId"] == "up-1"
    assert back["IsTruncated"] is True and back["NextPartNumberMarker"] == 2
    assert back["Parts"] == parts


def test_upload_id_codec():
    from storage_spark.operators.multipart import decode_upload_id, encode_upload_id

    uid = encode_upload_id("b1", "a/b/c.bin", "v2")
    assert decode_upload_id(uid) == ("b1", "a/b/c.bin", "v2")
    assert "=" not in uid and "+" not in uid and "/" not in uid  # url-safe
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_upload_id("!!!notbase64")
    with _pytest.raises(ValueError):
        decode_upload_id(encode_upload_id("", "k", "v"))  # empty bucket invalid


def _five_row_listing(spark):
    df = spark.createDataFrame([(f"k{i}",) for i in range(5)], "name string")

    def listing(after):
        rows = df if after is None else df.filter(df.name > after)
        return rows.orderBy("name")

    return listing


def test_paginate_raises_when_max_pages_cuts_a_truncated_walk(spark):
    """Three 1-key pages of a 5-key listing leave two keys unlisted: the
    walk must fail with the resume token, not end as if complete."""
    pages = []
    with pytest.raises(RuntimeError, match="max_pages=3") as err:
        for page in paginate(_five_row_listing(spark), limit=1, max_pages=3):
            pages.append(page)
    assert [p.rows[0].name for p in pages] == ["k0", "k1", "k2"]
    assert pages[-1].is_truncated
    assert repr(pages[-1].next_token) in str(err.value)
    assert decode_token(pages[-1].next_token) == "k2"


def test_paginate_ending_on_its_last_allowed_page_returns(spark):
    pages = list(paginate(_five_row_listing(spark), limit=1, max_pages=5))
    assert [p.rows[0].name for p in pages] == [f"k{i}" for i in range(5)]
    assert not pages[-1].is_truncated
