"""codecs/http.py: HTTP/1.1 response parsing for WARC response records —
framing (Content-Length / chunked / connection-close), charset
resolution, and the malformation classes a raw crawl actually contains
(torn chunked framing, wrong Content-Length, non-UTF-8 charsets)."""

from __future__ import annotations

import pytest

from bravo_spark.codecs.http import (
    HttpError,
    charset_name,
    dechunk,
    decode_entity,
    parse_http_response,
)


def _msg(head: bytes, body: bytes = b"") -> bytes:
    return head + b"\r\n" + body


def test_content_length_framing():
    body = b"<html><p>hello</p></html>"
    payload = _msg(
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=UTF-8\r\n"
        + b"Content-Length: %d\r\n" % len(body),
        body,
    )
    status, headers, got = parse_http_response(payload)
    assert status == 200
    assert headers["content-type"] == "text/html; charset=UTF-8"
    assert got == body
    assert charset_name(headers) == "utf-8"


def test_chunked_framing_with_extensions_and_trailer():
    chunks = [b"<html><p>", b"chunked body", b"</p></html>"]
    enc = b""
    for i, c in enumerate(chunks):
        ext = b";name=v" if i == 0 else b""
        enc += b"%x" % len(c) + ext + b"\r\n" + c + b"\r\n"
    enc += b"0\r\nX-Trailer: t\r\n\r\n"
    payload = _msg(
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n",
        enc,
    )
    status, headers, got = parse_http_response(payload)
    assert status == 200
    assert got == b"".join(chunks)
    assert charset_name(headers) == "utf-8"  # absent → fallback


def test_connection_close_framing_reads_to_end():
    body = b"no framing headers at all"
    payload = _msg(b"HTTP/1.0 200 OK\r\nContent-Type: text/plain\r\n", body)
    status, _, got = parse_http_response(payload)
    assert (status, got) == (200, body)


def test_chunked_wins_over_content_length():
    # RFC 9112 §6.3: Transfer-Encoding takes precedence
    enc = b"5\r\nhello\r\n0\r\n\r\n"
    payload = _msg(
        b"HTTP/1.1 200 OK\r\n"
        b"Transfer-Encoding: chunked\r\n"
        b"Content-Length: 999\r\n",
        enc,
    )
    assert parse_http_response(payload)[2] == b"hello"


def test_obs_fold_and_duplicate_headers():
    payload = _msg(
        b"HTTP/1.1 200 OK\r\n"
        b"X-Note: first\r\n"
        b"\t folded\r\n"
        b"X-Dup: a\r\n"
        b"X-Dup: b\r\n"
        b"Content-Length: 0\r\n",
    )
    _, headers, _ = parse_http_response(payload)
    assert headers["x-note"] == "first folded"
    assert headers["x-dup"] == "a, b"


def test_status_line_and_head_malformations():
    with pytest.raises(HttpError, match="head terminator"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nX: 1\r\n")
    with pytest.raises(HttpError, match="status line"):
        parse_http_response(b"ICY 200 OK\r\n\r\n")
    with pytest.raises(HttpError, match="without ':'"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nbadline\r\n\r\n")
    with pytest.raises(HttpError, match="continuation"):
        parse_http_response(b"HTTP/1.1 200 OK\r\n folded-first\r\n\r\n")


def test_wrong_content_length_both_directions():
    # shortfall: torn capture — never silently truncate
    with pytest.raises(HttpError, match="torn capture"):
        parse_http_response(_msg(
            b"HTTP/1.1 200 OK\r\nContent-Length: 10\r\n", b"short"))
    # surplus: misframing — never silently pad
    with pytest.raises(HttpError, match="trailing junk"):
        parse_http_response(_msg(
            b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n", b"abcdef"))
    # strict 1*DIGIT: negatives, '+' signs, and Python's underscore
    # leniency all refuse (int('1_0') == 10 would mis-frame silently)
    for bad in (b"-5", b"ten", b"+10", b"1_0"):
        with pytest.raises(HttpError, match="non-integer"):
            parse_http_response(_msg(
                b"HTTP/1.1 200 OK\r\nContent-Length: " + bad + b"\r\n",
                b"0123456789"))


def test_torn_chunked_framing_classes():
    # chunk data torn mid-chunk
    with pytest.raises(HttpError, match="torn at byte"):
        dechunk(b"ff\r\nonly a few bytes")
    # no size line terminator
    with pytest.raises(HttpError, match="no chunk-size line"):
        dechunk(b"5")
    # garbage size
    with pytest.raises(HttpError, match="bad chunk size"):
        dechunk(b"zz\r\nhello\r\n0\r\n\r\n")
    # missing CRLF after chunk data
    with pytest.raises(HttpError, match="missing CRLF"):
        dechunk(b"5\r\nhelloXX0\r\n\r\n")
    # torn trailer section
    with pytest.raises(HttpError, match="trailer torn"):
        dechunk(b"5\r\nhello\r\n0\r\nX-T: 1")
    # junk after the terminal chunk
    with pytest.raises(HttpError, match="trailing junk"):
        dechunk(b"5\r\nhello\r\n0\r\n\r\nEXTRA")


def test_charset_resolution_and_decode():
    # explicit non-UTF-8 charset decodes through the named codec
    headers = {"content-type": 'text/html; charset="ISO-8859-1"'}
    assert charset_name(headers) == "iso8859-1"
    assert decode_entity(headers, b"caf\xe9") == "café"
    # the same bytes misread as UTF-8 would NOT round-trip — prove the
    # charset actually drives the decode
    assert decode_entity({}, b"caf\xe9") == "caf�"
    # unknown charset token → utf-8 fallback, not a refusal
    assert charset_name({"content-type": "text/html; charset=bogus-9"}) \
        == "utf-8"
    # undecodable bytes under the resolved codec → U+FFFD, never a crash
    assert decode_entity(
        {"content-type": "text/html; charset=utf-8"}, b"\xff\xfe") \
        == "��"


def test_extract_http_html_quarantine(spark):
    """The column-level API's quarantine contract: a torn capture NULLs
    the extracted columns with status -1 instead of killing the task;
    strict mode (default) fails loudly."""
    from pyspark.errors.exceptions.captured import PythonException

    from bravo_spark import llmops

    good = _msg(b"HTTP/1.1 200 OK\r\nContent-Length: 4\r\n", b"good")
    torn = _msg(b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n", b"short")
    df = spark.createDataFrame([(1, good), (2, torn)], "id long, p binary")

    out = {r.id: r for r in
           llmops.extract_http_html(df, "p", quarantine=True).collect()}
    assert out[1].http_status == 200 and out[1].http_html == "good"
    assert out[2].http_status == -1
    assert out[2].http_charset is None and out[2].http_html is None

    with pytest.raises(PythonException, match="torn capture"):
        llmops.extract_http_html(df, "p").collect()

    with pytest.raises(ValueError, match="already exists"):
        llmops.extract_http_html(
            df.withColumn("http_status", df.id), "p")


def test_content_encoding_gzip_and_deflate():
    import zlib

    from bravo_spark.codecs.http import decode_content_encoding

    plain = b"<html><p>compressed entity</p></html>"
    co = zlib.compressobj(9, zlib.DEFLATED, 31)
    gz = co.compress(plain) + co.flush()
    assert decode_content_encoding({"content-encoding": "gzip"}, gz) == plain
    assert decode_content_encoding({"content-encoding": "x-gzip"}, gz) \
        == plain
    # spec deflate (zlib-wrapped) AND the bare-DEFLATE form servers emit
    assert decode_content_encoding(
        {"content-encoding": "deflate"}, zlib.compress(plain)) == plain
    raw = zlib.compressobj(9, zlib.DEFLATED, -15)
    assert decode_content_encoding(
        {"content-encoding": "deflate"},
        raw.compress(plain) + raw.flush()) == plain
    # identity / absent pass through; unknown tokens refuse by name
    assert decode_content_encoding({}, plain) == plain
    assert decode_content_encoding(
        {"content-encoding": "identity"}, plain) == plain
    with pytest.raises(HttpError, match="br"):
        decode_content_encoding({"content-encoding": "br"}, plain)
    # torn compressed stream refuses rather than yielding a prefix
    with pytest.raises(HttpError, match="torn capture"):
        decode_content_encoding({"content-encoding": "gzip"}, gz[:-4])
    # decode_entity composes encoding + charset
    assert decode_entity(
        {"content-encoding": "gzip",
         "content-type": "text/html; charset=utf-8"}, gz) == plain.decode()


def test_content_encoding_bomb_bounded(monkeypatch):
    """A tiny gzip body declaring a huge expansion refuses at the
    ceiling instead of materializing it (the cap floor is lowered for
    the test — 64 MiB of zeros would be slow, not wrong)."""
    import zlib

    from bravo_spark.codecs import http as h

    monkeypatch.setattr(h, "_MIN_INFLATE_CAP", 1 << 16)
    co = zlib.compressobj(9, zlib.DEFLATED, 31)
    bomb = co.compress(b"\x00" * (1 << 22)) + co.flush()  # 4 MiB from ~4 KB
    with pytest.raises(HttpError, match="decompression bomb"):
        h.decode_content_encoding({"content-encoding": "gzip"}, bomb)


def test_meta_charset_prescan():
    """Header lacks a charset param → the WHATWG-style prescan of the
    first 1024 body bytes finds the markup declaration; a header param
    stays authoritative over a disagreeing meta tag."""
    h = {"content-type": "text/html"}
    body5 = b'<html><head><meta charset="windows-1252"></head>caf\xe9'
    assert charset_name(h, body5) == "cp1252"
    assert decode_entity(h, body5).endswith("café")
    legacy = (b'<html><head><meta http-equiv="Content-Type" '
              b'content="text/html; charset=ISO-8859-1"></head>x')
    assert charset_name(h, legacy) == "iso8859-1"
    # declaration OUTSIDE the 1024-byte window is not sniffed
    far = b"<html>" + b" " * 1100 + b'<meta charset="ISO-8859-1">'
    assert charset_name(h, far) == "utf-8"
    # header param wins over the meta tag
    assert charset_name(
        {"content-type": "text/html; charset=utf-8"}, legacy) == "utf-8"
    # unknown meta token → utf-8 fallback, same as the header rule
    assert charset_name(h, b'<meta charset="bogus-enc">') == "utf-8"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        body=st.binary(max_size=4096),
        cuts=st.lists(st.integers(min_value=1, max_value=512),
                      max_size=24),
        status=st.integers(min_value=100, max_value=599),
    )
    @settings(max_examples=60, deadline=None)
    def test_prop_chunked_roundtrip(body, cuts, status):
        """ANY chunking of ANY body must decode back byte-identically
        through the full message parser — the encoder here is an
        independent re-statement of RFC 9112 §7.1."""
        chunks, pos = [], 0
        for c in cuts:
            if pos >= len(body):
                break
            chunks.append(body[pos:pos + c])
            pos += c
        if pos < len(body):
            chunks.append(body[pos:])
        enc = b"".join(b"%x\r\n" % len(c) + c + b"\r\n"
                       for c in chunks if c)
        enc += b"0\r\n\r\n"
        payload = (
            b"HTTP/1.1 %d X\r\nTransfer-Encoding: chunked\r\n\r\n" % status
            + enc)
        got_status, _, got = parse_http_response(payload)
        assert (got_status, got) == (status, body)

    @given(body=st.binary(max_size=4096))
    @settings(max_examples=60, deadline=None)
    def test_prop_content_length_roundtrip(body):
        payload = (b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n"
                   % len(body) + body)
        assert parse_http_response(payload)[2] == body

    @given(data=st.binary(max_size=2048))
    @settings(max_examples=60, deadline=None)
    def test_prop_dechunk_never_hangs_or_misreads(data):
        """Arbitrary bytes either decode as legal chunked framing or
        refuse with HttpError — never an unhandled exception."""
        try:
            dechunk(data)
        except HttpError:
            pass

except ImportError:  # hypothesis is baked in; belt+braces
    pass


def test_review_findings_r18():
    """Regression pins for earlier findings on this codec."""
    import zlib

    from bravo_spark.codecs.http import decode_content_encoding

    # 1: a NON-TEXT codec name (zlib/hex/base64/rot13) must not win the
    # charset resolution — bytes.decode('zlib') raises LookupError at
    # decode time, long past the quarantine catch
    for tok in ("zlib", "hex", "base64", "rot13"):
        assert charset_name(
            {"content-type": f"text/html; charset={tok}"}, b"") == "utf-8"
        decode_entity({"content-type": f"text/html; charset={tok}"},
                      b"safe")  # never raises
    assert charset_name(
        {"content-type": "text/html; charset=zlib"},
        b'<meta charset="ISO-8859-1">') == "iso8859-1"  # falls THROUGH

    # 2: non-chunked Transfer-Encoding tokens refuse by name — passing
    # still-transfer-coded bytes through as text is wrong bytes
    with pytest.raises(HttpError, match="Transfer-Encoding 'gzip'"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n\r\nx")
    with pytest.raises(HttpError, match="Transfer-Encoding"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n"
            b"\r\n1\r\nx\r\n0\r\n\r\n")
    # 'identity' alone (or with chunked) stays legal
    assert parse_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: identity\r\n"
        b"Content-Length: 2\r\n\r\nok")[2] == b"ok"

    # 3: chunk-size leniency — negative sizes must refuse, not silently
    # re-frame (int('-2',16) used to step the cursor backwards)
    with pytest.raises(HttpError, match="bad chunk size"):
        dechunk(b"5\r\nhello\r\n-2\r\n0\r\n\r\n")
    with pytest.raises(HttpError, match="bad chunk size"):
        dechunk(b"1_0\r\n" + b"x" * 16 + b"\r\n0\r\n\r\n")
    with pytest.raises(HttpError, match="bad chunk size"):
        dechunk(b"+5\r\nhello\r\n0\r\n\r\n")

    # 7: a zlib-wrapped deflate BOMB refusal must surface as the bomb,
    # not be retried as raw DEFLATE and re-reported as corruption
    import bravo_spark.codecs.http as h
    comp = zlib.compress(b"\x00" * (1 << 22))
    orig = h._MIN_INFLATE_CAP
    h._MIN_INFLATE_CAP = 1 << 16
    try:
        with pytest.raises(HttpError, match="decompression bomb"):
            decode_content_encoding({"content-encoding": "deflate"}, comp)
        with pytest.raises(HttpError, match="torn capture"):
            decode_content_encoding(
                {"content-encoding": "deflate"},
                zlib.compress(b"hello world")[:-4])
    finally:
        h._MIN_INFLATE_CAP = orig
    # the bare-DEFLATE fallback itself still works
    raw = zlib.compressobj(9, zlib.DEFLATED, -15)
    assert decode_content_encoding(
        {"content-encoding": "deflate"},
        raw.compress(b"bare") + raw.flush()) == b"bare"


def test_extract_http_html_null_payload_quarantines(spark):
    """Review finding 6: a NULL payload quarantines like a torn capture
    instead of TypeError-ing past the HttpError catch."""
    from pyspark.errors.exceptions.captured import PythonException

    from bravo_spark import llmops

    good = _msg(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n", b"ok")
    df = spark.createDataFrame([(1, good), (2, None)], "id long, p binary")
    out = {r.id: r for r in
           llmops.extract_http_html(df, "p", quarantine=True).collect()}
    assert out[1].http_status == 200
    assert out[2].http_status == -1 and out[2].http_html is None
    with pytest.raises(PythonException, match="NULL payload"):
        llmops.extract_http_html(df, "p").collect()


# ---------------------------------------------------------------------------
# zstd Content-Encoding + real-crawl head/framing tolerances
# ---------------------------------------------------------------------------


def _zstd_frame(data: bytes) -> bytes:
    import pyarrow as pa

    buf = pa.BufferOutputStream()
    with pa.output_stream(buf, compression="zstd") as s:
        s.write(data)
    return bytes(buf.getvalue())


def test_content_encoding_zstd_roundtrip():
    """RFC 8878 entities (genuine Common Crawl carries them) inflate
    through the same bounded path as gzip/deflate; torn frames refuse."""
    from bravo_spark.codecs.http import decode_content_encoding

    plain = b"<html><p>zstd entity body</p></html>" * 20
    frame = _zstd_frame(plain)
    assert decode_content_encoding(
        {"content-encoding": "zstd"}, frame) == plain
    # decode_entity composes the zstd inflate with the charset decode
    assert decode_entity(
        {"content-encoding": "zstd",
         "content-type": "text/html; charset=utf-8"}, frame) \
        == plain.decode()
    # torn frame refuses by name rather than yielding a prefix
    with pytest.raises(HttpError, match="bad compressed entity"):
        decode_content_encoding({"content-encoding": "zstd"}, frame[:-5])
    # garbage refuses too (bad magic)
    with pytest.raises(HttpError, match="bad compressed entity"):
        decode_content_encoding({"content-encoding": "zstd"}, b"nonsense")


def test_content_encoding_zstd_bomb_bounded(monkeypatch):
    """A zstd bomb entity refuses at the 512x/64MiB ceiling (floor
    lowered for the test) — the bound holds during the decode on both
    the libzstd and pure-decoder paths."""
    from bravo_spark.codecs import http as h

    monkeypatch.setattr(h, "_MIN_INFLATE_CAP", 1 << 16)
    bomb = _zstd_frame(b"\x00" * (1 << 22))  # 4 MiB from a few KB
    with pytest.raises(HttpError, match="decompression bomb"):
        h.decode_content_encoding({"content-encoding": "zstd"}, bomb)


def test_http2_style_status_line_tolerated():
    """Real crawls hold h2-fetched captures written with an h1-style
    head whose version has no dot ('HTTP/2 200') — parse, don't drop."""
    status, headers, body = parse_http_response(
        b"HTTP/2 200\r\ncontent-type: text/plain\r\ncontent-length: 2\r\n"
        b"\r\nok")
    assert status == 200 and body == b"ok"
    assert headers["content-type"] == "text/plain"
    # garbage protocols still refuse
    with pytest.raises(HttpError, match="status line"):
        parse_http_response(b"HTTP/x 200\r\n\r\n")


def test_lf_only_head_tolerated():
    """Bare-LF heads (servers that never emitted the CR) parse with the
    same fields; a spec-correct CRLF head is untouched by the tolerance."""
    status, headers, body = parse_http_response(
        b"HTTP/1.1 200 OK\nContent-Type: text/html\nContent-Length: 5\n"
        b"\nhello")
    assert (status, body) == (200, b"hello")
    assert headers["content-type"] == "text/html"
    # mixed endings: CRLF status line, LF header lines, LFLF terminator
    status2, headers2, body2 = parse_http_response(
        b"HTTP/1.1 404 Not Found\r\nX-A: 1\nX-B: 2\n\ngone")
    assert (status2, body2) == (404, b"gone")
    assert headers2 == {"x-a": "1", "x-b": "2"}


def test_chunked_header_with_stored_decoded_body():
    """The known real-crawl quirk: the crawler stored the
    TRANSFER-DECODED body while retaining the Transfer-Encoding header.
    Evidence is positional — the first line is not a chunk-size line,
    so the stream was never chunk-framed; pass the body through. A
    genuinely chunked body torn MID-stream still refuses."""
    status, _, body = parse_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"<html>already decoded</html>")
    assert status == 200 and body == b"<html>already decoded</html>"
    # a REAL chunked stream still dechunks
    _, _, body2 = parse_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\n0\r\n\r\n")
    assert body2 == b"hello"
    # torn mid-stream (valid first size line, body cut short) refuses
    with pytest.raises(HttpError, match="torn at byte"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"ff\r\nonly a few bytes")
    # ambiguity guard: a decoded body whose first line IS a valid
    # chunk-size line is treated as chunked and refuses loudly (named,
    # quarantinable) — never silently mis-framed; only a first line
    # that CANNOT be a size line takes the stored-decoded path
    with pytest.raises(HttpError, match="chunk"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"deadbeef\r\nwas the codename")
    # a first line that merely BEGINS with hex digits ('deadbeef was
    # …', '4q…') is far more likely a chunk frame with a corrupted
    # size byte than a pre-decoded body — routed to dechunk, refuses
    # by name (strictness over silently passing framing bytes; the
    # cost is that a pre-decoded TEXT body opening with a bare hex
    # word quarantines)
    with pytest.raises(HttpError, match="chunk"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"deadbeef was the codename")


def test_meta_prescan_gated_on_markup_content_type():
    """The WHATWG prescan only applies to html/xml media types (or no
    Content-Type): a JSON/plain body containing a meta-charset-shaped
    byte string must not hijack the decode."""
    sneaky = b'{"x": "<meta charset=\\"iso8859-5\\">"}'
    # non-markup Content-Type: prescan suppressed → utf-8 fallback
    assert charset_name(
        {"content-type": "application/json"}, sneaky) == "utf-8"
    assert charset_name({"content-type": "text/plain"}, sneaky) == "utf-8"
    # markup types and ABSENT Content-Type still prescan
    html = b'<meta charset="iso8859-5"><p>x</p>'
    assert charset_name({"content-type": "text/html"}, html) == "iso8859-5"
    assert charset_name(
        {"content-type": "application/xhtml+xml"}, html) == "iso8859-5"
    assert charset_name({"content-type": "text/xml"}, html) == "iso8859-5"
    assert charset_name({}, html) == "iso8859-5"
    # a header charset param on a non-markup type still wins as before
    assert charset_name(
        {"content-type": "application/json; charset=iso8859-1"}, sneaky) \
        == "iso8859-1"


def test_extract_http_html_error_column(spark):
    """Quarantine reasons are observable per row: <prefix>error carries
    the named refusal for quarantined rows and NULL for parsed rows."""
    from bravo_spark import llmops

    good = _msg(b"HTTP/1.1 200 OK\r\nContent-Length: 4\r\n", b"good")
    torn = _msg(b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n", b"short")
    unsupported = _msg(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\nContent-Length: 3\r\n",
        b"xyz")
    df = spark.createDataFrame(
        [(1, good), (2, torn), (3, unsupported)], "id long, p binary")
    out = {r.id: r for r in
           llmops.extract_http_html(df, "p", quarantine=True).collect()}
    assert out[1].http_error is None and out[1].http_status == 200
    assert "torn capture" in out[2].http_error
    assert "Content-Encoding 'br'" in out[3].http_error


def test_chunked_sniff_review_findings_r19():
    """Post-review pins on the stored-decoded sniff: (a) a lenient
    server's leading-whitespace size line routes to dechunk (which
    tolerates it), never through the quirk path as raw framing bytes;
    (b) an EMPTY body under TE: chunked is a torn stream (refuses), not
    an empty document; (c) bare-LF chunked framing — the same CR-less
    population the head tolerance serves — now dechunks."""
    _, _, body = parse_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"  4\r\nWiki\r\n0\r\n\r\n")
    assert body == b"Wiki"
    with pytest.raises(HttpError, match="chunk"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
    # LF-only chunked stream, LF-only head — decodes end to end
    _, _, body2 = parse_http_response(
        b"HTTP/1.1 200 OK\nTransfer-Encoding: chunked\n\n"
        b"4\nWiki\n5\npedia\n0\n\n")
    assert body2 == b"Wikipedia"
    # mixed: CRLF sizes, LF data terminators
    assert dechunk(b"4\r\nWiki\n0\r\n\r\n") == b"Wiki"
    # LF framing stays STRICT framing: torn mid-stream still refuses
    with pytest.raises(HttpError, match="torn at byte"):
        dechunk(b"ff\nonly a few bytes")


def test_zstd_bound_is_a_type(monkeypatch):
    """Bomb-vs-corruption classification is by exception TYPE
    (ZstdBoundError), not message prose — fastpath raises it and
    http.py maps it to the named bomb refusal."""
    from bravo_spark.codecs import fastpath
    from bravo_spark.codecs import http as h
    from bravo_spark.codecs.zstd import ZstdBoundError

    bomb = _zstd_frame(b"\x00" * (1 << 22))
    with pytest.raises(ZstdBoundError):
        fastpath.zstd_decompress_stream(bomb, max_bytes=4096)
    monkeypatch.setattr(h, "_MIN_INFLATE_CAP", 1 << 16)
    with pytest.raises(HttpError, match="decompression bomb"):
        h.decode_content_encoding({"content-encoding": "zstd"}, bomb)


def test_corrupted_chunk_size_line_refuses_not_passthrough():
    """The chunked quirk (pre-decoded body behind a retained
    Transfer-Encoding header) must not swallow a chunk-framed stream
    whose size line is corrupted: a first line BEGINNING with a hex
    digit routes to dechunk and refuses by name."""
    for torn in (b"4q\r\nbody\r\n0\r\n\r\n", b"4 5\r\nbody\r\n0\r\n\r\n"):
        raw = (b"HTTP/1.1 200 OK\r\ntransfer-encoding: chunked\r\n\r\n"
               + torn)
        with pytest.raises(HttpError, match="chunk"):
            parse_http_response(raw)
    # the quirk path still accepts a clearly-not-chunk-framed body
    raw = (b"HTTP/1.1 200 OK\r\ntransfer-encoding: chunked\r\n\r\n"
           b"<html>pre-decoded</html>")
    assert parse_http_response(raw)[2] == b"<html>pre-decoded</html>"
