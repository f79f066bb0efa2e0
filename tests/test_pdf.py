"""PDF text tier: fixture PDFs from encode_pdf (the independent side),
escape/hex/TJ semantics, the honest refusals (Type0, encrypted), bomb
bounds, and the Spark operator."""

from __future__ import annotations

import zlib

import pytest

from pg2kinesis_spark.functions.pdf import (
    encode_pdf,
    extract_pdf_text,
    is_pdf,
    pdf_page_count,
    pdf_text,
)


def test_multipage_roundtrip_plain_and_compressed():
    pages = [["Hello world", "second line"], ["page two text"]]
    for compress in (False, True):
        data = encode_pdf(pages, compress=compress)
        assert is_pdf(data)
        text = pdf_text(data)
        assert "Hello world" in text
        assert "second line" in text
        assert "page two text" in text
        # T* between lines -> newline structure survives
        assert text.index("Hello world") < text.index("second line")
        assert pdf_page_count(data) == 2


def test_string_escapes_hex_and_tj_kerning():
    data = encode_pdf([["parens ( inside ) and backslash \\ done"]])
    # encode_pdf escapes; build a raw stream for the exotic cases instead
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"(a\\(b\\)c \\134 \\110i) Tj "          # escapes + octal H, i
        b"<48454C4C4F> Tj "                        # hex HELLO
        b"[(wo) -50 (rd) -300 (gap)] TJ "          # kern -300 -> space
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF\n"
    )
    text = pdf_text(pdf)
    assert "a(b)c" in text
    assert "\\" in text and "Hi" in text           # octal 134 = backslash
    assert "HELLO" in text
    assert "word gap" in text                      # -50 joins, -300 spaces
    t2 = pdf_text(data)
    assert "parens ( inside ) and backslash \\ done" in t2


def test_honest_refusals_and_bounds():
    good = encode_pdf([["ok"]])
    with pytest.raises(ValueError, match="PDF"):
        pdf_text(b"not a pdf at all")
    with pytest.raises(NotImplementedError, match="CMap"):
        pdf_text(good.replace(b"/Type1", b"/Type0"))
    with pytest.raises(NotImplementedError, match="encrypted"):
        pdf_text(good + b"\n<< /Encrypt 9 0 R >>")
    # inflate bomb: a tiny Flate stream claiming to expand huge
    bomb_payload = zlib.compress(bytes(1 << 16))
    bomb = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(bomb_payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + bomb_payload
        + b"\nendstream\nendobj\n"
    )
    import pg2kinesis_spark.functions.pdf as P

    old = P.MAX_INFLATE
    P.MAX_INFLATE = 1 << 10
    try:
        with pytest.raises(ValueError, match="inflates"):
            pdf_text(bomb)
    finally:
        P.MAX_INFLATE = old
    # broken /Length falls back to the endstream scan
    broken = encode_pdf([["fallback works"]]).replace(b"/Length", b"/Lemgth")
    assert "fallback works" in pdf_text(broken)


def test_spark_pdf_operator_quarantines(spark):
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA

    good = encode_pdf([["spark side text"], ["and page two"]], compress=True)
    cid = encode_pdf([["x"]]).replace(b"/Type1", b"/Type0")
    rows = [
        (0, bytearray(good), ("application/pdf", 0, "mem://a.pdf")),
        (1, bytearray(b"junk not pdf"), ("application/pdf", 0, "mem://b.pdf")),
        (2, bytearray(cid), ("application/pdf", 0, "mem://c.pdf")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_pdf_text(media).collect()}
    assert "spark side text" in out[0].text and out[0].n_pages == 2
    assert out[0].decode_error is None
    assert out[1].text is None and "PDF" in out[1].decode_error
    assert out[2].text is None and "CMap" in out[2].decode_error
    with pytest.raises(Exception):
        extract_pdf_text(media, errors="raise").collect()


def test_nested_decodeparms_dict_keeps_filter(spark):
    """A stream dict with a NESTED dict after /Filter (DecodeParms —
    ubiquitous in real PDFs) must still FlateDecode: the naive
    rfind('<<') picked the inner dict and lost the /Filter key."""
    import zlib as _z

    content = b"BT /F1 12 Tf 72 720 Td (nested dict text) Tj ET"
    z = _z.compress(content)
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(z)).encode()
        + b" /Filter /FlateDecode /DecodeParms << /Columns 4 >> >>\n"
        b"stream\n" + z + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert "nested dict text" in pdf_text(pdf)


# --- round-6: CID/Type0 via ToUnicode + object streams ----------------------


def test_cid_tounicode_roundtrip():
    """Glyph codes are deliberately ≠ Unicode values (encode_pdf_cid):
    the text survives ONLY if decoding went through the CMap."""
    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    pages = [["héllo CID wörld", "ligature ﬁ — dash"], ["page two ✓ 你好"]]
    data = encode_pdf_cid(pages)
    text = pdf_text(data)
    assert "héllo CID wörld" in text
    assert "ligature ﬁ — dash" in text
    assert "你好" in text
    assert pdf_page_count(data) == 2


def test_cid_without_tounicode_still_refuses():
    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    data = encode_pdf_cid([["secret glyphs"]], with_tounicode=False)
    with pytest.raises(NotImplementedError, match="CMap"):
        pdf_text(data)


def test_cid_unmapped_code_renders_replacement_char():
    """A code outside the CMap must surface as U+FFFD (explicit
    unknown), never as a silently wrong character."""
    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    data = encode_pdf_cid([["ab"]], code_base=0x0013)
    # splice an unmapped code 0x0FFF into the hex show string
    assert b"<00130014> Tj" in data
    data = data.replace(b"<00130014> Tj", b"<001300140fff> Tj")
    assert pdf_text(data) == "ab\N{REPLACEMENT CHARACTER}"


def test_objstm_hides_page_tree_from_raw_scan_but_parses():
    data = encode_pdf([["alpha beta"], ["gamma"]], compress=True, objstm=True)
    # the page dicts are genuinely inside the compressed ObjStm
    assert b"/ObjStm" in data
    assert len([m for m in __import__("re").finditer(rb"/Type\s*/Page\b(?!s)", data)]) == 0
    text = pdf_text(data)
    assert "alpha beta" in text and "gamma" in text
    assert pdf_page_count(data) == 2


def test_objstm_cid_combined():
    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    data = encode_pdf_cid([["mixed μodes"], ["two ✓"]], objstm=True)
    text = pdf_text(data)
    assert "mixed μodes" in text and "two ✓" in text
    assert pdf_page_count(data) == 2


def test_tounicode_bfrange_scalar_and_array_and_surrogates():
    from pg2kinesis_spark.functions.pdf import _parse_tounicode

    cm = (
        b"1 begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"1 beginbfrange <0010> <0012> <0041> endbfrange\n"
        b"1 beginbfrange <0020> <0021> [<0058> <00590041>] endbfrange\n"
        b"1 beginbfchar <0001> <D83DDE00> endbfchar\n"
    )
    code_len, mp = _parse_tounicode(cm)
    assert code_len == 2
    assert (mp[0x10], mp[0x11], mp[0x12]) == ("A", "B", "C")
    assert mp[0x20] == "X" and mp[0x21] == "YA"  # array + multi-unit dst
    assert mp[0x01] == "\U0001F600"  # surrogate pair decodes
    # hostile range (hi < lo / oversized) is skipped, not allocated
    bad = b"1 beginbfrange <00ff> <0010> <0041> endbfrange"
    assert _parse_tounicode(bad) is None


def test_mixed_simple_and_cid_fonts_on_one_page():
    """Two fonts in one content stream: Tf switches the decoder."""
    import re as _re

    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    data = encode_pdf_cid([["cidtext"]], code_base=0x0030)
    # add a simple font /F2 to the page resources and a latin-1 run
    data = data.replace(
        b"/Font << /F1 ",
        b"/Font << /F2 900 0 R /F1 ",
    )
    simple_font = (
        b"900 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        b"\nendobj\n"
    )
    # append the extra font object and extend the content stream
    m = _re.search(rb"<< /Length (\d+) >>\nstream\n(.*?)\nendstream", data, _re.S)
    old_stream = m.group(2)
    new_stream = old_stream.replace(
        b" ET", b" T* /F2 12 Tf (plain latin) Tj ET"
    )
    data = data.replace(
        b"<< /Length " + m.group(1) + b" >>\nstream\n" + old_stream,
        b"<< /Length " + str(len(new_stream)).encode() + b" >>\nstream\n" + new_stream,
    ) + simple_font
    text = pdf_text(data)
    assert "cidtext" in text and "plain latin" in text


def test_fuzz_cid_and_objstm_pdfs():
    """The corruption hammer over the new encoders: any byte damage
    must raise or return — never hang or produce an unbounded alloc."""
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    fixtures = [
        encode_pdf_cid([["fuzz cid page", "two lines"]], objstm=False),
        encode_pdf_cid([["objstm cid"]], objstm=True),
        encode_pdf([["objstm simple"]], compress=True, objstm=True),
    ]
    _hammer(pdf_text, fixtures, seed=47)


def test_form_xobject_text_is_extracted():
    """Text drawn via `/Fm0 Do` lives in a Form XObject stream the page
    references through /Resources /XObject — the graph walk must
    extract it (the pre-round-6 every-stream walk did), shared forms
    exactly once, and a form's own /Resources fonts win."""
    content = b"q /Fm0 Do Q"
    form = b"BT /F1 10 Tf 10 10 Td (xobject text) Tj ET"
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",        # 1
        b"<< /Length " + str(len(form)).encode() + b" >>\nstream\n"       # 2
        + form + b"\nendstream",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"    # 3
        + content + b"\nendstream",
        b"<< /Type /Page /Parent 6 0 R /Contents 3 0 R /Resources "       # 4
        b"<< /Font << /F1 1 0 R >> /XObject << /Fm0 2 0 R >> >> >>",
        b"<< /Type /Page /Parent 6 0 R /Contents 3 0 R /Resources "       # 5
        b"<< /Font << /F1 1 0 R >> /XObject << /Fm0 2 0 R >> >> >>",
        b"<< /Type /Pages /Kids [4 0 R 5 0 R] /Count 2 >>",               # 6
        b"<< /Type /Catalog /Pages 6 0 R >>",                             # 7
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    out += b"%%EOF\n"
    text = pdf_text(bytes(out))
    assert text.count("xobject text") == 1  # shared form: extracted once
    assert pdf_page_count(bytes(out)) == 2


# --- round-6: standard-handler RC4 decryption --------------------------------


def test_encrypted_rc4_empty_user_password_decodes():
    """Owner-locked PDFs (standard handler, RC4, empty USER password)
    decrypt for real — the spec's intended read path, covering both
    revisions and composing with Flate/ObjStm/CID layouts."""
    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    pages = [["secret alpha line", "café ünïcode"], ["page two here"]]
    for r in (2, 3):
        for data in (
            encode_pdf(pages, compress=True, encrypt_r=r),
            encode_pdf(pages, compress=True, objstm=True, encrypt_r=r),
            encode_pdf_cid(pages, encrypt_r=r),
        ):
            text = pdf_text(data)
            assert "secret alpha line" in text and "page two here" in text
            assert pdf_page_count(data) == 2
    # the ciphertext is genuinely opaque: plaintext absent from bytes
    enc = encode_pdf([["findme plaintext"]], encrypt_r=3)
    assert b"findme" not in enc
    assert "findme" in pdf_text(enc)


def test_encrypted_refusals_stay_honest():
    """Non-empty user passwords, AES/newer handlers, and unresolvable
    /Encrypt markers all still raise into the quarantine channel."""
    locked = bytearray(encode_pdf([["locked"]], encrypt_r=3))
    i = locked.find(b"/U <")
    locked[i + 4 : i + 8] = b"0000"  # wrong /U == non-empty user password
    with pytest.raises(NotImplementedError, match="password"):
        pdf_text(bytes(locked))
    aes = encode_pdf([["x"]], encrypt_r=3).replace(b"/V 2 /R 3", b"/V 4 /R 4")
    with pytest.raises(NotImplementedError, match="AES"):
        pdf_text(aes)
    with pytest.raises(NotImplementedError, match="encrypted"):
        pdf_text(encode_pdf([["ok"]]) + b"\n<< /Encrypt 9 0 R >>")


def test_fuzz_encrypted_pdfs():
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    fixtures = [
        encode_pdf([["fuzz enc", "two"]], compress=True, encrypt_r=3),
        encode_pdf_cid([["fuzz cid enc"]], objstm=True, encrypt_r=2),
    ]
    _hammer(pdf_text, fixtures, seed=49)


def test_encrypted_aes_v2_and_v3_decode():
    """AESV2 (V4/R4, AES-128, per-object sAlT keys) and AESV3 (V5/R6,
    AES-256 file key via the Algorithm 2.B hardened hash + /UE) both
    decode with empty user passwords, across layouts."""
    from pg2kinesis_spark.functions.pdf import encode_pdf_cid

    pages = [["aes secret line", "café ünïcode"], ["page two here"]]
    for r in (4, 6):
        for data in (
            encode_pdf(pages, compress=True, encrypt_r=r),
            encode_pdf(pages, compress=True, objstm=True, encrypt_r=r),
            encode_pdf_cid(pages, encrypt_r=r),
        ):
            text = pdf_text(data)
            assert "aes secret line" in text and "page two here" in text
            assert pdf_page_count(data) == 2
    enc = encode_pdf([["findme plaintext"]], encrypt_r=6)
    assert b"findme" not in enc
    assert "findme" in pdf_text(enc)
    # AESV3 with a tampered validation hash == non-empty user password
    bad = bytearray(encode_pdf([["x"]], encrypt_r=6))
    i = bad.find(b"/U <")
    bad[i + 4 : i + 8] = b"0000"
    with pytest.raises(NotImplementedError, match="password"):
        pdf_text(bytes(bad))


def test_password_credentialed_decryption_all_generations():
    """Round 7: a caller-supplied password opens credentialed layouts
    across every cipher generation — as the USER password (Algorithm 2
    / 2.A key derivation) and as the OWNER password (Algorithm 7 /O
    RC4-unwrap; AESV3 /O-hash + /OE unwrap); empty and wrong passwords
    refuse with distinct honest messages; the owner-locked layout keeps
    working with no credentials."""
    pages = [["the secret contents", "line two"], ["page two here"]]
    for r in (2, 3, 4, 6):
        pu = encode_pdf(
            pages, encrypt_r=r, user_password=b"hunter2", owner_password=b"admin99"
        )
        with pytest.raises(NotImplementedError, match="not empty"):
            pdf_text(pu)
        with pytest.raises(NotImplementedError, match="wrong password"):
            pdf_text(pu, password=b"wrong")
        t_user = pdf_text(pu, password="hunter2")  # str: latin-1 path
        t_owner = pdf_text(pu, password=b"admin99")
        assert "secret contents" in t_user and t_user == t_owner, r
        assert pdf_page_count(pu, password=b"hunter2") == 2
        # owner-only file: opens bare AND with the owner credential
        po = encode_pdf(pages, encrypt_r=r, owner_password=b"admin99")
        assert "secret contents" in pdf_text(po)
        assert "secret contents" in pdf_text(po, password=b"admin99")


def test_password_spark_operator_roundtrip(spark):
    """extract_pdf_text(password=...) opens a credentialed corpus; the
    same corpus without the credential quarantines (NULL text + the
    honest error), never killing the batch."""
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA
    from pg2kinesis_spark.functions.pdf import extract_pdf_text

    blob = encode_pdf(
        [["credentialed body text"]], encrypt_r=3, user_password=b"k3y"
    )
    plain = encode_pdf([["open body text"]])
    rows = [
        (0, bytearray(blob), ("application/pdf", len(blob), "mem://locked")),
        (1, bytearray(plain), ("application/pdf", len(plain), "mem://open")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with_pwd = {r.media_id: r for r in extract_pdf_text(media, password=b"k3y").collect()}
    assert "credentialed body text" in with_pwd[0].text
    assert with_pwd[0].decode_error is None
    assert "open body text" in with_pwd[1].text  # password unused, no harm
    without = {r.media_id: r for r in extract_pdf_text(media).collect()}
    assert without[0].text is None and "password" in without[0].decode_error
    assert "open body text" in without[1].text


def test_fuzz_aes_encrypted_pdfs():
    from tests.test_codec_fuzz import _hammer

    fixtures = [
        encode_pdf([["fuzz aes v2"]], compress=True, encrypt_r=4),
        encode_pdf([["fuzz aes v3"]], encrypt_r=6),
    ]
    # budget 2 s, not the codec default 0.5 s: a corruption that lands
    # in the AESV3 salts forces a fresh Algorithm 2.B run, which is a
    # password KDF — deliberately ~0.35 s, but BOUNDED by construction
    # (64-127 rounds, K1 ≤ 4 KiB) so hostile bytes can't inflate it.
    _hammer(pdf_text, fixtures, seed=50, budget_s=2.0)


def test_simple_font_encoding_differences():
    """/Encoding /Differences remaps bytes through glyph names:
    algorithmic uniXXXX, AGL names, single-char names; unknown names
    render U+FFFD; unmapped bytes stay Latin-1."""
    content = b"BT /F1 10 Tf 10 10 Td (caf\x80 \x81 \x82 \xc8 plain) Tj ET"
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom /Encoding "
        b"<< /Differences [ 128 /adieresis /uni20AC /q 200 /madeupname ] >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Page /Parent 4 0 R /Contents 2 0 R /Resources "
        b"<< /Font << /F1 1 0 R >> >> >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    out += b"%%EOF\n"
    assert pdf_text(bytes(out)) == "cafä € q \N{REPLACEMENT CHARACTER} plain"


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Reference TIFF-variant LZW encoder (test-side independent twin)."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out, val, nbits = bytearray(), 0, 0

    def emit(code, w):
        nonlocal val, nbits
        val = (val << w) | code
        nbits += w
        while nbits >= 8:
            nbits -= 8
            out.append((val >> nbits) & 0xFF)

    emit(256, width)
    w = b""
    for ch in bytes(data):
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        else:
            emit(table[w], width)
            table[wc] = next_code
            next_code += 1
            if next_code + early - 1 >= (1 << width) and width < 12:
                width += 1
            w = bytes([ch])
    if w:
        emit(table[w], width)
    emit(257, width)
    if nbits:
        val <<= 8 - nbits
        out.append(val & 0xFF)
    return bytes(out)


def test_filter_chains_lzw_a85_hex_rle():
    """The text-bearing filter set decodes, alone and CHAINED in
    declared order; image filters still skip; bombs stay bounded."""
    import base64
    import random

    from pg2kinesis_spark.functions.pdf import (
        _decode_stream,
        _lzw_decode,
        _rle_decode,
    )

    rng = random.Random(3)
    for n in (0, 1, 50, 5000):
        data = bytes(rng.choice(b"abcde\n ") for _ in range(n))
        assert _lzw_decode(_lzw_encode(data)) == data
    assert (
        _rle_decode(bytes([2]) + b"abc" + bytes([254]) + b"x" + bytes([128]))
        == b"abc" + b"x" * 3
    )

    content = b"BT /F1 10 Tf 10 10 Td (chained filters) Tj ET"
    z = zlib.compress(content)
    a85 = base64.a85encode(z) + b"~>"
    assert _decode_stream(b"<< /Filter [ /ASCII85Decode /FlateDecode ] >>", a85) == content
    hx = z.hex().encode() + b">"
    assert _decode_stream(b"<< /Filter [ /ASCIIHexDecode /FlateDecode ] >>", hx) == content
    assert _decode_stream(b"<< /Filter /DCTDecode >>", b"\xff\xd8jpeg") is None

    # end-to-end: an LZW content stream (the pre-Flate-era layout)
    lz = _lzw_encode(content)
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Filter /LZWDecode /Length " + str(len(lz)).encode()
        + b" >>\nstream\n" + lz + b"\nendstream",
        b"<< /Type /Page /Parent 4 0 R /Contents 2 0 R /Resources "
        b"<< /Font << /F1 1 0 R >> >> >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    out = bytearray(b"%PDF-1.2\n")
    for i, body in enumerate(objs, 1):
        out += str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n"
    assert pdf_text(bytes(out)) == "chained filters"

    # LZW bomb: a tiny input that would inflate past the cap must raise
    import pg2kinesis_spark.functions.pdf as P

    old_cap = P.MAX_INFLATE
    P.MAX_INFLATE = 1 << 10
    try:
        with pytest.raises(ValueError, match="inflates"):
            _lzw_decode(_lzw_encode(bytes(1 << 12)))
    finally:
        P.MAX_INFLATE = old_cap


def test_literal_strings_starting_with_slash_are_text_not_names():
    """A literal string whose bytes begin with '/' is REAL TEXT (unix
    paths are everywhere in technical documents): TJ/Tj must show it,
    and a literal like (/F2) left on the stack must never switch the
    active font the way a genuine /F2 name token does."""
    from pg2kinesis_spark.functions.pdf import pdf_text

    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(see ) (/usr/local/bin) ( path)] TJ "
        b"(/etc/hosts) Tj "
        b"(/F9) 12 Tf (still simple text) Tj "  # literal, NOT a font switch
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF\n"
    )
    text = pdf_text(pdf)
    assert "see /usr/local/bin path" in text
    assert "/etc/hosts" in text
    assert "still simple text" in text


def _png_predict_rows(data: bytes, rowlen: int, ft: int) -> bytes:
    """Forward PNG row prediction (the independent encoder side of
    _unpredict): pads to a whole row, tags every row with filter ft."""
    if len(data) % rowlen:
        data += b" " * (rowlen - len(data) % rowlen)
    prev = bytes(rowlen)
    out = bytearray()
    for r0 in range(0, len(data), rowlen):
        row = data[r0 : r0 + rowlen]
        out.append(ft)
        if ft == 0:
            out += row
        elif ft == 1:  # Sub
            out += bytes(
                (row[j] - (row[j - 1] if j else 0)) & 0xFF for j in range(rowlen)
            )
        elif ft == 2:  # Up
            out += bytes((row[j] - prev[j]) & 0xFF for j in range(rowlen))
        else:
            raise AssertionError("fixture only encodes None/Sub/Up")
        prev = row
    return bytes(out)


def test_flate_png_predictor_streams_decode():
    """FlateDecode + /DecodeParms /Predictor >= 10 (ubiquitous in
    xref/ObjStm streams, legal on content streams): rows un-predict
    through None/Sub/Up before the content parser sees them; TIFF
    predictor 2 and a truncated final row are also covered."""
    import zlib as _z

    from pg2kinesis_spark.functions.pdf import pdf_text

    content = b"BT /F1 12 Tf 72 720 Td (predictor text survives) Tj ET"
    for ft in (0, 1, 2):
        z = _z.compress(_png_predict_rows(content, 10, ft))
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(z)).encode()
            + b" /Filter /FlateDecode"
            b" /DecodeParms << /Predictor 12 /Columns 10 >> >>\n"
            b"stream\n" + z + b"\nendstream\nendobj\n%%EOF\n"
        )
        assert "predictor text survives" in pdf_text(pdf)
    # TIFF predictor 2: horizontal byte differencing
    raw = bytearray(content)
    rowlen = 8
    if len(raw) % rowlen:
        raw += b" " * (rowlen - len(raw) % rowlen)
    diff = bytearray(raw)
    for r0 in range(0, len(diff), rowlen):
        for j in range(r0 + rowlen - 1, r0, -1):
            diff[j] = (diff[j] - diff[j - 1]) & 0xFF
    z = _z.compress(bytes(diff))
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(z)).encode()
        + b" /Filter /FlateDecode"
        b" /DecodeParms << /Predictor 2 /Columns 8 >> >>\n"
        b"stream\n" + z + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert "predictor text survives" in pdf_text(pdf)
    # hostile: predictor stream with a cut final row refuses loudly
    import pytest as _pt

    bad = _png_predict_rows(content, 10, 2)[:-3]
    z = _z.compress(bad)
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(z)).encode()
        + b" /Filter /FlateDecode"
        b" /DecodeParms << /Predictor 12 /Columns 10 >> >>\n"
        b"stream\n" + z + b"\nendstream\nendobj\n%%EOF\n"
    )
    with _pt.raises(ValueError, match="truncated|predictor|no text"):
        pdf_text(pdf)


def test_stmf_identity_streams_are_plaintext():
    """A V4 /Encrypt dict with /StmF /Identity declares stream bodies
    UNencrypted — 'decrypting' them would be garbage. The walk must
    read them as-is."""
    base = encode_pdf([["identity stream text"]], compress=True)
    enc_obj = (
        b"\n9 0 obj\n<< /Filter /Standard /V 4 /R 4 /StmF /Identity"
        b" /CF << /StdCF << /CFM /AESV2 >> >> /O <00> /U <00> /P -44 >>"
        b"\nendobj\n<< /Encrypt 9 0 R >>\n"
    )
    text = pdf_text(base + enc_obj)
    assert "identity stream text" in text
    # any other non-StdCF stream filter name still refuses
    other = enc_obj.replace(b"/StmF /Identity", b"/StmF /MyCF")
    with pytest.raises(NotImplementedError, match="Standard|/V 4"):
        pdf_text(base + other)


def test_per_stream_crypt_identity_is_not_decrypted():
    """A stream carrying its own /Crypt filter with /Name /Identity (or
    the Table-26 default, no /Name) opted out of encryption: its body
    must pass through undecrypted while sibling streams decrypt."""
    from pg2kinesis_spark.functions.pdf import _decrypt_objects, _object_map

    enc = encode_pdf([["rc4 page text"]], compress=False, encrypt_r=3)
    plain = b"BT /F1 12 Tf (crypt identity body) Tj ET"
    extra = (
        b"\n50 0 obj\n<< /Length " + str(len(plain)).encode()
        + b" /Filter /Crypt /DecodeParms << /Name /Identity >> >>\n"
        b"stream\n" + plain + b"\nendstream\nendobj\n"
    )
    data = enc + extra
    objs = _object_map(data)
    _decrypt_objects(data, objs)
    assert objs[50][1] == plain  # untouched
    # /Name /StdCF means the DEFAULT decryption applies (no opt-out)
    named = extra.replace(b"/Name /Identity", b"/Name /StdCF")
    objs2 = _object_map(enc + named)
    _decrypt_objects(enc + named, objs2)
    assert objs2[50][1] != plain  # body was RC4-"decrypted" like siblings
    # any other named per-stream crypt filter refuses loudly
    custom = extra.replace(b"/Name /Identity", b"/Name /MyCF")
    objs3 = _object_map(enc + custom)
    with pytest.raises(NotImplementedError, match="Crypt"):
        _decrypt_objects(enc + custom, objs3)


# --- embedded images -> image tier (round 8) --------------------------------

def test_pdf_images_dct_and_raw_round_trip():
    """DCTDecode payloads come back as the exact JPEG bytes planted;
    raw 8-bit DeviceRGB/DeviceGray samples re-wrap as lossless PNG;
    both survive the ObjStm and encrypted layouts."""
    import numpy as np

    from pg2kinesis_spark.functions import codecs as C
    from pg2kinesis_spark.functions.pdf import encode_pdf, pdf_images, pdf_text

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (24, 16, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, (8, 10, 1), dtype=np.uint8)
    jpg = C.encode_jpeg(img, quality=90)
    imgs = [(jpg, 16, 24, "jpeg"), (img.tobytes(), 16, 24, "rgb"),
            (gray.tobytes(), 10, 8, "gray")]
    for kw in ({}, {"objstm": True, "compress": True}, {"encrypt_r": 3}):
        doc = encode_pdf([["hello", "world"]], images=imgs, **kw)
        assert pdf_text(doc) == "hello\nworld"  # Do ops don't perturb text
        got = pdf_images(doc)
        assert [g[2] for g in got] == ["image/jpeg", "image/png", "image/png"]
        assert got[0][1] == jpg
        assert np.array_equal(C.decode_png(got[1][1]), img)
        assert np.array_equal(C.decode_png(got[2][1]), gray)


def test_pdf_images_per_image_quarantine():
    """A JPX plate quarantines as ONE row; the JPEG next to it still
    extracts — per-image error channel, never whole-document."""
    import numpy as np

    from pg2kinesis_spark.functions import codecs as C
    from pg2kinesis_spark.functions.pdf import _PdfBuilder, pdf_images

    img = np.full((4, 4, 3), 9, dtype=np.uint8)
    jpg = C.encode_jpeg(img)
    b = _PdfBuilder(False)
    font = b.add_dict(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    b.add_image(jpg, 4, 4, "jpeg")
    b.add(b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4"
          b" /Filter /JPXDecode /Length 3 >>\nstream\nabc\nendstream")
    cid = b.add_stream(b"BT ET")
    doc = b.finish([cid], font)
    got = pdf_images(doc)
    assert got[0][1] == jpg and got[0][3] is None
    assert got[1][1] is None and "JPXDecode" in got[1][3]


def test_pdf_embedded_figures_pair_in_image_tier(spark):
    """The planted-pair truth (VERDICT r7 task 6): the same figure
    embedded in two different PDFs (once as JPEG, once as raw RGB)
    pairs in media_near_dup_pairs(signature='dhash') over the
    extract_pdf_images rows; an unrelated figure separates."""
    import numpy as np
    from pyspark.sql import functions as F

    from pg2kinesis_spark.functions import codecs as C
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_pdf_images,
        media_near_dup_pairs,
    )
    from pg2kinesis_spark.functions.pdf import encode_pdf

    x = np.linspace(0, 255, 32, dtype=np.uint8)
    fig = np.stack(np.meshgrid(x, x)[::-1] + [np.outer(x, x[::-1]) // 255],
                   axis=-1).astype(np.uint8)
    rng = np.random.RandomState(9)
    other = rng.randint(0, 256, (32, 32, 3), dtype=np.uint8)
    doc_a = encode_pdf([["a"]], images=[(C.encode_jpeg(fig, quality=92), 32, 32, "jpeg")])
    doc_b = encode_pdf([["b"]], images=[(fig.tobytes(), 32, 32, "rgb")],
                       objstm=True, compress=True)
    doc_c = encode_pdf([["c"]], images=[(other.tobytes(), 32, 32, "rgb")])
    rows = [
        (i, bytearray(d), ("application/pdf", len(d), f"mem://{i}.pdf"))
        for i, d in enumerate([doc_a, doc_b, doc_c])
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    # one figure per document: the image rows keep their document's id
    figures = extract_pdf_images(media).select(
        "media_id",
        "content",
        F.struct("mime", F.length("content").cast("long").alias("bytes_hint"),
                 F.lit("").alias("source_uri")).alias("meta"),
    )
    pairs = media_near_dup_pairs(figures, max_hamming=6,
                                 signature="dhash").collect()
    got = {frozenset((r["media_id1"], r["media_id2"])) for r in pairs}
    assert frozenset((0, 1)) in got
    assert not any(2 in p for p in got)


def test_fuzz_pdf_images_walk():
    import numpy as np

    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions import codecs as C
    from pg2kinesis_spark.functions.pdf import encode_pdf, pdf_images

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    corpus = [
        encode_pdf([["x"]], images=[(C.encode_jpeg(img), 4, 4, "jpeg"),
                                    (img.tobytes(), 4, 4, "rgb")]),
        encode_pdf([["y"]], images=[(img.tobytes(), 4, 4, "rgb")],
                   objstm=True, compress=True),
    ]
    _hammer(pdf_images, corpus, seed=13, budget_s=2.0)


def test_pdf_indexed_palette_images():
    """/Indexed colorspace plates (diagrams, charts): palette indices at
    1/2/4/8 bits map through the RGB lookup to a lossless PNG; an index
    past /hival refuses per image."""
    import numpy as np

    from pg2kinesis_spark.functions import codecs as C
    from pg2kinesis_spark.functions.pdf import encode_pdf, pdf_images

    rng = np.random.RandomState(8)
    palette = bytes(rng.randint(0, 256, 16 * 3, dtype=np.uint8))
    tab = np.frombuffer(palette, dtype=np.uint8).reshape(16, 3)
    for bpc in (1, 2, 4, 8):
        ncol = min(1 << bpc, 16)
        idxs = rng.randint(0, ncol, (10, 13)).astype(np.uint8)
        if bpc == 8:
            payload = idxs.tobytes()
        else:
            bits = ((idxs[:, :, None] >> np.arange(bpc - 1, -1, -1)) & 1).astype(
                np.uint8
            )
            payload = np.packbits(bits.reshape(10, -1), axis=1).tobytes()
        doc = encode_pdf(
            [["pg"]], images=[(payload, 13, 10, "indexed", palette, bpc)]
        )
        got = pdf_images(doc)
        assert got[0][2] == "image/png"
        assert np.array_equal(
            C.decode_png(got[0][1]), tab[idxs.reshape(-1)].reshape(10, 13, 3)
        ), bpc
    bad = encode_pdf([["x"]], images=[(bytes([200]), 1, 1, "indexed", palette, 8)])
    r = pdf_images(bad)
    assert r[0][1] is None and "hival" in r[0][3]


def test_indexed_hex_palette_whitespace_and_odd_length():
    """Hex palette strings may be split by ANY PDF whitespace and may
    have an odd digit count (implied trailing 0, ISO 32000 §7.3.4.3) —
    neither is a reason to quarantine (ADVICE r8)."""
    from pg2kinesis_spark.functions.pdf import _indexed_palette

    head = (
        b"<< /Subtype /Image /ColorSpace [ /Indexed /DeviceRGB 1 "
        b"<0A0B\r0C\t112233> ] >>"
    )
    lookup, nch = _indexed_palette({}, head)
    assert (lookup, nch) == (bytes([0x0A, 0x0B, 0x0C, 0x11, 0x22, 0x33]), 3)
    odd = (
        b"<< /Subtype /Image /ColorSpace [ /Indexed /DeviceGray 1 <0A0B0> ] >>"
    )
    lookup, nch = _indexed_palette({}, odd)
    assert (lookup, nch) == (bytes([0x0A, 0x0B]), 1)
