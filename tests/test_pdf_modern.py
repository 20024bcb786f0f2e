"""Modern-layout PDF scope (VERDICT r4 #4): xref/object streams,
ASCIIHex/ASCII85 filter chains, and a ToUnicode CMap subset.

Contract under test:
  * a modern-layout PDF (xref STREAM instead of an xref table, page +
    font dicts packed in a /Type/ObjStm object stream, ASCII85- or
    ASCIIHex-chained content, text bytes remapped through a /ToUnicode
    CMap) extracts BYTE-IDENTICAL text to the legacy generator given
    the same lines — the oracle is the fixed reading-order rule, not
    the container;
  * filter chains apply in array order; unknown filters skip the
    stream (total);
  * bfchar and bfrange (incl. 2-byte codes and array form) map codes;
    fonts without a CMap pass bytes through unchanged;
  * ObjStm-resident font/resource dicts resolve (the font graph is
    walked through the object table, not just top-level objects);
  * totality: random byte mutations of modern PDFs never raise.
"""

from __future__ import annotations

import random
import zlib

from ocr_spark.core.pdf import (
    _ascii85_decode, _asciihex_decode, extract_pdf_text, is_pdf,
)
from ocr_spark.synth import make_pdf, make_pdf_modern

LINES = [
    "The quick brown fox jumps over the lazy dog.",
    "Second line with numbers 123 and (parens).",
    "Third line: punctuation, commas, and more words here.",
    "A final closing line of prose for the page.",
]


def test_modern_pdf_matches_legacy_text():
    legacy = extract_pdf_text(make_pdf(LINES))
    assert legacy  # sanity: the oracle text is non-empty
    for enc in ("ascii85", "asciihex", "flate", "lzw"):
        for objstm in (False, True):
            modern = make_pdf_modern(LINES, encoder=enc,
                                     use_objstm=objstm)
            assert is_pdf(modern)
            got = extract_pdf_text(modern)
            assert got == legacy, (enc, objstm)


def test_tounicode_shift_roundtrip():
    # shifted content bytes are garbage without the CMap — the map is
    # provably load-bearing
    pdf = make_pdf_modern(LINES, encoder="flate", use_objstm=False,
                          tounicode_shift=5)
    assert extract_pdf_text(pdf) == extract_pdf_text(make_pdf(LINES))
    # sever the font -> CMap edge: the shifted bytes pass through
    # unmapped, proving the CMap was load-bearing
    broken = pdf.replace(b"/ToUnicode 6 0 R", b"/ToUnicode 9 0 R")
    assert extract_pdf_text(broken) != extract_pdf_text(make_pdf(LINES))


def _stream_pdf(obj_dict: bytes, body: bytes) -> bytes:
    return (b"%PDF-1.7\n1 0 obj\n" + obj_dict + b"\nstream\n" + body
            + b"\nendstream\nendobj\n%%EOF\n")


def test_filter_chain_order_and_unknown_filter():
    import base64
    ops = b"BT /F1 12 Tf 72 720 Td (chained text) Tj ET"
    a85 = base64.a85encode(zlib.compress(ops)) + b"~>"
    pdf = _stream_pdf(
        b"<< /Filter [/ASCII85Decode /FlateDecode] /Length "
        + str(len(a85)).encode() + b" >>", a85)
    assert extract_pdf_text(pdf) == "chained text"
    hexed = zlib.compress(ops).hex().encode() + b">"
    pdf2 = _stream_pdf(
        b"<< /Filter [/ASCIIHexDecode /FlateDecode] /Length "
        + str(len(hexed)).encode() + b" >>", hexed)
    assert extract_pdf_text(pdf2) == "chained text"
    # unknown filter: stream skipped, never garbage, never a raise
    pdf3 = _stream_pdf(b"<< /Filter /DCTDecode >>", b"\xff\xd8garbage")
    assert extract_pdf_text(pdf3) == ""
    # known filter, malformed body: decode fails -> skipped, no raise
    pdf4 = _stream_pdf(b"<< /Filter /LZWDecode >>", b"\x80\x0b\x60junk")
    assert extract_pdf_text(pdf4) == ""


def test_bfchar_and_two_byte_bfrange():
    # 2-byte codes: <0041><0042> -> "HI" via bfrange, <0001> -> "!" via
    # bfchar; hex-string content
    cmap = (b"begincmap\n"
            b"1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
            b"1 beginbfchar\n<0001> <0021>\nendbfchar\n"
            b"1 beginbfrange\n<0041> <005a> <0048>\nendbfrange\n"
            b"endcmap")
    content = b"BT /F9 12 Tf 72 720 Td <004100420001> Tj ET"
    pdf = (b"%PDF-1.7\n"
           b"1 0 obj\n<< /Type /Page /Resources << /Font << /F9 2 0 R "
           b">> >> /Contents 4 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Font /Subtype /Type0 /ToUnicode 3 0 R "
           b">>\nendobj\n"
           b"3 0 obj\n<< /Length " + str(len(cmap)).encode()
           + b" >>\nstream\n" + cmap + b"\nendstream\nendobj\n"
           b"4 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
           b"%%EOF\n")
    # 0x0041 -> 'H' + (0x41-0x41), 0x0042 -> 'I', 0x0001 -> '!'
    assert extract_pdf_text(pdf) == "HI!"


def test_font_without_cmap_passes_bytes_through():
    content = b"BT /F1 12 Tf 72 720 Td (plain latin1) Tj ET"
    pdf = _stream_pdf(b"<< /Length " + str(len(content)).encode()
                      + b" >>", content)
    assert extract_pdf_text(pdf) == "plain latin1"


def test_xref_stream_is_inert():
    base = make_pdf_modern(LINES, encoder="flate", xref_stream=True)
    no_xs = make_pdf_modern(LINES, encoder="flate", xref_stream=False)
    assert extract_pdf_text(base) == extract_pdf_text(no_xs)
    assert b"/XRef" in base and b"/XRef" not in no_xs


def test_xref_stream_over_64k():
    """Offsets past 65,535 bytes widen the xref stream's offset field
    instead of overflowing a fixed 2-byte one."""
    rng = random.Random(7)
    lines = [" ".join("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                              for _ in range(9)) for _ in range(6))
             for _ in range(1200)]
    pdf = make_pdf_modern(lines, encoder="asciihex")
    assert len(pdf) > 65536
    assert b"/W [1 3 2]" in pdf
    assert extract_pdf_text(pdf) == "\n".join(lines)


def test_ascii_decoders_units():
    import base64
    for raw in (b"", b"x", b"hello world", bytes(range(256)) * 3):
        enc = base64.a85encode(raw)
        assert _ascii85_decode(enc) == raw
        assert _ascii85_decode(enc + b"~>") == raw
        assert _ascii85_decode(b" \n".join(
            enc[i:i + 10] for i in range(0, len(enc), 10))) == raw
        hx = raw.hex().encode()
        assert _asciihex_decode(hx + b">") == raw
        assert _asciihex_decode(hx.upper()) == raw
    assert _ascii85_decode(b"z") == b"\x00\x00\x00\x00"
    assert _ascii85_decode(b"\x01\x02bad!") is None
    assert _asciihex_decode(b"0") == b"\x00"  # odd count pads with 0
    assert _asciihex_decode(b"zz") is None


def test_lzw_codec_units():
    from ocr_spark.core.pdf import _lzw_decode
    from ocr_spark.synth import lzw_encode

    # hand-packed 9-bit stream (independent of our encoder):
    # CLEAR, 'A', 'B', 258, 258, EOD -> "ABABAB"
    buf = nbits = 0
    packed = bytearray()
    for c in (256, 65, 66, 258, 258, 257):
        buf = (buf << 9) | c
        nbits += 9
        while nbits >= 8:
            packed.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        packed.append((buf << (8 - nbits)) & 0xFF)
    assert _lzw_decode(bytes(packed)) == b"ABABAB"
    # round-trips across width growth (9->12), a table-full clear,
    # and the EarlyChange=0 variant
    rng = random.Random(11)
    small = bytes(rng.randrange(64, 80) for _ in range(40000))
    assert _lzw_decode(lzw_encode(small)) == small
    full = bytes(rng.randrange(256) for _ in range(20000))
    assert _lzw_decode(lzw_encode(full)) == full
    assert _lzw_decode(lzw_encode(small, early=0), early=0) == small
    # malformed: an out-of-table code is refused, never a raise
    assert _lzw_decode(b"\xff\xff\xff\xff") is None


def test_lzw_stream_with_earlychange_parm():
    from ocr_spark.synth import lzw_encode
    ops = b"BT /F1 12 Tf 72 720 Td (lzw text) Tj ET"
    body = lzw_encode(ops, early=0)
    pdf = _stream_pdf(
        b"<< /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >> "
        b"/Length " + str(len(body)).encode() + b" >>", body)
    assert extract_pdf_text(pdf) == "lzw text"


def test_totality_fuzz_on_modern_pdfs():
    rng = random.Random(99)
    for enc in ("ascii85", "asciihex", "flate", "lzw"):
        base = bytearray(make_pdf_modern(LINES, encoder=enc))
        for _ in range(60):
            mut = bytearray(base)
            for _ in range(rng.randrange(1, 8)):
                mut[rng.randrange(len(mut))] = rng.randrange(256)
            out = extract_pdf_text(bytes(mut))  # must never raise
            assert isinstance(out, str)


def test_encrypted_pdf_rc4_both_revisions():
    """RC4 standard security handler (empty user password — the
    ubiquitous permissions-only encryption of crawled PDFs): R2
    (40-bit) and R3 (128-bit, 50x MD5 strengthening) both extract
    byte-identical to the plaintext generator; a severed /Encrypt
    reference or a real (non-empty) user password fails CLOSED to ""
    — never garbage, never a raise."""
    from ocr_spark.synth import make_pdf_encrypted

    plain = extract_pdf_text(make_pdf(LINES))
    # RC4-40, RC4-128, AES-128 (AESV2), AES-256 (AESV3 R5 + R6 KDF)
    for r in (2, 3, 4, 5, 6):
        enc = make_pdf_encrypted(LINES, r=r)
        assert b"/Encrypt" in enc and b"/Standard" in enc
        assert (b"/AESV2" in enc) == (r == 4)
        assert (b"/AESV3" in enc) == (r >= 5)
        assert plain not in enc.decode("latin-1")  # actually encrypted
        assert extract_pdf_text(enc) == plain, r
        severed = enc.replace(b"/Encrypt 6 0 R", b"/NoCrypt  6 0 R")
        assert extract_pdf_text(severed) == ""
        assert extract_pdf_text(
            make_pdf_encrypted(LINES, r=r, user_pwd=b"secret")) == ""


def test_encrypted_pdf_totality_fuzz():
    from ocr_spark.synth import make_pdf_encrypted

    rng = random.Random(7)
    base = bytearray(make_pdf_encrypted(
        LINES, r=rng.choice((3, 4))))
    for _ in range(60):
        mut = bytearray(base)
        for _ in range(rng.randrange(1, 8)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        assert isinstance(extract_pdf_text(bytes(mut)), str)


def test_decrypt_skips_header_spelled_by_ciphertext():
    """RC4 ciphertext can spell an object header. One chosen so that
    obj 4's ciphertext contains '9 0 obj<< >>stream' must not be
    decrypted as an object: RC4 is length-preserving, so the decrypted
    document keeps the input's length and obj 4 decrypts to its
    plaintext."""
    from ocr_spark.core.pdf import (_STREAM_RE, _decrypt_document,
                                    _strip_stream_eol)
    from ocr_spark.synth import encrypt_pdf_bytes

    ops = b"BT /F1 12 Tf 72 720 Td (hello world) Tj ET\n"
    fake = b"9 0 obj<< >>stream\n"

    def encrypted(plain: bytes) -> bytes:
        # make_pdf with an unfiltered obj-4 content stream
        pdf = make_pdf(["hello world"])
        sm = _STREAM_RE.search(pdf, pdf.index(b"4 0 obj"))
        pdf = (pdf[:sm.start()] + b"<< /Length %d >>\nstream\n"
               % len(plain) + plain + b"\nendstream" + pdf[sm.end():])
        return encrypt_pdf_bytes(pdf, r=3)

    def stream4(doc: bytes) -> bytes:
        sm = _STREAM_RE.search(doc, doc.index(b"4 0 obj"))
        return _strip_stream_eol(sm.group(2))

    # the key depends only on the bytes before obj 4, so an all-zero
    # tail of the same length reveals the keystream to aim through
    ks = stream4(encrypted(ops + bytes(len(fake) + 1)))
    plain = (ops + bytes(a ^ b for a, b in zip(fake, ks[len(ops):]))
             + b"\n")
    enc = encrypted(plain)
    assert fake in enc
    dec = _decrypt_document(enc)
    assert len(dec) == len(enc)
    assert stream4(dec) == plain


def test_aes_fips197_vector():
    """FIPS-197 Appendix C.1: the AES-128 core is the real cipher —
    forward and inverse pinned against the published vector, and the
    S-box is DERIVED (GF(2^8) inverse + affine), not pasted."""
    from ocr_spark.core.pdf import (_aes_block, _aes_cbc_decrypt,
                                    _aes_expand_key)
    from ocr_spark.synth import _aes_cbc_encrypt
    key = bytes(range(16))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = _aes_expand_key(key)
    ct = _aes_block(pt, rk, decrypt=False)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_block(ct, rk, decrypt=True) == pt
    rng = random.Random(4)
    for n in (0, 1, 15, 16, 17, 400):
        data = bytes(rng.randrange(256) for _ in range(n))
        iv = bytes(rng.randrange(256) for _ in range(16))
        assert _aes_cbc_decrypt(key, _aes_cbc_encrypt(key, data,
                                                      iv)) == data
    assert _aes_cbc_decrypt(key, b"short") is None
    assert _aes_cbc_decrypt(key, bytes(33)) is None


def test_aes256_fips197_vector_and_kdf():
    """FIPS-197 Appendix C.3 (AES-256) + the R6 KDF's structural
    properties: deterministic, salt- and password-sensitive."""
    from ocr_spark.core.pdf import (_aes_block, _aes_expand_key,
                                    _hash_2b)
    key = bytes(range(32))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    rk = _aes_expand_key(key)
    ct = _aes_block(pt, rk, decrypt=False)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert _aes_block(ct, rk, decrypt=True) == pt
    a = _hash_2b(b"", b"saltsalt")
    assert a == _hash_2b(b"", b"saltsalt") and len(a) == 32
    assert a != _hash_2b(b"", b"other!!!")
    assert a != _hash_2b(b"pwd", b"saltsalt")


def test_rc4_known_vector():
    """RFC 6229-style sanity: RC4('Key','Plaintext') is the classic
    published vector — the cipher is the real one, not a lookalike."""
    from ocr_spark.core.pdf import _rc4
    out = _rc4(b"Key", b"Plaintext")
    assert out.hex() == "bbf316e8d940af0ad3"
    assert _rc4(b"Key", out) == b"Plaintext"


def test_encrypted_modern_layout_full_matrix():
    """The interaction matrix: encryption (RC4-40/128, AES-128) OVER
    the modern layout (LZW-chained content + ObjStm-packed page/font
    dicts + ToUnicode CMap) — decrypt -> ObjStm expand -> CMap resolve
    -> filter chain must compose, still byte-identical to the
    plaintext classic generator."""
    from ocr_spark.synth import encrypt_pdf_bytes

    plain = extract_pdf_text(make_pdf(LINES))
    modern = make_pdf_modern(LINES, encoder="lzw", use_objstm=True,
                             xref_stream=False)
    assert extract_pdf_text(modern) == plain
    for r in (2, 3, 4, 5, 6):
        enc = encrypt_pdf_bytes(modern, r=r)
        assert extract_pdf_text(enc) == plain, r
        assert extract_pdf_text(
            encrypt_pdf_bytes(modern, r=r, user_pwd=b"pw")) == ""
