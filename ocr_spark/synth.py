"""Deterministic synthetic web corpus + golden fixtures (FIXTURES.md).

Seeded generator (seed 42 by default) — the analog of the reference's own
synthetic dataset generator (/root/reference/hebrew-ocr-cnn.py:469-517):
render documents from templates with controlled noise, then derive the
golden expected output with the same core the pipeline uses.

NO wall-clock, NO external data, NO numpy randomness — only
``random.Random(seed)`` so the corpus is reproducible bit-for-bit within a
run. Hosts follow a zipf(a=1.3) distribution over ~50 hosts so a few hosts
are hot (exercises the salting policy, SURVEY.md §7 step 6).
"""

from __future__ import annotations

import random
import zlib
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.core.extract import extract

EPOCH = datetime(2025, 1, 1, 0, 0, 0)
TS_STEP = timedelta(seconds=137)

LANGS = ["en", "de", "es", "fr", "zh", "he"]

WORDS = (
    "data query table spark batch stream filter join merge sort hash scan "
    "row column value index shuffle partition bucket salt skew broadcast "
    "window frame session group order limit parse token block text link "
    "density score content boiler plate extract decode page host path crawl "
    "archive snapshot lineage metric bench cluster executor driver memory "
    "spill codegen arrow pandas vector kernel engine plan rule cost stats "
    "read write commit resume golden oracle byte identical total fixed rule "
    "deep nested soup farm anchor nav footer header aside main article world "
    "signal noise sample seed grain weight level depth span char word line"
).split()

NAV_WORDS = "home about contact login search news archive tags".split()

HOSTS = [f"site{k:02d}.example.org" for k in range(50)]
_ZIPF_A = 1.3
_HOST_WEIGHTS = [1.0 / ((k + 1) ** _ZIPF_A) for k in range(len(HOSTS))]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _para(rng: random.Random, lo: int = 18, hi: int = 60) -> str:
    return _sentence(rng, rng.randint(lo, hi))


# ---------------------------------------------------------------- templates

def _tmpl_article(rng: random.Random) -> bytes:
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in NAV_WORDS[: rng.randint(3, 8)])
    paras = "\n".join(f"<p>{_para(rng)}</p>" for _ in range(rng.randint(2, 8)))
    title = _sentence(rng, rng.randint(3, 7))
    charset, enc = rng.choice(
        [("utf-8", "utf-8"), ("utf-8", "utf-8"), ("utf-8", "utf-8"),
         ("iso-8859-1", "latin-1")]
    )
    doc = (
        f"<!DOCTYPE html><html><head><meta charset={charset}>"
        f"<title>{title}</title><style>body{{margin:0}}</style></head><body>"
        f"<nav>{nav}</nav><header><a href='/'>logo</a> {_sentence(rng, 2)}</header>"
        f"<h1>{title}</h1>\n<article>{paras}</article>"
        f"<footer>copyright 2025 {_sentence(rng, 3)} <a href='/tos'>tos</a></footer>"
        f"</body></html>"
    )
    return doc.encode(enc, errors="replace")


def _tmpl_linkfarm(rng: random.Random) -> bytes:
    links = "\n".join(
        f'<li><a href="/{i}">{_sentence(rng, rng.randint(2, 5))}</a></li>'
        for i in range(rng.randint(20, 60))
    )
    doc = (
        "<html><head><title>links</title></head><body>"
        f"<ul>{links}</ul>"
        f"<div>{_sentence(rng, rng.randint(1, 4))}</div></body></html>"
    )
    return doc.encode("utf-8")


def _tmpl_nested_divs(rng: random.Random) -> bytes:
    depth = rng.randint(20, 200)
    content_at = rng.randint(5, depth - 1)
    parts = ["<html><body>"]
    for d in range(depth):
        parts.append(f'<div class="d{d}">')
        if d == content_at:
            parts.append(f"<p>{_para(rng)}</p>")
    parts.append(_sentence(rng, 2))
    parts.append("</div>" * depth)
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def _tmpl_misnested(rng: random.Random) -> bytes:
    doc = (
        "<html><body><p>first part <b>bold <i>both</b> italic?</i> tail "
        f"{_para(rng)}"
        f"<p>{_para(rng)}</div></strong>"
        f"<p>unclosed final {_sentence(rng, 20)}"
        "</body>"
    )
    return doc.encode("utf-8")


def _tmpl_script_heavy(rng: random.Random) -> bytes:
    doc = (
        "<html><head><script>var a = '<p>fake</p>'; if (a<b) {}</script>"
        "<style>.x > .y { content: '</style>ish' }</style></head><body>"
        f"<!-- comment with <p>markup</p> inside -->"
        f"<p>{_para(rng)}</p>"
        f"<script type='text/javascript'>document.write('<div>no</div>')</script>"
        f"<![CDATA[ raw <not-a-tag> cdata ]]>"
        f"<p>{_para(rng)}</p>"
        "</body></html>"
    )
    return doc.encode("utf-8")


def _tmpl_tables(rng: random.Random) -> bytes:
    rows = "\n".join(
        f"<tr><td>{_sentence(rng, 2)}</td><td>{rng.randint(0, 999)}</td>"
        for _ in range(rng.randint(3, 10))
    )
    doc = (
        "<html><body>"
        f"<table><thead><tr><th>name</th><th>qty</th></thead>{rows}</table>"
        f"<ul><li>{_sentence(rng, 3)}<li>{_sentence(rng, 4)}</ul>"
        f"<div id=main><p>{_para(rng, 30, 80)}</p><p>{_para(rng)}</p></div>"
        "</body></html>"
    )
    return doc.encode("utf-8")


def _tmpl_huge(rng: random.Random, target_mb: float = 5.0) -> bytes:
    paras = []
    size = 0
    target = int(target_mb * 1024 * 1024)
    while size < target:
        p = f"<p>{_para(rng, 40, 120)}</p>"
        paras.append(p)
        size += len(p)
    doc = "<html><body><article>" + "\n".join(paras) + "</article></body></html>"
    return doc.encode("utf-8")


def _tmpl_degenerate(rng: random.Random, variant: int) -> bytes:
    if variant == 0:
        return b""
    if variant == 1:
        return b"   \n\t  "
    if variant == 2:
        return bytes(rng.randrange(128, 256) for _ in range(64))  # broken bytes
    if variant == 3:
        return ("<div>" * 50).encode()  # tags, no text
    return ("plain text with no tags at all " + _sentence(rng, 30)).encode()


# ------------------------------------------------------------------ pdf gen

def make_pdf(lines: list[str], two_column: bool = False) -> bytes:
    """Minimal single-page PDF with a FlateDecode content stream."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    ops = ["BT", "/F1 12 Tf"]
    if two_column:
        half = (len(lines) + 1) // 2
        ops.append("72 720 Td")
        for i, ln in enumerate(lines[:half]):
            if i:
                ops.append("0 -14 Td")
            ops.append(f"({esc(ln)}) Tj")
        ops.append("ET")
        ops.append("BT")
        ops.append("/F1 12 Tf")
        ops.append("320 720 Td")
        for i, ln in enumerate(lines[half:]):
            if i:
                ops.append("0 -14 Td")
            ops.append(f"({esc(ln)}) Tj")
    else:
        ops.append("72 720 Td")
        ops.append("14 TL")
        for i, ln in enumerate(lines):
            if i:
                ops.append("T*")
            ops.append(f"({esc(ln)}) Tj")
    ops.append("ET")
    content = zlib.compress("\n".join(ops).encode("latin-1"))

    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" /Filter /FlateDecode >>"
        b"\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder (generator side of core/pdf.py ``_lzw_decode`` —
    same width-growth rule, clear emitted at table capacity)."""
    out_codes: list[tuple[int, int]] = []  # (code, width at emit)
    dict_ = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out_codes.append((256, width))
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in dict_:
            w = wc
            continue
        out_codes.append((dict_[w], width))
        dict_[wc] = next_code
        next_code += 1
        # the decoder's dictionary trails this one by ONE entry (it
        # can only add after consuming the next code), so the width
        # bump — judged by the DECODER's table size, the pdfminer/
        # real-world convention — fires one entry later here
        if next_code - 1 + early >= (1 << width):
            if width < 12:
                width += 1
            else:
                out_codes.append((256, width))
                dict_ = {bytes([i]): i for i in range(256)}
                next_code, width = 258, 9
        w = bytes([b])
    if w:
        out_codes.append((dict_[w], width))
    out_codes.append((257, width))
    buf = nbits = 0
    out = bytearray()
    for code, cw in out_codes:
        buf = (buf << cw) | code
        nbits += cw
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def make_pdf_modern(lines: list[str], encoder: str = "ascii85",
                    use_objstm: bool = True, xref_stream: bool = True,
                    tounicode_shift: int = 3) -> bytes:
    """Modern-layout single-page PDF with the SAME text semantics as
    :func:`make_pdf`: content stream behind an ``encoder`` filter chain
    ("ascii85"/"asciihex" chained before FlateDecode, or plain
    "flate"), text bytes shifted down by ``tounicode_shift`` and mapped
    back through a /ToUnicode CMap (so the map is provably
    load-bearing), page + font dicts packed in a /Type/ObjStm object
    stream (``use_objstm``), and a binary xref STREAM instead of the
    classic xref table (``xref_stream``). Exercises the r5 scope of
    core/pdf.py; extraction output must equal the legacy generator's."""
    import base64

    sh = tounicode_shift
    ops = ["BT", "/F2 12 Tf", "72 720 Td", "14 TL"]
    for i, ln in enumerate(lines):
        if i:
            ops.append("T*")
        code = bytes((ord(c) - sh) & 0xFF
                     for c in ln).hex()
        ops.append(f"<{code}> Tj")
    ops.append("ET")
    raw = "\n".join(ops).encode("latin-1")
    if encoder == "flate":
        body, filt = zlib.compress(raw), b"/Filter /FlateDecode"
    elif encoder == "lzw":
        body, filt = lzw_encode(raw), b"/Filter /LZWDecode"
    elif encoder == "ascii85":
        body = base64.a85encode(zlib.compress(raw)) + b"~>"
        filt = b"/Filter [/ASCII85Decode /FlateDecode]"
    elif encoder == "asciihex":
        body = zlib.compress(raw).hex().encode("ascii") + b">"
        filt = b"/Filter [/ASCIIHexDecode /FlateDecode]"
    else:
        raise ValueError(f"unknown encoder {encoder!r}")
    cmap = zlib.compress(
        (f"begincmap\n1 begincodespacerange\n<00> <ff>\n"
         f"endcodespacerange\n1 beginbfrange\n<00> <ff> <{sh:04x}>\n"
         f"endbfrange\nendcmap").encode("ascii"))
    page = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F2 5 0 R >> "
            b">> >>")
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/ToUnicode 6 0 R >>")
    top: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        4: (b"<< /Length " + str(len(body)).encode() + b" " + filt
            + b" >>\nstream\n" + body + b"\nendstream"),
        6: (b"<< /Length " + str(len(cmap)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + cmap
            + b"\nendstream"),
    }
    in_stm: dict[int, int] = {}  # objnum -> index within the ObjStm
    if use_objstm:
        members = [(3, page), (5, font)]
        offs, payload = [], b""
        for _, b_ in members:
            offs.append(len(payload))
            payload += b_ + b"\n"
        head = " ".join(f"{n} {o}" for (n, _), o in
                        zip(members, offs)).encode("ascii") + b"\n"
        packed = zlib.compress(head + payload)
        top[7] = (b"<< /Type /ObjStm /N " + str(len(members)).encode()
                  + b" /First " + str(len(head)).encode()
                  + b" /Length " + str(len(packed)).encode()
                  + b" /Filter /FlateDecode >>\nstream\n" + packed
                  + b"\nendstream")
        in_stm = {n: i for i, (n, _) in enumerate(members)}
    else:
        top[3], top[5] = page, font
    out = bytearray(b"%PDF-1.7\n")
    offsets: dict[int, int] = {}
    for num in sorted(top):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + top[num] + b"\nendobj\n"
    max_obj = max(list(top) + list(in_stm))
    if xref_stream:
        # binary xref stream, W [1 w 2]: type 0 free / 1 offset /
        # 2 (objstm, index); it doubles as the trailer dict. The offset
        # field is as wide as the largest offset (the xref's own) needs,
        # and at least 2 bytes.
        xr_num = max_obj + 1
        xref_at = len(out)
        w = max(2, (xref_at.bit_length() + 7) // 8)
        rows = bytearray(b"\x00" + bytes(w) + b"\xff\xff")  # obj 0: free
        for n in range(1, xr_num + 1):
            if n in in_stm:
                rows += b"\x02" + (7).to_bytes(w, "big") \
                    + in_stm[n].to_bytes(2, "big")
            elif n in offsets:
                rows += b"\x01" + offsets[n].to_bytes(w, "big") \
                    + b"\x00\x00"
            elif n == xr_num:
                rows += b"\x01" + xref_at.to_bytes(w, "big") + b"\x00\x00"
            else:
                rows += bytes(w + 3)
        xbody = zlib.compress(bytes(rows))
        out += (f"{xr_num} 0 obj\n".encode()
                + b"<< /Type /XRef /Size " + str(xr_num + 1).encode()
                + f" /W [1 {w} 2] /Root 1 0 R /Length ".encode()
                + str(len(xbody)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + xbody
                + b"\nendstream\nendobj\n")
        out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    else:
        xref_at = len(out)
        out += f"xref\n0 {max_obj + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for n in range(1, max_obj + 1):
            out += (f"{offsets.get(n, 0):010d} 00000 n \n").encode()
        out += (f"trailer\n<< /Size {max_obj + 1} /Root 1 0 R >>\n"
                f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def _aes_cbc_encrypt(key: bytes, data: bytes, iv: bytes) -> bytes:
    """Generator side of core/pdf.py ``_aes_cbc_decrypt``: RFC 2898
    padding, then IV prefix + real CBC ciphertext (AESV2 layout)."""
    from ocr_spark.core.pdf import _aes_cbc_nopad

    pad = 16 - len(data) % 16
    return iv + _aes_cbc_nopad(key, data + bytes([pad]) * pad, iv,
                               decrypt=False)


def _std_handler_entries(r: int, owner_pwd: bytes, user_pwd: bytes,
                         id0: bytes) -> tuple[bytes, bytes]:
    """(encrypt dict bytes, file key) for the standard security
    handler — real /O (Algorithm 3) and /U (Algorithm 4/5) entries;
    r=2 RC4-40, r=3 RC4-128, r=4 AESV2 crypt filter."""
    import hashlib

    from ocr_spark.core.pdf import (_PWD_PAD, _aes_block,
                                    _aes_cbc_nopad, _aes_expand_key,
                                    _hash_2b, _rc4, _std_security_key)

    if r not in (2, 3, 4, 5, 6):
        raise ValueError("r must be 2 (RC4-40), 3 (RC4-128), "
                         "4 (AESV2) or 5/6 (AESV3 AES-256)")
    if r in (5, 6):
        # AESV3: 32-byte file key wrapped by password-derived keys
        # (ISO 32000-2 §7.6.4); R6 = the 2.B iterated KDF, R5 = the
        # older plain-SHA-256 Adobe supplement
        P = -44
        vs_u = hashlib.md5(b"vsU|" + id0).digest()[:8]
        ks_u = hashlib.md5(b"ksU|" + id0).digest()[:8]
        vs_o = hashlib.md5(b"vsO|" + id0).digest()[:8]
        ks_o = hashlib.md5(b"ksO|" + id0).digest()[:8]
        file_key = hashlib.sha256(b"fk|" + id0).digest()

        def kdf(pwd: bytes, salt: bytes, ud: bytes = b"") -> bytes:
            if r == 6:
                return _hash_2b(pwd, salt, ud)
            return hashlib.sha256(pwd + salt + ud).digest()

        U = kdf(user_pwd, vs_u) + vs_u + ks_u
        UE = _aes_cbc_nopad(kdf(user_pwd, ks_u), file_key,
                            bytes(16), decrypt=False)
        O = kdf(owner_pwd, vs_o, U) + vs_o + ks_o
        OE = _aes_cbc_nopad(kdf(owner_pwd, ks_o, U), file_key,
                            bytes(16), decrypt=False)
        perms_blk = ((P & 0xFFFFFFFF).to_bytes(4, "little")
                     + b"\xff\xff\xff\xffTadb" + bytes(4))
        perms = _aes_block(perms_blk, _aes_expand_key(file_key),
                           decrypt=False)
        enc_dict = (
            f"<< /Filter /Standard /V 5 /R {r} /Length 256 /P {P} "
            f"/O <{O.hex()}> /U <{U.hex()}> /OE <{OE.hex()}> "
            f"/UE <{UE.hex()}> /Perms <{perms.hex()}> "
            f"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
            f"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
            f">>").encode("ascii")
        return enc_dict, file_key
    length_bits = 40 if r == 2 else 128
    P = -44

    def pad(p: bytes) -> bytes:
        return (p + _PWD_PAD)[:32]

    okey = hashlib.md5(pad(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            okey = hashlib.md5(okey).digest()
    okey = okey[:length_bits // 8]
    O = _rc4(okey, pad(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            O = _rc4(bytes(b ^ i for b in okey), O)
    cf = (" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
          "/Length 16 >> >> /StmF /StdCF /StrF /StdCF"
          if r == 4 else "")
    v = {2: 1, 3: 2, 4: 4}[r]
    prov = (f"<< /Filter /Standard /V {v} /R {r} "
            f"/Length {length_bits} /P {P} /O <{O.hex()}>{cf} "
            f">>").encode("ascii")
    key = _std_security_key(prov, id0, password=user_pwd)
    assert key is not None
    if r == 2:
        U = _rc4(key, _PWD_PAD)
    else:
        U = hashlib.md5(_PWD_PAD + id0).digest()
        for i in range(20):
            U = _rc4(bytes(b ^ i for b in key), U)
        U = U + bytes(16)
    enc_dict = (f"<< /Filter /Standard /V {v} /R {r} "
                f"/Length {length_bits} /P {P} /O <{O.hex()}> "
                f"/U <{U.hex()}>{cf} >>").encode("ascii")
    return enc_dict, key


def encrypt_pdf_bytes(data: bytes, r: int = 3,
                      owner_pwd: bytes = b"owner",
                      user_pwd: bytes = b"") -> bytes:
    """Encrypt an EXISTING classic-trailer PDF under the standard
    security handler: every top-level non-XRef stream body is
    encrypted with its per-object key (so ObjStm containers, ToUnicode
    CMaps and content streams all ride the real decrypt path), the
    encrypt dict lands as a new object, and the trailer gains
    /Encrypt + /ID. The xref table is NOT rebuilt — like the reader,
    this generator treats offsets as advisory (scan-based)."""
    import hashlib
    import re as _re

    from ocr_spark.core.pdf import (_OBJHDR_RE, _STREAM_RE, _object_key,
                                    _rc4, _strip_stream_eol)

    id0 = hashlib.md5(b"encpdf|" + data[:64]).digest()
    enc_dict, key = _std_handler_entries(r, owner_pwd, user_pwd, id0)
    pieces: list[bytes] = []
    pos = 0
    max_obj = 0
    for om in _OBJHDR_RE.finditer(data):
        objnum, gen = int(om.group(1)), int(om.group(2))
        max_obj = max(max_obj, objnum)
        end = data.find(b"endobj", om.end())
        body = data[om.end():end if end >= 0 else len(data)]
        sm = _STREAM_RE.search(body)
        if not sm or b"/XRef" in sm.group(1):
            continue
        raw = _strip_stream_eol(sm.group(2))
        if r >= 4:
            iv = hashlib.md5(b"iv|" + id0
                             + str(objnum).encode()).digest()
            okey = (key if r >= 5
                    else _object_key(key, objnum, gen, aes=True))
            ct = _aes_cbc_encrypt(okey, raw, iv)
        else:
            ct = _rc4(_object_key(key, objnum, gen), raw)
        abs_start = om.end() + sm.start(2)
        pieces.append(data[pos:abs_start])
        pieces.append(ct + sm.group(2)[len(raw):])
        pos = abs_start + len(sm.group(2))
    pieces.append(data[pos:])
    out = b"".join(pieces)
    enc_num = max_obj + 1
    enc_obj = (f"{enc_num} 0 obj\n".encode() + enc_dict
               + b"\nendobj\n")
    # append the encrypt object before the trailer, patch the trailer
    # dict (last '>>' before startxref) with /Encrypt + /ID
    m = _re.search(rb"trailer\s*<<", out)
    if not m:
        raise ValueError("encrypt_pdf_bytes needs a classic trailer")
    out = out[:m.start()] + enc_obj + out[m.start():]
    extra = (f" /Encrypt {enc_num} 0 R /ID [<{id0.hex()}> "
             f"<{id0.hex()}>] >>").encode("ascii")
    t = out.rfind(b">>", out.rfind(b"trailer"))
    return out[:t] + extra + out[t + 2:]


def make_pdf_encrypted(lines: list[str], r: int = 3,
                       owner_pwd: bytes = b"owner",
                       user_pwd: bytes = b"") -> bytes:
    """RC4 standard-security-handler PDF (PDF 32000 §7.6.3) with the
    SAME text as :func:`make_pdf`: real /O (Algorithm 3) and /U
    (Algorithm 4 for R2, Algorithm 5 for R3) entries — any conforming
    reader could open it — with the content stream encrypted under
    the per-object key. The empty user password (the ubiquitous
    permissions-only encryption of crawled PDFs) is the default.
    ``r=4`` emits the AESV2 crypt filter (AES-128-CBC, deterministic
    IV, RFC 2898 pad)."""
    import hashlib

    from ocr_spark.core.pdf import _object_key, _rc4

    id0 = hashlib.md5(b"ocr-spark-fixture|"
                      + "|".join(lines).encode()).digest()
    enc_dict, key = _std_handler_entries(r, owner_pwd, user_pwd, id0)

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(") \
                .replace(")", r"\)")

    ops = ["BT", "/F1 12 Tf", "72 720 Td", "14 TL"]
    for i, ln in enumerate(lines):
        if i:
            ops.append("T*")
        ops.append(f"({esc(ln)}) Tj")
    ops.append("ET")
    plain = zlib.compress("\n".join(ops).encode("latin-1"))
    if r >= 4:
        iv = hashlib.md5(b"iv|" + id0 + b"|4").digest()  # deterministic
        okey = (key if r >= 5
                else _object_key(key, 4, 0, aes=True))
        content = _aes_cbc_encrypt(okey, plain, iv)
    else:
        content = _rc4(_object_key(key, 4, 0), plain)
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        enc_dict,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R "
        f"/Encrypt 6 0 R /ID [<{id0.hex()}> <{id0.hex()}>] >>\n"
        f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def _tmpl_pdf(rng: random.Random, two_column: bool = False) -> bytes:
    lines = [_sentence(rng, rng.randint(4, 9)) for _ in range(rng.randint(4, 14))]
    return make_pdf(lines, two_column=two_column)


# ----------------------------------------------------------------- corpus

_TEMPLATES = [
    ("article", _tmpl_article, 52),
    ("linkfarm", _tmpl_linkfarm, 10),
    ("nested", _tmpl_nested_divs, 10),
    ("misnested", _tmpl_misnested, 8),
    ("scripty", _tmpl_script_heavy, 8),
    ("tables", _tmpl_tables, 7),
    ("pdf", None, 5),          # handled specially
]


def make_pages(n: int, seed: int = 42) -> list[dict]:
    """Generate n page rows (url, warc_ts, html, text, lang).

    Deterministic in (n, seed). Includes one huge doc, one two-column PDF
    and a fixed block of degenerate rows per corpus.
    """
    rng = random.Random(seed)
    names = [t[0] for t in _TEMPLATES]
    weights = [t[2] for t in _TEMPLATES]
    fns = {t[0]: t[1] for t in _TEMPLATES}
    rows: list[dict] = []
    for i in range(n):
        host = rng.choices(HOSTS, weights=_HOST_WEIGHTS, k=1)[0]
        url = f"https://{host}/page-{i:07d}"
        lang = rng.choice(LANGS)
        if i == 0 and n >= 100:
            html = _tmpl_huge(rng, target_mb=5.0)
            kind = "huge"
        elif i == 1 and n >= 100:
            html = _tmpl_pdf(rng, two_column=True)
            kind = "pdf2col"
        elif 2 <= i < 7 and n >= 100:
            html = _tmpl_degenerate(rng, i - 2)
            kind = "degenerate"
        else:
            kind = rng.choices(names, weights=weights, k=1)[0]
            if kind == "pdf":
                html = _tmpl_pdf(rng)
            else:
                html = fns[kind](rng)
        rows.append({
            "url": url,
            "warc_ts": EPOCH + TS_STEP * i,
            "html": html,
            "text": _sentence(rng, rng.randint(5, 30)),  # noisy crawler text
            "lang": lang,
        })
    return rows


def make_golden(pages: list[dict]) -> list[dict]:
    """Run the single-node oracle extractor over the pages."""
    out = []
    for p in pages:
        res = extract(p["html"], p["lang"])
        out.append({
            "url": p["url"],
            "expected_text": res.text.encode("utf-8"),
            "expected_kind": res.kind,
        })
    return out


_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

_GOLDEN_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("expected_text", pa.binary()),
    ("expected_kind", pa.string()),
])


def write_corpus(outdir: str, n: int, seed: int = 42) -> tuple[str, str]:
    """Write pages.parquet + golden.parquet under outdir; returns paths."""
    import os

    os.makedirs(outdir, exist_ok=True)
    pages = make_pages(n, seed)
    golden = make_golden(pages)
    pages_path = os.path.join(outdir, "pages.parquet")
    golden_path = os.path.join(outdir, "golden.parquet")
    pq.write_table(
        pa.Table.from_pylist(pages, schema=_PAGES_SCHEMA), pages_path,
        row_group_size=512,
    )
    pq.write_table(
        pa.Table.from_pylist(golden, schema=_GOLDEN_SCHEMA), golden_path,
    )
    return pages_path, golden_path
