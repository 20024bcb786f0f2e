"""Minimal PDF content-stream text extractor with reading-order rules.

From-scratch (no pypdf in the environment). Scope is the generated-PDF
subset pinned in FIXTURES.md: xref-less object scan, filter chains of
FlateDecode / LZWDecode (9-12 bit, EarlyChange honored) /
ASCIIHexDecode / ASCII85Decode (array order; unknown
filters skip the stream), object streams (/Type/ObjStm members join
the object table — where modern writers put page/font dicts), xref
STREAMS (inert to the scan-based reader, never a parse error), a
/ToUnicode CMap subset (bfchar + bfrange incl. the array form, 1- and
2-byte codes, UTF-16BE targets; fonts without a CMap pass latin-1
bytes through), and text operators BT/ET, Tf, TL, Td/TD/Tm/T*,
Tj/TJ/'/", and the FULL STANDARD SECURITY HANDLER — RC4 (R2/R3),
AES-128-CBC (R4 /AESV2) and AES-256-CBC (V5 /AESV3, both the R5
SHA-256 and R6 iterated-KDF derivations with /U verification and /UE
file-key unwrap) — from-scratch FIPS-197 AES pinned by the spec's own
C.1/C.3 vectors, empty user password (the ubiquitous permissions-only
encryption of crawled PDFs); streams decrypted pre-pipeline, wrong
keys fail closed to "". The pure-Python R6 KDF costs ~1 s per
encrypted document (derived once per file — a rare-doc path by
construction). Still OUT of scope (r5 line): DCT/JPX image codecs,
CID-keyed /Encoding CMaps without ToUnicode, and cross-reference-
driven page selection (the reader scans every stream).

Reading-order rule (fixed; the analog of RTL ordering + line-offset
rebasing, /root/reference/utils.py:175 and
/root/reference/hebrew-letter-segmentation.py:164-166):
  1. cluster text segments into columns by x-bands (new band when the gap
     between sorted segment x-origins exceeds BAND_GAP);
  2. bands ordered left-to-right;
  3. within a band, lines ordered top-to-bottom (y descending, PDF y axis
     points up), segments within a line left-to-right, joined by a space;
  4. lines joined by "\n", bands joined by "\n\n".

Total: any structural surprise yields "" (never raises) — mirroring the
reference's whole-image fallback when no peaks are found
(/root/reference/utils.py:84-87).
"""

from __future__ import annotations

import re
import zlib

from ocr_spark.core.blocks import normalize_ws

PDF_MAGIC = b"%PDF-"
BAND_GAP = 150.0
LINE_Y_DECIMALS = 2

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.DOTALL)

_ESCAPES = {
    ord("n"): "\n", ord("r"): "\r", ord("t"): "\t", ord("b"): "\b",
    ord("f"): "\f", ord("("): "(", ord(")"): ")", ord("\\"): "\\",
}

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_RE = re.compile(rb"/[^\s/<>\[\]()]*")
_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")


def is_pdf(data: bytes) -> bool:
    return data.startswith(PDF_MAGIC)


# ------------------------------------------------------- stream filters --

_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FNAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_WS = b" \t\r\n\0\x0c"


def _asciihex_decode(data: bytes) -> bytes | None:
    """ASCIIHexDecode: hex digits up to '>', whitespace ignored, odd
    count padded with 0. None on any non-hex byte (total)."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    data = bytes(c for c in data if c not in _WS)
    if not re.fullmatch(rb"[0-9a-fA-F]*", data):
        return None
    if len(data) % 2:
        data += b"0"
    return bytes.fromhex(data.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes | None:
    """ASCII85Decode: base-85 groups of 5 chars -> 4 bytes, 'z' = four
    zero bytes, optional '<~'/'~>' frame, whitespace ignored, partial
    trailing group padded with 'u' and truncated. None on any invalid
    byte or overlong group (total)."""
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for c in data:
        if c in _WS:
            continue
        if c == 0x7A:  # 'z'
            if group:
                return None
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            return None
        group.append(c - 0x21)
        if len(group) == 5:
            n = 0
            for d in group:
                n = n * 85 + d
            if n > 0xFFFFFFFF:
                return None
            out += n.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            return None
        k = len(group)
        group += [84] * (5 - k)  # pad 'u'
        n = 0
        for d in group:
            n = n * 85 + d
        if n > 0xFFFFFFFF:
            return None
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _lzw_decode(data: bytes, early: int = 1) -> bytes | None:
    """LZWDecode (PDF 32000 §7.4.4, the TIFF/GIF variant PDF uses):
    MSB-first variable-width codes 9→12 bits, 256 = clear table,
    257 = EOD, new entries from 258; the code width grows when
    ``next_code + early`` reaches the width's capacity (EarlyChange=1
    default — set 0 via /DecodeParms). None on any malformed code
    (total)."""
    dict_init = {i: bytes([i]) for i in range(256)}
    dict_ = dict(dict_init)
    next_code, width = 258, 9
    prev: bytes | None = None
    out = bytearray()
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                dict_ = dict(dict_init)
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = dict_.get(code)
                if entry is None:
                    return None
                out += entry
                prev = entry
                continue
            if code in dict_:
                entry = dict_[code]
            elif code == next_code:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                return None
            out += entry
            dict_[next_code] = prev + entry[:1]
            next_code += 1
            if next_code + early >= (1 << width) and width < 12:
                width += 1
            prev = entry
    return bytes(out)  # EOD missing: accept what decoded (total)


_EARLY_RE = re.compile(rb"/EarlyChange\s+(\d+)")


def _stream_filters(obj_dict: bytes) -> list[str]:
    m = _FILTER_RE.search(obj_dict)
    if not m:
        return []
    return [g.decode("ascii") for g in _FNAME_RE.findall(m.group(1))]


def _decode_stream(obj_dict: bytes, body: bytes) -> bytes | None:
    """Apply the /Filter chain in array order. None (skip the stream,
    never raise) on an unknown filter or a decode failure — the
    totality contract."""
    for f in _stream_filters(obj_dict):
        if f == "FlateDecode":
            try:
                body = zlib.decompress(body)
            except zlib.error:
                return None
        elif f == "ASCIIHexDecode":
            body = _asciihex_decode(body)
        elif f == "ASCII85Decode":
            body = _ascii85_decode(body)
        elif f == "LZWDecode":
            m = _EARLY_RE.search(obj_dict)
            body = _lzw_decode(body, early=int(m.group(1)) if m else 1)
        else:
            return None
        if body is None:
            return None
    return body


def _strip_stream_eol(body: bytes) -> bytes:
    """Stream bodies end with EOL before 'endstream'."""
    if body.endswith(b"\r\n"):
        return body[:-2]
    if body.endswith(b"\n") or body.endswith(b"\r"):
        return body[:-1]
    return body


# -------------------------------------------- standard security handler --

# password pad string, PDF 32000 Table 20-1 (Algorithm 2 step a)
_PWD_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9a-fA-F]*)>")


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (the spec's cipher for V1/V2 — from scratch, no
    crypto libs in the environment)."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---- AES-128 (FIPS-197, from scratch — no crypto libs in the env) ----

def _gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _build_sbox() -> tuple[bytes, bytes]:
    """S-box derived from the spec's definition (multiplicative inverse
    in GF(2^8) + affine transform) rather than pasted tables; inverses
    via log/antilog over the generator 3 — O(256), so the per-worker
    import cost stays negligible."""
    exp = [0] * 255
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gf_mul(x, 3)
    inv = [0] * 256
    for v in range(1, 256):
        inv[v] = exp[(255 - log[v]) % 255]
    sbox = bytearray(256)
    for x in range(256):
        b = inv[x]
        s = 0
        for i in range(8):
            bit = ((b >> i) ^ (b >> ((i + 4) % 8)) ^ (b >> ((i + 5) % 8))
                   ^ (b >> ((i + 6) % 8)) ^ (b >> ((i + 7) % 8))
                   ^ (0x63 >> i)) & 1
            s |= bit << i
        sbox[x] = s
    isbox = bytearray(256)
    for x in range(256):
        isbox[sbox[x]] = x
    return bytes(sbox), bytes(isbox)


_SBOX, _ISBOX = _build_sbox()
# precomputed GF(2^8) multiplication columns for the (Inv)MixColumns
# coefficients — the hot path of the pure-Python cipher (the R6 KDF
# runs thousands of blocks per key derivation)
_GF_TAB = {c: bytes(_gf_mul(x, c) for x in range(256))
           for c in (1, 2, 3, 9, 11, 13, 14)}


def _aes_expand_key(key: bytes) -> list[list[int]]:
    """Round keys (FIPS-197 §5.2): AES-128 (Nk=4, Nr=10, 44 words) or
    AES-256 (Nk=8, Nr=14, 60 words) by key length."""
    nk = len(key) // 4
    if nk not in (4, 8):
        raise ValueError("AES key must be 16 or 32 bytes")
    nr = {4: 10, 8: 14}[nk]
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = _gf_mul(rcon, 2)
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return w


def _aes_block(block: bytes, rk: list[list[int]],
               decrypt: bool) -> bytes:
    """One 16-byte block through the (Inv)Cipher. State is column-major
    (s[r][c] = in[r + 4c]) per FIPS-197 §3.4."""
    nr = len(rk) // 4 - 1
    s = [[block[r + 4 * c] for c in range(4)] for r in range(4)]

    def add_rk(rnd: int) -> None:
        for c in range(4):
            for r in range(4):
                s[r][c] ^= rk[4 * rnd + c][r]

    def sub(box: bytes) -> None:
        for r in range(4):
            for c in range(4):
                s[r][c] = box[s[r][c]]

    def shift(inv: bool) -> None:
        for r in range(1, 4):
            k = -r if inv else r
            s[r] = s[r][k:] + s[r][:k]

    def mix(inv: bool) -> None:
        m = ((14, 11, 13, 9) if inv else (2, 3, 1, 1))
        t0, t1, t2, t3 = (_GF_TAB[m[0]], _GF_TAB[m[1]],
                          _GF_TAB[m[2]], _GF_TAB[m[3]])
        r0, r1, r2, r3 = s
        for c in range(4):
            a, b_, cc, d = r0[c], r1[c], r2[c], r3[c]
            r0[c] = t0[a] ^ t1[b_] ^ t2[cc] ^ t3[d]
            r1[c] = t3[a] ^ t0[b_] ^ t1[cc] ^ t2[d]
            r2[c] = t2[a] ^ t3[b_] ^ t0[cc] ^ t1[d]
            r3[c] = t1[a] ^ t2[b_] ^ t3[cc] ^ t0[d]

    if not decrypt:
        add_rk(0)
        for rnd in range(1, nr):
            sub(_SBOX)
            shift(False)
            mix(False)
            add_rk(rnd)
        sub(_SBOX)
        shift(False)
        add_rk(nr)
    else:
        add_rk(nr)
        for rnd in range(nr - 1, 0, -1):
            shift(True)
            sub(_ISBOX)
            add_rk(rnd)
            mix(True)
        shift(True)
        sub(_ISBOX)
        add_rk(0)
    return bytes(s[r][c] for c in range(4) for r in range(4))


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes | None:
    """PDF AESV2 stream layout: 16-byte IV prefix + CBC ciphertext +
    RFC 2898 padding (1-16 bytes). None on any malformed shape."""
    if len(data) < 32 or len(data) % 16:
        return None
    out = _aes_cbc_nopad(key, data[16:], data[:16], decrypt=True)
    pad = out[-1]
    if not 1 <= pad <= 16 or len(out) < pad:
        return None
    return out[:-pad]


def _aes_cbc_nopad(key: bytes, data: bytes, iv: bytes,
                   decrypt: bool) -> bytes | None:
    """Raw CBC without padding (the /UE-/OE and 2.B KDF shapes)."""
    if len(data) % 16:
        return None
    rk = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i:i + 16]
        if decrypt:
            out += bytes(a ^ b
                         for a, b in zip(_aes_block(blk, rk, True),
                                         prev))
            prev = blk
        else:
            prev = _aes_block(bytes(a ^ b for a, b in zip(blk, prev)),
                              rk, False)
            out += prev
    return bytes(out)


def _hash_2b(password: bytes, salt: bytes,
             udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 iterated KDF): SHA-256 seed,
    then rounds of AES-128-CBC over 64 repetitions of
    (password || K || udata) with the digest family picked by the
    ciphertext — >= 64 rounds, stop when E[-1] <= round - 32."""
    import hashlib as _hl
    K = _hl.sha256(password + salt + udata).digest()
    i = 0
    while True:
        K1 = (password + K + udata) * 64
        E = _aes_cbc_nopad(K[:16], K1, K[16:32], decrypt=False)
        K = (_hl.sha256, _hl.sha384, _hl.sha512)[
            sum(E[:16]) % 3](E).digest()
        i += 1
        if i >= 64 and E[-1] <= i - 32:
            return K[:32]


def _std_security_key_v5(enc: bytes,
                         password: bytes = b"") -> bytes | None:
    """AESV3 (V5, R5/R6 — AES-256) file key via the USER password
    path: verify the /U hash (R6 = Algorithm 2.B with the validation
    salt, R5 = plain SHA-256), then decrypt the file key from /UE
    with the key-salt-derived intermediate key (CBC, zero IV, no
    pad). None -> fail closed (wrong password or malformed)."""
    import hashlib as _hl
    mr = re.search(rb"/R\s+(\d+)", enc)
    U = _pdf_string_field(enc, b"U")
    UE = _pdf_string_field(enc, b"UE")
    if not mr or U is None or UE is None or len(U) < 48 \
            or len(UE) < 32:
        return None
    r = int(mr.group(1))
    if r not in (5, 6):
        return None
    vsalt, ksalt = U[32:40], U[40:48]
    if r == 6:
        good = _hash_2b(password, vsalt) == U[:32]
        inter = _hash_2b(password, ksalt)
    else:
        good = _hl.sha256(password + vsalt).digest() == U[:32]
        inter = _hl.sha256(password + ksalt).digest()
    if not good:
        return None
    return _aes_cbc_nopad(inter, UE[:32], bytes(16), decrypt=True)


def _pdf_string_field(d: bytes, name: bytes) -> bytes | None:
    """A literal-or-hex string value of /name in dict bytes d."""
    m = re.search(rb"/" + name + rb"\s*", d)
    if not m:
        return None
    i = m.end()
    if i >= len(d):
        return None
    if d[i] == 0x3C:  # hex string
        j = d.find(b">", i + 1)
        if j < 0:
            return None
        hexs = re.sub(rb"\s", b"", d[i + 1:j])
        if len(hexs) % 2:
            hexs += b"0"
        try:
            return bytes.fromhex(hexs.decode("ascii"))
        except ValueError:
            return None
    if d[i] == 0x28:  # literal string with escapes
        depth, j = 1, i + 1
        start = j
        while j < len(d) and depth:
            c = d[j]
            if c == 0x5C:
                j += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
            j += 1
        return _decode_pdf_string(d[start:j - 1]).encode("latin-1",
                                                         "ignore")
    return None


def _std_security_key(enc: bytes, id0: bytes,
                      password: bytes = b"") -> bytes | None:
    """Algorithm 2 (PDF 32000 §7.6.3.3): padded password + /O + /P +
    file id -> the file encryption key. Supports the RC4 handlers
    R2 (40-bit) and R3/R4 (/Length bits, 50x MD5 strengthening);
    AES (R>=4 with AESV2/V3 CF) is out of scope and returns None."""
    import hashlib as _hl
    import struct
    if b"/Standard" not in enc or b"AESV3" in enc:
        return None  # AES-256 (R5/6) uses a different derivation
    mr = re.search(rb"/R\s+(\d+)", enc)
    mp = re.search(rb"/P\s+(-?\d+)", enc)
    O = _pdf_string_field(enc, b"O")
    if not mr or not mp or O is None or len(O) < 32:
        return None
    r = int(mr.group(1))
    if r not in (2, 3, 4):
        return None
    ml = re.search(rb"/Length\s+(\d+)", enc)
    if b"/AESV2" in enc:
        n = 16  # AESV2 crypt filter is AES-128 by definition
    else:
        n = (int(ml.group(1)) // 8) if (ml and r >= 3) else 5
    if not 5 <= n <= 16:
        return None
    h = _hl.md5()
    h.update((password + _PWD_PAD)[:32])
    h.update(O[:32])
    h.update(struct.pack("<i", int(mp.group(1))))
    h.update(id0)
    if r >= 4 and re.search(rb"/EncryptMetadata\s+false", enc):
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = _hl.md5(key[:n]).digest()
    return key[:n]


def _object_key(file_key: bytes, objnum: int, gen: int,
                aes: bool = False) -> bytes:
    """Algorithm 1: per-object key = MD5(key + objnum[3] + gen[2]
    [+ "sAlT" for AESV2]) truncated to min(len+5, 16)."""
    import hashlib as _hl
    h = _hl.md5(file_key + objnum.to_bytes(3, "little")
                + gen.to_bytes(2, "little")
                + (b"sAlT" if aes else b"")).digest()
    return h[:min(len(file_key) + 5, 16)]


_OBJHDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _decrypt_document(data: bytes) -> bytes:
    """When a trailer names a supported /Encrypt dict, return a
    byte-equivalent document with every top-level stream body RC4-
    decrypted in place (RC4 is length-preserving, so offsets never
    move) — the rest of the pipeline then runs unchanged. The empty
    USER password (the overwhelmingly common "permissions-only"
    encryption on crawled PDFs) is assumed; a wrong key just yields
    undecodable streams and the usual total "" fallback. xref streams
    and the /Encrypt object itself are never encrypted (spec) and are
    left alone."""
    mref = _ENCRYPT_REF_RE.search(data)
    if not mref:
        return data
    enc_num = int(mref.group(1))
    mid = _ID_RE.search(data)
    id0 = bytes.fromhex(mid.group(1).decode("ascii")) if mid and \
        len(mid.group(1)) % 2 == 0 else b""
    enc_m = None
    for em in _OBJHDR_RE.finditer(data):
        if int(em.group(1)) == enc_num:
            e_end = data.find(b"endobj", em.end())
            enc_m = data[em.end():e_end if e_end >= 0 else len(data)]
            break
    if enc_m is None:
        return data
    v5 = b"/AESV3" in enc_m or re.search(rb"/V\s+5\b", enc_m)
    if v5:
        # AES-256: one file key for every object, no per-object MD5
        file_key = _std_security_key_v5(enc_m)
        aes, per_object = True, False
    else:
        file_key = _std_security_key(enc_m, id0)
        aes, per_object = b"/AESV2" in enc_m, True
    if file_key is None:
        return data  # unsupported handler / wrong key: total fallback
    # rebuilt (not spliced in place): AES plaintext is shorter than its
    # IV+padded ciphertext — fine, this reader never trusts xref
    # offsets or /Length, it scans
    pieces: list[bytes] = []
    pos = 0
    for om in _OBJHDR_RE.finditer(data):
        objnum, gen = int(om.group(1)), int(om.group(2))
        # a header-shaped match before pos lies inside a stream body
        # already rebuilt (RC4 ciphertext can spell 'N M obj'): not an
        # object, and re-emitting from it would duplicate bytes
        if objnum == enc_num or om.start() < pos:
            continue
        end = data.find(b"endobj", om.end())
        body = data[om.end():end if end >= 0 else len(data)]
        sm = _STREAM_RE.search(body)
        if not sm or b"/XRef" in sm.group(1):
            continue
        raw = _strip_stream_eol(sm.group(2))
        okey = (_object_key(file_key, objnum, gen, aes=aes)
                if per_object else file_key)
        dec = (_aes_cbc_decrypt(okey, raw) if aes
               else _rc4(okey, raw))
        if dec is None:
            continue  # malformed ciphertext: leave as-is, total
        abs_start = om.end() + sm.start(2)
        pieces.append(data[pos:abs_start])
        pieces.append(dec + sm.group(2)[len(raw):])  # keep the EOL
        pos = abs_start + len(sm.group(2))
    pieces.append(data[pos:])
    return b"".join(pieces)


# ------------------------------------- object table + ToUnicode CMaps --

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.DOTALL)
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_FONTRES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_FONTREF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """objnum -> object body, top-level scan (no xref needed) PLUS the
    members of every /Type/ObjStm object stream — the modern layout
    packs page/font/resource dicts there (streams themselves cannot
    live in an ObjStm, so content extraction stays a top-level scan)."""
    objs: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        objs[int(m.group(1))] = m.group(2)
    for body in list(objs.values()):
        sm = _STREAM_RE.search(body)
        if not sm or b"/ObjStm" not in sm.group(1):
            continue
        dec = _decode_stream(sm.group(1), _strip_stream_eol(sm.group(2)))
        mn = re.search(rb"/N\s+(\d+)", sm.group(1))
        mf = re.search(rb"/First\s+(\d+)", sm.group(1))
        if dec is None or not mn or not mf:
            continue
        n, first = int(mn.group(1)), int(mf.group(1))
        head = dec[:first].split()
        try:
            pairs = [(int(head[2 * i]), int(head[2 * i + 1]))
                     for i in range(n)]
        except (ValueError, IndexError):
            continue
        for i, (onum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(dec) - first
            objs[onum] = dec[first + off:first + end]
    return objs


def _dst_str(hexs: bytes) -> str | None:
    """CMap destination hex -> str (UTF-16BE code units)."""
    try:
        b = bytes.fromhex(hexs.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return None
    if len(b) % 2:
        return None
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return None


def _parse_cmap(body: bytes) -> tuple[dict[int, str], int] | None:
    """bfchar/bfrange subset -> ({code: text}, code byte length)."""
    mapping: dict[int, str] = {}
    nbytes = 0
    for sec in _BFCHAR_RE.findall(body):
        toks = re.findall(rb"<([0-9a-fA-F]+)>", sec)
        for i in range(0, len(toks) - 1, 2):
            src, dst = toks[i], toks[i + 1]
            s = _dst_str(dst)
            if s is not None:
                nbytes = max(nbytes, (len(src) + 1) // 2)
                mapping[int(src, 16)] = s
    for sec in _BFRANGE_RE.findall(body):
        items: list[tuple[str, object]] = []
        for m in re.finditer(rb"<([0-9a-fA-F]+)>|(\[[^\]]*\])", sec):
            if m.group(1) is not None:
                items.append(("h", m.group(1)))
            else:
                items.append(("a", re.findall(rb"<([0-9a-fA-F]+)>",
                                              m.group(2))))
        for i in range(0, len(items) - 2, 3):
            (k1, lo), (k2, hi), (k3, dst) = items[i:i + 3]
            if k1 != "h" or k2 != "h":
                continue
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i < lo_i or hi_i - lo_i > 0xFFFF:
                continue
            nbytes = max(nbytes, (len(lo) + 1) // 2)
            if k3 == "h":
                base = _dst_str(dst)
                if base is None or not base:
                    continue
                # increment applies to the LAST code unit (spec)
                head, last = base[:-1], ord(base[-1])
                for c in range(lo_i, hi_i + 1):
                    mapping[c] = head + chr(last + (c - lo_i))
            else:
                for j, d in enumerate(dst):
                    if lo_i + j > hi_i:
                        break
                    s = _dst_str(d)
                    if s is not None:
                        mapping[lo_i + j] = s
    if not mapping or nbytes == 0:
        return None
    return mapping, nbytes


def _font_cmaps(objs: dict[int, bytes]) -> dict[str, tuple]:
    """Resource font NAME (e.g. 'F1') -> parsed ToUnicode CMap, walked
    through the object table: font resources dicts reference font
    objects, font objects reference their /ToUnicode streams. Scoped
    globally (last definition of a name wins) — the stated subset; a
    page-scoped resolution needs the page tree the scan-based reader
    deliberately does not require."""
    by_obj: dict[int, tuple] = {}
    for num, body in objs.items():
        if b"/Font" not in body:
            continue
        m = _TOUNI_RE.search(body)
        if not m:
            continue
        tob = objs.get(int(m.group(1)))
        if tob is None:
            continue
        sm = _STREAM_RE.search(tob)
        if not sm:
            continue
        dec = _decode_stream(sm.group(1), _strip_stream_eol(sm.group(2)))
        if dec is None:
            continue
        parsed = _parse_cmap(dec)
        if parsed:
            by_obj[num] = parsed
    cmaps: dict[str, tuple] = {}
    if by_obj:
        for body in objs.values():
            for fm in _FONTRES_RE.finditer(body):
                for name, ref in _FONTREF_RE.findall(fm.group(1)):
                    cm = by_obj.get(int(ref))
                    if cm:
                        cmaps[name.decode("latin-1")] = cm
    return cmaps


def _map_text(s: str, cm: tuple | None) -> str:
    """Apply a font's ToUnicode CMap to a decoded string (latin-1 byte
    semantics preserved by the tokenizer): group the raw bytes by the
    CMap's code width and map; unmapped codes and a trailing partial
    code drop (total). No CMap -> passthrough."""
    if cm is None:
        return s
    mapping, nbytes = cm
    raw = s.encode("latin-1", "ignore")
    out: list[str] = []
    for i in range(0, len(raw) - len(raw) % nbytes, nbytes):
        t = mapping.get(int.from_bytes(raw[i:i + nbytes], "big"))
        if t is not None:
            out.append(t)
    return "".join(out)


def _decode_pdf_string(raw: bytes) -> str:
    """Literal string body (inside parens) -> str. Latin-1 byte semantics."""
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        b = raw[i]
        if b == 0x5C and i + 1 < n:  # backslash
            nxt = raw[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:  # octal \ddd (1-3 digits)
                j = i + 1
                oct_digits = []
                while j < n and len(oct_digits) < 3 and 0x30 <= raw[j] <= 0x37:
                    oct_digits.append(chr(raw[j]))
                    j += 1
                out.append(chr(int("".join(oct_digits), 8) & 0xFF))
                i = j
                continue
            if nxt == 0x0A:  # line continuation
                i += 2
                continue
            i += 1  # lone backslash: dropped
            continue
        out.append(chr(b))
        i += 1
    return "".join(out)


def _tokenize_content(data: bytes):
    """Yield ('str', s) | ('num', f) | ('name', n) | ('op', o) | ('arr', ...)."""
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b in b" \t\r\n\0\x0c":
            i += 1
            continue
        if b == 0x28:  # '(' literal string, paren nesting + escapes
            depth = 1
            j = i + 1
            start = j
            while j < n and depth > 0:
                c = data[j]
                if c == 0x5C:
                    j += 2
                    continue
                if c == 0x28:
                    depth += 1
                elif c == 0x29:
                    depth -= 1
                j += 1
            yield ("str", _decode_pdf_string(data[start : j - 1]))
            i = j
            continue
        if b == 0x3C and i + 1 < n and data[i + 1] == 0x3C:  # '<<' dict
            i += 2
            continue
        if b == 0x3E and i + 1 < n and data[i + 1] == 0x3E:  # '>>'
            i += 2
            continue
        if b == 0x3C:  # '<hex string>'
            j = data.find(b">", i + 1)
            if j < 0:
                break
            hexs = re.sub(rb"\s", b"", data[i + 1 : j])
            if len(hexs) % 2:
                hexs += b"0"
            try:
                yield ("str", bytes.fromhex(hexs.decode("ascii")).decode("latin-1"))
            except ValueError:
                pass
            i = j + 1
            continue
        if b in b"[]":
            yield ("arr", chr(b))
            i += 1
            continue
        if b == 0x2F:  # name
            m = _NAME_RE.match(data, i)
            yield ("name", m.group(0).decode("latin-1"))
            i = m.end()
            continue
        m = _NUM_RE.match(data, i)
        if m:
            yield ("num", float(m.group(0)))
            i = m.end()
            continue
        m = _OP_RE.match(data, i)
        if m:
            yield ("op", m.group(0).decode("latin-1"))
            i = m.end()
            continue
        i += 1  # unknown byte: skip (total)


def _extract_segments(content: bytes,
                      cmaps: dict[str, tuple] | None = None
                      ) -> list[tuple[float, float, str]]:
    """Interpret text operators -> [(x, y, text)] segments. ``cmaps``
    (resource font name -> ToUnicode CMap) remaps shown strings of the
    Tf-selected font; fonts without a CMap pass through."""
    segs: list[tuple[float, float, str]] = []
    x = y = 0.0
    line_x = line_y = 0.0
    leading = 12.0
    operands: list = []
    cur_cm: tuple | None = None

    for kind, val in _tokenize_content(content):
        if kind in ("str", "num", "name", "arr"):
            operands.append((kind, val))
            continue
        op = val
        nums = [v for k, v in operands if k == "num"]
        strs = [v for k, v in operands if k == "str"]
        if op == "BT":
            x = y = line_x = line_y = 0.0
        elif op == "Tm" and len(nums) >= 6:
            line_x, line_y = nums[-2], nums[-1]
            x, y = line_x, line_y
        elif op == "Td" and len(nums) >= 2:
            line_x += nums[-2]
            line_y += nums[-1]
            x, y = line_x, line_y
        elif op == "TD" and len(nums) >= 2:
            leading = -nums[-1]
            line_x += nums[-2]
            line_y += nums[-1]
            x, y = line_x, line_y
        elif op == "TL" and nums:
            leading = nums[-1]
        elif op == "Tf":
            names = [v for k, v in operands if k == "name"]
            cur_cm = (cmaps or {}).get(names[-1][1:]) if names else None
        elif op == "T*":
            line_y -= leading
            x, y = line_x, line_y
        elif op == "Tj":
            if strs and strs[-1]:
                t = _map_text(strs[-1], cur_cm)
                if t:
                    segs.append((x, y, t))
        elif op == "TJ":
            text = "".join(_map_text(sv, cur_cm) for sv in strs)
            if text:
                segs.append((x, y, text))
        elif op == "'":
            line_y -= leading
            x, y = line_x, line_y
            if strs and strs[-1]:
                t = _map_text(strs[-1], cur_cm)
                if t:
                    segs.append((x, y, t))
        elif op == '"':
            line_y -= leading
            x, y = line_x, line_y
            if strs and strs[-1]:
                t = _map_text(strs[-1], cur_cm)
                if t:
                    segs.append((x, y, t))
        operands = []
    return segs


def _assemble_segments(segs: list[tuple[float, float, str]]) -> str:
    """Apply the fixed reading-order rule (module docstring)."""
    if not segs:
        return ""
    ordered = sorted(segs, key=lambda s: (s[0], -s[1]))
    bands: list[list[tuple[float, float, str]]] = [[ordered[0]]]
    last_x = ordered[0][0]
    for seg in ordered[1:]:
        if seg[0] - last_x > BAND_GAP:
            bands.append([])
        bands[-1].append(seg)
        last_x = seg[0]

    band_texts: list[str] = []
    for band in bands:
        lines: dict[float, list[tuple[float, str]]] = {}
        for sx, sy, stext in band:
            lines.setdefault(round(sy, LINE_Y_DECIMALS), []).append((sx, stext))
        line_texts = []
        for yk in sorted(lines, reverse=True):
            parts = [t for _, t in sorted(lines[yk], key=lambda p: p[0])]
            line = normalize_ws(" ".join(parts))
            if line:
                line_texts.append(line)
        if line_texts:
            band_texts.append("\n".join(line_texts))
    return "\n\n".join(band_texts)


def extract_pdf_text(data: bytes) -> str:
    """PDF bytes -> extracted text under the fixed reading-order rule.

    Orchestration: build the object table (top-level scan + ObjStm
    expansion) to resolve ToUnicode CMaps, then decode every top-level
    stream through its filter chain and interpret the ones carrying
    text operators. xref streams and other non-text streams fall out
    naturally (no BT after decode, or an unknown filter)."""
    try:
        if b"/Encrypt" in data:
            data = _decrypt_document(data)
        cmaps: dict[str, tuple] = {}
        # fast-path gate: the font graph is only walked when a CMap can
        # exist — the marker may hide inside a compressed ObjStm, so
        # that container's presence opens the gate too
        if b"/ToUnicode" in data or b"/ObjStm" in data:
            cmaps = _font_cmaps(_scan_objects(data))
        segs: list[tuple[float, float, str]] = []
        for m in _STREAM_RE.finditer(data):
            body = _decode_stream(m.group(1),
                                  _strip_stream_eol(m.group(2)))
            if body is None or b"BT" not in body:
                continue
            segs.extend(_extract_segments(body, cmaps))
        return _assemble_segments(segs)
    except Exception:
        return ""
