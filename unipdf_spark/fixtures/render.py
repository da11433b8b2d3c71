"""Minimal-but-real PDF file writer for fixtures.

Produces complete PDFs: header, numbered objects, Flate-encoded content
streams, xref table, trailer. Intentionally independent from the engine's
parser (`unipdf_spark.pdf`) — round-trip tests would be meaningless otherwise.
"""

from __future__ import annotations

import base64
import binascii
import functools
import re
import hashlib
import struct
import zlib
from itertools import groupby

_CRYPT_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = ch ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def std_encrypt_params(file_id: bytes, p: int = -44, nbits: int = 128):
    """Standard security handler V2/R3 with empty user+owner passwords
    (PDF 32000 §7.6.3 Algorithms 2/3/5). Generator-side, independent of the
    engine's decryptor."""
    n = nbits // 8
    padded = _CRYPT_PAD[:32]  # empty passwords
    # Algorithm 3: /O
    h = hashlib.md5(padded).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    key_o = h[:n]
    o = _rc4(key_o, padded)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in key_o), o)
    # Algorithm 2: file key
    h = hashlib.md5(padded + o + struct.pack("<i", p) + file_id).digest()
    for _ in range(50):
        h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    # Algorithm 5: /U
    u = hashlib.md5(_CRYPT_PAD + file_id).digest()
    u = _rc4(key, u)
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u = u + b"\x00" * 16
    return o, u, key


def _w_aes(key: bytes, iv: bytes, data: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    e = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return e.update(data) + e.finalize()


def _w_hash2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """Writer-side ISO 32000-2 Algorithm 2.B (independent of the engine's)."""
    k = hashlib.sha256(pw + salt + udata).digest()
    rounds = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = _w_aes(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
            e
        ).digest()
        rounds += 1
        # Spec exit (ISO 32000-2 §7.6.4.3.4): last byte of E <= rounds - 32.
        if rounds >= 64 and e[-1] <= rounds - 32:
            return k[:32]


def aes256_encrypt_params(seed: bytes, p: int = -44):
    """Deterministic R6/AES-256 handler parameters with empty passwords
    (ISO 32000-2 §7.6.4 Algorithms 8/9/10), generator-side."""

    def d(tag: bytes) -> bytes:
        return hashlib.sha256(seed + tag).digest()

    file_key = d(b"filekey")[:32]
    vs_u, ks_u = d(b"vsu")[:8], d(b"ksu")[:8]
    u = _w_hash2b(b"", vs_u, b"") + vs_u + ks_u
    ue = _w_aes(_w_hash2b(b"", ks_u, b""), b"\x00" * 16, file_key)
    vs_o, ks_o = d(b"vso")[:8], d(b"kso")[:8]
    o = _w_hash2b(b"", vs_o, u) + vs_o + ks_o
    oe = _w_aes(_w_hash2b(b"", ks_o, u), b"\x00" * 16, file_key)
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    perms_plain = (
        struct.pack("<i", p) + b"\xff\xff\xff\xff" + b"Tadb" + d(b"prm")[:4]
    )
    enc = Cipher(algorithms.AES(file_key), modes.ECB()).encryptor()
    perms = enc.update(perms_plain) + enc.finalize()
    return o, u, oe, ue, perms, file_key


def _aes256_stream(file_key: bytes, seed: bytes, num: int, payload: bytes) -> bytes:
    iv = hashlib.md5(seed + str(num).encode()).digest()
    padn = 16 - len(payload) % 16
    return iv + _w_aes(file_key, iv, payload + bytes([padn]) * padn)


def _object_key(file_key: bytes, num: int, gen: int) -> bytes:
    h = hashlib.md5(
        file_key + struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def lzw_encode(data: bytes) -> bytes:
    """LZW per PDF spec, EarlyChange=1 (generator-side; independent of the
    engine's decoder). Code-width growth mirrors the DECODER's table count —
    the decoder inserts one entry per data code after the first (including
    the final flush code, which adds nothing on the encoder side)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258   # encoder table codes
    dec_size = 258    # decoder's table size (drives code width)
    code_len = 9
    n_data_codes = 0
    bits: list[tuple[int, int]] = [(256, 9)]  # clear table

    def emit(code: int) -> None:
        nonlocal dec_size, code_len, n_data_codes
        bits.append((code, code_len))
        n_data_codes += 1
        if n_data_codes > 1 and dec_size < 4096:
            dec_size += 1  # decoder inserts after reading this code
            if dec_size + 1 >= (1 << code_len) and code_len < 12:
                code_len += 1  # EarlyChange=1

    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
        w = bytes([ch])
    if w:
        emit(table[w])
    bits.append((257, code_len))  # EOD
    buf = 0
    nbits = 0
    out = bytearray()
    for code, cl in bits:
        buf = (buf << cl) | code
        nbits += cl
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def rl_encode(data: bytes) -> bytes:
    """RunLengthDecode encoder: repeat runs ≥3 as (257-n, byte); literals
    chunked ≤128."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        j = i
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i = j
            continue
        # literal run until next repeat-of-3 or 128 bytes
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out.extend(data[i:j])
        i = j
    out.append(128)  # EOD
    return bytes(out)


_ENCODERS = {
    "FlateDecode": lambda d: zlib.compress(d, 6),
    "LZWDecode": lzw_encode,
    "RunLengthDecode": rl_encode,
    "ASCIIHexDecode": lambda d: binascii.hexlify(d) + b">",
    "ASCII85Decode": lambda d: base64.a85encode(d) + b"~>",
}


def encode_chain(data: bytes, filters: list[str]) -> bytes:
    """Encode for a /Filter [F1 F2 ...] chain (decode order F1→F2 ⇒ encode
    order reversed)."""
    for name in reversed(filters):
        data = _ENCODERS[name](data)
    return data


def esc_string(s: str, encoding: str = "latin-1") -> bytes:
    """Escape a text string for a PDF literal string (encoded payload)."""
    b = s.encode(encoding, errors="replace")
    return (
        b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


class PdfFileWriter:
    def __init__(self) -> None:
        self._objs: list[bytes | None] = [None]  # 1-indexed
        self._is_stream: set[int] = set()
        # pre-encode stream sources (dict_extra, data, decode_chain) — the
        # foreign-layout serializer (fixtures.foreign) re-encodes these
        # through its own filter chains; streams added via raw add() (image
        # XObjects, whose media refs hash the stored payload) are absent
        # and therefore kept byte-identical
        self.stream_src: dict[int, tuple[bytes, bytes, list[str]]] = {}

    def reserve(self) -> int:
        self._objs.append(None)
        return len(self._objs) - 1

    def set_obj(self, num: int, body: bytes) -> int:
        self._objs[num] = body
        return num

    def add(self, body: bytes) -> int:
        self._objs.append(body)
        return len(self._objs) - 1

    def add_stream(self, dict_extra: bytes, data: bytes, compress: bool = True,
                   filters: list[str] | None = None) -> tuple[int, bytes]:
        """Returns (objnum, raw_encoded_bytes_as_stored). ``filters`` names a
        decode chain (/Filter order); default Flate when ``compress``."""
        if filters:
            raw = encode_chain(data, filters)
            if len(filters) == 1:
                filt = f"/Filter /{filters[0]} ".encode()
            else:
                filt = (
                    b"/Filter [ "
                    + b" ".join(b"/" + f.encode() for f in filters)
                    + b" ] "
                )
        elif compress:
            raw = zlib.compress(data, 6)
            filt = b"/Filter /FlateDecode "
        else:
            raw = data
            filt = b""
        body = (
            b"<< " + dict_extra + filt + b"/Length " + str(len(raw)).encode() + b" >>\n"
            b"stream\n" + raw + b"\nendstream"
        )
        num = self.add(body)
        self._is_stream.add(num)
        self.stream_src[num] = (
            dict_extra, data,
            list(filters) if filters else (["FlateDecode"] if compress
                                           else []))
        return num, raw

    def build(self, root_num: int, corrupt_startxref: bool = False,
              encrypt_id: bytes | None = None,
              encrypt_aes256: bytes | None = None) -> bytes:
        enc_num = None
        file_key = None
        aes_key = None
        if encrypt_aes256 is not None:
            encrypt_id = encrypt_aes256[:16]
            o6, u6, oe6, ue6, perms6, aes_key = aes256_encrypt_params(
                encrypt_aes256
            )
            enc_num = self.add(
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44 "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/StmF /StdCF /StrF /StdCF /O <" + binascii.hexlify(o6)
                + b"> /U <" + binascii.hexlify(u6) + b"> /OE <"
                + binascii.hexlify(oe6) + b"> /UE <" + binascii.hexlify(ue6)
                + b"> /Perms <" + binascii.hexlify(perms6) + b"> >>"
            )
        elif encrypt_id is not None:
            o, u, file_key = std_encrypt_params(encrypt_id)
            enc_num = self.add(
                b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44 /O <"
                + binascii.hexlify(o) + b"> /U <" + binascii.hexlify(u)
                + b"> >>"
            )
        out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0] * len(self._objs)
        for num in range(1, len(self._objs)):
            body = self._objs[num]
            if body is None:
                raise ValueError(f"object {num} reserved but never set")
            if file_key is not None and num != enc_num:
                marker = body.find(b"stream\n")
                if marker >= 0:
                    start = marker + len(b"stream\n")
                    end = body.rfind(b"\nendstream")
                    payload = body[start:end]
                    body = (
                        body[:start]
                        + _rc4(_object_key(file_key, num, 0), payload)
                        + body[end:]
                    )
            elif aes_key is not None and num != enc_num:
                marker = body.find(b"stream\n")
                if marker >= 0:
                    start = marker + len(b"stream\n")
                    end = body.rfind(b"\nendstream")
                    ct = _aes256_stream(aes_key, encrypt_aes256, num,
                                        body[start:end])
                    # AES adds IV + padding: patch the plaintext /Length
                    head = re.sub(
                        rb"/Length \d+",
                        b"/Length " + str(len(ct)).encode(),
                        body[:start],
                        count=1,
                    )
                    body = head + ct + body[end:]
            offsets[num] = len(out)
            out += str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n"
        xref_pos = len(out)
        n = len(self._objs)
        out += b"xref\n0 " + str(n).encode() + b"\n"
        out += b"0000000000 65535 f \n"
        for num in range(1, n):
            out += ("%010d 00000 n \n" % offsets[num]).encode()
        trailer = (
            b"trailer\n<< /Size " + str(n).encode()
            + b" /Root " + str(root_num).encode() + b" 0 R"
        )
        if enc_num is not None:
            hid = binascii.hexlify(encrypt_id)
            trailer += (
                b" /Encrypt " + str(enc_num).encode() + b" 0 R /ID [ <"
                + hid + b"> <" + hid + b"> ]"
            )
        out += trailer + b" >>\n"
        sx = 1 if corrupt_startxref else xref_pos  # broken offset → repair path
        out += b"startxref\n" + str(sx).encode() + b"\n%%EOF\n"
        return bytes(out)

    def build_modern(self, root_num: int) -> bytes:
        """Modern container: non-stream objects packed into an /ObjStm object
        stream; cross-references via a compressed /XRef stream (PDF 1.5+).
        Exercises the engine's xref-stream + object-stream decode path."""
        out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
        n_existing = len(self._objs)
        objstm_num = n_existing  # next two object numbers
        xref_num = n_existing + 1
        size = n_existing + 2

        packed: list[int] = []   # object numbers inside the ObjStm
        direct: dict[int, int] = {}  # num -> file offset
        for num in range(1, n_existing):
            body = self._objs[num]
            if body is None:
                raise ValueError(f"object {num} reserved but never set")
            if b"\nstream\n" in body:
                direct[num] = len(out)
                out += str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n"
            else:
                packed.append(num)

        # ObjStm payload: "num off num off ..." header + concatenated bodies
        bodies = bytearray()
        header = bytearray()
        for num in packed:
            header += b"%d %d " % (num, len(bodies))
            bodies += self._objs[num] + b"\n"
        payload = bytes(header) + bytes(bodies)
        comp = zlib.compress(payload, 6)
        direct[objstm_num] = len(out)
        out += (
            str(objstm_num).encode() + b" 0 obj\n<< /Type /ObjStm /N "
            + str(len(packed)).encode() + b" /First " + str(len(header)).encode()
            + b" /Filter /FlateDecode /Length " + str(len(comp)).encode()
            + b" >>\nstream\n" + comp + b"\nendstream\nendobj\n"
        )

        # XRef stream: W = [1 4 2]
        xref_pos = len(out)
        rows = bytearray()
        for num in range(size):
            if num == 0:
                rows += b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
            elif num == xref_num:
                rows += b"\x01" + xref_pos.to_bytes(4, "big") + (0).to_bytes(2, "big")
            elif num in direct:
                rows += b"\x01" + direct[num].to_bytes(4, "big") + (0).to_bytes(2, "big")
            else:
                idx = packed.index(num)
                rows += b"\x02" + objstm_num.to_bytes(4, "big") + idx.to_bytes(2, "big")
        xcomp = zlib.compress(bytes(rows), 6)
        out += (
            str(xref_num).encode() + b" 0 obj\n<< /Type /XRef /W [1 4 2] /Size "
            + str(size).encode() + b" /Root " + str(root_num).encode()
            + b" 0 R /Filter /FlateDecode /Length " + str(len(xcomp)).encode()
            + b" >>\nstream\n" + xcomp + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n" + str(xref_pos).encode() + b"\n%%EOF\n"
        return bytes(out)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.nbits = 0

    def write(self, bits: str) -> None:
        for ch in bits:
            if self.nbits % 8 == 0:
                self.buf.append(0)
            if ch == "1":
                self.buf[-1] |= 0x80 >> (self.nbits % 8)
            self.nbits += 1

    def bytes(self) -> bytes:
        return bytes(self.buf)


def _ccitt_changes(row_black: list[bool]) -> list[int]:
    """Positions where pixel color flips (line starts white)."""
    changes = []
    prev = False
    for i, b in enumerate(row_black):
        if b != prev:
            changes.append(i)
            prev = b
    return changes


def _ccitt_run(w: "_BitWriter", run: int, white: bool) -> None:
    # fixture side's OWN T.4 table transcription (ccitt_codes.py, sourced
    # from the reference's table init) — the engine's spec-derived copy is
    # cross-checked against it by test, not shared (fixture independence)
    from unipdf_spark.fixtures import ccitt_codes as T

    term = T.WHITE_TERMINAL if white else T.BLACK_TERMINAL
    makeup = T.WHITE_MAKEUP if white else T.BLACK_MAKEUP
    while run >= 64:
        m = min(2560, (run // 64) * 64)
        while m not in makeup and m not in T.EXT_MAKEUP:
            m -= 64
        w.write(makeup[m] if m in makeup else T.EXT_MAKEUP[m])
        run -= m
    w.write(term[run])


def _ccitt_1d_row(w: "_BitWriter", changes: list[int], columns: int) -> None:
    """T.4 one-dimensional (MH) coding of one row: alternating white/black
    run lengths, starting white."""
    pos, white = 0, True
    for c in changes + [columns]:
        _ccitt_run(w, c - pos, white)
        pos = c
        white = not white
        if pos >= columns:
            break
    if pos < columns:
        _ccitt_run(w, columns - pos, white)


def _ccitt_2d_row(w: "_BitWriter", cur: list[int], ref: list[int],
                  columns: int) -> None:
    """T.4/T.6 two-dimensional coding of one row (changes ``cur``) against
    the reference row's changes ``ref``: pass, vertical or horizontal
    mode per changing element."""
    a0, white = -1, True
    while a0 < columns:
        # a1: next change right of a0 (color flip from current color)
        a1 = next((c for c in cur if c > a0), columns)
        i = 0
        while i < len(ref) and ref[i] <= a0:
            i += 1
        if (i % 2 == 0) != white:
            i += 1
        b1 = ref[i] if i < len(ref) else columns
        b2 = ref[i + 1] if i + 1 < len(ref) else columns
        if b2 < a1:
            w.write("0001")  # pass
            a0 = b2
        elif abs(a1 - b1) <= 3:
            w.write({0: "1", 1: "011", -1: "010", 2: "000011",
                     -2: "000010", 3: "0000011", -3: "0000010"}[a1 - b1])
            a0 = a1
            white = not white
        else:  # horizontal
            a2 = next((c for c in cur if c > a1), columns)
            w.write("001")
            _ccitt_run(w, a1 - max(a0, 0), white)
            _ccitt_run(w, a2 - a1, not white)
            a0 = a2


def ccitt_g4_encode(rows: list[list[bool]], columns: int) -> bytes:
    """Generator-side ITU-T T.6 (Group 4) encoder — independent of the
    engine's decoder; fixture-side T.4 code tables (ccitt_codes)."""
    w = _BitWriter()
    _ccitt_g4_into(w, rows, columns)
    w.write("000000000001" * 2)  # EOFB
    return w.bytes()


def _ccitt_g4_into(w: "_BitWriter", rows: list[list[bool]],
                   columns: int) -> None:
    """T.6 row coding into an existing bit writer (no EOFB) — lets the
    JBIG2 HMMR=1 halftone encoder emit consecutive bitplanes in ONE MMR
    stream with a persistent coder, matching the reference's reuse of a
    single MMR decoder across planes."""
    ref = [columns, columns]
    for row in rows:
        cur = _ccitt_changes(row)
        _ccitt_2d_row(w, cur, ref, columns)
        ref = cur


def ccitt_g3_1d_encode(rows: list[list[bool]], columns: int) -> bytes:
    """Generator-side ITU-T T.4 Group 3 one-dimensional (MH) encoder."""
    w = _BitWriter()
    for row in rows:
        w.write("000000000001")  # EOL
        _ccitt_1d_row(w, _ccitt_changes(row), columns)
    return w.bytes()


def ccitt_g3_2d_encode(rows: list[list[bool]], columns: int,
                       k: int = 4) -> bytes:
    """Generator-side ITU-T T.4 Group 3 two-dimensional encoder (K > 0):
    every K-th row is 1D-coded (tag bit 1), the rest 2D-coded against the
    previous row (tag bit 0)."""
    w = _BitWriter()
    ref = [columns, columns]
    for r, row in enumerate(rows):
        cur = _ccitt_changes(row)
        w.write("000000000001")  # EOL
        if r % k == 0:
            w.write("1")
            _ccitt_1d_row(w, cur, columns)
        else:
            w.write("0")
            _ccitt_2d_row(w, cur, ref, columns)
        ref = cur
    return w.bytes()


# --- JBIG2 (embedded organization) writer-side encoder -----------------------
# Independent transcription of the T.88 Annex E ENCODER flowcharts + generic
# region template-0 context model; the engine's decoder (pdf/jbig2.py) is
# round-trip fuzzed against this.

_JB2_QE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class _MQEncoder:
    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray([0])  # seed byte; dropped at flush if untouched

    def _byteout(self) -> None:
        o = self.out
        if o[-1] == 0xFF:
            o.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            o.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            o[-1] += 1
            if o[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                o.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                o.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def _renorm(self) -> None:
        while True:
            if self.ct == 0:
                self._byteout()
            self.a = (self.a << 1) & 0xFFFF
            # C is a 32-bit register: bit 27 is the carry BYTEOUT consumes —
            # masking narrower here would drop carries
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break

    def encode(self, cx: list, d: int) -> None:
        i, mps = cx
        qe, nmps, nlps, switch = _JB2_QE[i]
        if d == mps:  # CODEMPS
            self.a -= qe
            if (self.a & 0x8000) == 0:
                if self.a < qe:
                    self.a = qe
                else:
                    self.c += qe
                cx[0] = nmps
                self._renorm()
            else:
                self.c += qe
        else:  # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                cx[1] = 1 - mps
            cx[0] = nlps
            self._renorm()

    def flush(self) -> bytes:
        # SETBITS (T.88 figure E.11): saturate the low bits, back off one
        # half-interval if that overshot the interval top C+A
        tempc = (self.c + self.a) & 0xFFFFFFFF
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        if self.out[-1] != 0xFF:
            self.out += b"\xff"
        self.out += b"\xac"
        return bytes(self.out[1:] if self.out[0] == 0 else self.out)


# template-0 fixed pixels + nominal AT (spec §6.2.5.7)
_JB2_FIXED0 = [(-1, -2), (0, -2), (1, -2),
               (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
               (-4, 0), (-3, 0), (-2, 0), (-1, 0)]
_JB2_NOMINAL0 = [(3, -1), (-3, -1), (2, -2), (-2, -2)]

# template-0 pixel layout (nominal AT), raster order
_JB2_T0 = sorted(_JB2_FIXED0 + _JB2_NOMINAL0, key=lambda p: (p[1], p[0]))


def _jb2_tpgdon_ctx(at) -> int:
    """Template-0 TPGDON pseudo-context for arbitrary AT positions: the
    spec gives each SLOT a fixed pseudo value (0x9B25 in nominal sorted
    order); re-encode those per-slot values in the actual sort order."""
    nom = [((p[1], p[0]), ("f", p)) for p in _JB2_FIXED0] + [
        ((p[1], p[0]), ("a", i)) for i, p in enumerate(_JB2_NOMINAL0)]
    nom.sort(key=lambda t: t[0])
    n = len(nom)
    val = {tag: (0x9B25 >> (n - 1 - k)) & 1 for k, (_, tag) in enumerate(nom)}
    cur = [((p[1], p[0]), ("f", p)) for p in _JB2_FIXED0] + [
        ((p[1], p[0]), ("a", i)) for i, p in enumerate(at)]
    cur.sort(key=lambda t: t[0])
    ctx = 0
    for _, tag in cur:
        ctx = (ctx << 1) | val[tag]
    return ctx


def _jb2_generic_body(rows: list[list[bool]], cols: int,
                      at=None, tpgdon: bool = False) -> bytes:
    enc = _MQEncoder()
    contexts: dict[int, list] = {}
    h = len(rows)
    at = list(at) if at is not None else list(_JB2_NOMINAL0)
    tmpl = sorted(_JB2_FIXED0 + at, key=lambda p: (p[1], p[0]))
    tp_ctx = _jb2_tpgdon_ctx(at)

    def px(x: int, y: int) -> int:
        if 0 <= x < cols and 0 <= y < h:
            return 1 if rows[y][x] else 0
        return 0

    ltp = 0
    for y in range(h):
        if tpgdon:
            same = y > 0 and rows[y] == rows[y - 1]
            sltp = (1 if same else 0) ^ ltp
            cx = contexts.setdefault(tp_ctx, [0, 0])
            enc.encode(cx, sltp)
            ltp ^= sltp
            if ltp:
                continue  # typical row: copy of the previous one
        for x in range(cols):
            ctx = 0
            for dx, dy in tmpl:
                ctx = (ctx << 1) | px(x + dx, y + dy)
            cx = contexts.setdefault(ctx, [0, 0])
            enc.encode(cx, 1 if rows[y][x] else 0)
    return enc.flush()


def _jb2_segment(number: int, seg_type: int, data: bytes,
                 refs=()) -> bytes:
    """Segment header on page 1 (1-byte referred-to segment numbers,
    count ≤ 4) + data."""
    return (number.to_bytes(4, "big")
            + bytes([seg_type & 0x3F, len(refs) << 5]) + bytes(refs)
            + bytes([1]) + len(data).to_bytes(4, "big") + data)


def _jb2_stream(cols: int, rows: int, *segs) -> bytes:
    """Embedded JBIG2 stream: page information (segment 1, cols×rows,
    default pixel 0, lossless), ``segs`` as segments 2, 3, … — each
    (type, referred-to segment numbers, data) — then end of page."""
    page_info = (cols.to_bytes(4, "big") + rows.to_bytes(4, "big")
                 + bytes(8) + bytes([0x01]) + bytes(2))
    out = _jb2_segment(1, 48, page_info)
    for number, (seg_type, refs, data) in enumerate(segs, 2):
        out += _jb2_segment(number, seg_type, data, refs)
    return out + _jb2_segment(len(segs) + 2, 49, b"")


def _jb2_region_info(cols: int, rows: int) -> bytes:
    """Region segment information: cols×rows at (0, 0), external OR."""
    return cols.to_bytes(4, "big") + rows.to_bytes(4, "big") + bytes(9)


def _jb2_at_bytes(at) -> bytes:
    return b"".join(bytes([ax & 0xFF, ay & 0xFF]) for ax, ay in at)


_JB2_AT0 = _jb2_at_bytes(_JB2_NOMINAL0)
_JB2_GRAT0 = bytes([0xFF, 0xFF, 0xFF, 0xFF])  # GRAT nominal (-1,-1) x2


def _jb2_compose(cols: int, rows: int, placed) -> list[list[int]]:
    """cols×rows page of 0/1 with each (bitmap, x, y) OR'ed in at its
    top-left (x, y), clipped to the page."""
    page = [[0] * cols for _ in range(rows)]
    for bmp, x, y in placed:
        for yy, srow in enumerate(bmp):
            if 0 <= y + yy < rows:
                prow = page[y + yy]
                for xx, v in enumerate(srow):
                    if v and 0 <= x + xx < cols:
                        prow[x + xx] = 1
    return page


def jbig2_encode(rows: list[list[bool]], cols: int, mmr: bool = False,
                 tpgdon: bool = False, at_pixels=None) -> bytes:
    """Embedded-organization JBIG2: page info + one immediate lossless
    generic region (type 38). mmr=True uses MMR (T.6) region coding via the
    writer's independent G4 encoder; else MQ template-0 arithmetic coding,
    optionally with TPGDON typical-prediction and custom AT positions."""
    if mmr:
        region = bytes([0x01]) + ccitt_g4_encode(rows, cols)
    else:
        at = list(at_pixels) if at_pixels is not None else _JB2_NOMINAL0
        region = (bytes([0x08 if tpgdon else 0x00])  # MQ, template 0
                  + _jb2_at_bytes(at)
                  + _jb2_generic_body(rows, cols, at=at, tpgdon=tpgdon))
    return _jb2_stream(cols, len(rows), (
        38, [], _jb2_region_info(cols, len(rows)) + region))


def _jb2_int_ctx():
    return [[0, 0] for _ in range(512)]


def _jb2_enc_int(enc: "_MQEncoder", ctx: list, v: int | None) -> None:
    """Integer arithmetic ENCODING (T.88 Annex A mirror): sign + prefix
    class + value bits through the adaptive PREV tree. v=None encodes OOB
    (S=1, V=0)."""
    prev = 1

    def bit(b: int) -> None:
        nonlocal prev
        enc.encode(ctx[prev], b)
        prev = ((prev << 1) | b) if prev < 256 else (
            ((((prev << 1) | b) & 511) | 256))

    if v is None:  # OOB
        bit(1)
        bit(0)
        bit(0)
        bit(0)
        return
    s = 1 if v < 0 else 0
    av = -v if v < 0 else v
    bit(s)
    if av < 4:
        cls, base, n = [0], 0, 2
    elif av < 20:
        cls, base, n = [1, 0], 4, 4
    elif av < 84:
        cls, base, n = [1, 1, 0], 20, 6
    elif av < 340:
        cls, base, n = [1, 1, 1, 0], 84, 8
    elif av < 4436:
        cls, base, n = [1, 1, 1, 1, 0], 340, 12
    else:
        cls, base, n = [1, 1, 1, 1, 1], 4436, 32
    for b in cls:
        bit(b)
    val = av - base
    for i in range(n - 1, -1, -1):
        bit((val >> i) & 1)


def _jb2_enc_iaid(enc: "_MQEncoder", cx: list, symcodelen: int, sym_id: int) -> None:
    prev = 1
    for i in range(symcodelen - 1, -1, -1):
        b = (sym_id >> i) & 1
        enc.encode(cx[prev], b)
        prev = (prev << 1) | b


def _jb2_generic_into(enc: "_MQEncoder", contexts: dict,
                      rows: list[list[bool]], cols: int,
                      skip: list | None = None) -> None:
    """Template-0 generic coding into an EXISTING MQ encoder + GB context
    store (symbol-dictionary semantics: one coder for all symbol bitmaps).
    ``skip`` (USESKIP, §6.2.5.7): skipped pixels are forced to 0 and NO
    decision is emitted for them."""
    h = len(rows)
    if skip is not None:
        rows = [[bool(v) and not skip[y][x] for x, v in enumerate(r)]
                for y, r in enumerate(rows)]

    def px(x: int, y: int) -> int:
        if 0 <= x < cols and 0 <= y < h:
            return 1 if rows[y][x] else 0
        return 0

    for y in range(h):
        for x in range(cols):
            if skip is not None and skip[y][x]:
                continue
            ctx = 0
            for dx, dy in _JB2_T0:
                ctx = (ctx << 1) | px(x + dx, y + dy)
            cx = contexts.setdefault(ctx, [0, 0])
            enc.encode(cx, 1 if rows[y][x] else 0)


def _jb2_symbol_dict(symbols, order) -> bytes:
    """Arithmetic symbol dictionary segment data (generic template 0,
    nominal AT, every symbol exported) coding ``symbols`` in ``order``;
    each run of equal heights is one height class. The text encoders
    order by height, the refagg encoders by (height, width)."""
    enc = _MQEncoder()
    gb_ctx: dict = {}
    iadh, iadw, iaex = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    hcheight = 0
    for h, cls in groupby(order, key=lambda k: len(symbols[k])):
        _jb2_enc_int(enc, iadh, h - hcheight)
        hcheight = h
        symwidth = 0
        for k in cls:
            w = len(symbols[k][0])
            _jb2_enc_int(enc, iadw, w - symwidth)
            symwidth = w
            _jb2_generic_into(enc, gb_ctx, symbols[k], w)
        _jb2_enc_int(enc, iadw, None)  # OOB: end of height class
    _jb2_enc_int(enc, iaex, 0)              # skip-run 0
    _jb2_enc_int(enc, iaex, len(symbols))   # export-run all
    n = len(symbols).to_bytes(4, "big")
    return bytes(2) + _JB2_AT0 + n + n + enc.flush()


def _jb2_strips(exported, placements, instance_refine: dict,
                ref_corner: int, transposed: bool, strips: int = 1):
    """Text-region instances by strip: [(strip base T, sorted [(S,
    T - base, export id, placement index)])]. Placements are (export id,
    x, y) with (x, y) the TOP-LEFT pixel; T is the ref_corner (0=BL 1=TL
    2=BR 3=TR) edge of the instance's effective (possibly refined) bitmap,
    along y — along x when transposed, S then along y (T.88 §6.4.5)."""
    by_strip: dict[int, list] = {}
    for p_idx, (sid, x, y) in enumerate(placements):
        bmp = instance_refine.get(p_idx, exported[sid])
        if transposed:
            t = x if ref_corner in (0, 1) else x + len(bmp[0]) - 1
            s = y
        else:
            t = y if ref_corner in (1, 3) else y + len(bmp) - 1
            s = x
        base = (t // strips) * strips
        by_strip.setdefault(base, []).append((s, t - base, sid, p_idx))
    return [(b, sorted(by_strip[b])) for b in sorted(by_strip)]


def _jb2_text_region(exported, placements, cols: int, nrows: int,
                     ref_corner: int = 1, transposed: bool = False,
                     instance_refine: dict | None = None) -> bytes:
    """Arithmetic text region segment data (one-row strips, OR) placing
    (export id, x, y) instances of the dictionary's ``exported`` symbols
    (see _jb2_strips). ``instance_refine`` maps placement index → a bitmap
    coded as an SBREFINE=1 refinement of that instance's symbol
    (§6.4.11)."""
    instance_refine = instance_refine or {}
    refine = bool(instance_refine)
    symcodelen = max(1, (len(exported) - 1).bit_length())
    enc = _MQEncoder()
    iadt, iafs, iads = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    iaid_cx = [[0, 0] for _ in range(1 << (symcodelen + 1))]
    iari, iardw, iardh = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    iardx, iardy = _jb2_int_ctx(), _jb2_int_ctx()
    gr_ctx: dict = {}
    _jb2_enc_int(enc, iadt, 0)  # STRIPT init = 0
    stript = 0
    firsts = 0
    n_inst = 0
    total = len(placements)
    for t, insts in _jb2_strips(exported, placements, instance_refine,
                                ref_corner, transposed):
        _jb2_enc_int(enc, iadt, t - stript)
        stript = t
        first = True
        curs = 0
        for s, _, sid, p_idx in insts:
            if first:
                _jb2_enc_int(enc, iafs, s - firsts)
                firsts = s
                first = False
            else:
                _jb2_enc_int(enc, iads, s - curs)
            curs = s
            _jb2_enc_iaid(enc, iaid_cx, symcodelen, sid)
            sym = exported[sid]
            bmp = instance_refine.get(p_idx)
            if refine:
                _jb2_enc_int(enc, iari, 1 if bmp is not None else 0)
            if bmp is not None:
                sw0, sh0 = len(sym[0]), len(sym)
                wi, hi = len(bmp[0]), len(bmp)
                _jb2_enc_int(enc, iardw, wi - sw0)
                _jb2_enc_int(enc, iardh, hi - sh0)
                _jb2_enc_int(enc, iardx, 0)
                _jb2_enc_int(enc, iardy, 0)
                _jb2_refine_into(enc, gr_ctx, bmp, sym, wi, hi, sw0, sh0,
                                 (wi - sw0) >> 1, (hi - sh0) >> 1,
                                 template=0)
                sym = bmp
            curs += (len(sym) if transposed else len(sym[0])) - 1
            n_inst += 1
        if n_inst < total:
            _jb2_enc_int(enc, iads, None)  # end of strip
    # SBREFINE bit 1, REFCORNER bits 4-5, TRANSPOSED bit 6; strips=1, OR
    flags = ((int(refine) << 1) | ((ref_corner & 3) << 4)
             | (int(transposed) << 6))
    return (_jb2_region_info(cols, nrows) + flags.to_bytes(2, "big")
            + (_JB2_GRAT0 if refine else b"") + total.to_bytes(4, "big")
            + enc.flush())


def jbig2_text_encode(symbols: list[list[list[bool]]],
                      placements: list[tuple[int, int, int]],
                      cols: int, nrows: int,
                      ref_corner: int = 1,
                      transposed: bool = False,
                      instance_refine: dict | None = None
                      ) -> tuple[bytes, list[list[int]]]:
    """Embedded JBIG2 with a SYMBOL DICTIONARY + TEXT REGION (the jbig2enc
    shape): page info, symbol dict (arithmetic, template 0, all exported),
    one-strip text region placing (sym_id, x, y) instances, where (x, y)
    is always the TOP-LEFT pixel of the symbol; ref_corner (0=BL 1=TL
    2=BR 3=TR) and transposed select the T/S coordinate encoding per
    T.88 §6.4.5 (transposed: T along x, S along y, strips are columns).
    ``instance_refine`` maps placement INDEX → a bitmap placed as an
    SBREFINE=1 refinement of that instance's dictionary symbol (§6.4.11).
    Returns (stream, composed page rows 0/1)."""
    instance_refine = instance_refine or {}
    # dictionary order is height-sorted: id in the TEXT REGION indexes the
    # exported list, so remap caller ids
    order = sorted(range(len(symbols)), key=lambda i: len(symbols[i]))
    remap = {orig: k for k, orig in enumerate(order)}
    tr_data = _jb2_text_region(
        [symbols[k] for k in order],
        [(remap[sym_id], x, y) for sym_id, x, y in placements], cols, nrows,
        ref_corner, transposed, instance_refine)
    stream = _jb2_stream(cols, nrows,
                         (0, [], _jb2_symbol_dict(symbols, order)),
                         (6, [2], tr_data))
    return stream, _jb2_compose(cols, nrows, [
        (instance_refine.get(p_idx, symbols[sym_id]), x, y)
        for p_idx, (sym_id, x, y) in enumerate(placements)])


def jbig2_huffman_textregion_encode(symbols: list[list[list[bool]]],
                              placements: list[tuple[int, int, int]],
                              cols: int, nrows: int,
                              strips: int = 1,
                              instance_refine: dict | None = None,
                              ref_corner: int = 1,
                              transposed: bool = False
                              ) -> tuple[bytes, list[list[int]]]:
    """Embedded JBIG2 with an arithmetic SYMBOL DICTIONARY + SBHUFF=1
    Huffman TEXT REGION (T.88 §6.4 Huffman branch, §7.4.3.1.7 symbol ID
    runcodes). Standard table selections FS=B.6, DS=B.8, DT=B.11,
    RDW/RDH/RDX/RDY=B.15, RSIZE=B.1; (x, y) is always the TOP-LEFT
    pixel — ref_corner (0=BL 1=TL 2=BR 3=TR) and transposed select the
    T/S encoding per §6.4.5 (transposed: T along x, S along y).
    ``instance_refine`` maps placement index → refined bitmap (RI=1:
    byte-aligned BMSIZE arithmetic GRR chunks sharing one GR context
    store). Returns (stream, composed page rows 0/1)."""
    instance_refine = instance_refine or {}
    order = sorted(range(len(symbols)), key=lambda i: len(symbols[i]))
    remap = {orig: k for k, orig in enumerate(order)}
    exported = [symbols[k] for k in order]

    # --- Huffman text region segment ------------------------------------
    n_syms = len(symbols)
    refine = bool(instance_refine)
    log_strips = max(0, (strips - 1).bit_length())
    assert strips == 1 << log_strips
    bw = _JB2BitWriterMSB()
    # §7.4.3.1.7: uniform symbol ID code length L → runcode table with a
    # single 1-bit code for runcode L, emitted once per symbol
    sym_len = max(1, (n_syms - 1).bit_length())
    for rc in range(35):
        bw.write(1 if rc == sym_len else 0, 4)
    for _ in range(n_syms):
        bw.write(0, 1)  # the single runcode's canonical code is '0'
    bw.align()

    def put(tbl, v):
        _jb2_huff_put(bw, tbl, v)

    put("B11", 1)  # STRIPT init: stript = -strips
    stript = -strips
    firsts = 0
    n_inst = 0
    total = len(placements)
    gr_ctx: dict = {}
    # strips of `strips` T-rows; the encoded T is the corner-selected edge
    # of the EFFECTIVE (possibly refined) bitmap
    placed = [(remap[sym_id], x, y) for sym_id, x, y in placements]
    for base, insts in _jb2_strips(exported, placed, instance_refine,
                                   ref_corner, transposed, strips):
        put("B11", (base - stript) // strips)
        stript = base
        first = True
        curs = 0
        for x, curt, sid, p_idx in insts:
            if first:
                put("B6", x - firsts)
                firsts = x
                curs = x
                first = False
            else:
                put("B8", x - curs)
                curs = x
            if strips != 1:
                bw.write(curt, log_strips)
            bw.write(sid, sym_len)  # canonical uniform-length ID code
            sym = exported[sid]
            bmp = instance_refine.get(p_idx)
            if refine:
                bw.write(1 if bmp is not None else 0, 1)  # RI raw bit
            if bmp is not None:
                sw0, sh0 = len(sym[0]), len(sym)
                wi, hi = len(bmp[0]), len(bmp)
                put("B15", wi - sw0)
                put("B15", hi - sh0)
                put("B15", 0)  # RDX
                put("B15", 0)  # RDY
                genc = _MQEncoder()
                _jb2_refine_into(genc, gr_ctx, bmp, sym, wi, hi, sw0, sh0,
                                 (wi - sw0) >> 1, (hi - sh0) >> 1,
                                 template=0)
                chunk = genc.flush()
                put("B1", len(chunk))  # BMSIZE
                bw.align()
                bw.out.extend(chunk)
                sym = bmp
            curs += (len(sym) if transposed else len(sym[0])) - 1
            n_inst += 1
        if n_inst < total:
            put("B8", None)  # OOB: end of strip
    tr_body = bw.flush()

    # SBHUFF=1, SBREFINE bit 1, LOGSBSTRIPS bits 2-3, REFCORNER bits 4-5,
    # TRANSPOSED bit 6
    tr_flags = (1 | ((1 if refine else 0) << 1) | (log_strips << 2)
                | ((ref_corner & 3) << 4)
                | ((1 if transposed else 0) << 6))
    # huffman flags: FS=B6(0), DS=B8(0), DT=B11(0), RD*=B15(1), RSIZE=B1(0)
    hflags = (1 << 6) | (1 << 8) | (1 << 10) | (1 << 12)
    tr_data = (_jb2_region_info(cols, nrows) + tr_flags.to_bytes(2, "big")
               + hflags.to_bytes(2, "big")
               + (_JB2_GRAT0 if refine else b"")
               + total.to_bytes(4, "big") + tr_body)
    stream = _jb2_stream(cols, nrows,
                         (0, [], _jb2_symbol_dict(symbols, order)),
                         (6, [2], tr_data))
    return stream, _jb2_compose(cols, nrows, [
        (instance_refine.get(p_idx, symbols[sym_id]), x, y)
        for p_idx, (sym_id, x, y) in enumerate(placements)])


# --- JPEG writer-side encoders ----------------------------------------------
# Independent T.81 transcription (Annex K tables); the engine's decoder
# (pdf/jpeg.py) is round-trip checked against it by PSNR.

_JPG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_JPG_Q = [  # Annex K.1 luminance quantization table (quality ~50)
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPG_DC_VALS = list(range(12))
_JPG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpg_codes(bits, vals):
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpgBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-fill
        return bytes(self.out)

    def marker(self, m: int) -> None:
        """Pad to byte boundary and emit a raw marker (RSTn) unstuffed."""
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, m])


# extended-precision Huffman tables (12-bit sequential, T.81 §F.1.2): DC
# categories reach 15 and AC sizes 14, beyond the Annex K baseline tables
# — fixture-local canonical tables (all-DC length 5, all-AC length 8;
# both stay clear of the reserved all-ones code)
_JPG12_DC_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPG12_DC_VALS = list(range(16))
_JPG12_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 15)
]
_JPG12_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_JPG12_AC_VALS), 0, 0, 0, 0, 0,
                  0, 0, 0]


def _seg(marker: int, payload: bytes) -> bytes:
    """One JPEG marker segment: FF, marker, 2-byte length, payload."""
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
        + payload


def _mag(v: int) -> tuple[int, int]:
    """(magnitude bits, size category) of a signed DC/AC value."""
    t = abs(v).bit_length()
    return (v if v >= 0 else v + (1 << t) - 1, t)


@functools.cache
def _jpg_dct():
    """(8×8 DCT-II matrix, K.1 quantizer in natural order)."""
    import numpy as np

    c = np.zeros((8, 8))
    for k in range(8):
        for n in range(8):
            c[k, n] = np.cos(np.pi * (2 * n + 1) * k / 16.0) * (
                np.sqrt(0.125) if k == 0 else 0.5)
    q = np.zeros(64)
    q[_JPG_ZZ] = _JPG_Q  # K.1 table is given in zigzag order
    q = q.reshape(8, 8)
    c.flags.writeable = q.flags.writeable = False  # shared by every caller
    return c, q


def _jpg_pad(plane, ph: int, pw: int):
    """``plane`` padded to ph×pw by replicating its last row and column."""
    import numpy as np

    h, w = plane.shape
    p = np.zeros((ph, pw))
    p[:h, :w] = plane
    p[h:, :w] = plane[h - 1 : h, :]
    p[:, w:] = p[:, w - 1 : w]
    return p


def _jpg_zz(blk, shift: float) -> list[int]:
    """Level-shifted, DCT'd, quantized 8×8 block in zigzag order."""
    import numpy as np

    c, q = _jpg_dct()
    return np.rint((c @ (blk - shift) @ c.T) / q).astype("i8").reshape(
        64)[_JPG_ZZ].tolist()


def _jpeg_sequential(planes, luma_sampling: tuple[int, int],
                     precision: int = 8, restart_interval: int = 0) -> bytes:
    """Sequential-DCT JPEG (T.81; Annex K tables) of one plane or three
    (Y, Cb, Cr): baseline SOF0 at precision 8, extended SOF1 at 12 (2048
    level shift, 16-category DC table). Component 0 samples at
    luma_sampling = (H, V); chroma at (1, 1), box-averaged by V rows × H
    columns along each axis at least that long (a shorter axis keeps full
    resolution). All components share one quantization table and one
    Huffman pair (selector 0). With restart_interval > 0, emits a DRI
    segment and RSTn markers every that many MCUs (DC predictors reset,
    byte realigned)."""
    hs, vs = luma_sampling
    h, w = planes[0].shape
    mh, mw = -(-h // (8 * vs)), -(-w // (8 * hs))
    fv, fh = (vs if h >= vs else 1), (hs if w >= hs else 1)
    comps = [(_jpg_pad(planes[0], mh * 8 * vs, mw * 8 * hs), hs, vs)]
    for pl in planes[1:]:
        box = pl[: h // fv * fv, : w // fh * fh].reshape(
            h // fv, fv, w // fh, fh).mean(axis=(1, 3))
        comps.append((_jpg_pad(box, mh * 8, mw * 8), 1, 1))
    if precision == 12:
        dc_bits, dc_vals = _JPG12_DC_BITS, _JPG12_DC_VALS
        ac_bits, ac_vals = _JPG12_AC_BITS, _JPG12_AC_VALS
    else:
        dc_bits, dc_vals = _JPG_DC_BITS, _JPG_DC_VALS
        ac_bits, ac_vals = _JPG_AC_BITS, _JPG_AC_VALS
    dc_codes = _jpg_codes(dc_bits, dc_vals)
    ac_codes = _jpg_codes(ac_bits, ac_vals)
    shift = float(1 << (precision - 1))
    bwr = _JpgBitWriter()
    preds = [0] * len(comps)
    mcu = 0
    rst = 0
    for my in range(mh):
        for mx in range(mw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bwr.marker(0xD0 + rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            mcu += 1
            for ci, (plane, ch, cv) in enumerate(comps):
                for by in range(my * cv, my * cv + cv):
                    for bx in range(mx * ch, mx * ch + ch):
                        zz = _jpg_zz(plane[by * 8 : by * 8 + 8,
                                           bx * 8 : bx * 8 + 8], shift)
                        v, t = _mag(zz[0] - preds[ci])
                        preds[ci] = zz[0]
                        bwr.write(*dc_codes[t])
                        if t:
                            bwr.write(v & ((1 << t) - 1), t)
                        run = 0
                        last_nz = max((i for i in range(1, 64) if zz[i]),
                                      default=0)
                        for k in range(1, last_nz + 1):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run > 15:
                                bwr.write(*ac_codes[0xF0])  # ZRL
                                run -= 16
                            v, t = _mag(zz[k])
                            bwr.write(*ac_codes[(run << 4) | t])
                            bwr.write(v & ((1 << t) - 1), t)
                            run = 0
                        if last_nz < 63:
                            bwr.write(*ac_codes[0x00])  # EOB
    body = bwr.flush()
    n = len(comps)
    sof = _seg(0xC0 if precision == 8 else 0xC1,
               bytes([precision]) + h.to_bytes(2, "big")
               + w.to_bytes(2, "big") + bytes([n])
               + b"".join(bytes([ci + 1, (ch << 4) | cv, 0])
                          for ci, (_, ch, cv) in enumerate(comps)))
    dht = _seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)) \
        + _seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    dri = _seg(0xDD, restart_interval.to_bytes(2, "big")) \
        if restart_interval else b""
    sos = _seg(0xDA, bytes([n]) + b"".join(bytes([ci + 1, 0x00])
                                           for ci in range(n))
               + bytes([0, 63, 0]))
    return (b"\xff\xd8" + _seg(0xDB, bytes([0]) + bytes(_JPG_Q)) + sof + dht
            + dri + sos + body + b"\xff\xd9")


def _jpg_ycbcr(rgb) -> list:
    """JFIF RGB → Y, Cb, Cr float planes."""
    import numpy as np

    rgb = np.asarray(rgb, dtype="f8")
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    return [0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]


def jpeg_gray_encode(img, restart_interval: int = 0,
                     precision: int = 8) -> bytes:
    """Grayscale JPEG encoder (T.81; Annex K tables): baseline sequential
    at precision 8, EXTENDED sequential (SOF1) at precision 12 (2048
    level shift, 16-category DC table). With restart_interval > 0, emits
    a DRI segment and RSTn markers every that many MCUs (DC predictor
    reset + byte realignment)."""
    import numpy as np

    return _jpeg_sequential([np.asarray(img, dtype="f8")], (1, 1),
                            precision, restart_interval)


def jpeg_color_encode(rgb) -> bytes:
    """Baseline 4:4:4 color JPEG encoder: JFIF RGB→YCbCr, three interleaved
    components sharing the K.1 quantization and K.3 luminance Huffman
    tables (selector 0 for all — legal and round-trip-simple)."""
    return _jpeg_sequential(_jpg_ycbcr(rgb), (1, 1))


def jpeg_420_encode(rgb) -> bytes:
    """Baseline 4:2:0 color JPEG encoder (the common camera/scanner shape):
    16×16 MCUs of 4 luma blocks + box-averaged Cb/Cr."""
    return _jpeg_sequential(_jpg_ycbcr(rgb), (2, 2))


def jpeg_411_encode(rgb) -> bytes:
    """Baseline 4:1:1 color JPEG encoder (Y h=4,v=1; Cb/Cr 1,1 — the DV/
    camera shape the reference's Go image/jpeg also decodes): 32×8 MCUs
    of 4 horizontal luma blocks + 4×1 box-averaged chroma."""
    return _jpeg_sequential(_jpg_ycbcr(rgb), (4, 1))


# lossless categories reach 16 (the special diff=32768 symbol carries no
# extra bits): 16 codes at length 5 + category 16 at length 6 (canonical)
_JPGL_DC_BITS = [0, 0, 0, 0, 16, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPGL_DC_VALS = list(range(17))


def jpeg_lossless_encode(img, precision: int = 8,
                         predictor: int = 1) -> bytes:
    """Lossless JPEG encoder (SOF3, T.81 Annex H; single component): each
    sample's difference from the selected predictor is coded as a Huffman
    category + magnitude bits in mod-2^16 arithmetic. Exact by
    construction — the decoder must reproduce the plane bit for bit."""
    rows = [[int(v) for v in r] for r in img]
    h, w = len(rows), len(rows[0])
    codes = _jpg_codes(_JPGL_DC_BITS, _JPGL_DC_VALS)
    bwr = _JpgBitWriter()
    default = 1 << (precision - 1)

    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = default
            elif y == 0:
                pred = rows[0][x - 1]
            elif x == 0:
                pred = rows[y - 1][0]
            else:
                ra, rb, rc = rows[y][x - 1], rows[y - 1][x], rows[y - 1][x - 1]
                pred = {
                    1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
                    5: ra + ((rb - rc) >> 1), 6: rb + ((ra - rc) >> 1),
                    7: (ra + rb) >> 1,
                }[predictor]
            d = (rows[y][x] - pred) & 0xFFFF
            if d == 32768:
                bwr.write(*codes[16])
                continue
            signed = d - 65536 if d > 32768 else d
            v, t = _mag(signed)
            bwr.write(*codes[t])
            if t:
                bwr.write(v & ((1 << t) - 1), t)
    body = bwr.flush()

    sof = _seg(0xC3, bytes([precision]) + h.to_bytes(2, "big")
              + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    dht = _seg(0xC4, bytes([0x00]) + bytes(_JPGL_DC_BITS)
              + bytes(_JPGL_DC_VALS))
    sos = _seg(0xDA, bytes([1, 1, 0x00, predictor, 0, 0x00]))
    return b"\xff\xd8" + sof + dht + sos + body + b"\xff\xd9"


def jpeg_progressive_encode(img) -> bytes:
    """Progressive grayscale JPEG encoder (T.81 §G, spectral selection +
    one level of successive approximation). Scan script: DC first (Al=1),
    AC 1-5 first (Al=1), AC 6-63 first (Al=1, EOB-run accumulated via a
    flat per-scan Huffman table with EOBn symbols), DC refine, AC refine
    1-63 (correction bits + EOB-run buffered bits). Used as the
    independent round-trip oracle for pdf/jpeg.py's progressive path."""
    import numpy as np

    img = np.asarray(img, dtype="f8")
    h, w = img.shape
    bh, bw = (h + 7) // 8, (w + 7) // 8
    padded = _jpg_pad(img, bh * 8, bw * 8)
    blocks = [_jpg_zz(padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], 128.0)
              for by in range(bh) for bx in range(bw)]

    def flat_table(symbols):
        """Canonical table giving every symbol the same code length L with
        2^L >= n+1 (reserves the all-ones code)."""
        syms = sorted(symbols)
        n = len(syms)
        L = 1
        while (1 << L) < n + 1:
            L += 1
        bits = [0] * 16
        bits[L - 1] = n
        return bits, syms

    def scan_events(ss, se, ah, al):
        """Emit one scan as [(('sym', s) | ('bits', v, n)), ...]."""
        ev = []
        sym = lambda s: ev.append(("sym", s))
        put = lambda v, n: ev.append(("bits", v & ((1 << n) - 1), n))
        if ss == 0 and ah == 0:  # DC first
            pred = 0
            for zz in blocks:
                diff = (zz[0] >> al) - pred
                pred = zz[0] >> al
                v, t = _mag(diff)
                sym(t)
                if t:
                    put(v, t)
        elif ss == 0:  # DC refinement: one raw bit per block
            for zz in blocks:
                put(zz[0] >> al, 1)
        elif ah == 0:  # AC first with EOB-run accumulation
            eobrun = 0

            def flush():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    sym(r << 4)
                    if r:
                        put(eobrun - (1 << r), r)
                    eobrun = 0

            for zz in blocks:
                vals = [(0 if zz[k] >= 0 else 1,
                         (abs(zz[k]) >> al)) for k in range(ss, se + 1)]
                last = max((i for i, (_, m) in enumerate(vals) if m),
                           default=-1)
                if last < 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush()
                    continue
                flush()
                run = 0
                for i in range(last + 1):
                    sign, m = vals[i]
                    if m == 0:
                        run += 1
                        continue
                    while run > 15:
                        sym(0xF0)
                        run -= 16
                    v, t = _mag(-m if sign else m)
                    sym((run << 4) | t)
                    put(v, t)
                    run = 0
                if last < se - ss:
                    eobrun = 1
            flush()
        else:  # AC refinement (G.1.2.3 dual of the decoder)
            eobrun = 0
            pend: list[int] = []

            def flush():
                nonlocal eobrun, pend
                if eobrun:
                    r = eobrun.bit_length() - 1
                    sym(r << 4)
                    if r:
                        put(eobrun - (1 << r), r)
                    for b in pend:
                        put(b, 1)
                    eobrun = 0
                    pend = []

            for zz in blocks:
                t_of = [abs(zz[k]) >> al for k in range(ss, se + 1)]
                if 1 not in t_of:
                    # no newly-significant coefficient: whole band rides the
                    # EOB run; its correction bits are buffered
                    eobrun += 1
                    pend.extend(t & 1 for t in t_of if t > 1)
                    if eobrun == 0x7FFF:
                        flush()
                    continue
                flush()
                k = 0  # index into the band
                nb = se - ss + 1
                while k < nb:
                    r = 0
                    j = k
                    nsig = None
                    while j < nb:
                        if t_of[j] == 1:
                            nsig = j
                            break
                        if t_of[j] == 0:
                            r += 1
                        j += 1
                    if nsig is None:
                        if k < nb:  # trailing zeros/corrections → EOB run
                            eobrun = 1
                            pend.extend(
                                t_of[jj] & 1 for jj in range(k, nb)
                                if t_of[jj] > 1)
                        break
                    while r > 15:
                        sym(0xF0)
                        z = 0
                        while z < 16:  # decoder passes 16 zero-history slots
                            if t_of[k] > 1:
                                put(t_of[k] & 1, 1)
                            else:
                                z += 1
                            k += 1
                        r -= 16
                    sym((r << 4) | 1)
                    put(0 if zz[ss + nsig] < 0 else 1, 1)
                    for jj in range(k, nsig):
                        if t_of[jj] > 1:
                            put(t_of[jj] & 1, 1)
                    k = nsig + 1
            flush()
        return ev

    out = b"\xff\xd8" + _seg(0xDB, bytes([0]) + bytes(_JPG_Q))
    out += _seg(0xC2, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
               + bytes([1, 1, 0x11, 0]))
    for ss, se, ah, al in ((0, 0, 0, 1), (1, 5, 0, 1), (6, 63, 0, 1),
                           (0, 0, 1, 0), (1, 63, 1, 0)):
        ev = scan_events(ss, se, ah, al)
        syms = sorted({e[1] for e in ev if e[0] == "sym"})
        bwr = _JpgBitWriter()
        if syms:
            bits, vals = flat_table(syms)
            codes = _jpg_codes(bits, vals)
            tc = 0 if ss == 0 else 1
            out += _seg(0xC4, bytes([(tc << 4) | 0]) + bytes(bits)
                       + bytes(vals))
        for e in ev:
            if e[0] == "sym":
                bwr.write(*codes[e[1]])
            else:
                bwr.write(e[1], e[2])
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += bwr.flush()
    return out + b"\xff\xd9"


# --- JBIG2 refinement + Huffman symbol dict encoders --------------------------
# Independent writer-side transcriptions (T.88 §6.3 / §6.5.9 / Annex B) used
# as round-trip fuzz oracles for pdf/jbig2.py's decoder additions.


class _JB2BitWriterMSB:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.n = 0

    def align(self) -> None:
        while self.n:
            self.write(0, 1)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


# Annex B standard tables: (lines, lower, upper, oob_len); line =
# (preflen, rangelen, rangelow). Writer's own copy (round-trip oracle).
_JB2_TBL = {
    "B1": ([(1, 4, 0), (2, 8, 16), (3, 16, 272)], None, (3, 65808), 0),
    "B2": ([(1, 0, 0), (2, 0, 1), (3, 0, 2), (4, 3, 3), (5, 6, 11)],
           None, (6, 75), 6),
    "B4": ([(1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 3, 4), (5, 6, 12)],
           None, (5, 76), 0),
    # text-region tables (writer's own transcription of Annex B)
    "B6": ([(5, 10, -2048), (4, 9, -1024), (4, 8, -512), (4, 7, -256),
            (5, 6, -128), (5, 5, -64), (4, 5, -32), (2, 7, 0),
            (3, 7, 128), (3, 8, 256), (4, 9, 512), (4, 10, 1024)],
           (6, -2049), (6, 2048), 0),
    "B8": ([(8, 3, -15), (9, 1, -7), (8, 1, -5), (9, 0, -3), (7, 0, -2),
            (4, 0, -1), (2, 1, 0), (5, 0, 2), (6, 0, 3), (3, 4, 4),
            (6, 1, 20), (4, 4, 22), (4, 5, 38), (5, 6, 70), (5, 7, 134),
            (6, 7, 262), (7, 8, 390), (6, 10, 646)],
           (9, -16), (9, 1670), 2),
    "B11": ([(1, 0, 1), (2, 1, 2), (4, 0, 4), (4, 1, 5), (5, 1, 7),
             (5, 2, 9), (6, 2, 13), (7, 2, 17), (7, 3, 21), (7, 4, 29),
             (7, 5, 45), (7, 6, 77)], None, (7, 141), 0),
    "B14": ([(3, 0, -2), (3, 0, -1), (1, 0, 0), (3, 0, 1), (3, 0, 2)],
            None, None, 0),
    "B15": ([(7, 4, -24), (6, 2, -8), (5, 1, -4), (4, 0, -2), (3, 0, -1),
             (1, 0, 0), (3, 0, 1), (4, 0, 2), (5, 1, 3), (6, 2, 5),
             (7, 4, 9)], (7, -25), (7, 25), 0),
}


def _jb2_huff_codes(name_or_spec):
    if isinstance(name_or_spec, str):
        lines, lower, upper, oob = _JB2_TBL[name_or_spec]
    else:
        lines, lower, upper, oob = name_or_spec
    entries = [(pl, "n", rl, lo) for pl, rl, lo in lines]
    if lower is not None:
        entries.append((lower[0], "l", 32, lower[1]))
    if upper is not None:
        entries.append((upper[0], "u", 32, upper[1]))
    if oob:
        entries.append((oob, "o", 0, 0))
    codes = []
    code = 0
    for length in range(1, 33):
        for e in entries:
            if e[0] == length:
                codes.append((e, code, length))
                code += 1
        code <<= 1
    return codes


def _jb2_huff_put(bw: _JB2BitWriterMSB, name, v) -> None:
    for (pl, kind, rl, lo), code, length in _jb2_huff_codes(name):
        if kind == "o" and v is None:
            bw.write(code, length)
            return
        if v is None:
            continue
        if kind == "n" and lo <= v < lo + (1 << rl):
            bw.write(code, length)
            bw.write(v - lo, rl)
            return
        if kind == "u" and v >= lo:
            bw.write(code, length)
            bw.write(v - lo, 32)
            return
        if kind == "l" and v <= lo:
            bw.write(code, length)
            bw.write(lo - v, 32)
            return
    raise ValueError(f"value {v} not encodable with table {name}")


# GR context pixels in MSB→LSB bit order, ("c"|"r", dx, dy) — the T.88
# figure 14/15 layout (refAbove | refSame | refBelow | codingAbove |
# codingLeft for template 0; nominal AT). SLTP pseudo-context =
# ref-same-centre bit only (§6.3.5.6: 0x0100 / 0x0080).
_JB2_REF_T0 = [("r", -1, -1), ("r", 0, -1), ("r", 1, -1),
               ("r", -1, 0), ("r", 0, 0), ("r", 1, 0),
               ("r", -1, 1), ("r", 0, 1), ("r", 1, 1),
               ("c", -1, -1), ("c", 0, -1), ("c", 1, -1), ("c", -1, 0)]
_JB2_REF_T1 = [("r", 0, -1), ("r", -1, 0), ("r", 0, 0), ("r", 1, 0),
               ("r", 0, 1), ("r", 1, 1),
               ("c", -1, -1), ("c", 0, -1), ("c", 1, -1), ("c", -1, 0)]
_JB2_REF_TPCTX = {0: 0x0100, 1: 0x0080}


def _jb2_refine_body(target, ref, w: int, h: int, template: int = 0,
                     tpgron: bool = False) -> bytes:
    """MQ-encode `target` as a refinement of `ref` (nominal AT, dx=dy=0,
    same dimensions) into a fresh encoder."""
    enc = _MQEncoder()
    _jb2_refine_into(enc, {}, target, ref, w, h, w, h, 0, 0, template,
                     tpgron)
    return enc.flush()


def _jb2_refine_into(enc: "_MQEncoder", contexts: dict, target, ref,
                     w: int, h: int, rw: int, rh: int, dx: int, dy: int,
                     template: int = 0, tpgron: bool = False) -> None:
    """Refinement encoding sharing an MQ encoder + GR context store (the
    SDREFAGG symbol-dictionary semantics: one coder for all symbols)."""
    pixels = _JB2_REF_T0 if template == 0 else _JB2_REF_T1

    def cpx(x, y):
        return 1 if 0 <= x < w and 0 <= y < h and target[y][x] else 0

    def rpx(x, y):
        return 1 if 0 <= x < rw and 0 <= y < rh and ref[y][x] else 0

    ltp = 0
    for y in range(h):
        if tpgron:
            # a row may be "typical" iff every uniform-reference pixel
            # already equals its uniform value in the target
            ok = True
            for x in range(w):
                s = sum(rpx(x - dx + i, y - dy + j)
                        for j in (-1, 0, 1) for i in (-1, 0, 1))
                if s == 0 and cpx(x, y) != 0:
                    ok = False
                    break
                if s == 9 and cpx(x, y) != 1:
                    ok = False
                    break
            want = 1 if ok else 0
            cx = contexts.setdefault(_JB2_REF_TPCTX[template], [0, 0])
            enc.encode(cx, want ^ ltp)
            ltp = want
        for x in range(w):
            if tpgron and ltp:
                s = sum(rpx(x - dx + i, y - dy + j)
                        for j in (-1, 0, 1) for i in (-1, 0, 1))
                if s == 0 or s == 9:
                    continue  # typical pixel: not coded
            ctx = 0
            for plane, ddx, ddy in pixels:
                if plane == "c":
                    ctx = (ctx << 1) | cpx(x + ddx, y + ddy)
                else:
                    ctx = (ctx << 1) | rpx(x + ddx - dx, y + ddy - dy)
            cx = contexts.setdefault(ctx, [0, 0])
            enc.encode(cx, cpx(x, y))


def jbig2_refinement_encode(base_rows, target_rows, cols: int,
                            template: int = 0, tpgron: bool = False
                            ) -> tuple[bytes, list]:
    """Embedded JBIG2: page info + generic region (base) + immediate
    refinement region (type 42) replacing it with `target_rows`."""
    h = len(base_rows)
    region_info = _jb2_region_info(cols, h)
    gen_data = (region_info + bytes([0x00]) + _JB2_AT0
                + _jb2_generic_body(base_rows, cols))
    rflags = (1 if template else 0) | (2 if tpgron else 0)
    rdata = (region_info + bytes([rflags])
             + (_JB2_GRAT0 if template == 0 else b"")
             + _jb2_refine_body(target_rows, base_rows, cols, h, template,
                                tpgron))
    stream = _jb2_stream(cols, h, (38, [], gen_data), (42, [], rdata))
    want = [[1 if v else 0 for v in r] for r in target_rows]
    return stream, want


def jbig2_huffman_text_encode(symbols, placements, cols: int, nrows: int,
                              mmr: bool = False,
                              custom_dw: bool = False) -> tuple[bytes, list]:
    """Embedded JBIG2 with a HUFFMAN symbol dictionary (SDHUFF=1, standard
    tables B.4/B.2/B.1, collective height-class bitmaps — uncompressed or
    MMR) + an arithmetic text region placing (sym_id, x, y) instances at
    their top-left. Returns (stream, composed page rows)."""
    dw_tbl = _JB2_CUSTOM_DW if custom_dw else "B2"
    order = sorted(range(len(symbols)),
                   key=lambda i: (len(symbols[i]), len(symbols[i][0])))
    bw = _JB2BitWriterMSB()
    hcheight = 0
    for hgt, cls in groupby(order, key=lambda k: len(symbols[k])):
        cls = list(cls)
        _jb2_huff_put(bw, "B4", hgt - hcheight)
        hcheight = hgt
        symwidth = 0
        for k in cls:
            wd = len(symbols[k][0])
            _jb2_huff_put(bw, dw_tbl, wd - symwidth)
            symwidth = wd
        _jb2_huff_put(bw, dw_tbl, None)  # OOB: end of height class
        # collective bitmap: class symbols concatenated left-to-right
        totwidth = sum(len(symbols[k][0]) for k in cls)
        coll = [[bool(v) for k in cls for v in symbols[k][yy]]
                for yy in range(hgt)]
        if mmr:
            body = ccitt_g4_encode(coll, totwidth)
            _jb2_huff_put(bw, "B1", len(body))
            bw.align()
            for byte in body:
                bw.write(byte, 8)
        else:
            _jb2_huff_put(bw, "B1", 0)
            bw.align()
            stride = (totwidth + 7) // 8
            for yy in range(hgt):
                packed = bytearray(stride)
                for xx in range(totwidth):
                    if coll[yy][xx]:
                        packed[xx >> 3] |= 0x80 >> (xx & 7)
                for byte in packed:
                    bw.write(byte, 8)
    _jb2_huff_put(bw, "B1", 0)             # export: skip 0
    _jb2_huff_put(bw, "B1", len(symbols))  # export all
    sd_flags = 0x0001 | (0x0030 if custom_dw else 0)  # SDHUFFDW sel 3
    sd_data = sd_flags.to_bytes(2, "big") \
        + len(symbols).to_bytes(4, "big") + len(symbols).to_bytes(4, "big") \
        + bw.flush()
    remap = {orig: k for k, orig in enumerate(order)}
    # arithmetic text region (TL corner, strips=1, untransposed, OR)
    tr_data = _jb2_text_region(
        [symbols[k] for k in order],
        [(remap[sym_id], x, y) for sym_id, x, y in placements], cols, nrows)
    # the custom DW table is segment 2, referred to by the dictionary
    table = [(53, [], _jb2_custom_dw_segment())] if custom_dw else []
    stream = _jb2_stream(cols, nrows, *table,
                         (0, [2] * len(table), sd_data),
                         (6, [2 + len(table)], tr_data))
    return stream, _jb2_compose(cols, nrows, [
        (symbols[sym_id], x, y) for sym_id, x, y in placements])


def jbig2_halftone_encode(gray, patterns, mmr: bool = False,
                          skip_cols: int = 0) -> tuple[bytes, list]:
    """Embedded JBIG2 with a PATTERN DICTIONARY (collective generic bitmap,
    §6.7) + HALFTONE REGION (§6.6: Gray-coded grayscale bitplanes, MSB
    first). `gray` is an HGH×HGW grid of pattern indices; `patterns` are
    square S×S bitmaps laid on a regular grid (HRX = S<<8, HRY = 0).
    ``mmr``: HMMR=1 — planes as consecutive T.6 bitmaps in ONE stream (no
    EOFB between planes, persistent coder). ``skip_cols``: ENABLESKIP=1
    with HGX = −skip_cols·S, pushing the first columns wholly off-region
    so their cells hit the §6.6.5.1 skip bitmap (encoder emits no
    decisions for them). Returns (stream, composed page rows)."""
    s = len(patterns[0])
    assert all(len(p) == s and len(p[0]) == s for p in patterns)
    hgh, hgw = len(gray), len(gray[0])
    graymax = len(patterns) - 1
    coll_w = (graymax + 1) * s
    coll = [[bool(patterns[i][y][x]) for i in range(graymax + 1)
             for x in range(s)] for y in range(s)]
    pd_body = _jb2_generic_body(coll, coll_w,
                                at=[(-s, 0), (-3, -1), (2, -2), (-2, -2)])
    pd_data = (bytes([0, s, s]) + graymax.to_bytes(4, "big") + pd_body)

    bpp = max(1, graymax.bit_length())
    hgx = -skip_cols * s
    rw, rh = (hgw - skip_cols) * s, hgh * s
    skipmap = None
    if skip_cols:
        skipmap = [[1 if (hgx + ng * s) + s <= 0 else 0
                    for ng in range(hgw)] for _ in range(hgh)]

    def plane_bits(j):
        return [[bool(((gray[y][x] >> j) & 1)
                      ^ ((gray[y][x] >> (j + 1)) & 1))
                 for x in range(hgw)] for y in range(hgh)]

    if mmr:
        w = _BitWriter()
        for j in range(bpp - 1, -1, -1):  # MSB plane first; Gray code
            _ccitt_g4_into(w, plane_bits(j), hgw)
        body = w.bytes()
    else:
        enc = _MQEncoder()
        ctx: dict[int, list] = {}
        for j in range(bpp - 1, -1, -1):
            _jb2_generic_into(enc, ctx, plane_bits(j), hgw,
                              skip=skipmap)
        body = enc.flush()
    ht_flags = (1 if mmr else 0) | ((1 if skip_cols else 0) << 3)
    ht_data = (_jb2_region_info(rw, rh) + bytes([ht_flags])
               + hgw.to_bytes(4, "big") + hgh.to_bytes(4, "big")
               + ((hgx << 8) & 0xFFFFFFFF).to_bytes(4, "big")  # 1/256 fp
               + (0).to_bytes(4, "big")
               + (s << 8).to_bytes(2, "big") + (0).to_bytes(2, "big")
               + body)
    stream = _jb2_stream(rw, rh, (16, [], pd_data), (22, [2], ht_data))
    # a cell wholly off-region (skip bitmap) decodes as gray 0: not drawn
    return stream, _jb2_compose(rw, rh, [
        (patterns[gray[mg][ng]], hgx + ng * s, mg * s)
        for mg in range(hgh) for ng in range(hgw)
        if skipmap is None or not skipmap[mg][ng]])


def _jb2_agg_strips(insts):
    """An aggregate's instances (base id, x, y, refined bitmap) as
    TL/strip-1 text-region strips: [(T = y, [(x, base id, bitmap)] by x)]."""
    by_t: dict = {}
    for bid, ax, ay, bmp in insts:
        by_t.setdefault(ay, []).append((ax, bid, bmp))
    return [(t, sorted(by_t[t], key=lambda z: z[0])) for t in sorted(by_t)]


def _jb2_refagg(refine_dict, base_symbols, variants, placements,
                cols: int, nrows: int, aggregates) -> tuple[bytes, list]:
    """The SDREFAGG=1 stream both refagg encoders share: the base
    arithmetic dictionary (segment 2), ``refine_dict``'s refinement
    dictionary of the new symbols importing it (segment 3), and an
    arithmetic text region over the combined exports (segment 4). New
    symbols are the variants, then the aggregates' composed canvases;
    both dictionaries code their symbols sorted by (height, width)."""
    aggregates = aggregates or []

    def by_size(bmps):
        return sorted(range(len(bmps)),
                      key=lambda k: (len(bmps[k]), len(bmps[k][0])))

    new = [bmp for _, bmp in variants] + [
        _jb2_compose(cw, ch, [(bmp, ax, ay) for _, ax, ay, bmp in insts])
        for cw, ch, insts in aggregates]
    base_order, new_order = by_size(base_symbols), by_size(new)
    base_remap = {orig: k for k, orig in enumerate(base_order)}
    sd2 = refine_dict(base_symbols, base_remap, variants, aggregates, new,
                      new_order)
    # export order: base (base_order) then new entries (new_order)
    all_syms = list(base_symbols) + new
    export = base_order + [len(base_symbols) + k for k in new_order]
    remap = {orig: k for k, orig in enumerate(export)}
    tr_data = _jb2_text_region(
        [all_syms[k] for k in export],
        [(remap[sym_id], x, y) for sym_id, x, y in placements], cols, nrows)
    stream = _jb2_stream(
        cols, nrows, (0, [], _jb2_symbol_dict(base_symbols, base_order)),
        (0, [2], sd2), (6, [3], tr_data))
    return stream, _jb2_compose(cols, nrows, [
        (all_syms[sym_id], x, y) for sym_id, x, y in placements])


def _jb2_refagg_dict_arith(base_symbols, base_remap, variants, aggregates,
                           new, new_order) -> bytes:
    """Arithmetic SDREFAGG=1 dictionary data: each variant is IAAI(1) +
    IAID(base) + IARDX/IARDY(0) + GRR refinement of that base (§6.5.8.2),
    each aggregate a nested TL/strip-1 text region of refined base
    instances (§6.5.8.2.1); one MQ coder, one GR context store."""
    n_total = len(base_symbols) + len(new)
    symcodelen = max(1, (n_total - 1).bit_length())
    enc = _MQEncoder()
    gr_ctx: dict = {}
    iadh, iadw, iaex = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    iaai, iardx, iardy = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    # nested aggregate text regions get their OWN integer stats (only the
    # GR store + IAID tree are shared with the dictionary — §6.5.8.2.1 as
    # implemented by the reference's decodeThroughTextRegion/setContexts)
    iadt2, iafs2, iads2 = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    iari2, iardw2, iardh2 = _jb2_int_ctx(), _jb2_int_ctx(), _jb2_int_ctx()
    iardx2, iardy2 = _jb2_int_ctx(), _jb2_int_ctx()
    iaid_cx = [[0, 0] for _ in range(1 << (symcodelen + 1))]
    hcheight = 0
    for hgt, cls in groupby(new_order, key=lambda k: len(new[k])):
        _jb2_enc_int(enc, iadh, hgt - hcheight)
        hcheight = hgt
        symwidth = 0
        for k in cls:
            wd = len(new[k][0])
            _jb2_enc_int(enc, iadw, wd - symwidth)
            symwidth = wd
            if k < len(variants):
                base_id, bmp = variants[k]
                _jb2_enc_int(enc, iaai, 1)  # REFAGGNINST = 1
                # index into SDINSYMS
                _jb2_enc_iaid(enc, iaid_cx, symcodelen, base_remap[base_id])
                _jb2_enc_int(enc, iardx, 0)
                _jb2_enc_int(enc, iardy, 0)
                ref = base_symbols[base_id]
                _jb2_refine_into(enc, gr_ctx, bmp, ref, wd, hgt,
                                 len(ref[0]), len(ref), 0, 0, template=0)
                continue
            # aggregate: nested TL/strip-1/refined text region over the
            # pool, shared contexts (§6.5.8.2.1)
            insts = aggregates[k - len(variants)][2]
            _jb2_enc_int(enc, iaai, len(insts))
            _jb2_enc_int(enc, iadt2, 0)  # STRIPT init
            stript = 0
            firsts = 0
            n_i = 0
            for t, row in _jb2_agg_strips(insts):
                _jb2_enc_int(enc, iadt2, t - stript)
                stript = t
                first = True
                curs = 0
                for ax, bid, bmp in row:
                    if first:
                        _jb2_enc_int(enc, iafs2, ax - firsts)
                        firsts = ax
                        first = False
                    else:
                        _jb2_enc_int(enc, iads2, ax - curs)
                    curs = ax
                    _jb2_enc_iaid(enc, iaid_cx, symcodelen, base_remap[bid])
                    _jb2_enc_int(enc, iari2, 1)
                    ref = base_symbols[bid]
                    sw0, sh0 = len(ref[0]), len(ref)
                    wi, hi = len(bmp[0]), len(bmp)
                    _jb2_enc_int(enc, iardw2, wi - sw0)
                    _jb2_enc_int(enc, iardh2, hi - sh0)
                    _jb2_enc_int(enc, iardx2, 0)
                    _jb2_enc_int(enc, iardy2, 0)
                    _jb2_refine_into(enc, gr_ctx, bmp, ref, wi, hi, sw0, sh0,
                                     (wi - sw0) >> 1, (hi - sh0) >> 1,
                                     template=0)
                    curs += wi - 1
                    n_i += 1
                if n_i < len(insts):
                    _jb2_enc_int(enc, iads2, None)
        _jb2_enc_int(enc, iadw, None)
    _jb2_enc_int(enc, iaex, 0)
    _jb2_enc_int(enc, iaex, n_total)  # export inputs + new
    return ((0x0002).to_bytes(2, "big") + _JB2_AT0 + _JB2_GRAT0
            + n_total.to_bytes(4, "big") + len(new).to_bytes(4, "big")
            + enc.flush())


def _jb2_refagg_dict_huffman(base_symbols, base_remap, variants, aggregates,
                             new, new_order) -> bytes:
    """Huffman SDREFAGG=1 dictionary data (DH B.4, DW B.2, REFAGGNINST
    B.1): each variant is a raw ID + B.15 RDX/RDY + B.1 BMSIZE + a
    byte-aligned arithmetic GRR chunk; each aggregate a nested Huffman
    text region (B.6/B.8/B.11/B.14, raw-bit IDs) of such chunks."""
    n_total = len(base_symbols) + len(new)
    symcodelen = max(1, (n_total - 1).bit_length())
    bw = _JB2BitWriterMSB()
    gr_ctx: dict = {}

    def chunk_out(bmp, ref, wi, hi, sw0, sh0, dx, dy):
        genc = _MQEncoder()
        _jb2_refine_into(genc, gr_ctx, bmp, ref, wi, hi, sw0, sh0,
                         dx, dy, template=0)
        chunk = genc.flush()
        _jb2_huff_put(bw, "B1", len(chunk))  # BMSIZE
        bw.align()
        bw.out.extend(chunk)

    hcheight = 0
    for hgt, cls in groupby(new_order, key=lambda k: len(new[k])):
        _jb2_huff_put(bw, "B4", hgt - hcheight)  # DH (B.4: ≥ 1)
        hcheight = hgt
        symwidth = 0
        for k in cls:
            wd = len(new[k][0])
            _jb2_huff_put(bw, "B2", wd - symwidth)  # DW (B.2: ≥ 0)
            symwidth = wd
            if k < len(variants):
                base_id, bmp = variants[k]
                _jb2_huff_put(bw, "B1", 1)  # REFAGGNINST
                bw.write(base_remap[base_id], symcodelen)  # raw ID
                _jb2_huff_put(bw, "B15", 0)  # RDX
                _jb2_huff_put(bw, "B15", 0)  # RDY
                ref = base_symbols[base_id]
                # SD refined symbols: GRREFERENCEDX = RDX directly
                chunk_out(bmp, ref, wd, hgt, len(ref[0]), len(ref), 0, 0)
                continue
            insts = aggregates[k - len(variants)][2]
            _jb2_huff_put(bw, "B1", len(insts))  # REFAGGNINST > 1
            _jb2_huff_put(bw, "B11", 1)  # STRIPT init → −1
            stript = -1
            firsts = 0
            n_i = 0
            for t, row in _jb2_agg_strips(insts):
                _jb2_huff_put(bw, "B11", t - stript)  # DT ≥ 1
                stript = t
                first = True
                curs = 0
                for ax, bid, bmp in row:
                    if first:
                        _jb2_huff_put(bw, "B6", ax - firsts)
                        firsts = ax
                        first = False
                    else:
                        _jb2_huff_put(bw, "B8", ax - curs)
                    curs = ax
                    bw.write(base_remap[bid], symcodelen)  # raw ID
                    bw.write(1, 1)  # RI
                    ref = base_symbols[bid]
                    sw0, sh0 = len(ref[0]), len(ref)
                    wi, hi = len(bmp[0]), len(bmp)
                    _jb2_huff_put(bw, "B14", wi - sw0)  # RDW
                    _jb2_huff_put(bw, "B14", hi - sh0)  # RDH
                    _jb2_huff_put(bw, "B14", 0)  # RDX
                    _jb2_huff_put(bw, "B14", 0)  # RDY
                    # §6.4.11 instances add floor(RDW/2)/floor(RDH/2)
                    chunk_out(bmp, ref, wi, hi, sw0, sh0,
                              (wi - sw0) >> 1, (hi - sh0) >> 1)
                    curs += wi - 1
                    n_i += 1
                if n_i < len(insts):
                    _jb2_huff_put(bw, "B8", None)  # end of strip
        _jb2_huff_put(bw, "B2", None)  # OOB: end of height class
    _jb2_huff_put(bw, "B1", 0)          # export skip-run
    _jb2_huff_put(bw, "B1", n_total)    # export inputs + new
    # flags: SDHUFF=1, SDREFAGG=1, DH=B.4(0), DW=B.2(0), BM=B.1(0),
    # AGG=B.1(0), SDRTEMPLATE=0
    return ((0x0003).to_bytes(2, "big") + _JB2_GRAT0
            + n_total.to_bytes(4, "big") + len(new).to_bytes(4, "big")
            + bw.flush())


def jbig2_refagg_text_encode(base_symbols, variants, placements,
                             cols: int, nrows: int,
                             aggregates=None) -> tuple[bytes, list]:
    """Embedded JBIG2 exercising SDREFAGG=1: a base arithmetic symbol
    dictionary, then a REFINEMENT-coded dictionary (each new symbol =
    IAAI(1) + IAID(base) + IARDX/IARDY(0) + GRR refinement of that base,
    one shared MQ coder, §6.5.8.2) importing the base via the referred-to
    list, then an arithmetic text region over the combined exports.
    `variants` = [(base_id, bitmap_same_dims)];
    `aggregates` = [(canvas_w, canvas_h, [(base_id, x, y, refined_bmp)])]
    — REFAGGNINST>1 symbols coded as nested TL/strip-1 text regions of
    refined base-symbol instances (§6.5.8.2.1), sharing the dictionary's
    contexts. Placements index base symbols, then variants, then
    aggregates (caller order), always top-left.
    Returns (stream, composed page rows)."""
    return _jb2_refagg(_jb2_refagg_dict_arith, base_symbols, variants,
                       placements, cols, nrows, aggregates)


def jbig2_huffman_refagg_encode(base_symbols, variants, placements,
                                cols: int, nrows: int,
                                aggregates=None) -> tuple[bytes, list]:
    """Embedded JBIG2 exercising SDHUFF=1 + SDREFAGG=1: an arithmetic
    base dictionary, then a HUFFMAN refinement dictionary (DH via B.4,
    DW via B.2, REFAGGNINST via B.1; =1 symbols = raw symcodelen-bit ID +
    RDX/RDY via B.15 + BMSIZE via B.1 + byte-aligned arithmetic GRR
    chunk; >1 = nested Huffman text region with B.6/B.8/B.11/B.14/B.1
    tables and raw-bit IDs), then an arithmetic text region over the
    combined exports. `variants` = [(base_id, bitmap)] (any dims);
    `aggregates` = [(canvas_w, canvas_h, [(base_id, x, y, refined_bmp)])]
    with |bmp dims − base dims| ≤ 2 (B.14 range). Returns
    (stream, composed page rows)."""
    return _jb2_refagg(_jb2_refagg_dict_huffman, base_symbols, variants,
                       placements, cols, nrows, aggregates)


# a custom DW table spec (structure exercises type-53 table segments):
# lines cover [0, 84) with varied range widths, 32-bit upper, OOB
_JB2_CUSTOM_DW = (
    [(2, 2, 0), (3, 4, 4), (2, 6, 20)],  # (preflen, rangelen, rangelow)
    (4, -1),    # lower range (< 0)
    (3, 84),    # upper range
    3,          # OOB preflen
)


def _jb2_custom_dw_segment() -> bytes:
    """Type-53 table definition encoding _JB2_CUSTOM_DW (§7.4.13/B.2):
    flags (HTOOB=1, HTPS=4, HTRS=3), HTLOW=0, HTHIGH=84, then the
    (PREFLEN, RANGELEN) line stream + lower/upper/OOB prefix lengths."""
    htps, htrs = 4, 3
    flags = 1 | ((htps - 1) << 1) | ((htrs - 1) << 4)
    bw = _JB2BitWriterMSB()
    for pl, rl, _lo in _JB2_CUSTOM_DW[0]:
        bw.write(pl, htps)
        bw.write(rl, htrs)
    bw.write(_JB2_CUSTOM_DW[1][0], htps)  # lower preflen
    bw.write(_JB2_CUSTOM_DW[2][0], htps)  # upper preflen
    bw.write(_JB2_CUSTOM_DW[3], htps)     # OOB preflen
    return (bytes([flags]) + (0).to_bytes(4, "big", signed=True)
            + (84).to_bytes(4, "big", signed=True) + bw.flush())
