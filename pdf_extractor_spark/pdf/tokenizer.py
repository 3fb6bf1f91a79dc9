"""Pure-Python PDF content-stream tokenizer (stdlib only).

Turns raw PDF bytes into an ordered list of spans
``(kind, text, media_ref, x0, y0, x1, y1, size)`` for **page 0 only** —
mirroring the reference's parse stage (`/root/reference/extractor.py:93-144`,
which uses PyMuPDF ``page.get_text``; PyMuPDF is not available at cluster
scale, so this is a from-scratch reimplementation of the subset of the PDF
imaging model the corpus needs).

Supported (validated against all six reference fixtures plus synthetic
corpora): Flate/LZW/ASCIIHex/ASCII85/RunLength streams incl. TIFF+PNG ``/Predictor``
post-filters, literal strings with octal/char escapes, hex strings with a
multi-byte-CID guard (UTF-16BE BOM honored; /ToUnicode bfchar/bfrange
CMaps decode 2-byte CID runs, unmapped glyph-index runs are suppressed
rather than mojibake'd), WinAnsi/Latin-1 text, ``BT/ET``, ``Tf``,
``Tm/Td/TD/T*/TL``, ``Tc/Tw/Tz`` spacing in width estimates, ``Tj/TJ/'/"``,
graphics-state stack ``q/Q/cm``, ``/Name Do`` for image XObjects, page
``/Rotate``, and all three ``/Contents`` forms (single ref, inline array,
ref-to-array-object). Unsupported constructs degrade gracefully (span list
may be partial; never raises).

This module is deliberately free of any Spark import so it can run inside
the Arrow ``pandas_udf`` kernel (see :mod:`pdf_extractor_spark.tokenize_dispatch`)
and in plain unit tests.
"""

from __future__ import annotations

import re
import zlib
from typing import Any, Dict, List, Optional, Tuple

__all__ = ["tokenize_pdf", "PdfSpan"]

# --- Helvetica metrics (public Adobe AFM data, units/1000) ----------------
# Used to estimate text-run bounding boxes; the reference gets exact rects
# from PyMuPDF. Only relative accuracy matters (anchor windows have ±2..300pt
# tolerances, extractor.py:215-268).
_HELV_WIDTHS = {
    " ": 278, "!": 278, '"': 355, "#": 556, "$": 556, "%": 889, "&": 667,
    "'": 191, "(": 333, ")": 333, "*": 389, "+": 584, ",": 278, "-": 333,
    ".": 278, "/": 278, "0": 556, "1": 556, "2": 556, "3": 556, "4": 556,
    "5": 556, "6": 556, "7": 556, "8": 556, "9": 556, ":": 278, ";": 278,
    "<": 584, "=": 584, ">": 584, "?": 556, "@": 1015, "A": 667, "B": 667,
    "C": 722, "D": 722, "E": 667, "F": 611, "G": 778, "H": 722, "I": 278,
    "J": 500, "K": 667, "L": 556, "M": 833, "N": 722, "O": 778, "P": 667,
    "Q": 778, "R": 722, "S": 667, "T": 611, "U": 722, "V": 667, "W": 944,
    "X": 667, "Y": 667, "Z": 611, "[": 278, "\\": 278, "]": 278, "^": 469,
    "_": 556, "`": 333, "a": 556, "b": 556, "c": 500, "d": 556, "e": 556,
    "f": 278, "g": 556, "h": 556, "i": 222, "j": 222, "k": 500, "l": 222,
    "m": 833, "n": 556, "o": 556, "p": 556, "q": 556, "r": 333, "s": 500,
    "t": 278, "u": 556, "v": 500, "w": 722, "x": 500, "y": 500, "z": 500,
    "{": 334, "|": 260, "}": 334, "~": 584,
}
_DEFAULT_WIDTH = 556
ASCENDER = 0.8  # em above baseline (base-14 Helvetica)
DESCENDER = 0.2  # em below baseline


# codepoint-indexed width table: sum(map(list.__getitem__, bytes)) runs the
# per-char loop in C — the dict-per-char version was ~15% of the whole kernel
_W_TABLE = [_DEFAULT_WIDTH] * 256
for _ch, _w in _HELV_WIDTHS.items():
    _W_TABLE[ord(_ch)] = _w


def _text_width(text: str, size: float) -> float:
    # str.isascii() is O(1) (CPython stores the flag) and ascii encode is a
    # memcpy, vs the cp1252 charmap codec's per-char C loop (~8x slower per
    # call, profiled); ASCII bytes index _W_TABLE identically either way
    if text.isascii():
        b = text.encode("ascii")
    else:
        b = text.encode("cp1252", "replace")
    return sum(map(_W_TABLE.__getitem__, b)) * size / 1000.0


PdfSpan = Dict[str, Any]  # kind, text, media_ref, x0, y0, x1, y1, size


# --- low-level object scan -------------------------------------------------

# header scan anchored on the literal ``obj`` with a bounded backwards match
# for the two numbers: ``(\d+)\s+(\d+)\s+obj`` applied forward attempts a
# match at EVERY digit byte, and compressed stream payloads are ~10% digit
# bytes — on megabyte PDFs the forward scan was ~29% of the whole tokenize
# kernel (24x slower than this anchored form for identical matches)
_OBJ_ANCHOR_RE = re.compile(rb"obj\b")
_STREAM_RE = re.compile(rb"stream\r?\n")
# the 6 bytes regex \s matches in bytes mode: [ \t\n\r\f\v]
_WS_BYTES = frozenset(b" \t\n\r\x0c\x0b")


def _iter_obj_headers(data: bytes):
    """Yield (obj_num, end_of_header) for each ``N G obj`` in data order.

    Matches are identical to the forward regex ``(\\d+)\\s+(\\d+)\\s+obj\\b``
    (property-tested in test_tokenizer_construct), but anchored on the rare
    literal ``obj`` with an exact byte-wise backward scan over the two
    number/whitespace runs. A fixed backward WINDOW is wrong here: a header
    whose number+whitespace prefix exceeds the window (``7 <31 nines> obj``,
    ``12 0<30 spaces>obj``) silently dropped the object even though the
    forward regex accepts it — the runs must be walked to their real start.
    Cost per anchor is the header length; anchors inside compressed payloads
    almost always fail on the first byte (not ws/digit before 'obj')."""
    ws = _WS_BYTES
    for m in _OBJ_ANCHOR_RE.finditer(data):
        s = m.start()
        # \s+ before 'obj'
        j = s - 1
        while j >= 0 and data[j] in ws:
            j -= 1
        if j == s - 1:
            continue  # no whitespace run
        # generation number digits
        g2_end = j + 1
        while j >= 0 and 48 <= data[j] <= 57:
            j -= 1
        if j + 1 == g2_end:
            continue  # no digits
        # \s+ between the numbers
        g1_hi = j
        while j >= 0 and data[j] in ws:
            j -= 1
        if j == g1_hi:
            continue
        # object number digits
        g1_end = j + 1
        while j >= 0 and 48 <= data[j] <= 57:
            j -= 1
        if j + 1 == g1_end:
            continue
        yield int(data[j + 1 : g1_end]), m.end()


def _scan_objects(data: bytes) -> Dict[int, Tuple[bytes, Optional[bytes]]]:
    """Scan ``N G obj ... endobj`` bodies → {num: (dict_bytes, stream_bytes)}.

    Robust to missing/compressed xref tables (we never read the xref).
    Object streams (``/Type/ObjStm``) ARE expanded: their contained objects
    (modern PDFs keep the page/catalog dicts there) are parsed out of the
    decoded stream and added to the map; contained objects never have
    streams of their own (PDF 32000-1 §7.5.7), so expansion is one level.
    """
    objects: Dict[int, Tuple[bytes, Optional[bytes]]] = {}
    for num, start in _iter_obj_headers(data):
        endobj = data.find(b"endobj", start)
        if endobj < 0:
            endobj = len(data)
        body = data[start:endobj]
        sm = _STREAM_RE.search(body)
        if sm:
            dict_bytes = body[: sm.start()]
            sstart = sm.end()
            send = body.find(b"endstream", sstart)
            if send < 0:
                send = len(body)
            stream = body[sstart:send]
            # strip the optional trailing EOL before 'endstream'
            if stream.endswith(b"\r\n"):
                stream = stream[:-2]
            elif stream.endswith(b"\n") or stream.endswith(b"\r"):
                stream = stream[:-1]
            objects[num] = (dict_bytes, stream)
        else:
            objects[num] = (body, None)
    for num, (d, s) in list(objects.items()):
        if s is not None and b"/ObjStm" in d:
            _expand_objstm(d, s, objects)
    return objects


_INT_RE = re.compile(rb"\d+")


def _expand_objstm(
    dict_bytes: bytes, stream: bytes, objects: Dict[int, Tuple[bytes, Optional[bytes]]]
) -> None:
    """Parse a /Type/ObjStm stream: header of N (objnum, offset) pairs, then
    object bodies at /First + offset. Existing top-level objects win."""
    decoded = _decode_stream(dict_bytes, stream)
    if not decoded:
        return
    n_raw = _dict_value(dict_bytes, b"N")
    first_raw = _dict_value(dict_bytes, b"First")
    if n_raw is None or first_raw is None:
        return
    try:
        n = int(_INT_RE.match(n_raw.lstrip()).group(0))
        first = int(_INT_RE.match(first_raw.lstrip()).group(0))
    except (AttributeError, ValueError):
        return
    header = _INT_RE.findall(decoded[:first])
    if len(header) < 2 * n:
        return
    pairs = [
        (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
    ]
    for i, (objnum, off) in enumerate(pairs):
        start = first + off
        end = first + pairs[i + 1][1] if i + 1 < n else len(decoded)
        if objnum not in objects and 0 <= start <= end <= len(decoded):
            objects[objnum] = (decoded[start:end], None)


_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")


def _dict_value(dict_bytes: bytes, key: bytes) -> Optional[bytes]:
    """Extract the raw value following ``/key`` in a (flat) dict body."""
    idx = dict_bytes.find(b"/" + key)
    if idx < 0:
        return None
    rest = dict_bytes[idx + len(key) + 1 :]
    return rest


def _resolve_ref(raw: bytes) -> Optional[int]:
    m = _REF_RE.match(raw.lstrip())
    return int(m.group(1)) if m else None


def _apply_predictor(
    data: bytes, predictor: int, columns: int, colors: int, bpc: int
) -> Optional[bytes]:
    """Undo the /Predictor post-filter (PDF 32000-1 §7.4.4.4).

    PNG predictors (≥10): each row is 1 filter-tag byte + row data; tags
    0-4 = None/Sub/Up/Average/Paeth, applied bytewise with pixel stride.
    TIFF predictor 2 (8-bit only): horizontal differencing."""
    if predictor <= 1:
        return data
    stride = max((colors * bpc) // 8, 1)
    rowlen = (columns * colors * bpc + 7) // 8
    if predictor == 2:
        if bpc != 8:
            return None
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r + stride, r + rowlen):
                out[i] = (out[i] + out[i - stride]) & 0xFF
        return bytes(out)
    # PNG family
    out = bytearray()
    prev_row = bytearray(rowlen)
    i, n = 0, len(data)
    while i < n:
        tag = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        if len(row) < rowlen:
            row.extend(b"\x00" * (rowlen - len(row)))
        i += 1 + rowlen
        if tag == 1:  # Sub
            for j in range(stride, rowlen):
                row[j] = (row[j] + row[j - stride]) & 0xFF
        elif tag == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev_row[j]) & 0xFF
        elif tag == 3:  # Average
            for j in range(rowlen):
                left = row[j - stride] if j >= stride else 0
                row[j] = (row[j] + ((left + prev_row[j]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - stride] if j >= stride else 0
                b = prev_row[j]
                c = prev_row[j - stride] if j >= stride else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        elif tag != 0:
            return None
        out += row
        prev_row = row
    return bytes(out)


_PARM_RE = {
    key: re.compile(rb"/" + key + rb"\s+(\d+)")
    for key in (b"Predictor", b"Columns", b"Colors", b"BitsPerComponent")
}


def _predictor_parms(dict_bytes: bytes) -> Tuple[int, int, int, int]:
    """(predictor, columns, colors, bpc) from /DecodeParms, with defaults."""

    def get(key: bytes, default: int) -> int:
        m = _PARM_RE[key].search(dict_bytes)
        return int(m.group(1)) if m else default

    return (
        get(b"Predictor", 1), get(b"Columns", 1),
        get(b"Colors", 1), get(b"BitsPerComponent", 8),
    )


def _lzw_decode(data: bytes) -> Optional[bytes]:
    """PDF LZWDecode (EarlyChange=1, 9→12-bit variable codes; 256=clear,
    257=EOD). Predictors are handled by the caller (_decode_stream)."""
    out = bytearray()
    base = {i: bytes([i]) for i in range(256)}
    table = dict(base)
    next_code, width = 258, 9
    prev: Optional[bytes] = None
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = dict(base)
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                return None
            out += entry
            prev = entry
            if next_code + 1 >= (1 << width) and width < 12:  # EarlyChange=1
                width += 1
    return bytes(out)


def _post_predict(dict_bytes: bytes, decoded: Optional[bytes]) -> Optional[bytes]:
    if decoded is None or b"/Predictor" not in dict_bytes:
        return decoded
    pred, cols, colors, bpc = _predictor_parms(dict_bytes)
    return _apply_predictor(decoded, pred, cols, colors, bpc)


def _flate_decode(data: bytes) -> Optional[bytes]:
    try:
        return zlib.decompress(data)
    except zlib.error:
        try:  # tolerate truncated trailing checksum
            return zlib.decompressobj().decompress(data)
        except zlib.error:
            return None


def _asciihex_decode(data: bytes) -> Optional[bytes]:
    body = data.split(b">")[0]
    hexdigits = re.sub(rb"\s", b"", body)
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        return bytes.fromhex(hexdigits.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return None


def _ascii85_decode(data: bytes) -> Optional[bytes]:
    """PDF ASCII85Decode (PDF 32000-1 §7.4.3): base-85 groups of 5 chars
    ('!'..'u') → 4 bytes, 'z' shorthand for four zero bytes between groups,
    '~>' terminator, partial final group of k chars → k-1 bytes."""
    body = re.sub(rb"\s", b"", data.split(b"~>")[0])
    if body.startswith(b"<~"):
        body = body[2:]
    out = bytearray()
    group: List[int] = []
    for ch in body:
        if ch == 0x7A:  # 'z'
            if group:
                return None  # 'z' inside a group is malformed
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= ch <= 0x75:
            return None
        group.append(ch - 33)
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
            return None  # a single trailing char encodes nothing
        k = len(group)
        group += [84] * (5 - k)  # pad with 'u'
        n = 0
        for d in group:
            n = n * 85 + d
        out += min(n, 0xFFFFFFFF).to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> Optional[bytes]:
    """PDF RunLengthDecode (PDF 32000-1 §7.4.5): length byte L then either
    L+1 literal bytes (L ≤ 127) or one byte repeated 257−L times (L ≥ 129);
    128 is EOD. Truncated runs → malformed (None)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            j = i + length + 1
            if j > n:
                return None
            out += data[i:j]
            i = j
        else:
            if i >= n:
                return None
            out += data[i : i + 1] * (257 - length)
            i += 1
    return bytes(out)  # EOD marker absent: tolerate EOF-terminated data


_FILTER_VALUE_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")

_FILTER_FNS = {
    b"FlateDecode": _flate_decode, b"Fl": _flate_decode,
    b"LZWDecode": _lzw_decode, b"LZW": _lzw_decode,
    b"ASCIIHexDecode": _asciihex_decode, b"AHx": _asciihex_decode,
    b"ASCII85Decode": _ascii85_decode, b"A85": _ascii85_decode,
    b"RunLengthDecode": _runlength_decode, b"RL": _runlength_decode,
}


def _decode_stream(dict_bytes: bytes, stream: bytes) -> Optional[bytes]:
    """Apply the stream's /Filter pipeline IN ORDER (PDF 32000-1 §7.4):
    Flate, LZW, ASCIIHex, ASCII85 and RunLength (plus abbreviations), including
    chains like [/ASCII85Decode /FlateDecode] — the common
    transport-encoding + compression pairing. /Predictor post-processing
    applies after the decompression filter, i.e. at the end of the chain.
    Unsupported filters (DCTDecode etc.) → graceful skip (None)."""
    m = _FILTER_VALUE_RE.search(dict_bytes)
    if m is None:
        return stream if b"/Filter" not in dict_bytes else None
    data: Optional[bytes] = stream
    names = _FILTER_NAME_RE.findall(m.group(1))
    for nm in names:
        if data is None:
            return None
        fn = _FILTER_FNS.get(nm)
        if fn is None:
            return None  # unsupported filter → graceful skip
        data = fn(data)
    if any(nm in (b"FlateDecode", b"Fl", b"LZWDecode", b"LZW") for nm in names):
        return _post_predict(dict_bytes, data)
    return data


# --- string decoding -------------------------------------------------------

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\x08", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_pdf_string(raw: bytes) -> bytes:
    """Resolve PDF literal-string escapes (octal, named, continuations)."""
    if b"\\" not in raw:  # fast path: the vast majority of strings
        return raw
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal, up to 3 digits
                j = i + 1
                digits = b""
                while j < n and len(digits) < 3 and raw[j : j + 1].isdigit():
                    digits += raw[j : j + 1]
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
                continue
            if nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and raw[i : i + 1] == b"\n":
                    i += 1
                continue
            out += nxt
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _bytes_to_text(b: bytes, enc_map: Optional[Dict[int, str]] = None) -> str:
    """Byte codes → text: font /Differences remaps where given, WinAnsi
    (cp1252, latin-1 fallback) otherwise."""
    if enc_map:
        return "".join(
            enc_map.get(code) or bytes([code]).decode("cp1252", "replace")
            for code in b
        )
    if b.isascii():
        # cp1252 == ASCII below 0x80, and latin-1 decode is a C memcpy while
        # cp1252 walks the charmap codec (~6x slower per call, hot-path
        # profiled); real-corpus strings are overwhelmingly ASCII
        return b.decode("latin-1")
    try:
        return b.decode("cp1252")  # WinAnsiEncoding
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _decode_pdf_string(raw: bytes, enc_map=None) -> str:
    """Decode a literal PDF string body (inside parens): escapes +
    /Differences- or CMap-aware byte decoding. Text strings may be UTF-16BE
    with a BOM in literal form too (PDF 32000-1 §7.9.2.2), not only hex;
    Type0 fonts may put their 2-byte codes in literal strings as well."""
    b = _unescape_pdf_string(raw)
    if b[:2] == b"\xfe\xff":
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return ""
    if isinstance(enc_map, _CID_DECODERS):
        return enc_map.decode(b)
    return _bytes_to_text(b, enc_map)


# --- glyph names (Adobe Glyph List subset) ----------------------------------

_GLYPH_BASE = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/", "colon": ":",
    "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_", "grave": "`",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "quoteleft": "‘", "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "degree": "°", "germandbls": "ß",
    "oslash": "ø", "Oslash": "Ø", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "euro": "€",
}


def _build_glyph_names() -> Dict[str, str]:
    """AGL subset: base punctuation/digits + accented Latin built from
    Unicode names (aacute → LATIN SMALL LETTER A WITH ACUTE, …)."""
    import unicodedata

    out = dict(_GLYPH_BASE)
    accents = {
        "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
        "tilde": "TILDE", "dieresis": "DIAERESIS", "cedilla": "CEDILLA",
        "ring": "RING ABOVE", "macron": "MACRON", "caron": "CARON",
        "breve": "BREVE",
    }
    for base in "abcdefghijklmnopqrstuvwxyz":
        for suffix, uname in accents.items():
            for case, b in (("SMALL", base), ("CAPITAL", base.upper())):
                try:
                    ch = unicodedata.lookup(
                        f"LATIN {case} LETTER {b.upper()} WITH {uname}"
                    )
                except KeyError:
                    continue
                out[(b if case == "SMALL" else b.upper()) + suffix] = ch
    return out


_GLYPH_NAMES = _build_glyph_names()


def _glyph_to_char(name: str) -> Optional[str]:
    if len(name) == 1:  # /A /a /0 … map to themselves
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if name.startswith("uni") and len(name) == 7:  # uniXXXX
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return None
    return None


_DIFF_TOKEN_RE = re.compile(rb"(\d+)|/([^\s/\[\]<>()]+)")


def _parse_differences(enc_dict: bytes) -> Dict[int, str]:
    """/Encoding << /Differences [ code /name /name … code /name … ] >> →
    {byte code: char} for the names the AGL subset resolves."""
    idx = enc_dict.find(b"/Differences")
    if idx < 0:
        return {}
    start = enc_dict.find(b"[", idx)
    end = enc_dict.find(b"]", start)
    if start < 0 or end < 0:
        return {}
    out: Dict[int, str] = {}
    code = 0
    for m in _DIFF_TOKEN_RE.finditer(enc_dict[start + 1 : end]):
        if m.group(1) is not None:
            code = int(m.group(1))
        else:
            ch = _glyph_to_char(m.group(2).decode("latin-1"))
            if ch is not None and 0 <= code <= 255:
                out[code] = ch
            code += 1
    return out


# --- /ToUnicode CMaps (Type0/CID fonts) -------------------------------------


class CMapEncoding:
    """Decoded /ToUnicode CMap: fixed-width character codes → text.

    PDF 32000-1 §9.10.3: a CMap stream maps n-byte character codes (CIDs
    for Identity-encoded Type0 subset fonts) to Unicode via ``bfchar``
    pairs and ``bfrange`` runs. ``nbytes`` comes from the first
    ``codespacerange`` (2 for virtually all Type0 fonts); unknown codes
    decode to nothing (graceful-partial contract — strictly better than
    the pre-CMap behavior, which suppressed the whole run)."""

    __slots__ = ("map", "nbytes")

    def __init__(self, mapping: Dict[int, str], nbytes: int):
        self.map = mapping
        self.nbytes = nbytes

    def decode(self, raw: bytes) -> str:
        n = self.nbytes
        get = self.map.get
        return "".join(
            get(int.from_bytes(raw[i : i + n], "big"), "")
            for i in range(0, len(raw) - n + 1, n)
        )


class _UnparsedText(str):
    """Marker type for content that WAS present but could not be decoded to
    Unicode (Identity-H glyph indexes without a /ToUnicode table). It is an
    empty str, so any text pipeline treats it as no text — but the run
    interpreter sees the type and emits a clearly-typed ``kind='unparsed'``
    span instead of silently suppressing the run."""

    __slots__ = ()


_UNPARSED = _UnparsedText()


class IdentityCIDEncoding:
    """Predefined Identity-H/V CMap semantics (PDF 32000-1 §9.7.5.2) for a
    Type0 font WITHOUT a /ToUnicode stream: character codes are 2-byte CIDs
    equal to the font's glyph indexes. Glyph index → Unicode is a private
    property of the (unavailable, subsetted) font program, so true text
    recovery is impossible in general. Best effort, replacing the previous
    whole-run suppression:

    * if the CID run READS AS TEXT under the chars-as-codes hypothesis —
      every CID printable ASCII, at least 4 symbols, letters ≥ 2/3 of the
      run, and a vowel present — the generator used char codes as glyph
      ids (common for trivially-subsetted fonts) and it decodes directly.
      The text-shape gate exists because real subset fonts assign glyph
      ids in usage order, so a font with > 32 glyphs can legitimately put
      arbitrary ids in 0x20-0x7E: a bare printable-range check would leak
      short garbage like '(AV' into the text layer as kind='text'. The
      gate is still a heuristic — a long all-letter glyph-id run would
      pass — but usage-order ids look like '(A V+;' (mixed punctuation,
      sub-2/3 letters), which it rejects;
    * otherwise return the typed :data:`_UNPARSED` marker so the run emits
      a ``kind='unparsed'`` span (position + extent preserved, no mojibake
      in the text layer)."""

    __slots__ = ()

    nbytes = 2

    def decode(self, raw: bytes):
        cids = [
            int.from_bytes(raw[i : i + 2], "big")
            for i in range(0, len(raw) - 1, 2)
        ]
        if not cids:
            return ""
        if (
            len(cids) >= 4
            and all(0x20 <= c <= 0x7E for c in cids)
            and sum(1 for c in cids if chr(c).isalpha() or c == 0x20) * 3
            >= len(cids) * 2
            and any(chr(c) in "aeiouAEIOU" for c in cids)
        ):
            return "".join(chr(c) for c in cids)
        return _UNPARSED


class UnicodeCMapEncoding:
    """Predefined Uni{GB,JIS,KS,CNS}-{UCS2,UTF16}-{H,V} encoding CMaps
    (PDF 32000-1 §9.7.5.2; CJK registry ordering supplements): for this
    family the CHARACTER CODES ARE UCS-2 / UTF-16BE Unicode values — the
    predefined CMap only maps them onward to glyph CIDs. Text recovery
    therefore needs no table at all: decode the string bytes as UTF-16BE
    directly (surrogate pairs in the UTF16 variants come out naturally).
    This is exact, not heuristic — the common CJK-generator case that
    previously landed entirely in the hex-string control-byte guard
    (silent suppression) now yields real text."""

    __slots__ = ()

    nbytes = 2

    def decode(self, raw: bytes):
        try:
            text = raw.decode("utf-16-be", "ignore")
        except Exception:
            return _UNPARSED
        # NULs arise from odd-length tails; strip control chars only
        text = text.replace("\x00", "")
        return text if text else (_UNPARSED if raw else "")


class UnknownCIDEncoding:
    """Type0 font via a predefined CMap that is neither Identity nor a
    UCS2/UTF16 family member (GBK-EUC-H, 90ms-RKSJ-H, B5pc-H, ETen-B5-H,
    KSCms-UHC-H, …) and has no /ToUnicode: recovering text needs the full
    predefined CMap tables (Adobe character collections — not embedded in
    the file and not shipped here), so degrade to the typed
    :data:`_UNPARSED` marker. The run surfaces as a ``kind='unparsed'``
    span — position and extent preserved, no mojibake — instead of being
    silently swallowed by the control-byte guard."""

    __slots__ = ()

    # most predefined CJK CMaps use mixed 1-2 byte codes; the width only
    # sizes the (discarded) code iteration, so 2 is safe
    nbytes = 2

    def decode(self, raw: bytes):
        return _UNPARSED if raw else ""


# every CID-aware decoder a font resource can map to (dispatch sites in
# _decode_pdf_string / _decode_hex_string)
_CID_DECODERS = (
    CMapEncoding, IdentityCIDEncoding, UnicodeCMapEncoding, UnknownCIDEncoding,
)

# predefined CMap name whose codes are raw Unicode (see UnicodeCMapEncoding)
_UNICODE_CMAP_RE = re.compile(rb"Uni(?:GB|JIS|JIS2004|KS|CNS)-(?:UCS2|UTF16)-[HV]$")
_ENC_NAME_RE = re.compile(rb"/([A-Za-z0-9][A-Za-z0-9-]*)")


_CMAP_SECTION_RE = {
    "bfchar": re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL),
    "bfrange": re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL),
    "codespace": re.compile(
        rb"begincodespacerange(.*?)endcodespacerange", re.DOTALL
    ),
}
_CMAP_TOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>|(\[)|(\])")


def _utf16_hex_to_text(hexdigits: bytes) -> str:
    try:
        b = bytes.fromhex(hexdigits.decode("ascii"))
        if len(b) % 2:
            b += b"\x00"
        return b.decode("utf-16-be", "ignore")
    except (ValueError, UnicodeDecodeError):
        return ""


def parse_tounicode_cmap(decoded: bytes) -> Optional[CMapEncoding]:
    """Parse a decoded /ToUnicode CMap stream → :class:`CMapEncoding`.

    Handles ``bfchar`` (src/dst pairs), both ``bfrange`` forms
    (<lo> <hi> <dstStart> with the dst integer incrementing, and
    <lo> <hi> [<dst> <dst> …] with per-code dst strings), and takes the
    code width from the first codespacerange (default 2)."""
    nbytes = 2
    m = _CMAP_SECTION_RE["codespace"].search(decoded)
    if m:
        first = _CMAP_TOK_RE.search(m.group(1))
        if first and first.group(1):
            nbytes = max(len(first.group(1)) // 2, 1)
    mapping: Dict[int, str] = {}
    for sec in _CMAP_SECTION_RE["bfchar"].finditer(decoded):
        toks = [t.group(1) for t in _CMAP_TOK_RE.finditer(sec.group(1))]
        for i in range(0, len(toks) - 1, 2):
            src, dst = toks[i], toks[i + 1]
            if src is None or dst is None:
                continue
            mapping[int(src, 16)] = _utf16_hex_to_text(dst)
    for sec in _CMAP_SECTION_RE["bfrange"].finditer(decoded):
        toks = list(_CMAP_TOK_RE.finditer(sec.group(1)))
        i = 0
        while i + 2 < len(toks):
            lo_t, hi_t = toks[i], toks[i + 1]
            if not (lo_t.group(1) and hi_t.group(1)):
                break
            lo, hi = int(lo_t.group(1), 16), int(hi_t.group(1), 16)
            nxt = toks[i + 2]
            if nxt.group(2):  # '[' — per-code dst array
                j = i + 3
                code = lo
                while j < len(toks) and not toks[j].group(3):
                    if toks[j].group(1) and code <= hi:
                        mapping[code] = _utf16_hex_to_text(toks[j].group(1))
                        code += 1
                    j += 1
                i = j + 1
            elif nxt.group(1):  # <dstStart> — incrementing run
                dst_hex = nxt.group(1)
                width = len(dst_hex)
                base = int(dst_hex, 16)
                # cap run length defensively (spec bounds ranges to one
                # 256-code block, but malformed files exist)
                for off in range(min(hi - lo, 0xFFFF) + 1):
                    mapping[lo + off] = _utf16_hex_to_text(
                        b"%0*X" % (width, base + off)
                    )
                i += 3
            else:
                break
    if not mapping:
        return None
    return CMapEncoding(mapping, nbytes)


_CTRL = set(range(0x00, 0x20)) - {0x09, 0x0A, 0x0D}


def _decode_hex_string(raw: bytes, enc_map=None) -> str:
    """Hex-string bytes → text, with a multi-byte-CID guard.

    A /ToUnicode CMap (Type0/CID subset fonts) decodes n-byte codes
    directly; a /Differences map implies a simple (1-byte) font — bytes
    map through it, no CID guard needed.

    Single-byte simple-font codes decode as WinAnsi like literal strings.
    Type0/CID fonts WITHOUT a ToUnicode CMap put 2-byte glyph indexes in
    hex strings — those are NOT character codes and decoding them as
    cp1252 produces mojibake that would poison the normalized-text index.
    Guards, in order:

    * UTF-16BE BOM → decode as UTF-16BE (the one self-identifying case);
    * a high fraction of control bytes after cp1252 decode (CID indexes
      are small integers, so every other byte tends to be 0x00-0x1F) →
      treat as unparsable glyph indexes and emit no text (graceful-partial
      contract) rather than garbage."""
    if not raw:
        return ""
    if isinstance(enc_map, _CID_DECODERS):
        return enc_map.decode(raw)
    if enc_map:
        return _bytes_to_text(raw, enc_map)
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return ""
    n_ctrl = sum(1 for b in raw if b in _CTRL)
    if n_ctrl and n_ctrl / len(raw) > 0.2:
        return ""
    return raw.decode("cp1252", "replace")


# --- content-stream tokenizer ----------------------------------------------

# Alternatives ordered by measured token frequency (numbers ≫ operators ≫
# strings ≫ names); every alternative starts with a distinct character
# class, so the order changes only how fast the engine dispatches, never
# which alternative matches at a given position. (A fused
# `(?:num\s+){6}Tm` first alternative was tried and MEASURED SLOWER —
# 21.9 s → 23.6 s on the 31k-doc kernel bench: every non-Tm number
# position pays a failed 6-number attempt, which outweighs collapsing the
# 7 finditer iterations of the genuine Tm runs.)
_TOKEN_RE = re.compile(
    rb"""
    (?P<num>[-+]?\d*\.?\d+)           # number
  | (?P<op>[A-Za-z'"][A-Za-z0-9*'"]*) # operator
  | (?P<str>\((?:\\.|[^\\()])*\))      # literal string (no nested parens)
  | (?P<name>/[^\s/\[\]<>()]+)        # name
  | (?P<arr>[\[\]])                   # array delimiters
  | (?P<hexstr><[0-9A-Fa-f\s]*>)      # hex string
    """,
    re.VERBOSE,
)


def _mat_mul(a, b):
    """3x2 PDF matrix multiply: a × b (each = (a,b,c,d,e,f))."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


# inline images (PDF 32000-1 §8.9.7): BI <dict> ID <binary...> EI. The
# binary payload would otherwise feed the token regex garbage (parens,
# digits, operator-shaped bytes) and could emit junk text spans — strip
# whole segments before interpreting. EI must be delimited on both sides
# so payload bytes that merely contain "EI" don't end the segment early.
_INLINE_IMG_RE = re.compile(
    rb"(?:^|(?<=[\s\)\]>]))BI\b.*?\bID[ \r\n].*?[\s]EI(?=[\s]|$)", re.DOTALL
)


def _strip_inline_images(content: bytes) -> bytes:
    if b"BI" not in content:
        return content
    return _INLINE_IMG_RE.sub(b" ", content)


def _run_content(
    content: bytes,
    image_xobjects: Dict[str, Tuple[float, float]],
    font_encodings: Optional[Dict[str, Any]] = None,
    form_xobjects: Optional[Dict[str, bytes]] = None,
    depth: int = 0,
    base_ctm: Tuple[float, ...] = _IDENTITY,
) -> List[PdfSpan]:
    """Interpret a page content stream → raw spans (document order).

    ``form_xobjects`` maps XObject names to their decoded content streams:
    ``/Name Do`` on a Form executes it inline under the current CTM
    (PDF 32000-1 §8.10 — many generators put the actual page text inside
    forms), recursion-capped at 4 levels; ``base_ctm`` is the invoker's
    matrix (the form's own /Matrix is prepended as a ``cm`` by the
    resource loader, composing correctly on top)."""
    content = _strip_inline_images(content)
    font_encodings = font_encodings or {}
    form_xobjects = form_xobjects or {}
    cur_enc = None  # active font's /Differences map or ToUnicode CMap
    spans: List[PdfSpan] = []
    ctm = base_ctm
    gs_stack: List[Tuple[float, ...]] = []
    tm = _IDENTITY
    tlm = _IDENTITY
    leading = 0.0
    font_size = 0.0
    char_spacing = 0.0  # Tc — added per glyph (PDF 32000-1 §9.3.2)
    word_spacing = 0.0  # Tw — added per byte-32 space (§9.3.3)
    hscale = 1.0        # Tz/100 — horizontal scaling (§9.3.4)
    in_text = False
    stack: List[Any] = []  # operand stack (numbers, strings, names, arrays)
    arr_stack: List[List[Any]] = []

    def emit_text(parts: List[str]) -> None:
        text = "".join(parts)
        unparsed = False
        if not text:
            # content was present but undecodable (Identity-H glyph indexes
            # with no /ToUnicode): emit a typed zero-width 'unparsed' span —
            # position preserved, no mojibake — instead of dropping the run
            if not any(isinstance(p, _UnparsedText) for p in parts):
                return
            unparsed = True
        # device-space origin of the text run; identity CTM (the common case
        # for page-level text between q..cm..Q image groups) short-circuits —
        # q/Q restore the same tuple object, so the `is` test stays valid
        m = tm if ctm is _IDENTITY else _mat_mul(tm, ctm)
        if m[1] != 0.0 or m[2] != 0.0 or m[0] <= 0.0 or m[3] <= 0.0:
            # rotated/mirrored run (e.g. watermark glyphs) — not part of the
            # upright reading-order text layer (FIXTURES.md §4 golden contract)
            return
        x, y = m[4], m[5]
        eff_size = font_size * abs(m[3]) if m[3] else font_size
        sz = eff_size or font_size
        # glyph widths + Tc per glyph + Tw per space, all scaled by Tz —
        # §9.4.4's advance formula restricted to the upright case. These
        # bound the anchor windows (±2..300pt tolerances), so tracked
        # spacing keeps wide-kerned runs from under-reporting their extent.
        w = _text_width(text, sz)
        if char_spacing:
            w += char_spacing * len(text)
        if word_spacing:
            w += word_spacing * text.count(" ")
        if hscale != 1.0:
            w *= hscale
        # y0 is the Tm baseline (the reading-order sort key, FIXTURES.md §4);
        # y1 = baseline + ascender (0.8 em, base-14 Helvetica). The kernel
        # adds the 0.2 em descender when building device-space glyph boxes.
        spans.append(
            {
                "kind": "unparsed" if unparsed else "text",
                "text": text,
                "media_ref": None,
                "x0": x,
                "y0": y,
                "x1": x + w,
                "y1": y + ASCENDER * sz,
                "size": sz,
            }
        )

    def string_parts(tok: Any) -> List[str]:
        if isinstance(tok, str):
            return [tok]
        if isinstance(tok, list):  # TJ array: strings + kern numbers
            return [t for t in tok if isinstance(t, str)]
        return []

    # int-indexed dispatch, most-frequent kinds first, and a `cur` pointer
    # instead of re-testing arr_stack per token — the loop is the kernel's
    # hottest region (profiled ~25%), so the branches are ordered by
    # measured token frequency (numbers ≫ strings ≫ operators).
    I_STR = _TOKEN_RE.groupindex["str"]
    I_HEX = _TOKEN_RE.groupindex["hexstr"]
    I_NAME = _TOKEN_RE.groupindex["name"]
    I_NUM = _TOKEN_RE.groupindex["num"]
    I_ARR = _TOKEN_RE.groupindex["arr"]
    cur = stack
    for m in _TOKEN_RE.finditer(content):
        idx = m.lastindex
        tok = m.group()
        if idx == I_NUM:
            # inside a [ ] (TJ text array) the numbers are kern offsets this
            # interpreter never consumes — string_parts() filters to str —
            # so skip the float() for them; stack-level numbers convert
            # because cm/Tm/Td/Tf read them as operands
            cur.append(float(tok) if cur is stack else tok)
        elif idx == I_STR:
            raw = tok[1:-1]
            # inlined _decode_pdf_string fast path: no active encoding, no
            # escapes, no UTF-16 BOM → plain WinAnsi decode (the vast
            # majority of strings; skips two function calls per string)
            if cur_enc is None and b"\\" not in raw and raw[:2] != b"\xfe\xff":
                if raw.isascii():  # latin-1 == cp1252 below 0x80, 6x cheaper
                    cur.append(raw.decode("latin-1"))
                else:
                    try:
                        cur.append(raw.decode("cp1252"))
                    except UnicodeDecodeError:
                        cur.append(raw.decode("latin-1"))
            else:
                cur.append(_decode_pdf_string(raw, cur_enc))
        elif idx == I_NAME:
            cur.append(tok.decode("latin-1"))
        elif idx == I_ARR:
            if tok == b"[":
                new: List[Any] = []
                arr_stack.append(new)
                cur = new
            else:
                arr = arr_stack.pop() if arr_stack else []
                cur = arr_stack[-1] if arr_stack else stack
                cur.append(arr)
        elif idx == I_HEX:
            hexdigits = re.sub(rb"\s", b"", tok[1:-1])
            if len(hexdigits) % 2:
                hexdigits += b"0"
            try:
                cur.append(
                    _decode_hex_string(
                        bytes.fromhex(hexdigits.decode("ascii")), cur_enc
                    )
                )
            except ValueError:
                cur.append("")
        else:  # operator — compared as raw bytes (no decode on the hot path)
            try:
                # branch order = measured operator frequency on the bench
                # corpus (Tm 48%, Tj 40%, TJ 7%, everything else <1% each);
                # the previous kind-of-logical ordering tested Tm at depth
                # 11 and Tj at depth 15 — ~13 byte-compares per operator
                if tok == b"Tm" and len(stack) >= 6:
                    tm = tlm = tuple(stack[-6:])
                elif tok == b"Tj" and stack and in_text:
                    emit_text(string_parts(stack[-1]))
                elif tok == b"TJ" and stack and in_text:
                    emit_text(string_parts(stack[-1]))
                elif tok == b"q":
                    gs_stack.append(ctm)
                elif tok == b"Q":
                    ctm = gs_stack.pop() if gs_stack else base_ctm
                elif tok == b"cm" and len(stack) >= 6:
                    mat = tuple(stack[-6:])
                    ctm = _mat_mul(mat, ctm)
                elif tok == b"BT":
                    in_text = True
                    tm = tlm = _IDENTITY
                elif tok == b"ET":
                    in_text = False
                elif tok == b"Tf" and len(stack) >= 2:
                    font_size = float(stack[-1])
                    fname = stack[-2]
                    if isinstance(fname, str) and fname.startswith("/"):
                        cur_enc = font_encodings.get(fname[1:])
                elif tok == b"TL" and stack:
                    leading = float(stack[-1])
                elif tok == b"Tc" and stack:
                    char_spacing = float(stack[-1])
                elif tok == b"Tw" and stack:
                    word_spacing = float(stack[-1])
                elif tok == b"Tz" and stack:
                    hscale = float(stack[-1]) / 100.0
                elif tok == b"Td" and len(stack) >= 2:
                    tlm = _mat_mul((1, 0, 0, 1, stack[-2], stack[-1]), tlm)
                    tm = tlm
                elif tok == b"TD" and len(stack) >= 2:
                    leading = -float(stack[-1])
                    tlm = _mat_mul((1, 0, 0, 1, stack[-2], stack[-1]), tlm)
                    tm = tlm
                elif tok == b"T*":
                    tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
                    tm = tlm
                elif tok == b"'" and stack and in_text:
                    tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
                    tm = tlm
                    emit_text(string_parts(stack[-1]))
                elif tok == b'"' and len(stack) >= 3 and in_text:
                    # aw ac (string) " — sets Tw and Tc, then shows (§9.4.3)
                    word_spacing = float(stack[-3])
                    char_spacing = float(stack[-2])
                    tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
                    tm = tlm
                    emit_text(string_parts(stack[-1]))
                elif tok == b"Do" and stack:
                    name = stack[-1]
                    if isinstance(name, str) and name.startswith("/"):
                        ref = name[1:]
                        if ref in form_xobjects and depth < 4:
                            spans.extend(
                                _run_content(
                                    form_xobjects[ref],
                                    image_xobjects,
                                    font_encodings,
                                    form_xobjects,
                                    depth + 1,
                                    base_ctm=ctm,
                                )
                            )
                        elif ref in image_xobjects:
                            # image unit square → CTM: position (e,f), size (a,d)
                            x, y = ctm[4], ctm[5]
                            w, h = abs(ctm[0]), abs(ctm[3])
                            spans.append(
                                {
                                    "kind": "media",
                                    "text": None,
                                    "media_ref": ref,
                                    "x0": x,
                                    "y0": y,
                                    "x1": x + w,
                                    "y1": y + h,
                                    "size": 0.0,
                                }
                            )
            except (ValueError, TypeError, IndexError):
                pass  # malformed operand run — skip op, keep scanning
            stack.clear()
            arr_stack.clear()
            cur = stack
    return spans


# --- top-level --------------------------------------------------------------


def _first_page(objects: Dict[int, Tuple[bytes, Optional[bytes]]]) -> Optional[int]:
    """Resolve page 0: Catalog→Pages→Kids[0]; fallback to first /Type/Page."""
    root = None
    for num, (d, _) in objects.items():
        if b"/Type/Catalog" in re.sub(rb"\s+", b"", d):
            root = num
            break
    if root is not None:
        pages_raw = _dict_value(objects[root][0], b"Pages")
        pages = _resolve_ref(pages_raw) if pages_raw else None
        if pages in objects:
            kids_raw = _dict_value(objects[pages][0], b"Kids")
            if kids_raw:
                m = _REF_RE.search(kids_raw)
                if m:
                    kid = int(m.group(1))
                    if kid in objects:
                        return kid
    for num, (d, _) in objects.items():
        if b"/Type/Page" in re.sub(rb"\s+", b"", d) and b"/Type/Pages" not in re.sub(rb"\s+", b"", d):
            return num
    return None


def _media_box(page_dict: bytes, objects) -> Tuple[float, float]:
    raw = _dict_value(page_dict, b"MediaBox")
    if raw is None:
        raw = b"[0 0 612 792]"
    nums = [float(x) for x in _NUM_RE.findall(raw[: raw.find(b"]") + 1 or 64])[:4]]
    if len(nums) == 4:
        return nums[2] - nums[0], nums[3] - nums[1]
    return 612.0, 792.0


def _image_xobjects(page_dict: bytes, objects) -> Dict[str, Tuple[float, float]]:
    """Map XObject name → (Width, Height) for /Subtype/Image resources."""
    out: Dict[str, Tuple[float, float]] = {}
    xo_raw = _dict_value(page_dict, b"XObject")
    if xo_raw is None:
        return out
    # names and refs inside the XObject subdict: /Name N 0 R
    for m in re.finditer(rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+\d+\s+R", xo_raw[:2000]):
        name = m.group(1).decode("latin-1")
        ref = int(m.group(2))
        if ref in objects:
            d = objects[ref][0]
            if b"/Image" in d:
                wraw = _dict_value(d, b"Width")
                hraw = _dict_value(d, b"Height")
                w = float(_NUM_RE.match(wraw.lstrip()).group(0)) if wraw else 0.0
                h = float(_NUM_RE.match(hraw.lstrip()).group(0)) if hraw else 0.0
                out[name] = (w, h)
    return out


def _font_encodings(page_dict: bytes, objects) -> Dict[str, Any]:
    """Per-font decode maps from the page's /Font resources.

    Two kinds, keyed by font resource name:

    * /Differences maps (simple 1-byte fonts) — handles both
      /Encoding << /Differences [...] >> inline in the font dict and
      /Encoding N 0 R pointing at an encoding object;
    * /ToUnicode CMaps (Type0/CID subset fonts, §9.10.3) — the stream ref
      is resolved and its bfchar/bfrange tables parsed into a
      :class:`CMapEncoding`, so 2-byte CID runs decode to real text
      instead of being suppressed by the hex-string guard.

    Differences win when a font somehow carries both (a Differences map
    implies simple-font byte codes). Fonts with neither decode via the
    WinAnsi default."""
    out: Dict[str, Any] = {}
    fraw = _dict_value(page_dict, b"Font")
    if fraw is None:
        return out
    for m in re.finditer(rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+\d+\s+R", fraw[:2000]):
        name = m.group(1).decode("latin-1")
        ref = int(m.group(2))
        if ref not in objects:
            continue
        font_dict = objects[ref][0]
        enc_raw = _dict_value(font_dict, b"Encoding")
        if enc_raw is not None:
            enc_ref = _resolve_ref(enc_raw)
            if enc_ref is not None and enc_ref in objects:
                enc_dict = objects[enc_ref][0]
            else:
                enc_dict = enc_raw
            diffs = _parse_differences(enc_dict)
            if diffs:
                out[name] = diffs
                continue
        cmap = None
        tu_raw = _dict_value(font_dict, b"ToUnicode")
        if tu_raw is not None:
            tu_ref = _resolve_ref(tu_raw)
            if tu_ref is not None and tu_ref in objects:
                tu_dict, tu_stream = objects[tu_ref]
                if tu_stream is not None:
                    decoded = _decode_stream(tu_dict, tu_stream)
                    if decoded:
                        cmap = parse_tounicode_cmap(decoded)
        if cmap is not None:
            out[name] = cmap
        elif b"/Type0" in font_dict:
            if b"/Identity-H" in font_dict or b"/Identity-V" in font_dict:
                # Identity-encoded Type0 subset font with no usable
                # /ToUnicode: predefined Identity CMap semantics (2-byte
                # CIDs) with the best-effort ASCII heuristic /
                # typed-unparsed fallback — previously these runs were
                # silently suppressed by the hex-string control-byte guard
                out[name] = IdentityCIDEncoding()
            elif enc_raw is not None:
                # predefined (named) CMap — PDF 32000-1 §9.7.5.2 table 118
                nm = _ENC_NAME_RE.match(enc_raw.lstrip())
                if nm is not None and _UNICODE_CMAP_RE.match(nm.group(1)):
                    # Uni*-UCS2/UTF16: codes ARE Unicode → exact decode
                    out[name] = UnicodeCMapEncoding()
                else:
                    # any other Type0 /Encoding without usable /ToUnicode:
                    # another predefined CMap (GBK-EUC-H, 90ms-RKSJ-H,
                    # B5pc-H, …) or an EMBEDDED CMap stream ref (N 0 R) —
                    # either way code→CID→Unicode needs tables we don't
                    # hold → typed kind='unparsed' degradation (position
                    # preserved), never the silent hex-guard suppression
                    out[name] = UnknownCIDEncoding()
    return out


def _form_xobjects(page_dict: bytes, objects) -> Dict[str, bytes]:
    """Map XObject name → decoded content for /Subtype/Form resources.

    A form's own /Matrix [a b c d e f] is prepended as a ``cm`` op so it
    composes with the invoker's CTM exactly as §8.10.1 specifies."""
    out: Dict[str, bytes] = {}
    xo_raw = _dict_value(page_dict, b"XObject")
    if xo_raw is None:
        return out
    for m in re.finditer(rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+\d+\s+R", xo_raw[:2000]):
        name = m.group(1).decode("latin-1")
        ref = int(m.group(2))
        if ref not in objects:
            continue
        d, stream = objects[ref]
        if b"/Form" not in d or stream is None:
            continue
        dec = _decode_stream(d, stream)
        if not dec:
            continue
        mat_raw = _dict_value(d, b"Matrix")
        if mat_raw is not None:
            end = mat_raw.find(b"]")
            nums = _NUM_RE.findall(mat_raw[: end if end > 0 else 96])[:6]
            if len(nums) == 6:
                dec = b" ".join(nums) + b" cm\n" + dec
        out[name] = dec
    return out


def _page_content(page_dict: bytes, objects) -> bytes:
    """Collect the page's content stream(s) in order.

    /Contents is one of (PDF 32000-1 §7.7.3.3, table 30):
      * a single stream ref ``N 0 R``;
      * an inline array ``[N 0 R M 0 R ...]``;
      * a ref to an ARRAY OBJECT whose body is ``[N 0 R ...]``.
    The old head-scan + ``lstrip()[:1] != b'['`` heuristic misparsed odd
    whitespace and the array-behind-a-ref form; this walks the value
    token-exactly instead."""
    raw = _dict_value(page_dict, b"Contents")
    if raw is None:
        return b""
    val = raw.lstrip()
    refs: List[int] = []
    if val[:1] == b"[":
        end = val.find(b"]")
        refs = [int(m.group(1)) for m in _REF_RE.finditer(val[: end if end > 0 else len(val)])]
    else:
        m = _REF_RE.match(val)
        if m:
            ref = int(m.group(1))
            target = objects.get(ref)
            if target is not None and target[1] is None and target[0].lstrip()[:1] == b"[":
                # ref → array object of stream refs
                body = target[0].lstrip()
                end = body.find(b"]")
                refs = [
                    int(mm.group(1))
                    for mm in _REF_RE.finditer(body[: end if end > 0 else len(body)])
                ]
            else:
                refs = [ref]
    parts: List[bytes] = []
    for ref in refs:
        if ref in objects and objects[ref][1] is not None:
            dec = _decode_stream(objects[ref][0], objects[ref][1])
            if dec:
                parts.append(dec)
    return b"\n".join(parts)


def _page_rotation(page_dict: bytes) -> int:
    raw = _dict_value(page_dict, b"Rotate")
    if raw is None:
        return 0
    m = re.match(rb"\s*(-?\d+)", raw)
    if not m:
        return 0
    return int(m.group(0)) % 360 // 90 * 90


def _apply_rotation(
    spans: List[PdfSpan], rot: int, pw: float, ph: float
) -> Tuple[List[PdfSpan], float, float]:
    """Map spans into the displayed (rotated) page frame, bottom-up coords.

    /Rotate r = "rotated clockwise by r when displayed" (§7.7.3.3). With
    bottom-up user coords on a W×H page:
      90°:  (x, y) → (y, W − x), page becomes H×W
      180°: (x, y) → (W − x, H − y)
      270°: (x, y) → (H − y, x), page becomes H×W
    Reading order downstream sorts the ROTATED frame — matching what a
    viewer (and PyMuPDF's sorted text extraction) presents."""
    if rot == 0 or not rot:
        return spans, pw, ph

    def remap(s: PdfSpan) -> PdfSpan:
        x0, y0, x1, y1 = s["x0"], s["y0"], s["x1"], s["y1"]
        if rot == 90:
            nx0, ny0, nx1, ny1 = y0, pw - x1, y1, pw - x0
        elif rot == 180:
            nx0, ny0, nx1, ny1 = pw - x1, ph - y1, pw - x0, ph - y0
        else:  # 270
            nx0, ny0, nx1, ny1 = ph - y1, x0, ph - y0, x1
        out = dict(s)
        out.update({"x0": nx0, "y0": ny0, "x1": nx1, "y1": ny1})
        return out

    new_pw, new_ph = (ph, pw) if rot in (90, 270) else (pw, ph)
    return [remap(s) for s in spans], new_pw, new_ph


_ENCRYPT_RE = re.compile(rb"/Encrypt\s*(?:\d+\s+\d+\s+R|<<)")


def tokenize_pdf(data: bytes) -> Dict[str, Any]:
    """bytes → {'page_width', 'page_height', 'spans': [PdfSpan, ...]}.

    Spans are in content-stream order; reading-order sort + offsets are a
    separate stage — see ``tokenize_dispatch.assemble_doc``.
    Never raises; unparseable inputs yield an empty span list.

    Encrypted documents (/Encrypt in the trailer or xref-stream dict, PDF
    32000-1 §7.6) have their strings and streams RC4/AES-encrypted; without
    the file key the content is unrecoverable, but the document STRUCTURE
    (xref, page dicts, MediaBox) stays plaintext. Previously stream decode
    simply failed on the ciphertext and the doc came back as an empty page
    — indistinguishable from genuinely blank. Now the result is a typed
    doc-level fallback: ``encrypted: True`` plus one ``kind='unparsed'``
    span covering the page, so downstream curation can count/route these
    instead of treating them as empty. The /Encrypt probe is LAZY — it
    runs only when tokenization produced zero spans (ciphertext streams
    either fail their filters or yield no valid operators), so the common
    unencrypted-with-content doc pays nothing; the measured eager
    alternative cost ~0.4 ms/MB of full-buffer regex on EVERY doc, ~10%
    of the kernel's per-doc budget.
    """
    empty = {"page_width": 0.0, "page_height": 0.0, "spans": []}
    if not data or not data.startswith(b"%PDF"):
        return empty
    pw = ph = 0.0
    try:
        objects = _scan_objects(data)
        page = _first_page(objects)
        if page is None:
            return _maybe_encrypted(data, empty, 612.0, 792.0)
        page_dict = objects[page][0]
        pw, ph = _media_box(page_dict, objects)
        images = _image_xobjects(page_dict, objects)
        rot = _page_rotation(page_dict)
        content = _page_content(page_dict, objects)
        if not content:
            if rot in (90, 270):
                pw, ph = ph, pw
            return _maybe_encrypted(
                data, {"page_width": pw, "page_height": ph, "spans": []}, pw, ph
            )
        spans = _run_content(
            content,
            images,
            _font_encodings(page_dict, objects),
            _form_xobjects(page_dict, objects),
        )
        spans, pw, ph = _apply_rotation(spans, rot, pw, ph)
        if not spans:
            return _maybe_encrypted(
                data, {"page_width": pw, "page_height": ph, "spans": []}, pw, ph
            )
        return {"page_width": pw, "page_height": ph, "spans": spans}
    except Exception:
        return _maybe_encrypted(data, empty, pw or 612.0, ph or 792.0)


def _maybe_encrypted(data: bytes, fallthrough: Dict[str, Any],
                     pw: float, ph: float) -> Dict[str, Any]:
    """Span-less outcome: decide between 'genuinely blank/unparseable'
    (return ``fallthrough`` unchanged) and 'encrypted' (typed doc-level
    fallback). The key shape ``/Encrypt N 0 R`` (or inline dict) only
    appears as a trailer key in practice; a literal hit inside an
    (uncompressed) content stream would merely demote that doc to the
    typed fallback, never corrupt text — and only span-less docs ever
    reach this probe."""
    if _ENCRYPT_RE.search(data) is None:
        return fallthrough
    return {
        "page_width": pw,
        "page_height": ph,
        "encrypted": True,
        "spans": [{
            "kind": "unparsed", "text": "", "media_ref": None,
            "x0": 0.0, "y0": 0.0, "x1": pw, "y1": ph, "size": 0.0,
        }],
    }
