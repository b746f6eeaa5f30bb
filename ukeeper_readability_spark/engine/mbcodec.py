"""Go-exact multi-byte (CJK) decoders over the vendored x/text tables.

The reference decodes gbk / gb18030 / big5 / shift_jis / euc-jp / euc-kr /
iso-2022-jp via golang.org/x/text decoders whose tables are the WHATWG
encoding-standard indexes. Python's stdlib codecs diverge from those tables
on scattered cells (measured by tools/gen_multibyte_tables.py: gbk 82 cells,
big5-vs-big5hkscs 203, shift_jis-vs-cp932 1880, euc-jp 463, euc-kr 0), and
their ill-formed-sequence handling (how many bytes one U+FFFD consumes)
differs too. So this module ports the decoder state machines byte-for-byte:

  gbk / gb18030   vendor/golang.org/x/text/encoding/simplifiedchinese/gbk.go:47-146
  big5            vendor/golang.org/x/text/encoding/traditionalchinese/big5.go:30-95
  shift_jis       vendor/golang.org/x/text/encoding/japanese/shiftjis.go:28-97
  euc-jp          vendor/golang.org/x/text/encoding/japanese/eucjp.go:28-120
  euc-kr          vendor/golang.org/x/text/encoding/korean/euckr.go:28-90
  iso-2022-jp     vendor/golang.org/x/text/encoding/japanese/iso2022jp.go:41-143

decoded with atEOF=true (the whole body is in memory, as in the reference's
toUtf8 which reads the full response body). Undefined cells and ill-formed
sequences yield U+FFFD with the exact Go `size` (bytes-consumed) semantics —
e.g. a Shift_JIS lead followed by an ASCII byte emits U+FFFD and REPROCESSES
the ASCII byte, while a defined-lead/defined-trail miss consumes both.

Tables load lazily from ukeeper_readability_spark/data/mbtables.py
(generated public WHATWG index data, see tools/gen_multibyte_tables.py).
"""

from __future__ import annotations

import re

from ..data import mbtables as _t

_NONASCII = re.compile(rb"[\x80-\xff]")
_FFFD = "�"


def _chr(v: int) -> str:
    # Go utf8.EncodeRune renders surrogate code points as U+FFFD; no table
    # cell should hold one, but guard so a bad cell can't poison a str.
    if 0xD800 <= v <= 0xDFFF:
        return _FFFD
    return chr(v)


def _ascii_run(data: bytes, i: int, n: int, out: list) -> int:
    m = _NONASCII.search(data, i)
    j = m.start() if m else n
    out.append(data[i:j].decode("ascii"))
    return j


def _decode_gbk(data: bytes, gb18030: bool) -> str:
    """gbk.go:47-146. GBK's decoder is gb18030's with 4-byte seqs disabled;
    0x80 is U+20AC (Microsoft CP936 euro) in both."""
    tbl = _t.GBK_DECODE
    tlen = len(tbl)
    ranges = _t.GB18030_RANGES
    out: list = []
    i, n = 0, len(data)
    while i < n:
        c0 = data[i]
        if c0 < 0x80:
            i = _ascii_run(data, i, n, out)
            continue
        if c0 == 0x80:
            out.append("€")
            i += 1
            continue
        if c0 == 0xFF:
            out.append(_FFFD)
            i += 1
            continue
        if i + 1 >= n:  # atEOF: truncated pair consumes 1
            out.append(_FFFD)
            i += 1
            continue
        c1 = data[i + 1]
        if 0x40 <= c1 < 0x7F:
            cc1 = c1 - 0x40
        elif 0x80 <= c1 < 0xFF:
            cc1 = c1 - 0x41
        elif gb18030 and 0x30 <= c1 < 0x40:
            if i + 3 >= n:
                out.append(_FFFD)
                i += 1
                continue
            c2 = data[i + 2]
            if c2 < 0x81 or c2 >= 0xFF:
                out.append(_FFFD)
                i += 1
                continue
            c3 = data[i + 3]
            if c3 < 0x30 or c3 >= 0x3A:
                out.append(_FFFD)
                i += 1
                continue
            r = (((c0 - 0x81) * 10 + (c1 - 0x30)) * 126 + (c2 - 0x81)) * 10 \
                + (c3 - 0x30)
            if r < 39420:
                lo, hi = 0, len(ranges)
                while lo < hi:
                    h = lo + (hi - lo) // 2
                    if r >= ranges[h][0]:
                        lo = h + 1
                    else:
                        hi = h
                a, b = ranges[lo - 1]
                out.append(_chr(r + b - a))
                i += 4
                continue
            r -= 189000
            if 0 <= r < 0x100000:
                out.append(_chr(r + 0x10000))
                i += 4
            else:
                out.append(_FFFD)
                i += 1
            continue
        else:
            out.append(_FFFD)
            i += 1
            continue
        idx = (c0 - 0x81) * 190 + cc1
        v = tbl[idx] if idx < tlen else 0
        out.append(_chr(v) if v else _FFFD)
        i += 2
    return "".join(out)


# big5.go:60-68 — four two-rune cells from the WHATWG big5 index
_BIG5_TWO_RUNE = {
    1133: "\u00CA\u0304",
    1135: "\u00CA\u030C",
    1164: "\u00EA\u0304",
    1166: "\u00EA\u030C",
}


def _decode_big5(data: bytes) -> str:
    """big5.go:30-95."""
    tbl = _t.BIG5_DECODE
    tlen = len(tbl)
    out: list = []
    i, n = 0, len(data)
    while i < n:
        c0 = data[i]
        if c0 < 0x80:
            i = _ascii_run(data, i, n, out)
            continue
        if c0 == 0x80 or c0 == 0xFF:
            out.append(_FFFD)
            i += 1
            continue
        if i + 1 >= n:
            out.append(_FFFD)
            i += 1
            continue
        c1 = data[i + 1]
        if 0x40 <= c1 < 0x7F:
            cc1 = c1 - 0x40
        elif 0xA1 <= c1 < 0xFF:
            cc1 = c1 - 0x62
        elif c1 < 0x40:
            out.append(_FFFD)
            i += 1
            continue
        else:  # 0x7f-0xa0, 0xff: consume both
            out.append(_FFFD)
            i += 2
            continue
        idx = (c0 - 0x81) * 157 + cc1
        two = _BIG5_TWO_RUNE.get(idx)
        if two is not None:
            out.append(two)
        else:
            v = tbl[idx] if idx < tlen else 0
            out.append(_chr(v) if v else _FFFD)
        i += 2
    return "".join(out)


def _decode_shift_jis(data: bytes) -> str:
    """shiftjis.go:28-97. 0xA1-0xDF are half-width katakana; 0x80 passes
    through as U+0080; an ASCII byte after a lead is REPROCESSED."""
    tbl = _t.JIS0208
    tlen = len(tbl)
    out: list = []
    i, n = 0, len(data)
    while i < n:
        c0 = data[i]
        if c0 < 0x80:
            i = _ascii_run(data, i, n, out)
            continue
        if 0xA1 <= c0 < 0xE0:
            out.append(chr(c0 + (0xFF61 - 0xA1)))
            i += 1
            continue
        if (0x81 <= c0 < 0xA0) or (0xE0 <= c0 < 0xFD):
            b = (c0 - 0x70) if c0 <= 0x9F else (c0 - 0xB0)
            b = 2 * b - 0x21
            if i + 1 >= n:
                out.append(_FFFD)
                i += 1
                continue
            c1 = data[i + 1]
            if c1 < 0x40 or c1 == 0x7F:
                out.append(_FFFD)  # c1 is ASCII so output on next round
                i += 1
                continue
            if c1 < 0x7F:
                b -= 1
                cc1 = c1 - 0x40
            elif c1 < 0x9F:
                b -= 1
                cc1 = c1 - 0x41
            elif c1 < 0xFD:
                cc1 = c1 - 0x9F
            else:
                out.append(_FFFD)
                i += 2
                continue
            idx = b * 94 + cc1
            v = tbl[idx] if 0 <= idx < tlen else 0
            out.append(_chr(v) if v else _FFFD)
            i += 2
            continue
        if c0 == 0x80:
            out.append("\x80")
            i += 1
            continue
        out.append(_FFFD)  # 0xa0, 0xfd-0xff
        i += 1
    return "".join(out)


def _decode_euc_jp(data: bytes) -> str:
    """eucjp.go:28-120. 0x8E+kana, 0x8F+jis0212 (3 bytes), 0xA1-0xFE pairs
    via jis0208; ill-formed size semantics preserved exactly."""
    t208, t212 = _t.JIS0208, _t.JIS0212
    l208, l212 = len(t208), len(t212)
    out: list = []
    i, n = 0, len(data)
    while i < n:
        c0 = data[i]
        if c0 < 0x80:
            i = _ascii_run(data, i, n, out)
            continue
        if c0 == 0x8E:
            if i + 1 >= n:
                out.append(_FFFD)
                i += 1
                continue
            c1 = data[i + 1]
            if c1 < 0xA1:
                out.append(_FFFD)
                i += 1
            elif c1 > 0xDF:
                out.append(_FFFD)
                i += 1 if c1 == 0xFF else 2
            else:
                out.append(chr(c1 + (0xFF61 - 0xA1)))
                i += 2
            continue
        if c0 == 0x8F:
            if i + 2 >= n:
                # atEOF: consume 2 if the next byte was a valid first trail
                sz = 2 if (i + 1 < n and 0xA1 <= data[i + 1] < 0xFE) else 1
                out.append(_FFFD)
                i += sz
                continue
            c1 = data[i + 1]
            if c1 < 0xA1 or c1 > 0xFE:
                out.append(_FFFD)
                i += 1
                continue
            c2 = data[i + 2]
            if c2 < 0xA1 or c2 > 0xFE:
                out.append(_FFFD)
                i += 2
                continue
            idx = (c1 - 0xA1) * 94 + (c2 - 0xA1)
            v = t212[idx] if idx < l212 else 0
            out.append(_chr(v) if v else _FFFD)
            i += 3
            continue
        if 0xA1 <= c0 <= 0xFE:
            if i + 1 >= n:
                out.append(_FFFD)
                i += 1
                continue
            c1 = data[i + 1]
            if c1 < 0xA1 or c1 > 0xFE:
                out.append(_FFFD)
                i += 1
                continue
            idx = (c0 - 0xA1) * 94 + (c1 - 0xA1)
            v = t208[idx] if idx < l208 else 0
            out.append(_chr(v) if v else _FFFD)
            i += 2
            continue
        out.append(_FFFD)  # 0x80-0x8d, 0x90-0xa0, 0xff
        i += 1
    return "".join(out)


def _decode_euc_kr(data: bytes) -> str:
    """euckr.go:28-90 (WHATWG euc-kr == windows-949 index)."""
    tbl = _t.EUCKR_DECODE
    tlen = len(tbl)
    out: list = []
    i, n = 0, len(data)
    while i < n:
        c0 = data[i]
        if c0 < 0x80:
            i = _ascii_run(data, i, n, out)
            continue
        if not (0x81 <= c0 < 0xFF):
            out.append(_FFFD)
            i += 1
            continue
        if i + 1 >= n:
            out.append(_FFFD)
            i += 1
            continue
        c1 = data[i + 1]
        r = -1
        if c0 < 0xC7:
            if 0x41 <= c1 < 0x5B:
                r = 178 * (c0 - 0x81) + (c1 - 0x41)
            elif 0x61 <= c1 < 0x7B:
                r = 178 * (c0 - 0x81) + (c1 - 0x61 + 26)
            elif 0x81 <= c1 < 0xFF:
                r = 178 * (c0 - 0x81) + (c1 - 0x81 + 52)
        elif 0xA1 <= c1 < 0xFF:
            r = 178 * (0xC7 - 0x81) + (c0 - 0xC7) * 94 + (c1 - 0xA1)
        v = tbl[r] if 0 <= r < tlen else 0
        if r >= 0 and v:
            out.append(_chr(v))
            i += 2
        else:
            # decError: one U+FFFD; size 1 if the trail byte is ASCII
            out.append(_FFFD)
            i += 1 if c1 < 0x80 else 2
    return "".join(out)


# iso2022jp.go:33-38 decoder states
_I2022_ASCII, _I2022_KATAKANA, _I2022_0208, _I2022_0212 = range(4)


def _decode_iso2022jp(data: bytes) -> str:
    """iso2022jp.go:41-143. Stateful ESC-driven decoder; a newline in a
    two-byte state resets to ASCII. Go's index arithmetic is BYTE (mod-256)
    subtraction — (c0-0x21)&0xff — preserved for ill-formed pairs."""
    t208, t212 = _t.JIS0208, _t.JIS0212
    l208, l212 = len(t208), len(t212)
    state = _I2022_ASCII
    out: list = []
    i, n = 0, len(data)
    while i < n:
        c0 = data[i]
        if c0 >= 0x80:
            out.append(_FFFD)
            i += 1
            continue
        if c0 == 0x1B:
            if i + 2 >= n:
                out.append(_FFFD)
                i += 1
                continue
            c1, c2 = data[i + 1], data[i + 2]
            if c1 == 0x24 and c2 in (0x40, 0x42):  # ESC $ @ / ESC $ B
                state = _I2022_0208
                i += 3
                continue
            if c1 == 0x24 and c2 == 0x28:  # ESC $ (
                if i + 3 >= n:
                    out.append(_FFFD)
                    i += 1
                    continue
                if data[i + 3] == 0x44:  # D
                    state = _I2022_0212
                    i += 4
                    continue
                out.append(_FFFD)
                i += 1
                continue
            if c1 == 0x28 and c2 in (0x42, 0x4A):  # ESC ( B / ESC ( J
                state = _I2022_ASCII
                i += 3
                continue
            if c1 == 0x28 and c2 == 0x49:  # ESC ( I
                state = _I2022_KATAKANA
                i += 3
                continue
            out.append(_FFFD)
            i += 1
            continue
        if state == _I2022_ASCII:
            out.append(chr(c0))
            i += 1
            continue
        if state == _I2022_KATAKANA:
            if c0 < 0x21 or c0 >= 0x60:
                out.append(_FFFD)
            else:
                out.append(chr(c0 + (0xFF61 - 0x21)))
            i += 1
            continue
        # jis0208 / jis0212 two-byte states
        if c0 == 0x0A:
            state = _I2022_ASCII
            out.append("\n")
            i += 1
            continue
        if i + 1 >= n:
            out.append(_FFFD)
            i += 1
            continue
        c1 = data[i + 1]
        idx = ((c0 - 0x21) & 0xFF) * 94 + ((c1 - 0x21) & 0xFF)
        if state == _I2022_0208 and idx < l208:
            v = t208[idx]
        elif state == _I2022_0212 and idx < l212:
            v = t212[idx]
        else:
            v = 0
        out.append(_chr(v) if v else _FFFD)
        i += 2
    return "".join(out)


_FAMILIES = {
    "gbk": lambda b: _decode_gbk(b, False),
    "gb18030": lambda b: _decode_gbk(b, True),
    "big5": _decode_big5,
    "shift_jis": _decode_shift_jis,
    "euc-jp": _decode_euc_jp,
    "euc-kr": _decode_euc_kr,
    "iso-2022-jp": _decode_iso2022jp,
}

def decode_mb(data: bytes, family: str) -> str:
    """Decode `data` with the Go/x-text decoder for `family` (atEOF=true)."""
    return _FAMILIES[family](data)
