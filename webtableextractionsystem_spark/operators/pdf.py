"""PDF text + layout extraction in pure stdlib + numpy — the north rule's
"PDF/layout parse" clause, built like the other codecs (jpeg.py,
multimodal.py): a real spec-driven decoder with honest ValueError
boundaries, a paired encoder so round-trips are testable without
external libs, and DoS bounds on every untrusted size.

Scope (honest and tested): classic AND modern PDFs — %PDF-1.x header;
xref TABLES (with /Prev chains and hybrid /XRefStm supplements) AND
1.5+ cross-reference STREAMS (/W widths, /Index subsections,
FlateDecode with PNG row predictors) with OBJECT STREAMS (type-2
entries, /N pair table, /First); content streams direct or through any
cascade of FlateDecode, LZWDecode (MSB-first 9..12-bit codes,
/EarlyChange), ASCIIHexDecode, ASCII85Decode, and RunLengthDecode
(§7.4), with PNG AND TIFF-2 predictors on the compressed pair;
literal (all §7.3.4.2 escapes) and hex strings; the full
positioned-text operator set (BT/ET, Tf, Td, TD, TL, T*, Tm, Tj, ', ",
TJ) with q/Q + cm graphics-state matrix composition and inline-image
skipping; simple (1-byte, latin-1-decoded) fonts AND Type0/Identity-H
composite fonts (2-byte CIDs through the /ToUnicode CMap — bfchar and
both bfrange destination forms — which is how CJK web PDFs embed
text), with inherited /Resources; page trees of any nesting; and
EMBEDDED IMAGES — /Subtype /Image XObjects whose trailing filter is
/DCTDecode decode through the in-repo JPEG decoder (operators/
jpeg.py: baseline + progressive, subsampling, restart markers), after
any §7.4 transport cascade, via ``extract_pdf_images``; raw 8-bit
DeviceRGB/DeviceGray sample streams decode too. Raises ValueError
naming the feature for: encrypted files, Type0 fonts with predefined
(non-Identity-H) CMaps or no /ToUnicode (extracting their bytes as
text would be silent garbage), filters outside the five transports
above on non-image streams, and the image codings with no
pure-stdlib decoder in scope (CCITTFax/JBIG2/JPX).

Layout parse: runs carry the device-space position of their text matrix
(Tm composed with the CTM), and ``extract_pdf_text`` groups runs into
lines by y (fixed tolerance), orders lines top-to-bottom and runs
left-to-right — the reading-order pass a layout-aware corpus extractor
performs before boilerplate stripping.

Everything from the public spec: ISO 32000-1 / Adobe PDF Reference
(file structure §7.5, filters §7.4, text §9.4, matrices §8.3.4,
string escapes §7.3.4.2).
"""

from __future__ import annotations

import base64
import re
import zlib

import numpy as np

_MAX_STREAM_BYTES = 1 << 26   # inflate cap per content stream (DoS bound)
# decode bound on untrusted image dimensions, shared by every image codec
# (PNG, JPEG, GIF, TIFF and PDF image XObjects): a header of a few bytes
# can declare 4G pixels, so each codec checks it before any allocation
_MAX_PIXELS = 1 << 26
_MAX_XREF_CHAIN = 64          # /Prev chain bound (cycle/DoS)
_MAX_OBJECTS = 1 << 20        # xref entry bound

_PAGE_W, _PAGE_H = 612, 792   # US Letter, the encoder's MediaBox


def _strict_int(v) -> bool:
    """bool subclasses int: '/Length true' etc. must raise, not be
    silently treated as 1 (the round-5 predictor fix, applied to EVERY
    untrusted integer field)."""
    return isinstance(v, int) and not isinstance(v, bool)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def _esc_string(s: str) -> bytes:
    """Text -> PDF literal string bytes (latin-1 payload, §7.3.4.2
    escapes). Non-latin-1 raises — simple fonts address 256 glyphs."""
    try:
        raw = s.encode("latin-1")
    except UnicodeEncodeError as e:
        raise ValueError(
            "_esc_string is for simple-font (latin-1) text; encode_pdf "
            "routes non-latin-1 runs to the Type0 hex-string path") from e
    out = bytearray()
    for b in raw:
        if b in (0x28, 0x29, 0x5C):  # ( ) \
            out += b"\\" + bytes([b])
        elif 32 <= b <= 126:
            out.append(b)
        else:
            out += b"\\%03o" % b
    return bytes(out)


def encode_pdf(pages, compress: bool = True, modern: bool = False,
               stream_filter=None, images=None,
               image_transport=None) -> bytes:
    """pages = list of pages; each page a list of (x, y, size, text)
    runs -> a PDF (Helvetica, one content stream per page, FlateDecode
    when ``compress``). Positions are PDF user-space points (origin
    bottom-left). ``modern=False`` emits a classic 1.4 file (xref
    TABLE); ``modern=True`` emits the 1.5+ structure dominant on the
    real web: catalog/pages/font dicts packed into an object stream and
    a CROSS-REFERENCE STREAM (W=[1,4,2], FlateDecode, PNG Up predictor
    — what libraries actually write), so decoder round-trips cover
    type-2 entries, /First parsing, and the predictor path.

    ``stream_filter`` overrides ``compress`` for the CONTENT streams: a
    filter name or a list of names in /Filter (decode) order, any of
    FlateDecode / LZWDecode / ASCIIHexDecode / ASCII85Decode /
    RunLengthDecode — e.g. ["ASCII85Decode", "FlateDecode"] emits
    Flate-compressed data wrapped for 7-bit transport, the legacy
    cascade real pre-web PDFs carry. Structural streams (ObjStm, xref
    stream) stay FlateDecode, as real writers emit them.

    ``images`` (optional) is a list aligned with ``pages``; each entry
    a list of (jpeg_payload, width, height, x, y) tuples to embed as
    /Subtype /Image XObjects with /Filter /DCTDecode, painted via
    'q w 0 0 h x y cm /ImN Do Q' before the page's text (§8.9.5).
    ``image_transport`` optionally names one §7.4 transport filter
    (e.g. "ASCII85Decode") to wrap EVERY image stream, emitting the
    [transport, DCTDecode] cascade form real scanners produce."""
    if not pages:
        raise ValueError("encode_pdf needs at least one page")
    objs: dict[int, bytes] = {}
    n_pages = len(pages)
    # 1 catalog, 2 pages root, 3 font; then per page: page obj, content
    page_ids = [4 + 2 * i for i in range(n_pages)]
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs[2] = (f"<< /Type /Pages /Kids [ {kids} ] /Count {n_pages} >>"
               ).encode()
    objs[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
               b"/Encoding /WinAnsiEncoding >>")
    # any non-latin-1 run -> a Type0/Identity-H font (/F2) with a
    # ToUnicode CMap, the way real writers embed CJK text; CIDs are
    # assigned 1..n over the document's sorted unique codepoints, so
    # consecutive codepoints become bfranges and the rest bfchars —
    # both CMap destination forms get exercised by round trips
    def _is_simple(t: str) -> bool:
        try:
            t.encode("latin-1")
            return True
        except UnicodeEncodeError:
            return False

    cjk_chars = sorted({ch for runs in pages for _, _, _, t in runs
                        if not _is_simple(t) for ch in t})
    if len(cjk_chars) > 0xFFFF:
        # CIDs are 2 bytes; a 5-hex-digit CID would misframe every
        # show string after it — fail at encode time, not decode time
        raise ValueError("encode_pdf text exceeds 65535 unique "
                         "non-latin-1 characters (2-byte CID space)")
    cid_of = {ch: i + 1 for i, ch in enumerate(cjk_chars)}
    font2_id = 4 + 2 * n_pages
    if images is not None and len(images) != n_pages:
        raise ValueError("encode_pdf images list must align with pages")
    # image XObject ids follow the (optional) Type0 font block
    img_base = font2_id + (3 if cjk_chars else 0)
    img_ids: list[list[int]] = []
    next_img = img_base
    for i in range(n_pages):
        page_imgs = (images[i] if images else []) or []
        img_ids.append(list(range(next_img, next_img + len(page_imgs))))
        next_img += len(page_imgs)
    for i, runs in enumerate(pages):
        pid, cid = page_ids[i], page_ids[i] + 1
        content = bytearray()
        page_imgs = (images[i] if images else []) or []
        for j, (jpeg, iw, ih, ix, iy) in enumerate(page_imgs):
            if jpeg[:2] != b"\xff\xd8":
                raise ValueError("encode_pdf image payload is not a JPEG")
            content += (b"q %s 0 0 %s %s %s cm /Im%d Do Q\n"
                        % (_num(iw), _num(ih), _num(ix), _num(iy), j))
            idata, ifilt = bytes(jpeg), b"/Filter /DCTDecode "
            if image_transport is not None:
                if image_transport not in _ENCODERS:
                    raise ValueError(
                        f"unsupported PDF filter {image_transport}")
                idata = _ENCODERS[image_transport](idata)
                ifilt = (f"/Filter [ /{image_transport} /DCTDecode ] "
                         ).encode()
            objs[img_ids[i][j]] = (
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace /DeviceRGB /BitsPerComponent 8 " % (iw, ih)
                + ifilt + b"/Length %d >>\nstream\n" % len(idata)
                + idata + b"\nendstream")
        content += b"BT\n"
        for x, y, size, text in runs:
            if _is_simple(text):
                content += b"/F1 %s Tf\n" % _num(size)
                content += b"1 0 0 1 %s %s Tm\n" % (_num(x), _num(y))
                content += b"(" + _esc_string(text) + b") Tj\n"
            else:
                content += b"/F2 %s Tf\n" % _num(size)
                content += b"1 0 0 1 %s %s Tm\n" % (_num(x), _num(y))
                hexstr = "".join(f"{cid_of[ch]:04X}" for ch in text)
                content += b"<" + hexstr.encode("ascii") + b"> Tj\n"
        content += b"ET"
        data = bytes(content)
        filt = b""
        if stream_filter is not None:
            # an empty chain means "explicitly uncompressed"
            chain = ([stream_filter] if isinstance(stream_filter, str)
                     else list(stream_filter))
            for name in reversed(chain):
                if name not in _ENCODERS:
                    raise ValueError(f"unsupported PDF filter {name}")
                data = _ENCODERS[name](data)
            if len(chain) == 1:
                filt = f"/Filter /{chain[0]} ".encode()
            elif chain:
                filt = ("/Filter [ " + " ".join(f"/{n}" for n in chain)
                        + " ] ").encode()
        elif compress:
            data = zlib.compress(data)
            filt = b"/Filter /FlateDecode "
        objs[cid] = (b"<< " + filt + b"/Length %d >>\nstream\n" % len(data)
                     + data + b"\nendstream")
        fres = (f"/F1 3 0 R /F2 {font2_id} 0 R" if cjk_chars
                else "/F1 3 0 R")
        xres = ""
        if page_imgs:
            ents = " ".join(f"/Im{j} {oid} 0 R"
                            for j, oid in enumerate(img_ids[i]))
            xres = f"/XObject << {ents} >> "
        objs[pid] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {_PAGE_W} "
            f"{_PAGE_H}] /Resources << /Font << {fres} >> {xres}>> "
            f"/Contents {cid} 0 R >>").encode()

    if cjk_chars:
        desc_id, tu_id = font2_id + 1, font2_id + 2
        objs[font2_id] = (
            f"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCJK "
            f"/Encoding /Identity-H /DescendantFonts [ {desc_id} 0 R ] "
            f"/ToUnicode {tu_id} 0 R >>").encode()
        objs[desc_id] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCJK "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>")
        cmap_z = zlib.compress(_tounicode_cmap(cjk_chars))
        objs[tu_id] = (b"<< /Filter /FlateDecode /Length %d >>\nstream\n"
                       % len(cmap_z) + cmap_z + b"\nendstream")

    if modern:
        return _assemble_modern(objs, compress)
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for oid in sorted(objs):
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objs) + 1
    out += b"xref\n0 %d\n" % n
    out += b"0000000000 65535 f \n"
    for oid in range(1, n):
        out += b"%010d 00000 n \n" % offsets[oid]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % (n, xref_at))
    return bytes(out)


def _tounicode_cmap(chars: list[str]) -> bytes:
    """ToUnicode CMap for CIDs 1..n over ``chars`` (sorted unique):
    runs of consecutive BMP codepoints emit as bfrange (start-string
    increment form), everything else (singletons, non-BMP chars whose
    UTF-16 is a surrogate pair) as bfchar — so decoder round trips
    cover both destination forms."""
    ranges: list[tuple[int, int, str]] = []   # (cid_lo, cid_hi, ch_lo)
    chars_list = list(chars)
    i = 0
    while i < len(chars_list):
        j = i
        while (j + 1 < len(chars_list)
               and ord(chars_list[j + 1]) == ord(chars_list[j]) + 1
               and ord(chars_list[j + 1]) <= 0xFFFF):
            j += 1
        ranges.append((i + 1, j + 1, chars_list[i]))
        i = j + 1

    def hex16(s: str) -> str:
        return s.encode("utf-16-be").hex().upper()

    bfchars = [(lo, ch) for lo, hi, ch in ranges if lo == hi]
    bfranges = [(lo, hi, ch) for lo, hi, ch in ranges if lo != hi]
    parts = [
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        "/CMapName /SynthCJK-UCS def\n/CMapType 2 def\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    ]
    if bfchars:
        parts.append(f"{len(bfchars)} beginbfchar\n")
        parts += [f"<{cid:04X}> <{hex16(ch)}>\n" for cid, ch in bfchars]
        parts.append("endbfchar\n")
    if bfranges:
        parts.append(f"{len(bfranges)} beginbfrange\n")
        parts += [f"<{lo:04X}> <{hi:04X}> <{hex16(ch)}>\n"
                  for lo, hi, ch in bfranges]
        parts.append("endbfrange\n")
    parts.append("endcmap\nCMapName currentdict /CMap defineresource pop\n"
                 "end\nend")
    return "".join(parts).encode("latin-1")


def _assemble_modern(objs: dict[int, bytes], compress: bool) -> bytes:
    """1.5+ assembly: objects 1-3 (the document dicts) packed into an
    ObjStm; page/content objects direct; one xref stream with Up
    predictor rows."""
    packed = [oid for oid in (1, 2, 3) if oid in objs]
    direct = sorted(set(objs) - set(packed))
    objstm_id = max(objs) + 1
    xref_id = objstm_id + 1

    offs_in: dict[int, int] = {}
    bodies = bytearray()
    for oid in packed:
        offs_in[oid] = len(bodies)
        bodies += objs[oid] + b"\n"
    header = (" ".join(f"{oid} {offs_in[oid]}" for oid in packed)
              + "\n").encode()
    stm = bytes(header + bodies)
    payload = zlib.compress(stm) if compress else stm
    filt = b"/Filter /FlateDecode " if compress else b""
    objstm = (b"<< /Type /ObjStm /N %d /First %d " % (len(packed),
                                                      len(header))
              + filt + b"/Length %d >>\nstream\n" % len(payload)
              + payload + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for oid in direct:
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    offsets[objstm_id] = len(out)
    out += b"%d 0 obj\n" % objstm_id + objstm + b"\nendobj\n"
    xref_at = len(out)
    offsets[xref_id] = xref_at

    size = xref_id + 1
    rows = []
    for onum in range(size):
        if onum == 0:
            rows.append((0, 0, 65535))
        elif onum in packed:
            rows.append((2, objstm_id, packed.index(onum)))
        else:
            rows.append((1, offsets[onum], 0))
    stride = 1 + 4 + 2
    raw_rows = [bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
                for t, f2, f3 in rows]
    # PNG Up predictor (type 12), as real writers emit
    pred = bytearray()
    prev = bytes(stride)
    for row in raw_rows:
        pred.append(2)
        pred += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        prev = row
    xdata = zlib.compress(bytes(pred))
    xdict = (b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
             b"/Filter /FlateDecode /DecodeParms << /Predictor 12 "
             b"/Columns %d >> /Length %d >>" % (size, stride, len(xdata)))
    out += (b"%d 0 obj\n" % xref_id + xdict + b"\nstream\n" + xdata
            + b"\nendstream\nendobj\n")
    out += b"startxref\n%d\n%%%%EOF" % xref_at
    return bytes(out)


def _num(v) -> bytes:
    s = f"{v:.2f}".rstrip("0").rstrip(".") if isinstance(v, float) else str(v)
    return s.encode()


# ---------------------------------------------------------------------------
# object / token parsing
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def token(self):
        """Next syntactic token: returns a python value for atoms, or
        one of the marker strings '<<' '>>' '[' ']' or an operator/
        keyword name."""
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise ValueError("truncated PDF object")
        c = d[self.pos]
        if d[self.pos:self.pos + 2] == b"<<":
            self.pos += 2
            return "<<"
        if d[self.pos:self.pos + 2] == b">>":
            self.pos += 2
            return ">>"
        if c == 0x5B:
            self.pos += 1
            return "["
        if c == 0x5D:
            self.pos += 1
            return "]"
        if c == 0x2F:  # /Name
            self.pos += 1
            start = self.pos
            while self.pos < n and d[self.pos] not in _WS \
                    and d[self.pos] not in _DELIM:
                self.pos += 1
            return _Name(d[start:self.pos].decode("latin-1"))
        if c == 0x28:  # (literal string)
            return self._literal_string()
        if c == 0x3C:  # <hex string>
            return self._hex_string()
        # number / keyword / operator
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS \
                and d[self.pos] not in _DELIM:
            self.pos += 1
        word = d[start:self.pos]
        if not word:
            raise ValueError(f"bad PDF token at offset {start}")
        try:
            return int(word)
        except ValueError:
            pass
        try:
            return float(word)
        except ValueError:
            pass
        return word.decode("latin-1")

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # (
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash escape
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
                       0x28: 40, 0x29: 41, 0x5C: 92}
                if e in esc:
                    out.append(esc[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # \ooo (1-3 octal digits)
                    o = 0
                    for _ in range(3):
                        if self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                            o = o * 8 + (d[self.pos] - 0x30)
                            self.pos += 1
                        else:
                            break
                    out.append(o & 0xFF)
                elif e in (13, 10):  # line continuation
                    self.pos += 1
                    if e == 13 and self.pos < n and d[self.pos] == 10:
                        self.pos += 1
                else:  # unknown escape: the char itself (§7.3.4.2)
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            elif c == 0x0D:
                # §7.3.4.2: an unescaped EOL marker (CR, LF, or CRLF)
                # inside a literal string is treated as a single 0x0A
                out.append(0x0A)
                self.pos += 1
                if self.pos < n and d[self.pos] == 0x0A:
                    self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated PDF literal string")

    def _hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # <
        digits = []
        while self.pos < n and d[self.pos] != 0x3E:
            c = d[self.pos]
            if c not in _WS:
                digits.append(chr(c))
            self.pos += 1
        if self.pos >= n:
            raise ValueError("unterminated PDF hex string")
        self.pos += 1  # >
        if len(digits) % 2:
            digits.append("0")
        try:
            return bytes.fromhex("".join(digits))
        except ValueError as e:
            raise ValueError("bad PDF hex string") from e


class _Name(str):
    """PDF /Name — distinct from strings so dict keys and operator
    operands keep their identity."""


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"_Ref({self.num})"


def _parse_value(lx: _Lexer):
    tok = lx.token()
    return _parse_from(lx, tok)


def _parse_from(lx: _Lexer, tok):
    if tok == "<<":
        d = {}
        while True:
            k = lx.token()
            if k == ">>":
                return d
            if not isinstance(k, _Name):
                raise ValueError("PDF dict key is not a name")
            d[str(k)] = _parse_value(lx)
    if tok == "[":
        arr = []
        while True:
            t = lx.token()
            if t == "]":
                return arr
            arr.append(_parse_from(lx, t))
    if isinstance(tok, int):
        # possible "N G R" indirect reference
        save = lx.pos
        try:
            g = lx.token()
            r = lx.token()
        except ValueError:
            lx.pos = save
            return tok
        if isinstance(g, int) and r == "R":
            return _Ref(tok)
        lx.pos = save
        return tok
    if tok == "true":
        return True
    if tok == "false":
        return False
    if tok == "null":
        return None
    return tok


# ---------------------------------------------------------------------------
# document structure
# ---------------------------------------------------------------------------

def _undiff(rows: np.ndarray, bpp: int) -> np.ndarray:
    """Horizontal-differencing decode of (h, stride) uint8 rows, shared
    by TIFF Predictor 2, PDF Predictor 2 and the PNG Sub filter: each
    byte is stored as the delta from the byte ``bpp`` to its left, so
    decoding is a per-row cumulative sum mod 256 over each byte lane."""
    h, stride = rows.shape
    return np.cumsum(rows.reshape(h, stride // bpp, bpp), axis=1,
                     dtype=np.uint8).reshape(h, stride)


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG row filtering -> (h, stride) uint8, for PNG scanlines
    and PDF's PNG predictors (>= 10) alike.

    ``raw`` holds h rows, each a 1-byte filter type + ``stride`` filtered
    bytes. None/Sub/Up are vectorized; Average and Paeth keep the
    sequential left-dependency, so those rows loop per byte — bounded by
    stride, never the whole image."""
    if len(raw) != h * (1 + stride):
        raise ValueError("truncated PNG pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y, ftype in enumerate(rows[:, 0].tolist()):
        row = rows[y, 1:]
        if ftype == 0:  # None
            out[y] = row
        elif ftype == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            out[y] = _undiff(row[None], bpp)[0]
        elif ftype == 2:  # Up
            out[y] = row + prev
        elif ftype in (3, 4):  # Average, Paeth
            rec, up = bytearray(row.tobytes()), prev.tobytes()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = up[x]
                if ftype == 3:
                    pr = (a + b) >> 1
                else:  # RFC 2083 §6.6: nearest of left/up/up-left
                    c = up[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
                rec[x] = (rec[x] + pr) & 0xFF
            out[y] = np.frombuffer(rec, dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        prev = out[y]
    return out


def _apply_predictor(raw: bytes, parms) -> bytes:
    """§7.4.4.4 LZW/Flate predictors: 1 = none, 2 = TIFF horizontal
    differencing (8-bit components only; rows are exactly ``stride``
    bytes of left-neighbour deltas), >=10 = PNG row filters (each row
    led by a filter-type byte — the same five filters as PNG
    scanlines)."""
    def _int(v) -> bool:
        # bool subclasses int: '/Predictor true' must raise, not be
        # silently treated as True == 1 (no predictor)
        return isinstance(v, int) and not isinstance(v, bool)

    parms = parms if isinstance(parms, dict) else {}
    pred = parms.get("Predictor", 1)
    if not _int(pred):
        # /Predictor /X, null, or a boolean must fail as the
        # contractual ValueError, not a TypeError / silent no-op
        raise ValueError("bad PDF predictor parameters")
    if pred == 1:
        return raw
    cols = parms.get("Columns", 1)
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    if not _int(cols) or cols <= 0 or bpc != 8 \
            or not _int(colors) or colors <= 0:
        raise ValueError("bad PDF predictor parameters")
    if pred != 2 and pred < 10:
        raise ValueError(f"bad PDF predictor {pred}")
    stride = cols * colors
    row_len = stride if pred == 2 else stride + 1
    if len(raw) % row_len:
        raise ValueError("PDF predicted stream length mismatch")
    h = len(raw) // row_len
    if pred == 2:
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        return _undiff(rows, colors).tobytes()
    return _png_unfilter(raw, h, stride, colors).tobytes()


# ---------------------------------------------------------------------------
# stream filters beyond Flate (§7.4): the transport codings the
# pre-Flate / text-transport web actually used — LZW was the original
# compression default, ASCII85/ASCIIHex wrap binary streams for 7-bit
# transport, RunLength shows up in scanned/legacy producers. Each has a
# paired encoder so round-trips are testable without external libs.
# ---------------------------------------------------------------------------

def _ascii_hex_decode(raw: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' = EOD (required), an
    odd final digit is padded with 0."""
    out = bytearray()
    hi = None
    for b in raw:
        c = chr(b)
        if c == ">":
            if hi is not None:
                out.append(int(hi + "0", 16))
            return bytes(out)
        if c in " \t\r\n\f\0":
            continue
        if c not in "0123456789abcdefABCDEF":
            raise ValueError("bad PDF ASCIIHex character")
        if hi is None:
            hi = c
        else:
            out.append(int(hi + c, 16))
            hi = None
    raise ValueError("PDF ASCIIHex stream missing EOD")


def _ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def _ascii85_decode(raw: bytes) -> bytes:
    """§7.4.3: base-85 groups of 5 chars ('!'..'u') -> 4 bytes; 'z' =
    four zero bytes (only BETWEEN groups); '~>' = EOD (required); a
    final partial group of n chars is padded with 'u' and yields n-1
    bytes; a 1-char final group and group values >= 2^32 are errors."""
    out = bytearray()
    group: list[int] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c in b" \t\r\n\f\0":
            i += 1
            continue
        if c == 0x7E:                       # '~'
            if raw[i:i + 2] != b"~>":
                raise ValueError("bad PDF ASCII85 EOD")
            if len(group) == 1:
                raise ValueError("PDF ASCII85 dangling final character")
            if group:
                k = len(group)
                v = 0
                for g in group + [84] * (5 - k):
                    v = v * 85 + g
                if v > 0xFFFFFFFF:
                    raise ValueError("PDF ASCII85 group overflow")
                out += v.to_bytes(4, "big")[: k - 1]
            return bytes(out)
        if c == 0x7A:                       # 'z'
            if group:
                raise ValueError("PDF ASCII85 'z' inside a group")
            out += b"\0\0\0\0"
            if len(out) > _MAX_STREAM_BYTES:
                raise ValueError("PDF stream exceeds the inflate bound")
            i += 1
            continue
        if not 0x21 <= c <= 0x75:           # '!'..'u'
            raise ValueError("bad PDF ASCII85 character")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("PDF ASCII85 group overflow")
            out += v.to_bytes(4, "big")
            if len(out) > _MAX_STREAM_BYTES:
                raise ValueError("PDF stream exceeds the inflate bound")
            group = []
        i += 1
    raise ValueError("PDF ASCII85 stream missing EOD")


def _ascii85_encode(data: bytes) -> bytes:
    # stdlib a85 IS PDF's base-85 ('!'..'u', 'z' shorthand, partial
    # groups) — only the '~>' EOD marker is PDF-specific. The custom
    # DECODER above stays: it needs PDF whitespace rules, named errors,
    # and the DoS bound.
    return base64.a85encode(data) + b"~>"


def _run_length_decode(raw: bytes) -> bytes:
    """§7.4.5: length byte L: 0..127 copies the next L+1 bytes
    literally, 129..255 repeats the next byte 257-L times, 128 = EOD
    (required)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        length = raw[i]
        if length == 128:
            return bytes(out)
        if length < 128:
            lit = raw[i + 1:i + 2 + length]
            if len(lit) != length + 1:
                raise ValueError("truncated PDF RunLength literal")
            out += lit
            i += 2 + length
        else:
            if i + 1 >= n:
                raise ValueError("truncated PDF RunLength run")
            out += raw[i + 1:i + 2] * (257 - length)
            i += 2
        if len(out) > _MAX_STREAM_BYTES:
            raise ValueError("PDF stream exceeds the inflate bound")
    raise ValueError("PDF RunLength stream missing EOD")


def _packbits_encode(data: bytes) -> bytes:
    """PackBits (TIFF §9), the coding PDF's RunLengthDecode shares: runs
    of 2-128 equal bytes as (257 - n, byte), everything else as literals
    of up to 128 bytes led by n - 1. No EOD marker: a TIFF strip ends at
    its decoded length, and ``_run_length_encode`` appends PDF's."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        if j > i:                       # run of j-i+1 equal bytes
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
            continue
        j = i                           # literal up to next run
        while (j + 1 < n and j - i < 127
               and not (j + 2 < n and data[j + 1] == data[j + 2])):
            j += 1
        out.append(j - i)
        out += data[i:j + 1]
        i = j + 1
    return bytes(out)


def _run_length_encode(data: bytes) -> bytes:
    """§7.4.5 RunLengthDecode's encoder: PackBits plus the 128 EOD."""
    return _packbits_encode(data) + b"\x80"


def _lzw_decode(raw: bytes, early: int = 1, min_code: int = 8,
                lsb: bool = False, n_out: int | None = None) -> bytes:
    """The package's one LZW decoder (§7.4.4, TIFF §13, GIF89a): Clear =
    2**min_code resets the table, Clear+1 ends the stream, table codes
    start at Clear+2, and each code is min(12, (next_code +
    early).bit_length()) bits wide. PDF and TIFF read MSB-first codes over
    256 literals with /EarlyChange ``early`` and require the end code; GIF
    reads LSB-first (``lsb``) with early 0 and stops at ``n_out`` pixels,
    returning them short on an early end code. A full 4096-entry table
    stops growing (§7.4.4.2 lets an encoder defer the Clear until then).
    Without ``n_out`` the output is bounded by _MAX_STREAM_BYTES."""
    clear = 1 << min_code
    first = clear + 2
    out = bytearray()
    table: list[bytes] = []
    next_code = first
    prev: bytes | None = None
    acc = nbits = 0
    i, n = 0, len(raw)
    while n_out is None or len(out) < n_out:
        width = min(12, (next_code + early).bit_length())
        while nbits < width:
            if i >= n:
                raise ValueError("truncated LZW stream")
            if lsb:
                acc |= raw[i] << nbits
            else:
                acc = (acc << 8) | raw[i]
            nbits += 8
            i += 1
        nbits -= width
        if lsb:
            code = acc & ((1 << width) - 1)
            acc >>= width
        else:
            # keep only the unread bits: an accumulator that keeps every
            # byte grows with the stream, making each shift (and the
            # decode) quadratic
            code = acc >> nbits
            acc &= (1 << nbits) - 1
        if code == clear + 1:
            break
        if code == clear:
            table, next_code, prev = [], first, None
            continue
        if code < clear:
            entry = bytes((code,))
        elif code - first < len(table):
            entry = table[code - first]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]     # the KwKwK case
        else:
            raise ValueError("invalid LZW code")
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
        out += entry
        if n_out is None and len(out) > _MAX_STREAM_BYTES:
            raise ValueError("PDF stream exceeds the inflate bound")
        prev = entry
    return bytes(out[:n_out])


def _lzw_encode(data: bytes, early: int = 1, full_tables: bool = False,
                min_code: int = 8, lsb: bool = False) -> bytes:
    """The package's one LZW encoder, greedy and bit-synchronized with
    _lzw_decode under the same ``early``, ``min_code`` and ``lsb``: PDF
    and TIFF keep the defaults, GIF passes early 0, its min code size
    and LSB-first codes (every ``data`` byte must then be < Clear). The
    width is recomputed from the DECODER's table size (one entry behind
    the encoder's — the decoder adds on read, starting from the second
    code). The default emits a conservative early Clear; §7.4.4.2 also
    permits deferring the Clear until the table is COMPLETELY full —
    ``full_tables=True`` exercises that spec edge (the decoder must
    cap the width at 12 and stop growing, not raise)."""
    clear = 1 << min_code
    first_code = clear + 2
    acc = nbits = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        if lsb:
            acc |= code << nbits
        else:
            acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            if lsb:
                out.append(acc & 0xFF)
                acc >>= 8
            else:
                out.append((acc >> nbits) & 0xFF)
        if not lsb:
            acc &= (1 << nbits) - 1  # unwritten bits only, as in the decoder

    emit(clear, min_code + 1)
    table: dict[bytes, int] = {}
    enc_next = first_code
    dec_next = first_code
    width = min_code + 1
    first = True

    def emitted_one() -> None:
        # mirror the decoder: it grows its table after every code
        # except the first following a Clear, then recomputes width
        nonlocal first, dec_next, width
        if first:
            first = False
        else:
            dec_next += 1
        width = min(12, (dec_next + early).bit_length())

    cur = b""
    for k in range(len(data)):
        nxt = cur + data[k:k + 1]
        if len(nxt) == 1 or nxt in table:
            cur = nxt
            continue
        emit(table[cur] if len(cur) > 1 else cur[0], width)
        emitted_one()
        table[nxt] = enc_next
        enc_next += 1
        cur = nxt[-1:]
        if dec_next >= (4096 - early if full_tables else 4094 - early):
            # default: reset conservatively early; full_tables: defer
            # to the completely-full table per §7.4.4.2
            emit(clear, width)
            table.clear()
            enc_next = first_code
            dec_next = first_code
            width = min_code + 1
            first = True
    if cur:
        emit(table[cur] if len(cur) > 1 else cur[0], width)
        emitted_one()
    emit(clear + 1, width)
    if nbits:  # pad the last byte with zero bits
        out.append(acc & 0xFF if lsb else (acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _flate_decode(raw: bytes) -> bytes:
    dec = zlib.decompressobj()
    try:
        data = dec.decompress(raw, _MAX_STREAM_BYTES + 1)
    except zlib.error as e:
        raise ValueError("corrupt PDF Flate stream") from e
    if len(data) > _MAX_STREAM_BYTES:
        raise ValueError("PDF stream exceeds the inflate bound")
    if not dec.eof:
        # a payload cut off mid-stream decompresses its prefix without
        # error — every sibling decoder raises 'truncated' for the
        # same condition, and silent partial text is worse
        raise ValueError("truncated PDF Flate stream")
    return data


# filter name -> (decode(raw, parms), takes_predictor)
# image-coding filters (§7.4.8-10 + DCT): terminate a /Filter chain on
# /Subtype /Image streams; _stream_data leaves the stream at the coded
# bytes and extract_pdf_images performs (or refuses) the image decode
_IMAGE_CODINGS = frozenset(
    {"DCTDecode", "CCITTFaxDecode", "JBIG2Decode", "JPXDecode"})

_FILTERS = {
    "FlateDecode": (lambda raw, parms: _flate_decode(raw), True),
    "LZWDecode": (lambda raw, parms: _lzw_decode(
        raw, _lzw_early(parms)), True),
    "ASCIIHexDecode": (lambda raw, parms: _ascii_hex_decode(raw), False),
    "ASCII85Decode": (lambda raw, parms: _ascii85_decode(raw), False),
    "RunLengthDecode": (lambda raw, parms: _run_length_decode(raw), False),
}

# encoder side (applied in REVERSE /Filter order by encode_pdf)
_ENCODERS = {
    "FlateDecode": zlib.compress,
    "LZWDecode": _lzw_encode,
    "ASCIIHexDecode": _ascii_hex_encode,
    "ASCII85Decode": _ascii85_encode,
    "RunLengthDecode": _run_length_encode,
}


def _lzw_early(parms) -> int:
    parms = parms if isinstance(parms, dict) else {}
    early = parms.get("EarlyChange", 1)
    if isinstance(early, bool) or early not in (0, 1):
        raise ValueError("bad PDF LZW EarlyChange")
    return early


class _Doc:
    def __init__(self, data: bytes):
        self.data = data
        self.offsets: dict[int, int] = {}
        # PDF 1.5+ type-2 entries: obj num -> (object-stream num, index)
        self.in_stream: dict[int, tuple[int, int]] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._resolving: set[int] = set()  # cycle guard (e.g. an ObjStm
        # whose /Length ref lives inside itself — cache fills only on
        # return, so without this the mutual recursion is unbounded)
        self._parse_xref_chain()

    def _parse_xref_chain(self) -> None:
        d = self.data
        at = d.rfind(b"startxref")
        if at < 0:
            raise ValueError("PDF has no startxref")
        lx = _Lexer(d, at + len(b"startxref"))
        off = lx.token()
        if not _strict_int(off) or not (0 <= off < len(d)):
            # a negative offset would silently index from the file
            # TAIL via Python slicing and parse garbage
            raise ValueError("bad startxref offset")
        for _ in range(_MAX_XREF_CHAIN):
            lx = _Lexer(d, off)
            first = lx.token()
            if first == "xref":
                prev = self._parse_xref_table(lx)
            elif isinstance(first, int):
                # "N G obj" — a PDF 1.5+ cross-reference STREAM
                prev = self._parse_xref_stream(off)
            else:
                raise ValueError("bad PDF xref section")
            if prev is None:
                return
            if not _strict_int(prev) or not (0 <= prev < len(d)):
                # non-int / negative /Prev must fail HERE as the
                # contractual ValueError, not as a TypeError in the
                # lexer or a silent tail-indexed parse
                raise ValueError("bad PDF /Prev offset")
            off = prev
        raise ValueError("PDF xref /Prev chain too long")

    def _take_trailer(self, trailer: dict):
        for k, v in trailer.items():
            self.trailer.setdefault(k, v)
        if "Encrypt" in trailer:
            raise ValueError("encrypted PDF unsupported")
        return trailer.get("Prev")

    def _parse_xref_table(self, lx: _Lexer):
        while True:
            t = lx.token()
            if t == "trailer":
                break
            start = t
            count = lx.token()
            if not _strict_int(start) or not _strict_int(count) \
                    or count < 0 or start + count > _MAX_OBJECTS:
                raise ValueError("bad PDF xref subsection header")
            for i in range(count):
                o = lx.token()
                _gen = lx.token()
                kind = lx.token()
                # incremental-update precedence: the chain parses
                # NEWEST section first, so an object already mapped —
                # including as a type-2 in_stream entry by a newer
                # xref STREAM — must NOT be overridden by this older
                # table (the stream path checks both maps; checking
                # only offsets here returned STALE pre-update objects)
                if kind == "n" and (start + i) not in self.offsets \
                        and (start + i) not in self.in_stream:
                    if not _strict_int(o) or o < 0:
                        # a malformed offset must fail HERE as a
                        # ValueError, not later as a TypeError when
                        # obj() compares it to ints
                        raise ValueError("bad PDF xref entry offset")
                    self.offsets[start + i] = o
        trailer = _parse_value(lx)
        if not isinstance(trailer, dict):
            raise ValueError("bad PDF trailer")
        # hybrid-reference file (§7.5.8.4): a classic table whose
        # trailer points at a SUPPLEMENTARY xref stream holding the
        # compressed-object entries old readers can't see
        if _strict_int(trailer.get("XRefStm")) \
                and 0 <= trailer["XRefStm"] < len(self.data):
            self._parse_xref_stream(trailer["XRefStm"])
        return self._take_trailer(trailer)

    def _parse_xref_stream(self, off: int):
        """§7.5.8: the xref as a stream object — /W field widths,
        /Index subsections, FlateDecode + optional PNG row predictors;
        entry types 0 (free) / 1 (offset) / 2 (in object stream). The
        trailer fields live in the stream dict itself."""
        lx = _Lexer(self.data, off)
        num, gen, kw = lx.token(), lx.token(), lx.token()
        if not _strict_int(num) or kw != "obj":
            raise ValueError("bad PDF xref stream object header")
        sdict = _parse_value(lx)
        if not isinstance(sdict, dict) or lx.token() != "stream":
            raise ValueError("PDF xref stream object has no stream")
        if isinstance(sdict.get("Length"), _Ref):
            # §7.5.8.2: xref stream dict entries shall be direct —
            # resolving a ref here would need the xref being parsed
            raise ValueError("PDF xref stream /Length must be direct")
        raw = self._stream_data(lx, sdict)  # applies /DecodeParms too
        w = sdict.get("W")
        size = sdict.get("Size")
        if (not isinstance(w, list) or len(w) != 3
                or not all(_strict_int(x) and 0 <= x <= 8 for x in w)
                or sum(w) == 0  # zero row width would never consume
                                # data: /Index loops spin unboundedly
                or not _strict_int(size)):
            raise ValueError("bad PDF xref stream /W or /Size")
        index = sdict.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            raise ValueError("bad PDF xref stream /Index")
        rw = sum(w)
        pos = 0
        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            if not _strict_int(start) or not _strict_int(count) \
                    or count < 0 or start + count > _MAX_OBJECTS:
                raise ValueError("bad PDF xref stream /Index range")
            for i in range(count):
                row = raw[pos:pos + rw]
                if len(row) < rw:
                    raise ValueError("truncated PDF xref stream data")
                pos += rw
                f = []
                p = 0
                for width in w:
                    f.append(int.from_bytes(row[p:p + width], "big"))
                    p += width
                etype = f[0] if w[0] else 1  # w1=0 -> default type 1
                onum = start + i
                if etype == 1 and onum not in self.offsets \
                        and onum not in self.in_stream:
                    self.offsets[onum] = f[1]
                elif etype == 2 and onum not in self.offsets \
                        and onum not in self.in_stream:
                    self.in_stream[onum] = (f[1], f[2])
        return self._take_trailer(sdict)

    def resolve(self, v):
        if isinstance(v, _Ref):
            return self.obj(v.num)
        return v

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self._resolving:
            raise ValueError("circular PDF object references")
        self._resolving.add(num)
        try:
            return self._obj_uncached(num)
        finally:
            self._resolving.discard(num)

    def _obj_uncached(self, num: int):
        if num not in self.offsets and num in self.in_stream:
            val = self._objstm_member(num)
            self._cache[num] = val
            return val
        off = self.offsets.get(num)
        if off is None or not (0 <= off < len(self.data)):
            raise ValueError(f"PDF object {num} missing from xref")
        lx = _Lexer(self.data, off)
        n_, g_, kw = lx.token(), lx.token(), lx.token()
        if n_ != num or kw != "obj":
            raise ValueError(f"PDF xref offset for object {num} is wrong")
        val = _parse_value(lx)
        if isinstance(val, dict):
            save = lx.pos
            try:
                nxt = lx.token()
            except ValueError:
                nxt = None
            if nxt == "stream":
                val = ("stream", val, self._stream_data(lx, val))
            else:
                lx.pos = save
        self._cache[num] = val
        return val

    def _objstm_member(self, num: int):
        """§7.5.7 object streams: N pairs of (objnum, offset) then the
        concatenated direct objects starting at /First. Streams cannot
        nest in an ObjStm, and the container itself must be a plain
        type-1 object (no ObjStm-in-ObjStm)."""
        stm_num, _idx = self.in_stream[num]
        if stm_num in self.in_stream:
            raise ValueError("PDF object stream container inside an "
                             "object stream")
        container = self.obj(stm_num)
        if not (isinstance(container, tuple) and container[0] == "stream"
                and str(container[1].get("Type", "")) == "ObjStm"):
            raise ValueError("PDF type-2 xref entry does not point at "
                             "an object stream")
        sdict, data = container[1], container[2]
        n, first = sdict.get("N"), sdict.get("First")
        if not _strict_int(n) or not _strict_int(first) \
                or not (0 <= first <= len(data)) or n < 0:
            raise ValueError("bad PDF object stream /N or /First")
        lx = _Lexer(data, 0)
        off = None
        for _ in range(n):
            onum, ooff = lx.token(), lx.token()
            if not _strict_int(onum) or not _strict_int(ooff):
                raise ValueError("bad PDF object stream pair table")
            if onum == num:
                off = ooff
        if off is None or off < 0 or first + off > len(data):
            # a NEGATIVE pair offset would otherwise index from the
            # stream tail and silently parse a wrong object
            raise ValueError(f"PDF object {num} missing from its "
                             "object stream")
        return _parse_value(_Lexer(data, first + off))

    def _stream_data(self, lx: _Lexer, sdict: dict) -> bytes:
        d = lx.data
        p = lx.pos
        # EOL after 'stream' keyword: CRLF or LF (§7.3.8.1)
        if d[p:p + 2] == b"\r\n":
            p += 2
        elif d[p:p + 1] == b"\n":
            p += 1
        length = self.resolve(sdict.get("Length"))
        if not _strict_int(length) or length < 0 \
                or p + length > len(d):
            raise ValueError("bad PDF stream /Length")
        raw = d[p:p + length]
        filt = self.resolve(sdict.get("Filter"))
        if filt is None:
            return raw
        filts = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(sdict.get("DecodeParms"))
        parms_list = parms if isinstance(parms, list) else [parms]
        for i, f in enumerate(filts):
            f = self.resolve(f)
            if (str(f) in _IMAGE_CODINGS and i == len(filts) - 1
                    and str(self.resolve(sdict.get("Subtype", "")))
                    == "Image"):
                # image XObjects: the TRAILING image-coding filter
                # (§7.4.8/9/10) is not a byte transport — leave the
                # stream at its coded form; extract_pdf_images applies
                # the actual image decode (JPEG via operators/jpeg.py)
                # or raises the named boundary. A DCT on a NON-image
                # stream, or not in last position, still raises below.
                return raw
            entry = _FILTERS.get(str(f))
            if entry is None:
                raise ValueError(f"PDF filter {f} unsupported")
            decode, takes_predictor = entry
            p_i = self.resolve(
                parms_list[i] if i < len(parms_list) else None)
            raw = decode(raw, p_i)
            # predictors apply to EVERY predicted stream, not just the
            # xref call site — a content stream with /Predictor 12 would
            # otherwise feed filter-coded bytes to the interpreter.
            # Only Flate and LZW take predictors (§7.4.4.4); the ASCII /
            # RunLength transports have no DecodeParms.
            if takes_predictor:
                raw = _apply_predictor(raw, p_i)
        return raw

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("PDF trailer has no /Root catalog")
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node, depth: int) -> None:
            if depth > 64:
                raise ValueError("PDF page tree too deep")
            if len(out) + len(seen) > _MAX_OBJECTS:
                raise ValueError("PDF page tree too large")
            node = self.resolve(node)
            if not isinstance(node, dict):
                raise ValueError("bad PDF page tree node")
            t = str(node.get("Type", ""))
            if t == "Pages":
                # the depth cap alone leaves repeated /Kids refs
                # exponential (k -> [k+1, k+1] doubles per level, all
                # under depth 64); a Pages node may appear ONCE
                if id(node) in seen:
                    raise ValueError("PDF page tree repeats a node")
                seen.add(id(node))
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid, depth + 1)
            elif t == "Page":
                out.append(node)
            else:
                raise ValueError(f"bad PDF page tree node type {t!r}")

        walk(tree, 0)
        return out

    def page_content(self, page: dict) -> bytes:
        c = self.resolve(page.get("Contents"))
        if c is None:
            return b""  # /Contents is optional (§7.7.3.3): a blank page
        parts = c if isinstance(c, list) else [c]
        data = bytearray()
        for part in parts:
            part = self.resolve(part)
            if not (isinstance(part, tuple) and part[0] == "stream"):
                raise ValueError("PDF page /Contents is not a stream")
            data += part[2]
            data += b"\n"
        return bytes(data)

    def _page_resources(self, page: dict) -> dict:
        # /Resources is INHERITABLE (§7.7.3.4): real files commonly
        # declare fonts once on the /Pages root — walk the /Parent
        # chain until a Resources dict appears, or the CID-font guard
        # in decode_pdf would silently scan nothing
        node: dict | None = page
        for _ in range(64):
            if node is None or not isinstance(node, dict):
                break
            res = self.resolve(node.get("Resources"))
            if res is not None:
                if not isinstance(res, dict):
                    raise ValueError("bad PDF /Resources")
                return res
            parent = node.get("Parent")
            if parent is None:
                break
            node = self.resolve(parent)
        return {}

    def _resource_dict(self, page: dict, key: str) -> dict:
        entry = self.resolve(self._page_resources(page).get(key)) or {}
        if not isinstance(entry, dict):
            raise ValueError(f"bad PDF /{key} resource")
        return {k: self.resolve(v) for k, v in entry.items()}

    def page_fonts(self, page: dict) -> dict[str, dict]:
        return self._resource_dict(page, "Font")

    def page_xobjects(self, page: dict) -> dict[str, object]:
        return self._resource_dict(page, "XObject")


# ---------------------------------------------------------------------------
# content-stream interpretation (text + layout)
# ---------------------------------------------------------------------------

def _mat_mul(a, b):
    """2D affine (a0 a1 a2 a3 a4 a5) as the PDF row-vector convention:
    result = a THEN b (i.e. [x y 1] * a * b)."""
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _decode_text(raw: bytes) -> str:
    return raw.decode("latin-1")


# ---------------------------------------------------------------------------
# Type0 / Identity-H composite fonts (§9.7): 2-byte CIDs mapped to
# Unicode through the font's /ToUnicode CMap (§9.10.3). Identity-H is
# how virtually every CJK web PDF embeds text; other CMap encodings
# keep the honest raise (decoding them needs the full predefined-CMap
# registry).
# ---------------------------------------------------------------------------

_MAX_CMAP_ENTRIES = 1 << 17   # mapping-count bound (DoS)

_BFCHAR_RE = re.compile(r"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(r"beginbfrange(.*?)endbfrange", re.S)
_HEX_PAIR_RE = re.compile(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_RE = re.compile(
    r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    r"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])")
_HEX_ITEM_RE = re.compile(r"<([0-9A-Fa-f]+)>")
_WS_RE = re.compile(r"\s*")


def _utf16be_hex(h: str) -> str:
    try:
        return bytes.fromhex(h).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError) as e:
        raise ValueError("bad PDF ToUnicode destination string") from e


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """ToUnicode CMap stream -> {CID: unicode string}. Supports bfchar
    pairs and bfrange in both destination forms (start-string with the
    spec's increment-the-last-code-unit rule, and the explicit array).
    Bounded: total mappings <= _MAX_CMAP_ENTRIES."""
    text = data.decode("latin-1", errors="replace")
    out: dict[int, str] = {}

    def add(cid: int, s: str) -> None:
        if cid > 0xFFFF:
            raise ValueError("PDF ToUnicode CID exceeds 2 bytes")
        if len(out) >= _MAX_CMAP_ENTRIES:
            raise ValueError("PDF ToUnicode CMap too large")
        out[cid] = s

    def _entries(block: str, pat: re.Pattern):
        # STRICT sequential parse: every non-whitespace byte of the
        # block must belong to a matched entry. A lenient finditer
        # would misalign on an unsupported entry form (e.g. a missing
        # destination) and silently consume the NEXT entry's bounds as
        # a destination — corrupting neighbours instead of raising
        # (review finding). Positional match only — slicing the block
        # per entry would be quadratic, an executor-pinning DoS on a
        # crafted multi-MB CMap (review finding).
        pos = 0
        while True:
            pos = _WS_RE.match(block, pos).end()
            if pos >= len(block):
                return
            m = pat.match(block, pos)
            if m is None:
                raise ValueError("malformed PDF ToUnicode CMap entry")
            yield m
            pos = m.end()

    for block in _BFCHAR_RE.findall(text):
        for m in _entries(block, _HEX_PAIR_RE):
            add(int(m.group(1), 16), _utf16be_hex(m.group(2)))
    for block in _BFRANGE_RE.findall(text):
        for m in _entries(block, _RANGE_RE):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if hi < lo or hi - lo > 0xFFFF:
                raise ValueError("bad PDF ToUnicode bfrange bounds")
            if m.group(4) is not None:      # explicit array form
                dsts = _HEX_ITEM_RE.findall(m.group(4))
                if len(dsts) != hi - lo + 1:
                    raise ValueError(
                        "PDF ToUnicode bfrange array length mismatch")
                for i, d in enumerate(dsts):
                    add(lo + i, _utf16be_hex(d))
            else:                           # start string + increment
                base = bytearray(bytes.fromhex(m.group(3)))
                if len(base) < 2 or len(base) % 2:
                    raise ValueError(
                        "bad PDF ToUnicode destination string")
                start = int.from_bytes(base[-2:], "big")
                for i in range(hi - lo + 1):
                    # §9.10.3: only the LAST UTF-16 code unit increments
                    unit = start + i
                    if unit > 0xFFFF:
                        raise ValueError(
                            "PDF ToUnicode bfrange increment overflow")
                    base[-2:] = unit.to_bytes(2, "big")
                    add(lo + i, _utf16be_hex(base.hex()))
    return out


def _font_decoder(doc: "_Doc", fdict: dict):
    """Font dict -> bytes->str decoder for its show strings. Simple
    (1-byte) fonts decode latin-1; Type0/Identity-H decodes 2-byte
    CIDs through /ToUnicode; anything else raises the honest named
    ValueError."""
    if fdict is not None and not isinstance(fdict, dict):
        raise ValueError("bad PDF font object")
    sub = str((fdict or {}).get("Subtype", ""))
    if sub != "Type0":
        return _decode_text
    enc = doc.resolve(fdict.get("Encoding"))
    if str(enc) != "Identity-H":
        raise ValueError(
            f"PDF Type0 encoding {enc} unsupported (Identity-H only — "
            "predefined CMaps need the full Adobe registry)")
    tu = doc.resolve(fdict.get("ToUnicode"))
    if not (isinstance(tu, tuple) and tu[0] == "stream"):
        raise ValueError(
            "PDF Type0 font without /ToUnicode — extracting raw CIDs "
            "as text would be silent garbage")
    cmap = _parse_tounicode(tu[2])

    def dec(raw: bytes) -> str:
        if len(raw) % 2:
            raise ValueError("odd-length PDF Identity-H show string")
        parts = []
        for i in range(0, len(raw), 2):
            cid = (raw[i] << 8) | raw[i + 1]
            s = cmap.get(cid)
            if s is None:
                raise ValueError(
                    f"PDF CID {cid} missing from the /ToUnicode CMap")
            parts.append(s)
        return "".join(parts)

    return dec


def parse_pdf(payload: bytes) -> "_Doc":
    """Parse the file structure once; the returned document can be
    passed to both decode_pdf and extract_pdf_images so a feature
    extractor needing text AND images walks the xref/object graph a
    single time (review finding: building a fresh _Doc in each API
    doubled the non-JPEG decode cost of pdf_features)."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    return _Doc(payload)


def decode_pdf(payload):
    """payload (bytes, or a parse_pdf result) -> list of pages, each a
    list of (x, y, size, text) runs in content order. x/y are
    device-space positions of the run's text matrix (Tm composed with
    the CTM at show time)."""
    doc = payload if isinstance(payload, _Doc) else parse_pdf(payload)
    pages_out = []
    # memoize per font OBJECT (resolve() caches, so the same font dict
    # is identity-stable across pages): N pages inheriting one Type0
    # font parse its ToUnicode CMap once, not N times
    dec_cache: dict[int, object] = {}
    for page in doc.pages():
        decoders = {}
        for fname, fdict in doc.page_fonts(page).items():
            key = id(fdict)
            if key not in dec_cache:
                dec_cache[key] = _font_decoder(doc, fdict)
            decoders[fname] = dec_cache[key]
        runs = _interpret_content(doc.page_content(page), decoders)
        pages_out.append(runs)
    return pages_out


def _interpret_content(content: bytes, decoders=None):
    decoders = decoders or {}
    lx = _Lexer(content)
    stack: list = []
    ctm = _ID
    gstack: list = []
    tm = lm = _ID
    size = 0.0
    leading = 0.0
    in_text = False
    cur_dec = _decode_text
    runs = []

    def show(raw) -> None:
        if not in_text:
            raise ValueError("PDF text shown outside BT/ET")
        if not isinstance(raw, bytes):
            # '5 Tj' / '/X Tj' must fail as the documented ValueError,
            # not an AttributeError escaping decode_pdf
            raise ValueError("PDF show operand is not a string")
        dev = _mat_mul(tm, ctm)
        runs.append((dev[4], dev[5], size, cur_dec(raw)))

    _EI = re.compile(rb"(?<=[\x00\t\n\x0c\r ])EI(?=[\x00\t\n\x0c\r/%<>\[\](]|$)")

    def skip_inline_image() -> None:
        # BI <dict entries> ID <raw bytes> EI (§8.9.7): the raw bytes
        # must NOT reach the lexer — '(…) Tj'-shaped bytes inside image
        # data would otherwise emit phantom runs
        while True:
            t = lx.token()
            if t == "ID":
                break
            # token() yields the STRINGS "true"/"false"/"null"/"[" for
            # those atoms (never python bool/list) — a guard written
            # against the python types rejected valid headers like
            # '/IM true' or '/D [1 0]' (review finding)
            if t in ("<<", "["):
                _parse_from(lx, t)
            elif t in ("true", "false", "null"):
                pass
            elif not isinstance(t, (_Name, int, float, bytes)):
                raise ValueError("malformed PDF inline image header")
        m = _EI.search(lx.data, lx.pos)
        if m is None:
            raise ValueError("unterminated PDF inline image")
        lx.pos = m.end()

    while True:
        lx._skip_ws()
        if lx.pos >= len(lx.data):
            break
        tok = lx.token()
        if tok in ("<<", "["):
            stack.append(_parse_from(lx, tok))
            continue
        if isinstance(tok, (int, float, bytes, _Name)) or tok is None \
                or isinstance(tok, (dict, list, bool)):
            stack.append(tok)
            continue
        op = tok
        try:
            if op == "q":
                # §8.4.2 Table 52: the saved graphics state includes
                # the TEXT state (font => decoder, size, leading), not
                # just the CTM — a Q that restored only the CTM would
                # leave a stale decoder (silent mojibake) or a stale
                # TL (wrong T*/'/" line positions) afterwards
                gstack.append((ctm, size, leading, cur_dec))
                if len(gstack) > 256:
                    raise ValueError("PDF graphics-state stack too deep")
            elif op == "Q":
                # unbalanced Q: real interpreters ignore it — resetting
                # to identity would silently move every later run
                if gstack:
                    ctm, size, leading, cur_dec = gstack.pop()
            elif op == "cm":
                m = tuple(float(v) for v in stack[-6:])
                ctm = _mat_mul(m, ctm)
            elif op == "BT":
                in_text = True
                tm = lm = _ID
            elif op == "ET":
                in_text = False
            elif op == "Tf":
                size = float(stack[-1])
                # the named font selects the show-string decoder
                # (latin-1 for simple fonts, CID->Unicode for
                # Type0/Identity-H); an unnamed/unknown font keeps the
                # simple-font default
                if len(stack) >= 2 and isinstance(stack[-2], _Name):
                    cur_dec = decoders.get(str(stack[-2]), _decode_text)
            elif op == "TL":
                leading = float(stack[-1])
            elif op == "Td":
                tx, ty = float(stack[-2]), float(stack[-1])
                lm = _mat_mul((1, 0, 0, 1, tx, ty), lm)
                tm = lm
            elif op == "TD":
                tx, ty = float(stack[-2]), float(stack[-1])
                leading = -ty
                lm = _mat_mul((1, 0, 0, 1, tx, ty), lm)
                tm = lm
            elif op == "Tm":
                tm = lm = tuple(float(v) for v in stack[-6:])
            elif op == "T*":
                lm = _mat_mul((1, 0, 0, 1, 0, -leading), lm)
                tm = lm
            elif op == "Tj":
                show(stack[-1])
            elif op == "'":
                lm = _mat_mul((1, 0, 0, 1, 0, -leading), lm)
                tm = lm
                show(stack[-1])
            elif op == '"':
                lm = _mat_mul((1, 0, 0, 1, 0, -leading), lm)
                tm = lm
                show(stack[-1])
            elif op == "TJ":
                arr = stack[-1]
                if not isinstance(arr, list):
                    raise ValueError("TJ operand is not an array")
                text = b"".join(p for p in arr if isinstance(p, bytes))
                show(text)
            elif op == "BI":
                skip_inline_image()
            # every other operator (colors, paths, Tc/Tw/Tz/Ts, Do…) is
            # a no-op for text extraction
        except (IndexError, TypeError, AttributeError) as e:
            raise ValueError(f"malformed PDF content near {op!r}") from e
        stack.clear()
    return runs


# ---------------------------------------------------------------------------
# layout reading order
# ---------------------------------------------------------------------------

_LINE_TOL = 2.0  # y tolerance (points) for same-line grouping


def layout_pages(pages) -> list[str]:
    """decode_pdf output -> one string per page in reading order: runs
    grouped into lines by y (within _LINE_TOL), lines sorted
    top-to-bottom, runs within a line left-to-right, space-joined;
    lines newline-joined. Separate from decode_pdf so feature
    extractors parse each payload ONCE."""
    out = []
    for runs in pages:
        ordered = sorted(runs, key=lambda r: (-r[1], r[0]))
        lines: list[list] = []
        for r in ordered:
            if lines and abs(lines[-1][0][1] - r[1]) <= _LINE_TOL:
                lines[-1].append(r)
            else:
                lines.append([r])
        page_lines = []
        for line in lines:
            line.sort(key=lambda r: r[0])
            page_lines.append(" ".join(r[3] for r in line))
        out.append("\n".join(page_lines))
    return out


def extract_pdf_text(payload: bytes) -> list[str]:
    """decode + layout in one call (the deterministic reading-order pass
    the extraction pipeline applies before text analysis)."""
    return layout_pages(decode_pdf(payload))


# ---------------------------------------------------------------------------
# embedded images (image XObjects, §8.9.5) — DCTDecode through the
# in-repo JPEG decoder (operators/jpeg.py); raw 8-bit RGB/Gray samples
# after any transport cascade; CCITTFax/JBIG2/JPX stay honest raises.
# ---------------------------------------------------------------------------


def extract_pdf_images(payload: bytes):
    """payload -> per page, a list of (name, pixels) with pixels an
    HxWx3 uint8 ndarray — every /Subtype /Image XObject reachable from
    the page's (inherited) /Resources, decoded for real:

    - trailing /DCTDecode -> operators/jpeg.py (baseline+progressive,
      subsampling, restart markers), after any §7.4 transport cascade
      ([ASCII85Decode, DCTDecode] etc.) which _stream_data already
      applied;
    - no image coding -> raw samples, 8 bits/component, /DeviceRGB or
      /DeviceGray (broadcast to 3 channels), strict length check;
    - /CCITTFaxDecode, /JBIG2Decode, /JPXDecode -> named ValueError
      (no pure-stdlib decoder in scope), as does /Subtype /Form (a
      nested content stream, not pixels) and sub-8-bit or exotic
      color spaces.

    Enumerating the resource dict (sorted by name) rather than Do
    operators is deliberate: features must not depend on how many
    times a page paints the same XObject, and our encoder draws every
    declared image exactly once. Dimensions are cross-checked against
    /Width//Height so a forged header can't mislabel pixel data.
    Accepts bytes or a parse_pdf result (share one parse with
    decode_pdf — see parse_pdf)."""
    from .jpeg import decode_jpeg

    doc = payload if isinstance(payload, _Doc) else parse_pdf(payload)
    pages_out = []
    decoded_cache: dict[int, object] = {}
    for page in doc.pages():
        imgs = []
        for name, xo in sorted(doc.page_xobjects(page).items()):
            if not (isinstance(xo, tuple) and xo[0] == "stream"):
                raise ValueError("PDF XObject is not a stream")
            sdict, data = xo[1], xo[2]
            key = id(xo)
            if key in decoded_cache:
                imgs.append((name, decoded_cache[key]))
                continue
            sub = str(doc.resolve(sdict.get("Subtype", "")))
            if sub != "Image":
                raise ValueError(
                    f"PDF XObject subtype {sub or '(none)'} unsupported")
            w = doc.resolve(sdict.get("Width"))
            h = doc.resolve(sdict.get("Height"))
            if not (_strict_int(w) and _strict_int(h)) \
                    or w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
                raise ValueError("bad PDF image /Width //Height")
            filt = doc.resolve(sdict.get("Filter"))
            # '/Filter [ ]' is legal (zero filters, raw samples) — an
            # unguarded filts[-1] would IndexError (review finding)
            filts = ([] if filt is None
                     else filt if isinstance(filt, list) else [filt])
            coding = str(doc.resolve(filts[-1])) if filts else None
            if coding is not None and coding not in _IMAGE_CODINGS:
                coding = None  # pure transport chain: already decoded
            if coding == "DCTDecode":
                arr = decode_jpeg(bytes(data))
                if arr.shape[0] != h or arr.shape[1] != w:
                    raise ValueError(
                        "PDF image /Width //Height disagree with the "
                        "embedded JPEG frame")
            elif coding is not None:
                raise ValueError(f"PDF image coding {coding} unsupported")
            else:
                bpc = doc.resolve(sdict.get("BitsPerComponent"))
                cs = str(doc.resolve(sdict.get("ColorSpace", "")))
                if bpc != 8 or isinstance(bpc, bool):
                    raise ValueError(
                        f"PDF raw image BitsPerComponent {bpc} unsupported")
                if cs == "DeviceRGB":
                    ncomp = 3
                elif cs == "DeviceGray":
                    ncomp = 1
                else:
                    raise ValueError(
                        f"PDF raw image ColorSpace {cs} unsupported")
                if len(data) != w * h * ncomp:
                    raise ValueError("PDF raw image data length disagrees "
                                     "with /Width //Height")
                arr = np.frombuffer(bytes(data), dtype=np.uint8) \
                    .reshape(h, w, ncomp)
                if ncomp == 1:
                    arr = np.repeat(arr, 3, axis=2)
            decoded_cache[key] = arr
            imgs.append((name, arr))
        pages_out.append(imgs)
    return pages_out
