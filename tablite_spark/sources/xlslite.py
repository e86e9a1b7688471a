"""Minimal legacy ``.xls`` codec (pure stdlib) — the ``.xls`` reader
behind ``from_file``.

Two public formats are involved (both Microsoft-published):

* **CFB / OLE2 compound file** ([MS-CFB]): 512-byte header, DIFAT →
  FAT sector chains, a directory stream of 128-byte entries, and a
  mini-FAT whose sectors live inside the root entry's stream for
  streams < 4096 bytes.  The reader implements all of that; the
  writer emits a single-stream file whose stream is padded to the
  4096-byte mini-stream cutoff so no mini-FAT is needed.
* **BIFF8** ([MS-XLS]): the ``Workbook`` stream's record sequence.
  Reader: BOF/BOUNDSHEET walk, SST (+CONTINUE splits with per-chunk
  compression flags), LABELSST, NUMBER, RK/MULRK, BOOLERR, LABEL,
  FORMULA cached numeric results, EOF.  Writer: a minimal
  single-sheet workbook (BOF, BOUNDSHEET, SST, LABELSST/NUMBER,
  EOF) for fixtures and round-trip tests.

Scope: cell values plus MINIMAL number-format awareness — XF/FORMAT
records are parsed just enough to classify date-formatted cells
(builtin date ifmt ranges + a ymdhs heuristic over custom format
strings, the xlrd approach) and convert their serials to
``datetime.datetime`` via the shared Excel epoch (1899-12-30, or
1904-01-01 under DATEMODE).  Fonts, colors, alignment and the rest
of the XF payload are ignored.  Original from-spec implementation
like hdf5lite/png/jpeg/gif.
"""
from __future__ import annotations

import datetime as _dt
import struct

ENDOFCHAIN = 0xFFFFFFFE
FREESECT = 0xFFFFFFFF
_CFB_SIG = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


# ---------------------------------------------------------------- CFB read

def _cfb_stream(data: bytes, name: str) -> bytes:
    """Extract a named stream from a compound file."""
    if data[:8] != _CFB_SIG:
        raise ValueError("not an OLE2 compound file")
    sect_shift, mini_shift = struct.unpack_from("<HH", data, 30)
    ssz, msz = 1 << sect_shift, 1 << mini_shift
    (n_fat,) = struct.unpack_from("<I", data, 44)
    (dir_start,) = struct.unpack_from("<I", data, 48)
    (mini_cutoff,) = struct.unpack_from("<I", data, 56)
    minifat_start, n_minifat, difat_start, n_difat = struct.unpack_from(
        "<IIII", data, 60)

    def sector(i: int) -> bytes:
        off = 512 + i * ssz
        return data[off: off + ssz]

    # DIFAT: 109 header entries + chained difat sectors
    difat = list(struct.unpack_from("<109I", data, 76))
    s = difat_start
    for _ in range(n_difat):
        if s in (ENDOFCHAIN, FREESECT):
            break
        body = sector(s)
        difat += struct.unpack(f"<{ssz // 4 - 1}I", body[:-4])
        (s,) = struct.unpack("<I", body[-4:])
    fat: list[int] = []
    for fs in difat[:n_fat]:
        if fs in (ENDOFCHAIN, FREESECT):
            continue
        fat += struct.unpack(f"<{ssz // 4}I", sector(fs))

    def chain(start: int, limit: int | None = None) -> bytes:
        out, s, seen = [], start, 0
        while s != ENDOFCHAIN and s != FREESECT:
            out.append(sector(s))
            s = fat[s]
            seen += 1
            if seen > len(fat) + 1:
                raise ValueError("FAT chain cycle")
        raw = b"".join(out)
        return raw if limit is None else raw[:limit]

    directory = chain(dir_start)
    entries = {}
    root_entry = None
    for off in range(0, len(directory) - 127, 128):
        e = directory[off: off + 128]
        (name_len,) = struct.unpack_from("<H", e, 64)
        if name_len < 2:
            continue
        ename = e[: name_len - 2].decode("utf-16-le", errors="replace")
        etype = e[66]
        (start,) = struct.unpack_from("<I", e, 116)
        (size,) = struct.unpack_from("<Q", e, 120)
        if etype == 5:
            root_entry = (start, size)
        elif etype == 2:
            entries[ename] = (start, size)
    if name not in entries:
        raise KeyError(f"no stream {name!r}; have {sorted(entries)}")
    start, size = entries[name]
    if size >= mini_cutoff:
        return chain(start, size)
    # mini-stream: mini-FAT chain inside the root entry's stream
    if root_entry is None:
        raise ValueError("mini-stream without root entry")
    mini_container = chain(root_entry[0], root_entry[1])
    minifat: list[int] = []
    s = minifat_start
    for _ in range(n_minifat):
        if s in (ENDOFCHAIN, FREESECT):
            break
        minifat += struct.unpack(f"<{ssz // 4}I", sector(s))
        s = fat[s]
    out, s = [], start
    while s != ENDOFCHAIN and s != FREESECT:
        out.append(mini_container[s * msz: (s + 1) * msz])
        s = minifat[s]
    return b"".join(out)[:size]


# --------------------------------------------------------------- BIFF read

def _biff_records(stream: bytes, pos: int = 0):
    while pos + 4 <= len(stream):
        rid, ln = struct.unpack_from("<HH", stream, pos)
        yield rid, stream[pos + 4: pos + 4 + ln], pos
        pos += 4 + ln


def _read_unicode(buf: bytes, pos: int, cch: int,
                  continues: list[bytes]) -> tuple[str, bytes, int]:
    """XLUnicodeRichExtendedString body (after cch+grbit), possibly
    spilling into CONTINUE chunks that each restate the compression
    flag. ``continues`` is consumed in place. Returns
    ``(text, active_buf, pos)`` — the caller resumes parsing at
    ``pos`` inside ``active_buf`` (which may be a CONTINUE chunk, not
    the buffer passed in)."""
    grbit = buf[pos]
    pos += 1
    rich = grbit & 0x08
    ext = grbit & 0x04
    c_run = phonetic = 0
    if rich:
        (c_run,) = struct.unpack_from("<H", buf, pos)
        pos += 2
    if ext:
        (phonetic,) = struct.unpack_from("<I", buf, pos)
        pos += 4
    chars: list[str] = []
    wide = bool(grbit & 0x01)
    need = cch
    while need:
        if pos >= len(buf):
            buf = continues.pop(0)
            wide = bool(buf[0] & 0x01)
            pos = 1
        avail = (len(buf) - pos) // (2 if wide else 1)
        take = min(need, avail)
        if wide:
            chars.append(buf[pos: pos + 2 * take].decode("utf-16-le"))
            pos += 2 * take
        else:
            chars.append(buf[pos: pos + take].decode("latin-1"))
            pos += take
        need -= take
    # skip formatting runs / extended data (may also span continues)
    skip = 4 * c_run + phonetic
    while skip:
        if pos >= len(buf):
            buf = continues.pop(0)
            pos = 0
        step = min(skip, len(buf) - pos)
        pos += step
        skip -= step
    return "".join(chars), buf, pos


def _parse_sst(body: bytes, continues: list[bytes]) -> list[str]:
    (_total, unique) = struct.unpack_from("<II", body, 0)
    pos, buf = 8, body
    out = []
    for _ in range(unique):
        if pos + 3 > len(buf):
            buf = continues.pop(0)
            pos = 0
        (cch,) = struct.unpack_from("<H", buf, pos)
        pos += 2
        s, buf, pos = _read_unicode(buf, pos, cch, continues)
        out.append(s)
    return out


def _rk_value(rk: int) -> float:
    mul = rk & 0x01
    if rk & 0x02:  # signed 30-bit integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val = float(v)
    else:  # top 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (rk & ~0x3) << 32))[0]
    return val / 100.0 if mul else val


# Builtin BIFF number-format ids that render as dates/times
# ([MS-XLS] 2.4.126; same classification xlrd uses): 14-22 date/time,
# 27-36 locale date variants, 45-47 elapsed-time, 50-58 more locale
# variants.
_DATE_IFMTS = (set(range(14, 23)) | set(range(27, 37))
               | {45, 46, 47} | set(range(50, 59)))


def _is_date_format(fmt: str) -> bool:
    """ymdhs heuristic over a custom format string with quoted
    literals, [bracket] sections and backslash escapes stripped —
    the minimal classification trick xlrd popularized."""
    out: list[str] = []
    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == '"':
            j = fmt.find('"', i + 1)
            i = n if j < 0 else j + 1
        elif ch == "[":
            j = fmt.find("]", i + 1)
            i = n if j < 0 else j + 1
        elif ch == "\\":
            i += 2
        else:
            out.append(ch)
            i += 1
    t = "".join(out).lower().replace("general", "")
    return any(c in t for c in "ymdhs")


def _serial_to_datetime(serial: float, date1904: bool) -> _dt.datetime:
    """Excel day serial → datetime. Epoch 1899-12-30 folds in the
    fictional 1900-02-29 for post-1900 dates (matches
    xlsx.excel_serial_to_timestamp); rounded to the millisecond to
    suppress binary-fraction noise in the serial."""
    base = _dt.datetime(1904, 1, 1) if date1904 \
        else _dt.datetime(1899, 12, 30)
    return base + _dt.timedelta(milliseconds=round(serial * 86_400_000))


def parse_xls(data: bytes) -> dict[str, list[list]]:
    """{sheet_name: rows} — row-major cell values (str/float/bool/
    datetime/None), trailing missing cells trimmed per row. Numeric
    cells whose XF carries a date format come back as
    ``datetime.datetime``."""
    wb = _cfb_stream_any(data, ("Workbook", "Book"))
    sheets: list[tuple[str, int]] = []
    sst: list[str] = []
    xf_ifmts: list[int] = []
    custom_fmts: dict[int, str] = {}
    date1904 = False
    records = list(_biff_records(wb))
    for i, (rid, body, _pos) in enumerate(records):
        if rid == 0x0085:  # BOUNDSHEET
            (stream_pos,) = struct.unpack_from("<I", body, 0)
            cch = body[6]
            grbit = body[7]
            raw = body[8: 8 + cch * (2 if grbit & 1 else 1)]
            name = raw.decode("utf-16-le" if grbit & 1 else "latin-1")
            sheets.append((name, stream_pos))
        elif rid == 0x00FC:  # SST + its immediately-following CONTINUEs
            cont_run = []
            for r, b, _p in records[i + 1:]:
                if r == 0x003C:
                    cont_run.append(b)
                else:
                    break
            sst = _parse_sst(body, cont_run)
        elif rid == 0x00E0:  # XF: only ifmt (offset 2) matters here
            xf_ifmts.append(struct.unpack_from("<H", body, 2)[0])
        elif rid == 0x041E:  # FORMAT: custom number-format string
            (ifmt,) = struct.unpack_from("<H", body, 0)
            cch, grbit = struct.unpack_from("<HB", body, 2)
            raw = body[5: 5 + cch * (2 if grbit & 1 else 1)]
            custom_fmts[ifmt] = raw.decode(
                "utf-16-le" if grbit & 1 else "latin-1")
        elif rid == 0x0022:  # DATEMODE (1904 date system)
            date1904 = bool(struct.unpack_from("<H", body, 0)[0])

    def _cell_num(v: float, ixfe: int):
        if ixfe < len(xf_ifmts):
            ifmt = xf_ifmts[ixfe]
            if (ifmt in custom_fmts and _is_date_format(custom_fmts[ifmt])
                    ) or (ifmt not in custom_fmts and ifmt in _DATE_IFMTS):
                return _serial_to_datetime(v, date1904)
        return v

    out: dict[str, list[list]] = {}
    for name, spos in sheets:
        cells: dict[tuple[int, int], object] = {}
        for rid, body, _p in _biff_records(wb, spos):
            if rid == 0x000A:  # EOF
                break
            if rid == 0x00FD:  # LABELSST
                r, c, _xf, isst = struct.unpack_from("<HHHI", body, 0)
                cells[(r, c)] = sst[isst] if isst < len(sst) else None
            elif rid == 0x0203:  # NUMBER
                r, c, xf = struct.unpack_from("<HHH", body, 0)
                (v,) = struct.unpack_from("<d", body, 6)
                cells[(r, c)] = _cell_num(v, xf)
            elif rid == 0x027E:  # RK
                r, c, xf, rk = struct.unpack_from("<HHHI", body, 0)
                cells[(r, c)] = _cell_num(_rk_value(rk), xf)
            elif rid == 0x00BD:  # MULRK
                r, c0 = struct.unpack_from("<HH", body, 0)
                n = (len(body) - 6) // 6
                for j in range(n):
                    xf, rk = struct.unpack_from(
                        "<HI", body, 4 + 6 * j)
                    cells[(r, c0 + j)] = _cell_num(_rk_value(rk), xf)
            elif rid == 0x0205:  # BOOLERR
                r, c, _xf, val, is_err = struct.unpack_from(
                    "<HHHBB", body, 0)
                cells[(r, c)] = None if is_err else bool(val)
            elif rid == 0x0204:  # LABEL (inline string)
                r, c, _xf, cch, grbit = struct.unpack_from(
                    "<HHHHB", body, 0)
                raw = body[9: 9 + cch * (2 if grbit & 1 else 1)]
                cells[(r, c)] = raw.decode(
                    "utf-16-le" if grbit & 1 else "latin-1")
            elif rid == 0x0006:  # FORMULA: cached numeric result only
                r, c, xf = struct.unpack_from("<HHH", body, 0)
                raw = body[6:14]
                if raw[6:8] != b"\xff\xff":
                    (v,) = struct.unpack("<d", raw)
                    cells[(r, c)] = _cell_num(v, xf)
        if cells:
            max_r = max(r for r, _ in cells)
            max_c = max(c for _, c in cells)
            rows = [[cells.get((r, c)) for c in range(max_c + 1)]
                    for r in range(max_r + 1)]
        else:
            rows = []
        out[name] = rows
    return out


def _cfb_stream_any(data: bytes, names) -> bytes:
    err = None
    for n in names:
        try:
            return _cfb_stream(data, n)
        except KeyError as e:
            err = e
    raise err


# -------------------------------------------------------------- write side

def _rec(rid: int, body: bytes) -> bytes:
    return struct.pack("<HH", rid, len(body)) + body


def _biff_workbook(sheet: str, rows: list[list]) -> bytes:
    strings: list[str] = []
    sidx: dict[str, int] = {}
    n_str = 0
    cell_recs = []
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool):
                cell_recs.append(_rec(0x0205, struct.pack(
                    "<HHHBB", r, c, 15, int(v), 0)))
            elif isinstance(v, (int, float)):
                cell_recs.append(_rec(0x0203, struct.pack(
                    "<HHHd", r, c, 15, float(v))))
            elif isinstance(v, (_dt.datetime, _dt.date)):
                # XF 16 (ifmt 22, m/d/yy h:mm) marks the cell as a
                # date so the reader converts the serial back
                if not isinstance(v, _dt.datetime):
                    v = _dt.datetime(v.year, v.month, v.day)
                serial = (v - _dt.datetime(1899, 12, 30)) \
                    / _dt.timedelta(days=1)
                cell_recs.append(_rec(0x0203, struct.pack(
                    "<HHHd", r, c, 16, serial)))
            else:
                s = str(v)
                if s not in sidx:
                    sidx[s] = len(strings)
                    strings.append(s)
                n_str += 1
                cell_recs.append(_rec(0x00FD, struct.pack(
                    "<HHHI", r, c, 15, sidx[s])))
    sst_body = struct.pack("<II", n_str, len(strings))
    for s in strings:
        enc = s.encode("utf-16-le")
        sst_body += struct.pack("<HB", len(s), 1) + enc
    if len(sst_body) > 8192:
        raise NotImplementedError(
            "xlslite writer caps the SST at one record (8 KB)")
    sheet_raw = sheet.encode("utf-16-le")
    bof_wb = _rec(0x0809, struct.pack("<HHHHIi", 0x0600, 0x0005,
                                      0x2775, 0x07CD, 0xC1, 0x0406))
    bof_ws = _rec(0x0809, struct.pack("<HHHHIi", 0x0600, 0x0010,
                                      0x2775, 0x07CD, 0xC1, 0x0406))
    ws = bof_ws + b"".join(cell_recs) + _rec(0x000A, b"")

    # BOUNDSHEET carries the worksheet BOF offset: build once with a
    # placeholder to learn the globals length, then with the real one
    # minimal XF table: 15 style XFs + XF 15 (default cell, General)
    # + XF 16 (date cell, builtin ifmt 22 "m/d/yy h:mm") — cells
    # reference ixfe 15/16 above. Only ifmt at offset 2 is meaningful
    # to readers of this subset; style XFs carry the fStyle flag.
    def _xf(ifmt: int, style: bool) -> bytes:
        return _rec(0x00E0, struct.pack(
            "<HHH", 0, ifmt, 0xFFF5 if style else 0x0001) + b"\x00" * 14)
    xf_recs = b"".join([_xf(0, True)] * 15) + _xf(0, False) + _xf(22, False)

    def globals_part(offset: int) -> bytes:
        bsheet = _rec(0x0085, struct.pack(
            "<IBBBB", offset, 0, 0, len(sheet), 1) + sheet_raw)
        return (bof_wb + xf_recs + bsheet + _rec(0x00FC, sst_body)
                + _rec(0x000A, b""))

    head = globals_part(len(globals_part(0)))
    return head + ws


def _cfb_wrap(stream_name: str, stream: bytes,
              force_mini: bool = False) -> bytes:
    """Single-stream compound file. Default: the stream is padded to
    the 4096 mini-stream cutoff so no mini-FAT is required.  With
    ``force_mini`` (stream must be < 4096 bytes) it is stored in the
    root entry's mini-stream through a real mini-FAT — small
    real-world .xls files use this layout, and it exercises the
    reader's mini-FAT branch."""

    def dirent(name: str, etype: int, start: int, size: int,
               child: int = 0xFFFFFFFF) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        e = raw + b"\x00" * (64 - len(raw))
        e += struct.pack("<HBB", len(raw), etype, 1)
        e += struct.pack("<III", 0xFFFFFFFF, 0xFFFFFFFF, child)
        e += b"\x00" * 16 + b"\x00" * 4 + b"\x00" * 16
        e += struct.pack("<IQ", start, size)
        return e

    def header(n_fat: int, dir_sect: int, minifat_sect: int,
               n_minifat: int, fat_sect: int) -> bytes:
        h = _CFB_SIG + b"\x00" * 16
        h += struct.pack("<HHHHHH", 0x003E, 0x0003, 0xFFFE, 9, 6, 0)
        h += b"\x00" * 4  # remainder of the 6-byte reserved field
        h += struct.pack("<IIIIII", 0, n_fat, dir_sect, 0, 4096,
                         minifat_sect)
        h += struct.pack("<II", n_minifat, ENDOFCHAIN)
        h += struct.pack("<I", 0)
        h += struct.pack("<I", fat_sect) + b"\xff" * 4 * 108
        assert len(h) == 512, len(h)
        return h

    if force_mini:
        if len(stream) >= 4096:
            raise ValueError("force_mini needs a stream < 4096 bytes")
        size = len(stream)
        n_mini = (size + 63) // 64
        container = stream + b"\x00" * (n_mini * 64 - size)
        n_cont_sects = (len(container) + 511) // 512
        container += b"\x00" * (n_cont_sects * 512 - len(container))
        # sectors: [0..k-1] mini container, [k] mini-FAT, [k+1] dir,
        # [k+2] FAT
        minifat_sect, dir_sect = n_cont_sects, n_cont_sects + 1
        fat_sect = n_cont_sects + 2
        minifat = list(range(1, n_mini)) + [ENDOFCHAIN]
        minifat += [FREESECT] * (128 - len(minifat))
        fat = list(range(1, n_cont_sects)) + [ENDOFCHAIN]  # container
        fat += [ENDOFCHAIN, ENDOFCHAIN, 0xFFFFFFFD]  # minifat, dir, fat
        fat += [FREESECT] * (128 - len(fat))
        directory = dirent("Root Entry", 5, 0, len(container), child=1)
        directory += dirent(stream_name, 2, 0, size)
        directory += b"\x00" * (512 - 256)
        return (header(1, dir_sect, minifat_sect, 1, fat_sect)
                + container + struct.pack("<128I", *minifat)
                + directory + struct.pack("<128I", *fat))

    stream = stream + b"\x00" * max(0, 4096 - len(stream))
    n_stream_sects = (len(stream) + 511) // 512
    stream += b"\x00" * (n_stream_sects * 512 - len(stream))
    # sector layout: [0..n-1] stream, [n] directory, [n+1] FAT
    dir_sect = n_stream_sects
    fat_sect = n_stream_sects + 1
    fat = list(range(1, n_stream_sects)) + [ENDOFCHAIN]  # stream chain
    fat += [ENDOFCHAIN]  # directory
    fat += [0xFFFFFFFD]  # FAT sector marks itself
    fat += [FREESECT] * (128 - len(fat))
    directory = dirent("Root Entry", 5, ENDOFCHAIN, 0, child=1)
    directory += dirent(stream_name, 2, 0, len(stream))
    directory += b"\x00" * (512 - 256)
    body = stream + directory + struct.pack("<128I", *fat)
    return header(1, dir_sect, ENDOFCHAIN, 0, fat_sect) + body


def write_xls(path: str, rows: list[list], sheet: str = "Sheet1") -> None:
    """Minimal single-sheet BIFF8 .xls (values only)."""
    with open(path, "wb") as f:
        f.write(_cfb_wrap("Workbook", _biff_workbook(sheet, rows)))


def read_xls(path: str) -> dict[str, list[list]]:
    with open(path, "rb") as f:
        return parse_xls(f.read())
