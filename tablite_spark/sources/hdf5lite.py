"""Minimal pure-stdlib HDF5 codec (classic format) — the codec
behind ``read_hdf5`` / ``to_hdf5``.

Implements the subset of the public HDF5 File Format Specification
(https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html) that the
reference's column-per-dataset layout needs
(tablite/import_utils.py:72-109, tablite/export_utils.py:63-105):

* superblock version 0, 8-byte offsets/lengths
* one root group: v1 B-tree (single leaf) -> one SNOD symbol-table
  node -> local heap for link names
* one contiguous 1-D dataset per column, v1 object headers with
  Dataspace / Datatype / Data Layout (v3) messages
* datatypes: fixed-point (signed/unsigned 1/2/4/8), IEEE float
  (4/8), fixed-length strings (ASCII or UTF-8 payload)

The reader additionally tolerates object-header continuation blocks
and skips unknown messages, and since round 5 handles the storage
layouts h5py actually emits for real files: compact (inline) data,
CHUNKED layout via the v1 raw-data-chunk B-tree, the builtin
filter pipeline — deflate (zlib), shuffle, fletcher32 (checksum
stripped, not verified) — and, since round 6, VARIABLE-LENGTH
strings (datatype class 9 resolved through GCOL global-heap
collections — h5py's default layout for Python ``str`` datasets).
The writer can emit chunked/deflated datasets too (``chunk_rows=`` /
``compress=``).  Still out of scope (``NotImplementedError``):
vlen WRITE, vlen sequences (non-string), nested groups, attributes,
big-endian payloads, v2+ B-trees — at scale the path is convert-once
to parquet, exactly like the reference's ``.tpz``.

INTEROP CAVEAT: h5py is not a dependency, so files this
writer produces (including the chunked/deflated variant, whose
rightmost B-tree key encodes (nchunks*chunk_rows, itemsize) offsets)
are proven readable only by this module's own reader plus the
committed byte fixtures; ``tests/test_io.py`` carries h5py-gated
(skipif) cross-reader/cross-writer tests so interop is exercised
automatically wherever h5py IS available. The vlen READ path is
additionally pinned against a committed fixture whose bytes follow
the published spec layout h5py emits.

Like ``png.py`` / ``jpeg.py`` / ``xlsx.py`` / ``ods.py`` this is an
original from-spec implementation: the reference has no HDF5 codec of
its own (it delegates to h5py).
"""
from __future__ import annotations

import struct

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
_SIG = b"\x89HDF\r\n\x1a\n"
# group-leaf K: a SNOD holds up to 2K entries => 1024 columns max.
_LEAF_K = 512
_INTERNAL_K = 16


def _pad8(n: int) -> int:
    return (n + 7) & ~7


# ---------------------------------------------------------------- writer

def _dt_message(arr: np.ndarray) -> tuple[bytes, int]:
    """Datatype message body + element size for a 1-D numpy array."""
    k = arr.dtype.kind
    size = arr.dtype.itemsize
    if k in ("i", "u"):
        # class 0 fixed-point, version 1.  bit0 byte order (0=LE),
        # bit3 signed.
        bits = 0x08 if k == "i" else 0x00
        body = struct.pack("<B3BI", 0x10, bits, 0, 0, size)
        body += struct.pack("<HH", 0, size * 8)  # bit offset, precision
        return body, size
    if k == "f":
        if size == 8:
            exp_loc, exp_sz, man_sz, bias = 52, 11, 52, 1023
        elif size == 4:
            exp_loc, exp_sz, man_sz, bias = 23, 8, 23, 127
        else:
            raise NotImplementedError(f"float{size * 8} not supported")
        # class 1 float: LE, mantissa-normalization=2 (implied msb),
        # sign bit at position precision-1.
        body = struct.pack("<BBBBI", 0x11, 0x20, size * 8 - 1, 0, size)
        body += struct.pack("<HHBBBBI", 0, size * 8, exp_loc, exp_sz,
                            0, man_sz, bias)
        return body, size
    if k == "S":
        # class 3 string: null-pad (1) so short values read clean;
        # charset UTF-8 (bit4) — ASCII is a subset.
        body = struct.pack("<B3BI", 0x13, 0x01 | 0x10, 0, 0, size)
        return body, size
    raise TypeError(f"hdf5lite cannot store dtype {arr.dtype!r}")


def _message(mtype: int, body: bytes) -> bytes:
    padded = body + b"\x00" * (_pad8(len(body)) - len(body))
    return struct.pack("<HHB3x", mtype, len(padded), 0) + padded


def _object_header(n: int, dt_body: bytes,
                   data_addr: int, data_size: int,
                   extra: list[bytes] = ()) -> bytes:
    """v1 object header: Dataspace + Datatype + Layout(v3 contiguous)
    [+ extra pre-built messages, e.g. attributes]."""
    space = struct.pack("<BBB5xQ", 1, 1, 0, n)
    layout = struct.pack("<BBQQ", 3, 1, data_addr, data_size)
    msgs = (_message(0x0001, space) + _message(0x0003, dt_body)
            + _message(0x0008, layout) + b"".join(extra))
    return struct.pack("<BxHII4x", 1, 3 + len(extra), 1,
                       len(msgs)) + msgs


def _object_header_chunked(n: int, dt_body: bytes, bt_addr: int,
                           chunk_rows: int, itemsize: int,
                           gzip_level: int | None,
                           extra: list[bytes] = ()) -> bytes:
    """v1 object header: Dataspace + Datatype [+ Filter Pipeline]
    + Layout(v3 chunked, ndim+1 dims with the element size last)
    [+ extra pre-built messages]."""
    space = struct.pack("<BBB5xQ", 1, 1, 0, n)
    layout = (struct.pack("<BBB", 3, 2, 2)
              + struct.pack("<Q", bt_addr)
              + struct.pack("<II", chunk_rows, itemsize))
    msgs = _message(0x0001, space) + _message(0x0003, dt_body)
    nmsg = 3 + len(extra)
    if gzip_level is not None:
        # v1 pipeline, one filter: deflate(id 1), 1 client value
        # (the level), padded to an even count
        filt = (struct.pack("<BB6x", 1, 1)
                + struct.pack("<HHHH", 1, 0, 0, 1)
                + struct.pack("<I4x", gzip_level))
        msgs += _message(0x000B, filt)
        nmsg += 1
    msgs += _message(0x0008, layout) + b"".join(extra)
    return struct.pack("<BxHII4x", 1, nmsg, 1, len(msgs)) + msgs


def _attr_message(name: str, value) -> bytes:
    """Attribute message (0x000C, v1): scalar (rank 0) for plain
    python scalars, rank-1 for list/tuple values. Types go through
    the same ``_coerce``/``_dt_message`` path as dataset payloads."""
    is_seq = isinstance(value, (list, tuple, np.ndarray))
    arr = _coerce(list(value) if is_seq else [value])
    dt_body, _ = _dt_message(arr)
    if is_seq:
        ds = struct.pack("<BBB5xQ", 1, 1, 0, len(arr))
    else:
        ds = struct.pack("<BBB5x", 1, 0, 0)
    nb = name.encode("utf-8") + b"\x00"
    body = struct.pack("<BxHHH", 1, len(nb), len(dt_body), len(ds))
    body += nb + b"\x00" * (_pad8(len(nb)) - len(nb))
    body += dt_body + b"\x00" * (_pad8(len(dt_body)) - len(dt_body))
    body += ds + b"\x00" * (_pad8(len(ds)) - len(ds))
    body += arr.astype(arr.dtype.newbyteorder("<"), copy=False).tobytes()
    return _message(0x000C, body)


def _coerce(values) -> np.ndarray:
    """Column -> storable 1-D array; non-native values stringified
    (the reference's TypeError fallback, export_utils.py:99-101)."""
    arr = np.asarray(values)
    if arr.ndim != 1:
        raise ValueError("hdf5lite stores 1-D columns only")
    if arr.dtype.kind in ("i", "u", "f", "S"):
        return arr
    if arr.dtype.kind == "b":
        return np.array([b"True" if v else b"False" for v in arr])
    # str / object / datetime / mixed -> fixed-length utf-8 bytes
    enc = [("None" if v is None else str(v)).encode("utf-8")
           for v in arr.tolist()]
    width = max((len(b) for b in enc), default=1) or 1
    return np.array(enc, dtype=f"S{width}")


def write(path: str, columns: dict, *,
          chunk_rows: int | None = None,
          compress: bool | int = False,
          vlen_strings: bool = False,
          attrs: dict | None = None) -> None:
    """Write ``{name: 1-D array-like}`` as a classic-format HDF5 file
    with one root-level dataset per column — contiguous by default,
    chunked when ``chunk_rows`` is set or ``compress`` is truthy
    (deflate level 4, or the given int level). Chunked datasets use a
    single-leaf v1 chunk B-tree, so ``chunk_rows`` is raised if
    needed to keep a dataset at ≤ 32 chunks. With
    ``vlen_strings=True`` string columns are stored as
    variable-length strings through a GCOL global-heap collection —
    the layout h5py emits for Python ``str`` datasets — instead of
    fixed-length ``S{width}``; vlen datasets are always contiguous
    (the chunking/compress options apply to the other columns).

    Names may contain ``/`` to place datasets inside REAL nested
    groups (classic symbol-table groups — ``{"g/sub/x": [...]}``
    creates group ``g`` holding group ``sub`` holding dataset ``x``),
    matching what :func:`read` walks back out. ``attrs`` is an
    optional ``{object path: {attr name: value}}`` map — path ``""``
    targets the root group, a group path targets the group, a column
    name targets the dataset; values may be scalars or flat lists of
    int/float/str (read back by :func:`read_attrs`)."""
    names = sorted(columns)  # SNOD entries must sort by link name
    arrays = {n: _coerce(columns[n]) for n in names}

    # path tree: leaves hold the full column path, dicts are groups
    tree: dict = {}
    group_paths: set[str] = set()
    for n in names:
        parts = n.split("/")
        if any(not p for p in parts):
            raise ValueError(f"bad dataset path {n!r}")
        node, walked = tree, []
        for p in parts[:-1]:
            walked.append(p)
            nxt = node.setdefault(p, {})
            if not isinstance(nxt, dict):
                raise ValueError(
                    f"{'/'.join(walked)!r} is both a dataset and a group")
            group_paths.add("/".join(walked))
            node = nxt
        if isinstance(node.get(parts[-1]), dict):
            raise ValueError(f"{n!r} is both a dataset and a group")
        node[parts[-1]] = n

    attr_msgs: dict[str, list[bytes]] = {}
    for objpath, kv in (attrs or {}).items():
        if objpath != "" and objpath not in columns \
                and objpath not in group_paths:
            raise KeyError(f"attrs target {objpath!r} is neither a "
                           f"column nor a group")
        attr_msgs[objpath] = [_attr_message(k, v)
                              for k, v in sorted(kv.items())]

    out = bytearray()

    def alloc(block: bytes) -> int:
        addr = len(out)
        out.extend(block)
        out.extend(b"\x00" * (_pad8(len(out)) - len(out)))
        return addr

    out += b"\x00" * 96  # superblock, patched last

    gzip_level: int | None = None
    if compress:
        gzip_level = 4 if compress is True else int(compress)
    chunking = chunk_rows is not None or gzip_level is not None

    # datasets: object header then payload (contiguous), or chunks →
    # chunk B-tree → object header (chunked)
    header_addr = {}
    for n in names:
        arr = arrays[n]
        extra = attr_msgs.get(n, [])
        if vlen_strings and arr.dtype.kind == "S":
            # variable-length string dataset: payloads go to one GCOL
            # global-heap collection (object header: index u2,
            # refcount u2, reserved u4, size u8, data padded to 8;
            # index 0 = trailing free space); the dataset's raw data
            # is a 16-byte (length u4, collection address u8, object
            # index u4) reference per element. NOTE: numpy S-arrays
            # strip trailing NULs, so values genuinely ending in
            # \\x00 lose them — same caveat as the fixed-length path.
            # the heap object index is u2, so one collection holds at
            # most 65535 objects — split into multiple GCOLs (h5py
            # does the same, just with 4 KiB collections)
            vals = arr.tolist()
            refs: list[tuple[int, int, int]] = []  # (len, addr, idx)

            def flush_gcol(batch: list) -> None:
                gc = bytearray(b"GCOL" + struct.pack("<B3xQ", 1, 0))
                for i, s in enumerate(batch, start=1):
                    gc += struct.pack("<HHIQ", i, 1, 0, len(s))
                    gc += s + b"\x00" * (_pad8(len(s)) - len(s))
                gc += struct.pack("<HHIQ", 0, 0, 0, 0)
                struct.pack_into("<Q", gc, 8, len(gc))
                gcol_addr = alloc(bytes(gc))
                refs.extend((len(s), gcol_addr, i)
                            for i, s in enumerate(batch, start=1))

            for start in range(0, len(vals), 65535):
                flush_gcol(vals[start: start + 65535])
            raw = b"".join(struct.pack("<IQI", ln, gaddr, i)
                           for ln, gaddr, i in refs)
            # class 9 vlen v1: type=string (bits 0-3), charset UTF-8
            # (bits 8-11), element size 16; base type = 1-byte string
            dt_body = (struct.pack("<B3BI", 0x19, 0x01, 0x01, 0, 16)
                       + struct.pack("<B3BI", 0x13, 0x00, 0, 0, 1))
            hdr = _object_header(len(arr), dt_body, 0, len(raw), extra)
            addr = len(out)
            data_addr = addr + _pad8(len(hdr))
            hdr = _object_header(len(arr), dt_body, data_addr, len(raw),
                                 extra)
            alloc(hdr)
            assert len(out) == data_addr
            alloc(raw)
            header_addr[n] = addr
            continue
        dt_body, itemsize = _dt_message(arr)
        payload = arr.astype(arr.dtype.newbyteorder("<"), copy=False)
        raw = payload.tobytes()
        if chunking:
            import math
            import zlib
            nrows = len(arr)
            crows = chunk_rows or 65_536
            if nrows > 32 * crows:
                crows = math.ceil(nrows / 32)
            chunk_meta = []  # (row_offset, stored_nbytes, addr)
            for off in range(0, nrows, crows):
                blob = raw[off * itemsize: (off + crows) * itemsize]
                if len(blob) < crows * itemsize:  # chunks are whole
                    blob += b"\x00" * (crows * itemsize - len(blob))
                if gzip_level is not None:
                    blob = zlib.compress(blob, gzip_level)
                chunk_meta.append((off, len(blob), alloc(blob)))
            if chunk_meta:
                node = bytearray(b"TREE" + struct.pack(
                    "<BBHQQ", 1, 0, len(chunk_meta), UNDEF, UNDEF))
                for off, nbytes, caddr in chunk_meta:
                    node += struct.pack("<IIQQQ", nbytes, 0, off, 0,
                                        caddr)
                # rightmost key: first element offset beyond the data
                node += struct.pack("<IIQQ", 0, 0,
                                    len(chunk_meta) * crows, itemsize)
                bt_addr = alloc(bytes(node))
            else:
                bt_addr = UNDEF
            header_addr[n] = alloc(_object_header_chunked(
                nrows, dt_body, bt_addr, crows, itemsize, gzip_level,
                extra))
        else:
            # header precedes data; header length is deterministic
            hdr = _object_header(len(arr), dt_body, 0, len(raw), extra)
            addr = len(out)
            data_addr = addr + _pad8(len(hdr))
            hdr = _object_header(len(arr), dt_body, data_addr, len(raw),
                                 extra)
            alloc(hdr)
            assert len(out) == data_addr
            alloc(raw)
            header_addr[n] = addr

    def _group_block(entries: dict[str, int],
                     extra: list[bytes]) -> tuple[int, int, int]:
        """Classic symbol-table group: local heap + one SNOD + v1
        B-tree + object header (Symbol Table message [+ attribute
        messages]). Returns (header, btree, heap header) addresses —
        root needs the latter two for the superblock scratch."""
        if len(entries) > 2 * _LEAF_K:
            raise NotImplementedError(
                f"hdf5lite caps at {2 * _LEAF_K} links per group")
        gnames = sorted(entries)
        # heap offset 0 is the empty string (the B-tree's left key)
        heap = bytearray(b"\x00" * 8)
        name_off = {}
        for g in gnames:
            name_off[g] = len(heap)
            b = g.encode("utf-8") + b"\x00"
            heap += b + b"\x00" * (_pad8(len(b)) - len(b))
        heap_data_addr = alloc(bytes(heap))
        heap_hdr_addr = alloc(b"HEAP" + struct.pack(
            "<B3xQQQ", 0, len(heap), UNDEF, heap_data_addr))
        # SNOD with one 40-byte symbol-table entry per link
        snod = bytearray(b"SNOD" + struct.pack("<BBH", 1, 0,
                                               len(gnames)))
        for g in gnames:
            snod += struct.pack("<QQII16x", name_off[g], entries[g],
                                0, 0)
        snod += b"\x00" * (8 + 2 * _LEAF_K * 40 - len(snod))
        snod_addr = alloc(bytes(snod))
        # v1 B-tree: single leaf, keys are heap offsets (empty-string
        # lower bound, greatest name upper bound)
        btree = bytearray(b"TREE" + struct.pack("<BBHQQ", 0, 0, 1,
                                                UNDEF, UNDEF))
        btree += struct.pack("<QQQ", 0, snod_addr,
                             name_off[gnames[-1]] if gnames else 0)
        btree += b"\x00" * (24 + (2 * _LEAF_K + 1) * 8 - len(btree))
        btree_addr = alloc(bytes(btree))
        st = _message(0x0011, struct.pack("<QQ", btree_addr,
                                          heap_hdr_addr))
        msgs = st + b"".join(extra)
        hdr_addr = alloc(struct.pack("<BxHII4x", 1, 1 + len(extra), 1,
                                     len(msgs)) + msgs)
        return hdr_addr, btree_addr, heap_hdr_addr

    def _build(subtree: dict, prefix: str) -> dict[str, int]:
        entries = {}
        for name, sub in subtree.items():
            p = prefix + name
            if isinstance(sub, dict):
                child = _build(sub, p + "/")
                entries[name] = _group_block(child,
                                             attr_msgs.get(p, []))[0]
            else:
                entries[name] = header_addr[sub]
        return entries

    root_addr, btree_addr, heap_hdr_addr = _group_block(
        _build(tree, ""), attr_msgs.get("", []))

    sb = _SIG + struct.pack("<8B2H I", 0, 0, 0, 0, 0, 8, 8, 0,
                            _LEAF_K, _INTERNAL_K, 0)
    sb += struct.pack("<QQQQ", 0, UNDEF, len(out), UNDEF)
    # root symbol-table entry, cache_type 1: scratch = btree + heap
    sb += struct.pack("<QQII", 0, root_addr, 1, 0)
    sb += struct.pack("<QQ", btree_addr, heap_hdr_addr)
    out[: len(sb)] = sb

    with open(path, "wb") as f:
        f.write(out)


# ---------------------------------------------------------------- reader

def _parse_messages(buf: memoryview, addr: int):
    """Yield (type, body) from a v1 object header, following
    continuation (0x0010) messages."""
    ver, nmsg, _refs, hsize = struct.unpack_from("<BxHI I", buf, addr)
    if ver != 1:
        raise NotImplementedError(f"object header v{ver} not supported")
    spans = [(addr + 16, addr + 16 + hsize)]
    seen = 0
    while spans and seen < nmsg:
        pos, end = spans.pop(0)
        while pos + 8 <= end and seen < nmsg:
            mtype, msize, _flags = struct.unpack_from("<HHB3x", buf, pos)
            body = bytes(buf[pos + 8: pos + 8 + msize])
            seen += 1
            pos += 8 + msize
            if mtype == 0x0010:  # continuation: (offset, length)
                o, ln = struct.unpack("<QQ", body[:16])
                spans.append((o, o + ln))
            else:
                yield mtype, body


def _parse_datatype(body: bytes):
    cls_ver = body[0]
    cls, ver = cls_ver & 0x0F, cls_ver >> 4
    if ver not in (1, 2, 3):
        raise NotImplementedError(f"datatype version {ver}")
    bits = body[1] | (body[2] << 8) | (body[3] << 16)
    (size,) = struct.unpack_from("<I", body, 4)
    if cls == 0:
        if bits & 0x01:
            raise NotImplementedError("big-endian fixed-point")
        return np.dtype(f"<{'i' if bits & 0x08 else 'u'}{size}")
    if cls == 1:
        if bits & 0x01:
            raise NotImplementedError("big-endian float")
        return np.dtype(f"<f{size}")
    if cls == 3:
        return np.dtype(f"S{size}")
    if cls == 9:
        # variable-length (class 9): bits 0-3 give the vlen type
        # (1 = string). The disk element is 16 bytes — 4-byte byte
        # length + global heap ID (8-byte GCOL collection address +
        # 4-byte object index); payloads live in global-heap
        # collections. h5py writes Python ``str`` datasets this way
        # by default, so this is the most common third-party layout.
        if bits & 0x0F == 1:
            return np.dtype([("len", "<u4"), ("addr", "<u8"),
                             ("idx", "<u4")],
                            metadata={"vlen_str": True})
        raise NotImplementedError(
            "variable-length sequences (non-string) not supported")
    raise NotImplementedError(f"datatype class {cls} not supported")


def _parse_filters(body: bytes) -> list[tuple[int, int, tuple]]:
    """Filter Pipeline message (0x000B) → [(id, flags, client_vals)].
    v1 pads names to 8 and client values to even counts; v2 drops the
    padding and omits name_len for builtin (<256) filters."""
    ver, nf = body[0], body[1]
    filters: list[tuple[int, int, tuple]] = []
    if ver == 1:
        pos = 8
        for _ in range(nf):
            fid, nlen, flags, ncv = struct.unpack_from("<HHHH", body, pos)
            pos += 8 + _pad8(nlen)
            cvals = struct.unpack_from(f"<{ncv}I", body, pos)
            pos += 4 * ncv + (4 if ncv % 2 else 0)
            filters.append((fid, flags, cvals))
    elif ver == 2:
        pos = 2
        for _ in range(nf):
            (fid,) = struct.unpack_from("<H", body, pos)
            pos += 2
            nlen = 0
            if fid >= 256:
                (nlen,) = struct.unpack_from("<H", body, pos)
                pos += 2
            flags, ncv = struct.unpack_from("<HH", body, pos)
            pos += 4 + nlen
            cvals = struct.unpack_from(f"<{ncv}I", body, pos)
            pos += 4 * ncv
            filters.append((fid, flags, cvals))
    else:
        raise NotImplementedError(f"filter pipeline v{ver}")
    return filters


def _walk_chunk_btree(buf: memoryview, addr: int, ndim_plus: int,
                      out: list) -> None:
    """v1 B-tree (node type 1, raw data chunks): collect
    (element_offset, stored_nbytes, filter_mask, chunk_addr)."""
    sig = bytes(buf[addr: addr + 4])
    if sig != b"TREE":
        raise ValueError(f"bad chunk b-tree signature {sig!r}")
    ntype, level, used = struct.unpack_from("<BBH", buf, addr + 4)
    if ntype != 1:
        raise ValueError("not a chunk b-tree")
    key_size = 8 + 8 * ndim_plus
    pos = addr + 24
    for _ in range(used):
        nbytes, mask = struct.unpack_from("<II", buf, pos)
        offs = struct.unpack_from(f"<{ndim_plus}Q", buf, pos + 8)
        (child,) = struct.unpack_from("<Q", buf, pos + key_size)
        if level > 0:
            _walk_chunk_btree(buf, child, ndim_plus, out)
        else:
            out.append((offs[0], nbytes, mask, child))
        pos += key_size + 8


def _defilter(raw: bytes, filters: list, mask: int,
              itemsize: int) -> bytes:
    """Undo the filter pipeline in reverse application order.
    Supported: deflate (1), shuffle (2), fletcher32 (3, checksum
    stripped without verification — corruption surfaces as a numpy
    size mismatch downstream)."""
    import zlib
    for i in range(len(filters) - 1, -1, -1):
        if mask & (1 << i):
            continue  # writer skipped this filter for this chunk
        fid = filters[i][0]
        if fid == 1:
            raw = zlib.decompress(raw)
        elif fid == 2:
            raw = (np.frombuffer(raw, np.uint8)
                   .reshape(itemsize, -1).T.tobytes())
        elif fid == 3:
            raw = raw[:-4]
        else:
            raise NotImplementedError(f"HDF5 filter id {fid}")
    return raw


def _gheap_objects(buf: memoryview, addr: int, cache: dict) -> dict:
    """Parse one GCOL global-heap collection → {object index: bytes}.
    Header: signature, version, 8-byte collection size; objects are
    (index u2, refcount u2, reserved u4, size u8, data padded to 8);
    object index 0 describes the trailing free space and terminates
    the scan."""
    objs = cache.get(addr)
    if objs is not None:
        return objs
    if bytes(buf[addr: addr + 4]) != b"GCOL":
        raise ValueError("bad global heap signature")
    (csize,) = struct.unpack_from("<Q", buf, addr + 8)
    end = addr + csize
    pos = addr + 16
    objs = {}
    while pos + 16 <= end:
        (idx,) = struct.unpack_from("<H", buf, pos)
        (osize,) = struct.unpack_from("<Q", buf, pos + 8)
        if idx == 0:
            break
        objs[idx] = bytes(buf[pos + 16: pos + 16 + osize])
        pos += 16 + _pad8(osize)
    cache[addr] = objs
    return objs


def _resolve_vlen(buf: memoryview, recs: np.ndarray) -> np.ndarray:
    """(len, GCOL address, object index) records → object array of
    bytes (collections parsed once, cached). Null/zero references
    (never-written elements) resolve to b''."""
    cache: dict = {}
    out = np.empty(len(recs), dtype=object)
    for i in range(len(recs)):
        ln, gaddr, idx = recs[i]
        if gaddr in (0, UNDEF) or idx == 0:
            out[i] = b""
        else:
            out[i] = _gheap_objects(buf, int(gaddr),
                                    cache)[int(idx)][:int(ln)]
    return out


def _read_dataset(buf: memoryview, addr: int) -> np.ndarray:
    dims = dtype = contiguous = chunked = compact = None
    filters: list[tuple[int, int, tuple]] = []
    for mtype, body in _parse_messages(buf, addr):
        if mtype == 0x0001:  # dataspace
            ver = body[0]
            if ver == 1:
                ndim, flags = body[1], body[2]
                off = 8
            elif ver == 2:
                ndim, flags = body[1], body[2]
                off = 4
            else:
                raise NotImplementedError(f"dataspace v{ver}")
            dims = struct.unpack_from(f"<{ndim}Q", body, off)
        elif mtype == 0x0003:
            dtype = _parse_datatype(body)
        elif mtype == 0x000B:
            filters = _parse_filters(body)
        elif mtype == 0x0008:
            ver = body[0]
            if ver != 3:
                raise NotImplementedError(f"data layout v{ver}")
            clazz = body[1]
            if clazz == 0:  # compact: data inline in the message
                (csize,) = struct.unpack_from("<H", body, 2)
                compact = body[4: 4 + csize]
            elif clazz == 1:
                contiguous = struct.unpack_from("<QQ", body, 2)
            elif clazz == 2:  # chunked: B-tree of filtered chunks
                ndim_plus = body[2]
                (bt_addr,) = struct.unpack_from("<Q", body, 3)
                cdims = struct.unpack_from(f"<{ndim_plus}I", body, 11)
                chunked = (bt_addr, cdims)
            else:
                raise NotImplementedError(f"data layout class {clazz}")
    if dims is None or dtype is None \
            or (contiguous is None and chunked is None and compact is None):
        raise ValueError("dataset object header incomplete")
    if len(dims) != 1:
        raise NotImplementedError("only 1-D datasets supported")
    n = dims[0]
    if compact is not None:
        arr = np.frombuffer(compact[:n * dtype.itemsize],
                            dtype=dtype).copy()
    elif chunked is not None:
        bt_addr, cdims = chunked
        chunk_rows = cdims[0]
        arr = np.zeros(n, dtype=dtype)
        if bt_addr != UNDEF:
            chunks: list[tuple[int, int, int, int]] = []
            _walk_chunk_btree(buf, bt_addr, len(cdims), chunks)
            for off0, nbytes, mask, caddr in chunks:
                raw = _defilter(bytes(buf[caddr: caddr + nbytes]),
                                filters, mask, dtype.itemsize)
                take = min(chunk_rows, n - off0)
                if take <= 0:
                    continue
                carr = np.frombuffer(raw[:chunk_rows * dtype.itemsize],
                                     dtype=dtype)
                arr[off0: off0 + take] = carr[:take]
    else:
        data_addr, data_size = contiguous
        if data_addr == UNDEF:
            arr = np.zeros(n, dtype=dtype)
        else:
            raw = bytes(buf[data_addr: data_addr + n * dtype.itemsize])
            arr = np.frombuffer(raw, dtype=dtype).copy()
    if dtype.metadata and dtype.metadata.get("vlen_str"):
        return _resolve_vlen(buf, arr)
    return arr


def _heap_name(buf: memoryview, heap_hdr: int, offset: int) -> str:
    sig = bytes(buf[heap_hdr: heap_hdr + 4])
    if sig != b"HEAP":
        raise ValueError("bad local heap signature")
    (data_addr,) = struct.unpack_from("<Q", buf, heap_hdr + 24)
    pos = data_addr + offset
    end = pos
    while buf[end] != 0:
        end += 1
    return bytes(buf[pos:end]).decode("utf-8")


def _walk_btree(buf: memoryview, addr: int, heap_hdr: int, out: dict):
    sig = bytes(buf[addr: addr + 4])
    if sig == b"SNOD":
        (nsym,) = struct.unpack_from("<H", buf, addr + 6)
        pos = addr + 8
        for _ in range(nsym):
            name_off, hdr_addr = struct.unpack_from("<QQ", buf, pos)
            out[_heap_name(buf, heap_hdr, name_off)] = hdr_addr
            pos += 40
        return
    if sig != b"TREE":
        raise ValueError(f"bad b-tree signature {sig!r}")
    ntype, level, used = struct.unpack_from("<BBH", buf, addr + 4)
    if ntype != 0:
        raise ValueError("not a group b-tree")
    pos = addr + 24
    for _ in range(used):
        (child,) = struct.unpack_from("<Q", buf, pos + 8)
        if level == 0:
            _walk_btree(buf, child, heap_hdr, out)  # child is a SNOD
        else:
            _walk_btree(buf, child, heap_hdr, out)
        pos += 16


def _group_links(buf: memoryview, hdr_addr: int) -> dict | None:
    """If the object header at ``hdr_addr`` is a GROUP (carries a
    Symbol Table message, type 0x0011), return its {link name: child
    header addr} map; else None (it's a dataset)."""
    st = None
    for mtype, body in _parse_messages(buf, hdr_addr):
        if mtype == 0x0011:
            st = struct.unpack("<QQ", body[:16])
            break
    if st is None:
        return None
    links: dict[str, int] = {}
    _walk_btree(buf, st[0], st[1], links)
    return links


def _root_links(buf: memoryview) -> tuple[dict, int]:
    """{root link name: header addr} plus the root object header
    address (for root attributes)."""
    if bytes(buf[:8]) != _SIG:
        raise ValueError("not an HDF5 file (bad signature)")
    sb_ver = buf[8]
    if sb_ver not in (0, 1):
        raise NotImplementedError(
            f"superblock v{sb_ver} not supported (classic format only)")
    size_off, size_len = buf[13], buf[14]
    if (size_off, size_len) != (8, 8):
        raise NotImplementedError("only 8-byte offsets/lengths")
    ste = 24 + 32 + (4 if sb_ver == 1 else 0)
    root_hdr, cache_type = struct.unpack_from("<8xQI", buf, ste)
    if cache_type == 1:
        btree_addr, heap_addr = struct.unpack_from("<QQ", buf, ste + 24)
        links: dict[str, int] = {}
        _walk_btree(buf, btree_addr, heap_addr, links)
        return links, root_hdr
    links = _group_links(buf, root_hdr)
    if links is None:
        raise NotImplementedError(
            "root group has no symbol table (new-style group?)")
    return links, root_hdr


def _collect_datasets(buf: memoryview, links: dict, prefix: str,
                      out: dict) -> None:
    """Depth-first walk: datasets land as ``group/.../name`` paths
    (root-level names stay plain)."""
    for name, hdr in sorted(links.items()):
        child = _group_links(buf, hdr)
        if child is None:
            out[prefix + name] = hdr
        else:
            _collect_datasets(buf, child, f"{prefix}{name}/", out)


def read(path: str, columns: list[str] | None = None) -> dict:
    """Read 1-D datasets -> ``{name: np.ndarray}``. Datasets inside
    (arbitrarily nested) classic-format groups are walked recursively
    and named ``group/subgroup/dataset`` — the column naming a
    flat-table import of a third-party multi-group file wants.
    Fixed-length string data comes back as ``bytes`` arrays, like
    h5py, for the caller's utf-8 decode + type re-guess."""
    with open(path, "rb") as f:
        data = f.read()
    buf = memoryview(data)
    links, _root_hdr = _root_links(buf)
    datasets: dict[str, int] = {}
    _collect_datasets(buf, links, "", datasets)
    names = columns or sorted(datasets)
    result = {}
    for n in names:
        if n not in datasets:
            raise KeyError(f"no dataset {n!r} in {path}")
        result[n] = _read_dataset(buf, datasets[n])
    return result


def _parse_attribute(body: bytes):
    """Attribute message (0x000C, v1) -> (name, python value).
    Supports scalar and 1-D values of the fixed-point / float /
    fixed-string classes ``_parse_datatype`` covers."""
    ver = body[0]
    if ver != 1:
        raise NotImplementedError(f"attribute message v{ver}")
    name_sz, dt_sz, ds_sz = struct.unpack_from("<HHH", body, 2)
    pos = 8
    name = bytes(body[pos: pos + name_sz]).split(b"\x00")[0].decode("utf-8")
    pos += _pad8(name_sz)
    dtype = _parse_datatype(body[pos: pos + dt_sz])
    pos += _pad8(dt_sz)
    ds = body[pos: pos + ds_sz]
    ds_ver, rank = ds[0], ds[1]
    if ds_ver == 1:
        dims = struct.unpack_from(f"<{rank}Q", ds, 8)
    elif ds_ver == 2:
        dims = struct.unpack_from(f"<{rank}Q", ds, 4)
    else:
        raise NotImplementedError(f"attribute dataspace v{ds_ver}")
    pos += _pad8(ds_sz)
    n = 1
    for d in dims:
        n *= d
    arr = np.frombuffer(body, dtype=dtype, count=n, offset=pos)

    def _py(v):
        if isinstance(v, bytes):
            return v.rstrip(b"\x00").decode("utf-8")
        if isinstance(v, (np.integer,)):
            return int(v)
        if isinstance(v, (np.floating,)):
            return float(v)
        return v

    vals = [_py(v) for v in arr.tolist()]
    return name, (vals[0] if rank == 0 else vals)


def read_attrs(path: str) -> dict:
    """{object path: {attr name: value}} for the root group (path
    ``""``), every group, and every dataset — only objects that carry
    at least one attribute message appear. Complements :func:`read`
    for third-party files whose units/provenance ride on attributes."""
    with open(path, "rb") as f:
        data = f.read()
    buf = memoryview(data)
    links, root_hdr = _root_links(buf)
    out: dict[str, dict] = {}

    def _attrs_of(hdr: int) -> dict:
        found = {}
        for mtype, body in _parse_messages(buf, hdr):
            if mtype == 0x000C:
                k, v = _parse_attribute(body)
                found[k] = v
        return found

    def _walk(links: dict, prefix: str) -> None:
        for name, hdr in sorted(links.items()):
            a = _attrs_of(hdr)
            objpath = prefix + name
            if a:
                out[objpath] = a
            child = _group_links(buf, hdr)
            if child is not None:
                _walk(child, objpath + "/")

    root_attrs = _attrs_of(root_hdr)
    if root_attrs:
        out[""] = root_attrs
    _walk(links, "")
    return out
