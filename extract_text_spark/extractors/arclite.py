"""Minimal from-scratch RAR5 and 7z readers — the engine's only RAR/7z
decoders; ingest's archive member walk calls them directly.

The reference delegates these formats to the ``rarfile`` / ``py7zr``
libraries (reference app/extractors.py:1812-1885 rar, :1887-1959 7z);
the walk semantics (member names, dir skip, bytes, recursion) are
identical — only the container decode differs. Containers outside the
modeled subsets fail closed with a per-file error where the reference's
libraries would decode them. Modeled subsets, chosen to cover what real
writers emit:

* RAR5 (rarlab technote): vint block stream, File headers (type 2) with
  the STORE method (compression-info method bits 0). Compressed methods
  need the RAR algorithm itself and fail with a clear error. Header CRCs
  are not verified (tolerant parser).
* 7z (7zFormat.txt): signature + start header, plain (kHeader) or
  encoded (kEncodedHeader) header property tree; folders with Copy
  (0x00), LZMA2 (0x21), LZMA1 (0x030101) or BZip2 (0x040202) coders —
  LZMA via the stdlib ``lzma`` raw decoder with filter parameters parsed
  from the coder properties — plus LINEAR multi-coder filter chains
  (Delta 0x03, BCJ x86 0x03030103 feeding an LZMA compressor): the
  bind-pair topology is resolved to a packed→output chain and decoded
  with one composed stdlib raw-filter call. SubStreamsInfo (solid
  archives: several files per folder) and empty-stream files are
  handled; BCJ2's 4-stream split and non-LZMA-family chains are not.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# RAR5
# ---------------------------------------------------------------------------

RAR5_SIG = b"Rar!\x1a\x07\x01\x00"
RAR4_SIG = b"Rar!\x1a\x07\x00"


def _vint(data: bytes, pos: int) -> tuple[int, int]:
    """RAR5 variable-length int: little-endian 7-bit groups, bit 7 = more."""
    value = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("Invalid RAR file")
        b = data[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value, pos
        shift += 7


def rar5_members(content: bytes) -> list[tuple[str, bytes, int]]:
    """RAR5 bytes -> [(name, data, unpacked_size)] for file entries.

    Directories (file flag 0x01) are skipped like the library walk's
    ``is_dir`` filter. Only the STORE method is decodable without the RAR
    algorithm; other methods raise.
    """
    if content.startswith(RAR4_SIG) and not content.startswith(RAR5_SIG):
        raise ValueError(
            "RAR4 archives not supported by the vendored reader")
    if not content.startswith(RAR5_SIG):
        raise ValueError("Invalid RAR file")
    out: list[tuple[str, bytes, int]] = []
    pos = len(RAR5_SIG)
    while pos + 5 <= len(content):
        pos += 4                                    # header CRC32 (unchecked)
        hsize, pos = _vint(content, pos)
        hstart = pos
        if hstart + hsize > len(content):
            raise ValueError("Invalid RAR file")
        htype, p = _vint(content, hstart)
        hflags, p = _vint(content, p)
        data_size = 0
        if hflags & 0x01:
            _extra, p = _vint(content, p)
        if hflags & 0x02:
            data_size, p = _vint(content, p)
        if htype == 2:                              # file header
            fflags, p = _vint(content, p)
            unpacked, p = _vint(content, p)
            _attrs, p = _vint(content, p)
            if fflags & 0x02:
                p += 4                              # mtime
            if fflags & 0x04:
                p += 4                              # data CRC32
            comp, p = _vint(content, p)
            _host_os, p = _vint(content, p)
            nlen, p = _vint(content, p)
            name = content[p:p + nlen].decode("utf-8", errors="replace")
            if not fflags & 0x01:                   # not a directory
                method = (comp >> 7) & 0x07
                if method != 0:
                    raise ValueError(
                        f"RAR compression method {method} not supported by "
                        "the vendored stored-method reader")
                data = content[hstart + hsize:hstart + hsize + data_size]
                out.append((name, data, unpacked))
        pos = hstart + hsize + data_size
        if htype == 5:                              # end of archive
            break
    return out


# ---------------------------------------------------------------------------
# 7z
# ---------------------------------------------------------------------------

SEVENZ_SIG = b"7z\xbc\xaf\x27\x1c"

_K_END = 0x00
_K_HEADER = 0x01
_K_MAIN_STREAMS = 0x04
_K_FILES_INFO = 0x05
_K_PACK_INFO = 0x06
_K_UNPACK_INFO = 0x07
_K_SUBSTREAMS = 0x08
_K_SIZE = 0x09
_K_CRC = 0x0A
_K_FOLDER = 0x0B
_K_UNPACK_SIZE = 0x0C
_K_NUM_UNPACK = 0x0D
_K_EMPTY_STREAM = 0x0E
_K_EMPTY_FILE = 0x0F
_K_DUMMY = 0x19
_K_NAME = 0x11
_K_ENCODED_HEADER = 0x17


def _num7(data: bytes, pos: int) -> tuple[int, int]:
    """7z NUMBER: i leading one-bits in the first byte mean i extra
    little-endian bytes; the remaining first-byte bits are the high part."""
    if pos >= len(data):
        raise ValueError("Invalid 7Z file")
    first = data[pos]
    pos += 1
    for i in range(8):
        if not first & (0x80 >> i):
            low = int.from_bytes(data[pos:pos + i], "little")
            high = first & ((0x80 >> i) - 1)
            return low | (high << (8 * i)), pos + i
    return int.from_bytes(data[pos:pos + 8], "little"), pos + 8


def write_num7(v: int) -> bytes:
    """Inverse of ``_num7`` (shortest form), used by the fixture writer."""
    for i in range(8):
        if v < 1 << (7 - i + 8 * i):
            prefix = (0xFF << (8 - i)) & 0xFF
            return bytes([prefix | (v >> (8 * i))]) + \
                (v & ((1 << (8 * i)) - 1)).to_bytes(i, "little")
    return b"\xff" + v.to_bytes(8, "little")


def _read_bits(data: bytes, pos: int, n: int) -> tuple[list[bool], int]:
    """MSB-first bit vector of n bits."""
    nbytes = (n + 7) // 8
    chunk = data[pos:pos + nbytes]
    bits = [bool(chunk[i // 8] & (0x80 >> (i % 8))) for i in range(n)]
    return bits, pos + nbytes


def _read_crc_defined(data: bytes, pos: int, n: int) -> tuple[list[bool], int]:
    """Digest vector header: allAreDefined byte or a defined bitfield,
    then one u32 per defined digest (skipped — CRCs are not verified)."""
    all_defined = data[pos]
    pos += 1
    if all_defined:
        defined = [True] * n
    else:
        defined, pos = _read_bits(data, pos, n)
    return defined, pos + 4 * sum(defined)


def _skip_crcs(data: bytes, pos: int, n: int) -> int:
    _defined, pos = _read_crc_defined(data, pos, n)
    return pos


def _parse_folder(d: bytes, pos: int) -> tuple[dict, int]:
    nc, pos = _num7(d, pos)
    coders = []
    n_in = n_out = 0
    for _ in range(nc):
        flags = d[pos]
        pos += 1
        idsize = flags & 0x0F
        cid = d[pos:pos + idsize]
        pos += idsize
        nin = nout = 1
        if flags & 0x10:
            nin, pos = _num7(d, pos)
            nout, pos = _num7(d, pos)
        props = b""
        if flags & 0x20:
            psize, pos = _num7(d, pos)
            props = d[pos:pos + psize]
            pos += psize
        coders.append({"id": cid, "props": props,
                       "nin": nin, "nout": nout})
        n_in += nin
        n_out += nout
    bind_pairs = []
    for _ in range(n_out - 1):                      # (InIndex, OutIndex)
        a, pos = _num7(d, pos)
        b, pos = _num7(d, pos)
        bind_pairs.append((a, b))
    n_packed = n_in - (n_out - 1)
    if n_packed > 1:
        for _ in range(n_packed):
            _x, pos = _num7(d, pos)
    return {"coders": coders, "bind_pairs": bind_pairs,
            "n_out": n_out, "n_packed": n_packed}, pos


def _resolve_chain(f: dict) -> list[int]:
    """Linear decode chain (coder indices, packed side -> output side).

    With 1-in/1-out coders, in-stream index i and out-stream index i both
    belong to coder i; a bind pair (i, j) feeds coder j's output into
    coder i's input. The packed stream enters the coder whose in-stream
    is unbound; the folder's output leaves the coder whose out-stream is
    unbound. Multi-stream coders (BCJ2's 4-way split) are not linear and
    stay unsupported."""
    coders = f["coders"]
    if any(c["nin"] != 1 or c["nout"] != 1 for c in coders):
        raise ValueError(
            "7z multi-stream coders (BCJ2) not supported by the vendored "
            "reader")
    bound_in = {i for i, _o in f["bind_pairs"]}
    bound_out = {o for _i, o in f["bind_pairs"]}
    starts = [i for i in range(len(coders)) if i not in bound_in]
    finals = [o for o in range(len(coders)) if o not in bound_out]
    if len(starts) != 1 or len(finals) != 1:
        raise ValueError("Invalid 7Z file")
    out_to_in = {o: i for i, o in f["bind_pairs"]}
    chain = [starts[0]]
    while chain[-1] in out_to_in:
        chain.append(out_to_in[chain[-1]])
        if len(chain) > len(coders):
            raise ValueError("Invalid 7Z file")
    if chain[-1] != finals[0] or len(chain) != len(coders):
        raise ValueError("Invalid 7Z file")
    return chain


def _parse_streams_info(d: bytes, pos: int) -> tuple[dict, int]:
    info: dict = {"pack_pos": 0, "pack_sizes": [], "folders": [],
                  "num_unpack": None, "sub_sizes": None}
    while True:
        t, pos = _num7(d, pos)
        if t == _K_END:
            return info, pos
        if t == _K_PACK_INFO:
            info["pack_pos"], pos = _num7(d, pos)
            n, pos = _num7(d, pos)
            while True:
                t2, pos = _num7(d, pos)
                if t2 == _K_END:
                    break
                if t2 == _K_SIZE:
                    sizes = []
                    for _ in range(n):
                        s, pos = _num7(d, pos)
                        sizes.append(s)
                    info["pack_sizes"] = sizes
                elif t2 == _K_CRC:
                    pos = _skip_crcs(d, pos, n)
                else:
                    raise ValueError("Invalid 7Z file")
        elif t == _K_UNPACK_INFO:
            t2, pos = _num7(d, pos)
            if t2 != _K_FOLDER:
                raise ValueError("Invalid 7Z file")
            nf, pos = _num7(d, pos)
            if d[pos]:
                raise ValueError("external 7z folder data not supported")
            pos += 1
            folders = []
            for _ in range(nf):
                folder, pos = _parse_folder(d, pos)
                folders.append(folder)
            t2, pos = _num7(d, pos)
            if t2 != _K_UNPACK_SIZE:
                raise ValueError("Invalid 7Z file")
            for f in folders:
                sizes = []
                for _ in range(f["n_out"]):
                    s, pos = _num7(d, pos)
                    sizes.append(s)
                f["out_sizes"] = sizes
                # the folder's size is its FINAL coder's out-stream size
                # (== sizes[-1] only for single-coder folders)
                f["unpack_size"] = sizes[_resolve_chain(f)[-1]]
            info["folders"] = folders
            while True:
                t2, pos = _num7(d, pos)
                if t2 == _K_END:
                    break
                if t2 == _K_CRC:
                    crc_defined, pos = _read_crc_defined(d, pos, nf)
                    for f, cd in zip(folders, crc_defined):
                        f["crc_defined"] = cd
                else:
                    raise ValueError("Invalid 7Z file")
        elif t == _K_SUBSTREAMS:
            folders = info["folders"]
            num_unpack = [1] * len(folders)
            sub_sizes: list[int] = []
            while True:
                t2, pos = _num7(d, pos)
                if t2 == _K_END:
                    break
                if t2 == _K_NUM_UNPACK:
                    num_unpack = []
                    for _ in range(len(folders)):
                        k, pos = _num7(d, pos)
                        num_unpack.append(k)
                elif t2 == _K_SIZE:
                    # sizes for all but the last substream of each folder
                    sub_sizes = []
                    for fi, f in enumerate(folders):
                        acc = 0
                        for _ in range(num_unpack[fi] - 1):
                            s, pos = _num7(d, pos)
                            sub_sizes.append(s)
                            acc += s
                        sub_sizes.append(f["unpack_size"] - acc)
                elif t2 == _K_CRC:
                    # digests are stored only for substreams whose CRC is
                    # not already known from UnpackInfo (single-substream
                    # folders with a defined folder CRC)
                    n_digests = sum(
                        0 if (k == 1 and f.get("crc_defined")) else k
                        for k, f in zip(num_unpack, folders))
                    pos = _skip_crcs(d, pos, n_digests)
                else:
                    raise ValueError("Invalid 7Z file")
            info["num_unpack"] = num_unpack
            if sub_sizes:
                info["sub_sizes"] = sub_sizes
        else:
            raise ValueError("Invalid 7Z file")


def _lzma2_dict_size(prop: int) -> int:
    if prop > 40:
        raise ValueError("Invalid 7Z file")
    if prop == 40:
        return 0xFFFFFFFF
    return (2 | (prop & 1)) << (prop // 2 + 11)


def _decode_coder(cid: bytes, props: bytes, packed: bytes,
                  unpack_size: int) -> bytes:
    if cid == b"\x00":                              # Copy
        return packed[:unpack_size]
    if cid == b"\x21":                              # LZMA2
        import lzma
        dec = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA2,
             "dict_size": _lzma2_dict_size(props[0] if props else 24)}])
        return dec.decompress(packed, max_length=unpack_size)
    if cid == b"\x03\x01\x01":                      # LZMA1
        import lzma
        if len(props) < 5:
            raise ValueError("Invalid 7Z file")
        d0 = props[0]
        lc, rest = d0 % 9, d0 // 9
        lp, pb = rest % 5, rest // 5
        (dict_size,) = struct.unpack_from("<I", props, 1)
        dec = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA1, "dict_size": max(dict_size, 4096),
             "lc": lc, "lp": lp, "pb": pb}])
        return dec.decompress(packed, max_length=unpack_size)
    if cid == b"\x04\x02\x02":                      # BZip2
        import bz2
        # bounded incremental decode: a hostile stream must not inflate
        # past the declared size before the cap can apply
        dec = bz2.BZ2Decompressor()
        out = dec.decompress(packed, max_length=unpack_size)
        return out[:unpack_size]
    raise ValueError(
        f"7z coder {cid.hex()} not supported by the vendored reader")


def _lzma_filter_spec(coder: dict) -> dict:
    """7z coder -> stdlib ``lzma`` raw-filter spec, for folders whose
    whole chain is LZMA-family (LZMA1/LZMA2 compressors, Delta / BCJ x86
    branch filters — the chains real 7-Zip emits for executables and
    binary tables). Chains the stdlib cannot express raise the same
    not-supported error as unknown coders."""
    import lzma
    cid, props = coder["id"], coder["props"]
    if cid == b"\x21":
        return {"id": lzma.FILTER_LZMA2,
                "dict_size": _lzma2_dict_size(props[0] if props else 24)}
    if cid == b"\x03\x01\x01":
        if len(props) < 5:
            raise ValueError("Invalid 7Z file")
        d0 = props[0]
        lc, rest = d0 % 9, d0 // 9
        lp, pb = rest % 5, rest // 5
        (dict_size,) = struct.unpack_from("<I", props, 1)
        return {"id": lzma.FILTER_LZMA1, "dict_size": max(dict_size, 4096),
                "lc": lc, "lp": lp, "pb": pb}
    if cid == b"\x03":                              # Delta (props: dist-1)
        return {"id": lzma.FILTER_DELTA,
                "dist": (props[0] + 1) if props else 1}
    if cid == b"\x03\x03\x01\x03":                  # BCJ x86
        return {"id": lzma.FILTER_X86}
    raise ValueError(
        f"7z coder chain with {cid.hex()} not supported by the vendored "
        "reader")


def _decode_folder(f: dict, packed: bytes) -> bytes:
    chain = _resolve_chain(f)
    coders = [f["coders"][i] for i in chain]
    if len(coders) == 1:
        return _decode_coder(coders[0]["id"], coders[0]["props"], packed,
                             f["unpack_size"])
    # Linear multi-coder chain: one stdlib raw decompressor over the
    # composed filter list. Python's lzma wants COMPRESSION order
    # (plain-side filter first, compressor last), i.e. the reverse of the
    # packed->output decode chain.
    import lzma
    filters = [_lzma_filter_spec(c) for c in reversed(coders)]
    dec = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=filters)
    return dec.decompress(packed, max_length=f["unpack_size"])


def _decode_folders(content: bytes, info: dict, base: int) -> list[bytes]:
    """Decode each folder's output bytes; folders consume their packed
    streams sequentially from base + pack_pos."""
    out = []
    off = base + info["pack_pos"]
    sizes = info["pack_sizes"]
    si = 0
    for f in info["folders"]:
        n = f["n_packed"]
        packed = content[off:off + sum(sizes[si:si + n])]
        off += sum(sizes[si:si + n])
        si += n
        out.append(_decode_folder(f, packed))
    return out


def _parse_files_info(d: bytes, pos: int) -> tuple[list[str], list[bool], int]:
    nfiles, pos = _num7(d, pos)
    names: list[str] = []
    empty_stream = [False] * nfiles
    while True:
        t, pos = _num7(d, pos)
        if t == _K_END:
            break
        size, pos = _num7(d, pos)
        end = pos + size
        if t == _K_NAME:
            if d[pos]:
                raise ValueError("external 7z names not supported")
            q = pos + 1
            cur: list[str] = []
            while q + 1 < end:
                unit = d[q:q + 2]
                q += 2
                if unit == b"\x00\x00":
                    names.append("".join(cur))
                    cur = []
                else:
                    cur.append(unit.decode("utf-16-le", errors="replace"))
        elif t == _K_EMPTY_STREAM:
            empty_stream, _ = _read_bits(d, pos, nfiles)
        pos = end
    return names, empty_stream, pos


def sevenz_members(content: bytes,
                   max_total: int | None = None) -> list[tuple[str, bytes]]:
    """7z bytes -> [(name, data)] in archive order.

    Empty-stream entries (directories / empty files) yield no member,
    matching the library walk's ``is_directory`` filter plus the
    reference's skip of zero-byte payloads downstream. ``max_total`` caps
    the DECLARED unpack sizes BEFORE any decompression — the zip-bomb
    guard must fire on header metadata, never after materializing a
    hostile archive (the zip/tar paths check declared sizes the same
    way).
    """
    if not content.startswith(SEVENZ_SIG) or len(content) < 32:
        raise ValueError("Invalid 7Z file")
    nh_off, nh_size = struct.unpack_from("<QQ", content, 12)
    base = 32
    hdr = content[base + nh_off:base + nh_off + nh_size]
    if len(hdr) != nh_size or not hdr:
        raise ValueError("Invalid 7Z file")

    def check_declared(info: dict) -> None:
        if max_total is not None and sum(
                f["unpack_size"] for f in info["folders"]) > max_total:
            raise ValueError(
                "Extracted files size exceeds maximum allowed size "
                "(zip bomb protection)")

    t, pos = _num7(hdr, 0)
    if t == _K_ENCODED_HEADER:
        info, pos = _parse_streams_info(hdr, pos)
        check_declared(info)
        decoded = _decode_folders(content, info, base)
        hdr = b"".join(decoded)
        t, pos = _num7(hdr, 0)
    if t != _K_HEADER:
        raise ValueError("Invalid 7Z file")
    info = {"pack_pos": 0, "pack_sizes": [], "folders": [],
            "num_unpack": None, "sub_sizes": None}
    names: list[str] = []
    empty_stream: list[bool] = []
    while True:
        t, pos = _num7(hdr, pos)
        if t == _K_END:
            break
        if t == _K_MAIN_STREAMS:
            info, pos = _parse_streams_info(hdr, pos)
        elif t == _K_FILES_INFO:
            names, empty_stream, pos = _parse_files_info(hdr, pos)
        else:
            raise ValueError("Invalid 7Z file")

    check_declared(info)
    decoded = _decode_folders(content, info, base)
    num_unpack = info["num_unpack"] or [1] * len(decoded)
    sub_sizes = info["sub_sizes"]
    # flatten folder outputs into per-substream blobs
    blobs: list[bytes] = []
    k = 0
    for fi, data in enumerate(decoded):
        if sub_sizes is None:
            blobs.append(data)
            continue
        off = 0
        for _ in range(num_unpack[fi]):
            blobs.append(data[off:off + sub_sizes[k]])
            off += sub_sizes[k]
            k += 1
    out: list[tuple[str, bytes]] = []
    bi = 0
    for i, name in enumerate(names):
        if i < len(empty_stream) and empty_stream[i]:
            continue                                # dir / empty file
        data = blobs[bi] if bi < len(blobs) else b""
        bi += 1
        out.append((name, data))
    return out
