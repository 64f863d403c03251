"""HDF5 dataset reader, stdlib-only — no h5py/libhdf5.

The reference reads HDF5 via pandas/dask+h5py (PandasHDF5
/root/reference/intake/readers/readers.py:1029, DaskHDF :364); this module
instead parses the public HDF5 file format directly: superblock (v0/v1 and
v2/v3), object headers (v1 and v2, with continuation blocks), the classic
symbol-table group machinery (v1 B-tree + SNOD nodes + local heap) and
new-style Link messages, then the Dataspace/Datatype/Data-Layout messages
of the target dataset.

Scale model (same as FITS/NIfTI/Numpy, sci.py:67): ONLY the metadata walk
happens driver-side — a handful of seeks over a few KiB of headers. The
dataset payload (contiguous layout) decodes on executors from a byte-range
manifest into the engine's chunk-row encoding (arrays.CHUNK_SCHEMA), so a
multi-TiB variable fans out across the cluster without the driver ever
touching the data.

Supported: contiguous, compact and chunked (v1-B-tree indexed) layouts,
with the deflate / shuffle / fletcher32 filter pipeline — i.e. the default
output of every mainstream HDF5 writer, compressed or not. Fixed-point and
IEEE-float datatypes, any rank. Chunked decode keeps the same scale model:
the driver walks the B-tree (KiB of node reads) into a per-slab manifest;
executors read, defilter and assemble disjoint chunk rows in parallel.
"""

from __future__ import annotations

import struct

from intake_spark import datatypes as dt
from intake_spark.readers import BaseReader
from intake_spark.session import local_frame, map_in_pandas

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


class _H5Meta:
    """Driver-side metadata walk of an HDF5 file (small reads only)."""

    def __init__(self, f):
        self.f = f
        self._superblock()

    # ---- low-level helpers -------------------------------------------
    def _u(self, n: int) -> int:
        return int.from_bytes(self.f.read(n), "little")

    def _addr(self) -> int:
        return self._u(self.offsets)

    def _len(self) -> int:
        return self._u(self.lengths)

    # ---- superblock ---------------------------------------------------
    def _superblock(self):
        off = 0
        while True:
            self.f.seek(off)
            if self.f.read(8) == _SIG:
                break
            off = 512 if off == 0 else off * 2
            if off > (1 << 26):
                raise ValueError("not an HDF5 file (no superblock signature)")
        self.base = off
        ver = self._u(1)
        if ver in (0, 1):
            self.f.read(4)  # freespace/stab versions, reserved, shared ver
            self.offsets = self._u(1)
            self.lengths = self._u(1)
            self.f.read(1)  # reserved
            self.f.read(8)  # leaf k, internal k, consistency flags
            if ver == 1:
                self.f.read(4)  # indexed-storage k + reserved
            self._addr()  # base address field
            self._addr()  # free-space address
            self._addr()  # end-of-file address
            self._addr()  # driver info address
            # root group symbol table entry: name offset, OH address, ...
            self._addr()
            self.root = self._addr()
        elif ver in (2, 3):
            self.offsets = self._u(1)
            self.lengths = self._u(1)
            self._u(1)  # file consistency flags
            self._addr()  # base address field
            self._addr()  # superblock extension
            self._addr()  # end-of-file address
            self.root = self._addr()
        else:
            raise ValueError(f"unsupported HDF5 superblock version {ver}")

    # ---- object headers ----------------------------------------------
    def object_header(self, addr: int) -> list[tuple[int, bytes]]:
        """All (message_type, message_data) of an object header, following
        continuation blocks; v1 (unsigned prefix) and v2 ('OHDR')."""
        self.f.seek(self.base + addr)
        head = self.f.read(4)
        if head == b"OHDR":
            return self._oh_v2(addr)
        return self._oh_v1(addr)

    def _oh_v1(self, addr: int) -> list[tuple[int, bytes]]:
        self.f.seek(self.base + addr)
        ver, _res, nmsgs, _refcnt, hsize = struct.unpack("<BBHII", self.f.read(12))
        if ver != 1:
            raise ValueError(f"unsupported object header version {ver}")
        self.f.read(4)  # pad: messages are 8-byte aligned after the prefix
        msgs: list[tuple[int, bytes]] = []
        blocks = [(self.f.tell(), hsize)]
        parsed = 0
        while blocks and parsed < nmsgs:
            start, length = blocks.pop(0)
            self.f.seek(start)
            end = start + length
            while parsed < nmsgs and self.f.tell() + 8 <= end:
                mtype, msize, _mflags = struct.unpack("<HHB", self.f.read(5))
                self.f.read(3)  # reserved
                data = self.f.read(msize)
                parsed += 1
                if mtype == 0x10:  # continuation: offset + length
                    coff = int.from_bytes(data[: self.offsets], "little")
                    clen = int.from_bytes(
                        data[self.offsets : self.offsets + self.lengths], "little"
                    )
                    blocks.append((self.base + coff, clen))
                else:
                    msgs.append((mtype, data))
        return msgs

    def _oh_v2(self, addr: int) -> list[tuple[int, bytes]]:
        self.f.seek(self.base + addr + 4)  # past OHDR
        ver = self._u(1)
        if ver != 2:
            raise ValueError(f"unsupported v2 object header version {ver}")
        flags = self._u(1)
        if flags & 0x20:
            self.f.read(16)  # access/mod/change/birth times
        if flags & 0x10:
            self.f.read(4)  # max compact / min dense
        chunk0 = self._u(1 << (flags & 0x3))
        track_corder = bool(flags & 0x04)
        msgs: list[tuple[int, bytes]] = []
        blocks = [(self.f.tell(), chunk0)]
        while blocks:
            start, length = blocks.pop(0)
            self.f.seek(start)
            end = start + length
            hdr = 4 + (2 if track_corder else 0)
            while self.f.tell() + hdr <= end:
                mtype, msize, _mflags = struct.unpack("<BHB", self.f.read(4))
                if track_corder:
                    self.f.read(2)
                if self.f.tell() + msize > end:
                    break
                data = self.f.read(msize)
                if mtype == 0x10:
                    coff = int.from_bytes(data[: self.offsets], "little")
                    clen = int.from_bytes(
                        data[self.offsets : self.offsets + self.lengths], "little"
                    )
                    # continuation block: 'OCHK' sig + messages + checksum
                    blocks.append((self.base + coff + 4, clen - 8))
                else:
                    msgs.append((mtype, data))
        return msgs

    # ---- group membership --------------------------------------------
    def links(self, msgs: list[tuple[int, bytes]]) -> dict[str, int]:
        """name → object-header address from Symbol Table (classic) or
        Link (new-style) messages."""
        out: dict[str, int] = {}
        for mtype, d in msgs:
            if mtype == 0x11:  # symbol table: v1 B-tree + local heap
                btree = int.from_bytes(d[: self.offsets], "little")
                heap = int.from_bytes(d[self.offsets : 2 * self.offsets], "little")
                heap_data = self._local_heap(heap)
                for name_off, oh_addr in self._btree_group_entries(btree):
                    out[self._heap_string(heap_data, name_off)] = oh_addr
            elif mtype == 0x06:  # link message
                parsed = self._link_message(d)
                if parsed is not None:
                    out[parsed[0]] = parsed[1]
        return out

    def _link_message(self, d: bytes) -> tuple[str, int] | None:
        ver, flags = d[0], d[1]
        if ver != 1:
            raise ValueError(f"unsupported link message version {ver}")
        pos = 2
        ltype = 0
        if flags & 0x08:
            ltype = d[pos]
            pos += 1
        if flags & 0x04:
            pos += 8  # creation order
        if flags & 0x10:
            pos += 1  # charset
        nsz = 1 << (flags & 0x3)
        nlen = int.from_bytes(d[pos : pos + nsz], "little")
        pos += nsz
        name = d[pos : pos + nlen].decode("utf-8")
        pos += nlen
        if ltype != 0:
            return None  # soft/external links: not objects in this file
        return name, int.from_bytes(d[pos : pos + self.offsets], "little")

    def _local_heap(self, addr: int) -> int:
        self.f.seek(self.base + addr)
        if self.f.read(4) != b"HEAP":
            raise ValueError("bad local heap signature")
        self.f.read(4)  # version + reserved
        self._len()  # data segment size
        self._len()  # free-list head offset
        return self._addr()

    def _heap_string(self, heap_data: int, off: int) -> str:
        self.f.seek(self.base + heap_data + off)
        raw = b""
        while True:
            b = self.f.read(64)
            if not b:
                break
            raw += b
            if b"\x00" in b:
                break
        return raw.split(b"\x00", 1)[0].decode("utf-8")

    def _btree_group_entries(self, addr: int) -> list[tuple[int, int]]:
        """Walk a v1 group B-tree → [(heap name offset, OH address)]."""
        self.f.seek(self.base + addr)
        if self.f.read(4) != b"TREE":
            raise ValueError("bad v1 B-tree signature")
        ntype, level = self._u(1), self._u(1)
        if ntype != 0:
            raise ValueError(f"expected group B-tree (type 0), got {ntype}")
        nent = self._u(2)
        self._addr()  # left sibling
        self._addr()  # right sibling
        children = []
        self._len()  # key 0
        for _ in range(nent):
            children.append(self._addr())
            self._len()  # next key
        out: list[tuple[int, int]] = []
        for child in children:
            if level > 0:
                out.extend(self._btree_group_entries(child))
            else:
                out.extend(self._snod_entries(child))
        return out

    def _snod_entries(self, addr: int) -> list[tuple[int, int]]:
        self.f.seek(self.base + addr)
        if self.f.read(4) != b"SNOD":
            raise ValueError("bad symbol node signature")
        self.f.read(2)  # version + reserved
        nsym = self._u(2)
        out = []
        for _ in range(nsym):
            name_off = self._addr()
            oh_addr = self._addr()
            self.f.read(24)  # cache type, reserved, scratch
            out.append((name_off, oh_addr))
        return out

    # ---- dataset messages --------------------------------------------
    def dataset_info(self, msgs: list[tuple[int, bytes]]):
        """(shape, numpy dtype string, layout, fill) from a dataset's
        messages; layout = ('contiguous', addr, nbytes)
               | ('compact', raw_bytes)
               | ('chunked', btree_addr, chunk_dims, filters)
        where filters is [(filter_id, client_values), ...] in pipeline
        order (reversed for decode) and fill is the raw fill-value bytes
        (None when undefined/default — chunks absent from the index then
        materialize as 0, libhdf5's default fill)."""
        shape = dtype = layout = None
        fill: bytes | None = None
        filters: list[tuple[int, list[int]]] = []
        for mtype, d in msgs:
            if mtype == 0x01:  # dataspace
                ver, rank, flags = d[0], d[1], d[2]
                pos = 8 if ver == 1 else 4
                shape = [
                    int.from_bytes(d[pos + i * self.lengths : pos + (i + 1) * self.lengths], "little")
                    for i in range(rank)
                ]
            elif mtype == 0x03:  # datatype
                cls = d[0] & 0x0F
                bits0 = d[1]
                size = int.from_bytes(d[4:8], "little")
                order = ">" if bits0 & 0x01 else "<"
                if cls == 0:  # fixed-point
                    kind = "i" if bits0 & 0x08 else "u"
                elif cls == 1:  # IEEE float
                    kind = "f"
                else:
                    raise ValueError(
                        f"unsupported HDF5 datatype class {cls} "
                        "(fixed-point and float only)"
                    )
                dtype = f"{order}{kind}{size}"
            elif mtype == 0x08:  # data layout
                ver = d[0]
                if ver == 3:
                    lclass = d[1]
                    if lclass == 1:  # contiguous
                        a = int.from_bytes(d[2 : 2 + self.offsets], "little")
                        n = int.from_bytes(
                            d[2 + self.offsets : 2 + self.offsets + self.lengths],
                            "little",
                        )
                        layout = ("contiguous", a, n)
                    elif lclass == 0:  # compact: data inline in the header
                        sz = int.from_bytes(d[2:4], "little")
                        layout = ("compact", d[4 : 4 + sz])
                    elif lclass == 2:  # chunked: v1 B-tree of filtered chunks
                        ndims = d[2]  # rank + 1 (trailing element-size dim)
                        p = 3
                        bt = int.from_bytes(d[p : p + self.offsets], "little")
                        p += self.offsets
                        dims = [
                            int.from_bytes(d[p + i * 4 : p + (i + 1) * 4], "little")
                            for i in range(ndims)
                        ]
                        layout = ("chunked", bt, dims[:-1], None)
                    else:
                        raise ValueError(
                            f"unsupported HDF5 layout class {lclass} (layout v3)"
                        )
                elif ver in (1, 2):
                    rank, lclass = d[1], d[2]
                    if lclass != 1:
                        raise ValueError(
                            "only contiguous data supported for layout "
                            f"message v{ver}"
                        )
                    a = int.from_bytes(d[8 : 8 + self.offsets], "little")
                    layout = ("contiguous", a, None)
                else:
                    raise ValueError(f"unsupported layout message version {ver}")
            elif mtype == 0x05:  # fill value (new-style, spec IV.A.2.f)
                ver = d[0]
                if ver in (1, 2):
                    defined = d[3]
                    if ver == 1 or defined:
                        sz = int.from_bytes(d[4:8], "little")
                        fill = d[8 : 8 + sz] if sz else None
                elif ver == 3:
                    flags = d[1]
                    if flags & 0x20:  # fill value defined
                        sz = int.from_bytes(d[2:6], "little")
                        fill = d[6 : 6 + sz] if sz else None
            elif mtype == 0x0B:  # filter pipeline
                filters = self._filter_pipeline(d)
        if layout is not None and layout[0] == "chunked":
            layout = ("chunked", layout[1], layout[2], filters)
        return shape, dtype, layout, fill

    @staticmethod
    def _filter_pipeline(d: bytes) -> list[tuple[int, list[int]]]:
        """Filter-pipeline message v1/v2 → [(filter_id, client_values)] in
        write order."""
        ver, nfilt = d[0], d[1]
        p = 8 if ver == 1 else 2
        out: list[tuple[int, list[int]]] = []
        for _ in range(nfilt):
            fid = int.from_bytes(d[p : p + 2], "little")
            p += 2
            if ver == 1 or fid >= 256:
                name_len = int.from_bytes(d[p : p + 2], "little")
                p += 2
            else:
                name_len = 0
            p += 2  # flags
            nvals = int.from_bytes(d[p : p + 2], "little")
            p += 2
            if ver == 1:
                name_len = (name_len + 7) & ~7  # v1 pads the name to 8
            p += name_len
            vals = [int.from_bytes(d[p + i * 4 : p + (i + 1) * 4], "little") for i in range(nvals)]
            p += nvals * 4
            if ver == 1 and nvals % 2:
                p += 4  # v1 pads client values to an 8-byte boundary
            out.append((fid, vals))
        return out

    def chunk_index(self, btree_addr: int, rank: int) -> list[tuple[tuple, int, int, int]]:
        """v1-B-tree walk (node type 1, raw data chunks) →
        [(chunk element offsets, file address, stored nbytes, filter_mask)].
        Driver-side: O(chunks/branching) small node reads."""
        out: list[tuple[tuple, int, int, int]] = []
        stack = [btree_addr]
        while stack:
            addr = stack.pop()
            self.f.seek(self.base + addr)
            if self.f.read(4) != b"TREE":
                raise ValueError(f"bad chunk B-tree node at {addr:#x}")
            ntype, level = self.f.read(1)[0], self.f.read(1)[0]
            if ntype != 1:
                raise ValueError(f"expected chunk B-tree (type 1), got type {ntype}")
            entries = self._u(2)
            self._addr()  # left sibling
            self._addr()  # right sibling
            for _ in range(entries):
                nbytes = self._u(4)
                mask = self._u(4)
                offs = tuple(self._u(8) for _ in range(rank + 1))
                child = self._addr()
                if level > 0:
                    stack.append(child)
                else:
                    out.append((offs[:rank], child, nbytes, mask))
            # the (entries+1)-th key after the last child is not needed
        return out

    # ---- dataset discovery -------------------------------------------
    def walk(self, addr: int | None = None, prefix: str = "", seen=None) -> dict:
        """Recursive group walk → {path: dataset_info tuple (shape,
        dtype, layout, fill)} for every dataset reachable from the root
        group."""
        if addr is None:
            addr = self.root
        if seen is None:
            seen = set()
        if addr in seen:  # hard-link cycles
            return {}
        seen.add(addr)
        msgs = self.object_header(addr)
        types = {t for t, _ in msgs}
        out: dict[str, tuple] = {}
        if 0x08 in types or (0x03 in types and 0x01 in types and 0x11 not in types):
            out[prefix.rstrip("/") or "/"] = self.dataset_info(msgs)
            return out
        for name, child in self.links(msgs).items():
            out.update(self.walk(child, f"{prefix}{name}/", seen))
        return out


_DEFLATE, _SHUFFLE, _FLETCHER32 = 1, 2, 3


def _defilter(raw: bytes, filters, mask: int, dtype: str) -> bytes:
    """Undo the HDF5 filter pipeline (reverse write order). ``mask`` bit i
    set means filter i was skipped for this chunk (spec: failed on write)."""
    import zlib

    import numpy as np

    for i in range(len(filters) - 1, -1, -1):
        if mask & (1 << i):
            continue
        fid, _vals = filters[i]
        if fid == _DEFLATE:
            raw = zlib.decompress(raw)
        elif fid == _SHUFFLE:
            itemsize = np.dtype(dtype).itemsize
            arr = np.frombuffer(raw, dtype=np.uint8)
            raw = arr.reshape(itemsize, len(arr) // itemsize).T.tobytes()
        elif fid == _FLETCHER32:
            raw = raw[:-4]  # trailing checksum; decode trusts storage
        else:
            raise ValueError(
                f"unsupported HDF5 filter id {fid} (deflate/shuffle/fletcher32 only)"
            )
    return raw


def _chunked_h5_df(spark, url, dtype, shape, chunk_dims, filters, index, base, fill=0.0):
    """Chunked-layout decode: one manifest row per dim-0 chunk slab; each
    executor task reads every chunk in its slab (contiguous dim-0 range),
    defilters, clips edge overhang and assembles a C-order slab — so the
    output rows are the same axis-0 slabs the contiguous path emits and
    downstream slicing/reduction is layout-agnostic. The manifest covers
    EVERY dim-0 slab in the dataspace, not just those with written chunks:
    slabs (and chunk regions) absent from the B-tree materialize as the
    dataset's fill value (default 0, matching libhdf5)."""
    import json

    import numpy as np

    from intake_spark.arrays import CHUNK_SCHEMA, cut_axis0

    slabs: dict[int, list] = {}
    for coords, addr, nbytes, mask in index:
        slabs.setdefault(coords[0], []).append((list(coords), base + addr, nbytes, mask))
    manifest = [
        (i, c0, json.dumps(slabs.get(c0, [])))
        for i, c0 in enumerate(range(0, shape[0], chunk_dims[0]))
    ]
    if not manifest:  # zero-length dataspace
        return local_frame(spark, [], CHUNK_SCHEMA)
    mdf = local_frame(
        spark, manifest, "chunk_id long, row_start long, chunks_json string"
    )
    np_dtype = np.dtype(dtype)

    def decode(batches):
        import json

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            with open(url, "rb") as f:
                for _, r in pdf.iterrows():
                    r0 = int(r.row_start)
                    r1 = min(r0 + chunk_dims[0], shape[0])
                    slab = np.full([r1 - r0] + list(shape[1:]), fill, dtype=np.float64)
                    for coords, addr, nbytes, mask in json.loads(r.chunks_json):
                        f.seek(addr)
                        raw = _defilter(f.read(nbytes), filters or [], mask, dtype)
                        chunk = np.frombuffer(raw, dtype=np_dtype).reshape(chunk_dims)
                        sel = tuple(
                            slice(0, min(c + d, s) - c)
                            for c, d, s in zip(coords, chunk_dims, shape)
                        )
                        dest = tuple(
                            slice(c - (r0 if ax == 0 else 0), min(c + d, s) - (r0 if ax == 0 else 0))
                            for ax, (c, d, s) in enumerate(zip(coords, chunk_dims, shape))
                        )
                        slab[dest] = chunk[sel]
                    out += cut_axis0(slab, shape, r0, r.chunk_id)
            yield pd.DataFrame(out, columns=CHUNK_SCHEMA.names)

    return map_in_pandas(mdf, decode, schema=CHUNK_SCHEMA)


class HDF5Reader(BaseReader):
    """HDF5 dataset → chunk-row DataFrame (arrays.CHUNK_SCHEMA), no h5py
    (parity: PandasHDF5/DaskHDF, reference readers.py:1029,364 — both
    delegate to libhdf5; this parses the public file format).

    ``dataset`` selects by path (e.g. ``"group/temps"``); default is the
    first dataset in path-sorted order. Contiguous payloads decode on
    executors via the shared byte-range manifest (arrays.byte_range_df);
    compact payloads (≤64 KiB inline) decode driver-side by spec."""

    implements = {dt.HDF5}

    def _read(self, spark, dataset: str | None = None, rows_per_chunk: int = 4096, **kwargs):
        import numpy as np

        from intake_spark.arrays import CHUNK_SCHEMA, byte_range_df, cut_axis0

        url = self.data.url
        with open(url, "rb") as f:
            meta = _H5Meta(f)
            datasets = meta.walk()
            if not datasets:
                raise ValueError(f"no datasets found in HDF5 file {url}")
            if dataset is None:
                dataset = sorted(datasets)[0]
            key = dataset.strip("/") or "/"
            if key not in datasets:
                raise KeyError(
                    f"dataset {dataset!r} not in {url}; available: {sorted(datasets)}"
                )
            shape, dtype, layout, fill_raw = datasets[key]
        if shape is None or dtype is None or layout is None:
            raise ValueError(f"dataset {key!r} lacks dataspace/datatype/layout")
        fill = 0.0
        if fill_raw:
            fill = float(np.frombuffer(fill_raw[: np.dtype(dtype).itemsize], np.dtype(dtype))[0])
        self.data.metadata.update({"dataset": key, "dtype": dtype, "shape": shape})
        if layout[0] == "compact":
            n = 1
            for s in shape:
                n *= s
            vals = np.frombuffer(layout[1], dtype=np.dtype(dtype))[:n]
            return local_frame(spark, cut_axis0(vals, shape), CHUNK_SCHEMA)
        if layout[0] == "chunked":
            if layout[1] == _UNDEF:
                index = []  # no chunks ever written — all-fill dataset
            else:
                with open(url, "rb") as f:
                    meta.f = f
                    index = meta.chunk_index(layout[1], len(shape))
            return _chunked_h5_df(
                spark, url, dtype, shape, layout[2], layout[3], index, meta.base, fill
            )
        _, data_addr, _nbytes = layout
        if data_addr == _UNDEF:
            raise ValueError(f"dataset {key!r} has no allocated storage")
        return byte_range_df(
            spark, url, dtype, shape, meta.base + data_addr, rows_per_chunk
        )


def hdf5_group_catalog(url: str, component: str | None = None):
    """Walk an HDF5 file's group hierarchy into a Catalog: every dataset
    becomes an ``HDF5Reader`` entry keyed by its path, nested under
    ``component`` when given (parity: HDF5Group datatype +
    intake's zarr-style group cataloging, reference catalog/zarr.py
    applied to HDF5; the reference lists datasets via h5py/kerchunk —
    this reuses the package's stdlib walk). Driver-side metadata only —
    the datasets still read distributed through ``HDF5Reader``."""
    from intake_spark import datatypes as dt
    from intake_spark.catalog import Catalog

    with open(url, "rb") as f:
        datasets = _H5Meta(f).walk()
    prefix = (component or "").strip("/")
    cat = Catalog(metadata={"url": url, "component": prefix})
    for path in sorted(datasets):
        if prefix and not (path == prefix or path.startswith(prefix + "/")):
            continue
        shape, dtype_str, layout, _fill = datasets[path]
        name = path[len(prefix) :].lstrip("/") if prefix else path
        cat.add_entry(
            HDF5Reader(
                data=dt.HDF5(
                    url=url,
                    metadata={"shape": list(shape), "dtype": str(dtype_str),
                              "layout": layout[0] if isinstance(layout, tuple) else str(layout)},
                ),
                dataset=path,
            ),
            name=name or "/",
        )
    if not cat.aliases:
        raise ValueError(f"no datasets under component {component!r} in {url}")
    return cat
