"""Native systemd ``.journal`` binary container parsing — closes the
format gap left by the export-stream parser (operators/journal.py).

The reference reads journal files through libsystemd FFI
(``sd_journal_open_files``/``sd_journal_next``/``sd_journal_enumerate_data``,
/root/reference/src/readers/journalreader.rs:1101-1276) and seeks with
``sd_journal_seek_realtime_usec`` when a ``-a`` filter is given
(journalreader.rs:1172-1196).  This module re-implements the *read side*
of the journal-file on-disk format itself (the format is publicly
documented by systemd: doc/JOURNAL_FILE_FORMAT.md) in pure Python, so no
FFI is needed:

  header (``LPKSHHRH``) → entry-array chain → ENTRY objects → DATA
  objects (KEY=VALUE payloads).

Covered: regular and HEADER_INCOMPATIBLE_COMPACT item layouts, XZ
object compression (stdlib ``lzma``); LZ4/ZSTD payloads are reported as
per-entry errors unless the optional codecs are importable.  Hash
tables are *not* consulted — the reference's access pattern is a pure
forward scan of entries (``sd_journal_next`` loop, journalreader.rs
``next()``), which the entry-array chain serves directly.

Timestamp precedence: the reference compiles in
``DT_USES_SOURCE_OVERRIDE = Some(RealtimeTimestamp)``
(/root/reference/src/data/journal.rs:123-173, issue #101) — the entry
header's realtime clock wins even when ``_SOURCE_REALTIME_TIMESTAMP``
is present.  ``dt_uses_source="realtime"`` (default) matches that;
``"source_fallback"`` matches journalctl / the reference's
non-override code path (journal.rs:167-172).

Spark realization: one journal *file* is one binary cell, exactly the
reference's unit of work (one ``JournalReader`` per file).  Files are
parsed in a ``mapInPandas`` stage — parallelism is the number of files,
bounded per-partition by ``spark.sql.files.maxPartitionBytes`` on the
tables that carry the payload column.  The ``after_us`` argument mirrors
the reference's seek pushdown: entries whose realtime clock precedes the
filter are skipped *before* their data objects are fetched, so a narrow
time window never pays for field decoding of the excluded prefix.
"""

from __future__ import annotations

import lzma
import struct
from typing import Iterable, Optional

from pyspark.sql import DataFrame

# --- on-disk constants (public journal-file format) ----------------------
SIGNATURE = b"LPKSHHRH"

HEADER_INCOMPATIBLE_COMPRESSED_XZ = 1 << 0
HEADER_INCOMPATIBLE_COMPRESSED_LZ4 = 1 << 1
HEADER_INCOMPATIBLE_KEYED_HASH = 1 << 2
HEADER_INCOMPATIBLE_COMPRESSED_ZSTD = 1 << 3
HEADER_INCOMPATIBLE_COMPACT = 1 << 4

OBJECT_DATA = 1
OBJECT_ENTRY = 3
OBJECT_DATA_HASH_TABLE = 4
OBJECT_FIELD_HASH_TABLE = 5
OBJECT_ENTRY_ARRAY = 7

OBJECT_COMPRESSED_XZ = 1 << 0
OBJECT_COMPRESSED_LZ4 = 1 << 1
OBJECT_COMPRESSED_ZSTD = 1 << 2

_OBJ_HDR = struct.Struct("<BB6xQ")          # type, flags, reserved, size
_ENTRY_FIXED = struct.Struct("<QQQ16sQ")    # seqnum, realtime, monotonic, boot_id, xor_hash
_HEADER_FIXED = struct.Struct("<8sIIB7x16s16s16s16sQQQQQQQQQQQQQQQ")
# signature, compatible, incompatible, state, file_id, machine_id,
# tail_entry_boot_id, seqnum_id, header_size, arena_size,
# data_ht_off, data_ht_size, field_ht_off, field_ht_size,
# tail_object_offset, n_objects, n_entries, tail_entry_seqnum,
# head_entry_seqnum, entry_array_offset, head_entry_realtime,
# tail_entry_realtime, tail_entry_monotonic
_HEADER_FIXED_SIZE = _HEADER_FIXED.size  # 208

KEY_SOURCE_REALTIME = "_SOURCE_REALTIME_TIMESTAMP"

_DATA_PAYLOAD_OFF_REGULAR = 48  # hash..n_entries, 6×u64
_DATA_PAYLOAD_OFF_COMPACT = 56  # + tail_entry_array_offset u32 + n u32


def _align8(n: int) -> int:
    return (n + 7) & ~7


# =========================================================================
# Writer (corpus construction for tests/queries — deterministic)
# =========================================================================
class JournalWriter:
    """Builds a structurally valid ``.journal`` byte string.

    Targets the read path above: real header, DATA/ENTRY/ENTRY_ARRAY
    objects with correct sizes/offsets/counts, entry-array chaining with
    doubling growth (like systemd's allocator), optional COMPACT layout
    and per-object XZ compression.  Hash-table objects are emitted with
    zeroed buckets and data-object hash fields are zero: the reference
    delegates hash maintenance to libsystemd and never reads journal
    hashes itself, and neither does :func:`parse_journal_bytes`.
    """

    def __init__(
        self,
        compact: bool = False,
        xz_min_payload: Optional[int] = None,
        lz4_min_payload: Optional[int] = None,
        zstd_min_payload: Optional[int] = None,
        machine_id: bytes = b"\x01" * 16,
        boot_id: bytes = b"\x02" * 16,
        seqnum_id: bytes = b"\x03" * 16,
        first_array_capacity: int = 4,
    ):
        self.compact = compact
        self.xz_min = xz_min_payload
        self.lz4_min = lz4_min_payload
        self.zstd_min = zstd_min_payload
        self.machine_id = machine_id
        self.boot_id = boot_id
        self.seqnum_id = seqnum_id
        self.first_array_capacity = max(1, first_array_capacity)
        self.entries: list[tuple[int, int, bytes, list[bytes]]] = []

    def add_entry(
        self,
        realtime_us: int,
        monotonic_us: int,
        fields: Iterable[bytes],
        boot_id: Optional[bytes] = None,
    ) -> None:
        self.entries.append(
            (int(realtime_us), int(monotonic_us), boot_id or self.boot_id, list(fields))
        )

    def build(self) -> bytes:
        compact = self.compact
        incompatible = HEADER_INCOMPATIBLE_COMPACT if compact else 0
        if self.xz_min is not None:
            incompatible |= HEADER_INCOMPATIBLE_COMPRESSED_XZ
        if self.lz4_min is not None:
            incompatible |= HEADER_INCOMPATIBLE_COMPRESSED_LZ4
        if self.zstd_min is not None:
            incompatible |= HEADER_INCOMPATIBLE_COMPRESSED_ZSTD

        chunks: list[bytes] = []
        pos = _HEADER_FIXED_SIZE  # header_size == our fixed prefix
        n_objects = 0

        def emit(obj: bytes) -> int:
            nonlocal pos, n_objects
            off = pos
            pad = _align8(len(obj)) - len(obj)
            chunks.append(obj + b"\x00" * pad)
            pos += len(obj) + pad
            n_objects += 1
            return off

        # field hash table + data hash table (zeroed buckets; present so
        # the file is shaped like a real one, unused by the reader)
        field_ht_size = 16 * 8
        field_ht_off = emit(
            _OBJ_HDR.pack(OBJECT_FIELD_HASH_TABLE, 0, 16 + field_ht_size)
            + b"\x00" * field_ht_size
        ) + 16  # hash-table offsets point at the payload, not the object header
        data_ht_size = 16 * 64
        data_ht_off = emit(
            _OBJ_HDR.pack(OBJECT_DATA_HASH_TABLE, 0, 16 + data_ht_size)
            + b"\x00" * data_ht_size
        ) + 16

        # data objects, deduplicated by payload (journal files share
        # field payloads across entries via the hash table; we share by
        # first use order)
        payload_off: dict[bytes, int] = {}
        data_fixed = _DATA_PAYLOAD_OFF_COMPACT if compact else _DATA_PAYLOAD_OFF_REGULAR
        for _, _, _, fields in self.entries:
            for payload in fields:
                if payload in payload_off:
                    continue
                flags = 0
                stored = payload
                if self.xz_min is not None and len(payload) >= self.xz_min:
                    flags = OBJECT_COMPRESSED_XZ
                    stored = lzma.compress(payload, format=lzma.FORMAT_XZ)
                elif self.lz4_min is not None and len(payload) >= self.lz4_min:
                    # systemd layout: le64 uncompressed size + LZ4 block
                    from ..functions.lz4_pure import lz4_block_compress_stored

                    flags = OBJECT_COMPRESSED_LZ4
                    stored = struct.pack("<Q", len(payload)) + lz4_block_compress_stored(payload)
                elif self.zstd_min is not None and len(payload) >= self.zstd_min:
                    from ..functions.lz4_pure import zstd_frame_compress_raw

                    flags = OBJECT_COMPRESSED_ZSTD
                    stored = zstd_frame_compress_raw(payload)
                body = b"\x00" * data_fixed + stored
                payload_off[payload] = emit(
                    _OBJ_HDR.pack(OBJECT_DATA, flags, 16 + len(body)) + body
                )

        # entry objects
        entry_offsets: list[int] = []
        head_rt = tail_rt = tail_mono = 0
        seqnum = 0
        for realtime, monotonic, boot_id, fields in self.entries:
            seqnum += 1
            if compact:
                items = b"".join(
                    struct.pack("<I", payload_off[p]) for p in fields
                )
            else:
                items = b"".join(
                    struct.pack("<QQ", payload_off[p], 0) for p in fields
                )
            body = _ENTRY_FIXED.pack(seqnum, realtime, monotonic, boot_id, 0) + items
            entry_offsets.append(emit(_OBJ_HDR.pack(OBJECT_ENTRY, 0, 16 + len(body)) + body))
            head_rt = head_rt or realtime
            tail_rt, tail_mono = realtime, monotonic

        # entry-array chain with doubling capacities (first array may be
        # under-filled with zero items, as on disk)
        item_fmt, item_sz = ("<I", 4) if compact else ("<Q", 8)
        arrays: list[list[int]] = []
        cap, i = self.first_array_capacity, 0
        while i < len(entry_offsets) or not arrays:
            arrays.append(entry_offsets[i : i + cap])
            i += cap
            cap *= 2
        array_offsets: list[int] = []
        # reserve offsets first (each array links forward to the next)
        sizes = []
        for arr, capacity in zip(arrays, _caps(self.first_array_capacity, len(arrays))):
            n_slots = max(capacity, len(arr))
            sizes.append(16 + 8 + n_slots * item_sz)
        run = pos
        for sz in sizes:
            array_offsets.append(run)
            run += _align8(sz)
        for idx, (arr, sz) in enumerate(zip(arrays, sizes)):
            nxt = array_offsets[idx + 1] if idx + 1 < len(arrays) else 0
            n_slots = (sz - 24) // item_sz
            items = b"".join(struct.pack(item_fmt, o) for o in arr)
            items += b"\x00" * ((n_slots - len(arr)) * item_sz)
            emit(_OBJ_HDR.pack(OBJECT_ENTRY_ARRAY, 0, sz) + struct.pack("<Q", nxt) + items)

        tail_object_offset = pos - _align8(len(chunks[-1])) if chunks else 0
        header = _HEADER_FIXED.pack(
            SIGNATURE, 0, incompatible, 2,  # state: STATE_ARCHIVED
            b"\x04" * 16, self.machine_id, self.boot_id, self.seqnum_id,
            _HEADER_FIXED_SIZE, pos - _HEADER_FIXED_SIZE,
            data_ht_off, data_ht_size, field_ht_off, field_ht_size,
            tail_object_offset, n_objects, len(self.entries),
            seqnum, 1 if self.entries else 0,
            array_offsets[0] if arrays and arrays[0] else 0,
            head_rt, tail_rt, tail_mono,
        )
        return header + b"".join(chunks)


def _caps(first: int, n: int) -> list[int]:
    caps, c = [], first
    for _ in range(n):
        caps.append(c)
        c *= 2
    return caps


# =========================================================================
# Reader
# =========================================================================
class JournalFormatError(ValueError):
    pass


def _decompress(flags: int, stored: bytes) -> bytes:
    if flags & OBJECT_COMPRESSED_XZ:
        return lzma.decompress(stored)
    if flags & OBJECT_COMPRESSED_LZ4:
        # systemd layout: le64 uncompressed size + LZ4 BLOCK data
        size = struct.unpack_from("<Q", stored)[0]
        try:
            import lz4.block  # type: ignore

            return lz4.block.decompress(stored[8:], uncompressed_size=size)
        except ImportError:
            # pure-Python fallback (functions/lz4_pure — full block decoder)
            from ..functions.lz4_pure import Lz4FormatError, lz4_block_decompress

            try:
                return lz4_block_decompress(stored[8:], uncompressed_size=size)
            except Lz4FormatError as e:
                raise JournalFormatError(f"lz4 data object: {e}") from e
    if flags & OBJECT_COMPRESSED_ZSTD:
        try:
            import zstandard  # type: ignore

            return zstandard.ZstdDecompressor().decompress(stored)
        except ImportError:
            from ..functions.lz4_pure import (
                UnsupportedCodec,
                ZstdFormatError,
                zstd_frame_decompress_subset,
            )

            try:
                return zstd_frame_decompress_subset(stored)
            except (UnsupportedCodec, ZstdFormatError) as e:
                raise JournalFormatError(f"zstd data object: {e}") from e
    return stored


def parse_journal_bytes(
    buf: bytes,
    after_us: Optional[int] = None,
    dt_uses_source: str = "realtime",
) -> list[dict]:
    """Walk one journal file → list of entry dicts.

    ``after_us`` mirrors ``sd_journal_seek_realtime_usec`` pushdown
    (journalreader.rs:1172-1196): entries whose header realtime precedes
    it are skipped without touching their data objects.
    """
    n = len(buf)
    if n < _HEADER_FIXED_SIZE or buf[:8] != SIGNATURE:
        raise JournalFormatError("not a journal file (bad signature or truncated header)")
    (
        _sig, _compat, incompatible, _state, _fid, _mid, _tbid, _sqid,
        header_size, _arena, _dht_o, _dht_s, _fht_o, _fht_s, _tail_obj,
        _n_objects, n_entries, _tail_seq, _head_seq, entry_array_offset,
        _head_rt, _tail_rt, _tail_mono,
    ) = _HEADER_FIXED.unpack_from(buf)
    unknown = incompatible & ~(
        HEADER_INCOMPATIBLE_COMPACT
        | HEADER_INCOMPATIBLE_COMPRESSED_XZ
        | HEADER_INCOMPATIBLE_COMPRESSED_LZ4
        | HEADER_INCOMPATIBLE_COMPRESSED_ZSTD
        | HEADER_INCOMPATIBLE_KEYED_HASH
    )
    if unknown:
        raise JournalFormatError(f"unsupported incompatible flags: {unknown:#x}")
    if header_size < _HEADER_FIXED_SIZE or header_size > n:
        raise JournalFormatError(f"implausible header_size {header_size}")
    compact = bool(incompatible & HEADER_INCOMPATIBLE_COMPACT)
    item_fmt, item_sz = ("<I", 4) if compact else ("<Q", 8)
    data_fixed = _DATA_PAYLOAD_OFF_COMPACT if compact else _DATA_PAYLOAD_OFF_REGULAR

    def obj_at(off: int, want_type: int) -> tuple[int, bytes]:
        if off + 16 > n:
            raise JournalFormatError(f"object header at {off} beyond EOF")
        typ, flags, size = _OBJ_HDR.unpack_from(buf, off)
        if typ != want_type:
            raise JournalFormatError(f"object at {off}: type {typ}, wanted {want_type}")
        if off + size > n or size < 16:
            raise JournalFormatError(f"object at {off}: size {size} beyond EOF")
        return flags, buf[off + 16 : off + size]

    out: list[dict] = []
    seen = 0
    array_off = entry_array_offset
    entry_no = 0
    while array_off and seen < n_entries:
        _, body = obj_at(array_off, OBJECT_ENTRY_ARRAY)
        next_off = struct.unpack_from("<Q", body)[0]
        n_items = (len(body) - 8) // item_sz
        for k in range(n_items):
            if seen >= n_entries:
                break
            (entry_off,) = struct.unpack_from(item_fmt, body, 8 + k * item_sz)
            if entry_off == 0:
                break  # under-filled tail array
            seen += 1
            _, ebody = obj_at(entry_off, OBJECT_ENTRY)
            seqnum, realtime, monotonic, boot_id, _xor = _ENTRY_FIXED.unpack_from(ebody)
            if after_us is not None and realtime < after_us:
                entry_no += 1
                continue  # seek pushdown: no data-object fetch
            fields: dict[str, str] = {}
            err = None
            idx_sz = 4 if compact else 16
            n_data = (len(ebody) - _ENTRY_FIXED.size) // idx_sz
            for d in range(n_data):
                if compact:
                    (doff,) = struct.unpack_from("<I", ebody, _ENTRY_FIXED.size + d * 4)
                else:
                    doff, _h = struct.unpack_from("<QQ", ebody, _ENTRY_FIXED.size + d * 16)
                if doff == 0:
                    continue
                dflags, dbody = obj_at(doff, OBJECT_DATA)
                try:
                    payload = _decompress(dflags, dbody[data_fixed:])
                except (JournalFormatError, lzma.LZMAError) as e:
                    err = str(e)
                    continue
                key, _, value = payload.partition(b"=")
                fields[key.decode("utf-8", "replace")] = value.decode("utf-8", "replace")
            src = fields.get(KEY_SOURCE_REALTIME)
            if dt_uses_source == "source_fallback" and src is not None and src.isdigit():
                ts_us = int(src)
            else:  # reference default: DT_USES_SOURCE_OVERRIDE → realtime
                ts_us = realtime
            out.append({
                "entry_no": entry_no,
                "seqnum": seqnum,
                "realtime_us": realtime,
                "monotonic_us": monotonic,
                "boot_id": boot_id.hex(),
                "fields": fields,
                "ts_us": ts_us,
                "n_fields": len(fields),
                "error": err,
            })
            entry_no += 1
        array_off = next_off
    return out


def parse_journal_native(
    docs: DataFrame,
    payload_col: str = "payload",
    after_us: Optional[int] = None,
    dt_uses_source: str = "realtime",
) -> DataFrame:
    """(doc_id, source, payload binary) → one row per journal entry.

    Output: (doc_id, source, entry_no, seqnum, realtime_us, monotonic_us,
    boot_id, fields map<string,string>, ts timestamp, n_fields, error).
    A file-level format error yields a single row with entry_no = -1 and
    the message in ``error`` — corrupt files never kill the task (same
    row-level containment as the multimodal decoders).
    """
    import pandas as pd

    schema = (
        "doc_id string, source string, entry_no int, seqnum bigint, "
        "realtime_us bigint, monotonic_us bigint, boot_id string, "
        "fields map<string,string>, ts timestamp, n_fields int, error string"
    )
    cols = [
        "doc_id", "source", "entry_no", "seqnum", "realtime_us",
        "monotonic_us", "boot_id", "fields", "ts", "n_fields", "error",
    ]

    def _gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, source, payload in zip(pdf["doc_id"], pdf["source"], pdf[payload_col]):
                buf = bytes(payload) if payload is not None else b""
                try:
                    entries = parse_journal_bytes(buf, after_us=after_us, dt_uses_source=dt_uses_source)
                except JournalFormatError as e:
                    rows.append({
                        "doc_id": doc_id, "source": source, "entry_no": -1,
                        "seqnum": None, "realtime_us": None, "monotonic_us": None,
                        "boot_id": None, "fields": None, "ts": pd.NaT,
                        "n_fields": None, "error": str(e),
                    })
                    continue
                for ent in entries:
                    ts_us = ent.pop("ts_us")
                    ent["ts"] = pd.to_datetime(ts_us, unit="us", utc=True)
                    ent["doc_id"], ent["source"] = doc_id, source
                    rows.append(ent)
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id", "source", payload_col).mapInPandas(_gen, schema=schema)
