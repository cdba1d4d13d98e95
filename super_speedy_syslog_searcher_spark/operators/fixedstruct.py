"""Fixed-width binary record decoding (utmp/utmpx family) — P11.

Reference: ``FixedStructReader`` scores a file's bytes against all struct
layout variants and the best-scoring layout wins
(/root/reference/src/readers/fixedstructreader.rs:174-232, score result
:153-165); per-variant layouts live in
/root/reference/src/data/fixedstruct.rs:453-527 (utmpx field sizes
UT_LINESIZE=16, UT_USERSIZE=32, UT_HOSTSIZE=128); records are indexed by
their embedded ``timeval`` so emission is time-ordered even when the file
is not (fixedstructreader.rs:116); null records (all 0x00/0xFF) are
skipped (fixedstruct.rs:189-190).

Spark realization: records ride a ``binary`` column; a vectorized pandas
UDF decodes whole Arrow batches with numpy strided views (no per-record
Python structs); layout election is a per-source aggregation over sampled
scores (the analogue of per-file scoring); per-doc time order is restored
with a window rank, not a global sort.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Layout:
    """One fixed-struct layout variant (≙ FixedStructType).

    Fields that a variant lacks (lastlog/acct/utmp have no ut_type or
    ut_pid; several have no tv_usec) are ``None`` — decode emits 0/'' for
    them, mirroring the reference's per-variant field access
    (fixedstruct.rs entry_to_* per module)."""

    name: str
    size: int
    off_user: int  # user-ish field: ut_user / ut_name / ll_line / ac_comm
    user_len: int
    off_tv_sec: int  # ut_tv.tv_sec / ll_time / ut_time / ac_btime
    sec_width: int  # 4 or 8 (little-endian signed)
    off_tv_usec: int | None = None
    usec_width: int = 8
    off_type: int | None = None  # ut_type (2 bytes) where present
    off_pid: int | None = None  # ut_pid (4 bytes) where present


# All 16 reference variants; offsets/sizes from the struct layout tables
# embedded in /root/reference/src/data/fixedstruct.rs (each module's
# `assertcp_eq!` offset assertions; enum at :161-242, sizes at :246-265).
LAYOUTS = [
    Layout("freebsd_x8664_utmpx", 280, 36, 32, 8, 8, 16, 8, 0, 32),
    Layout("linux_arm64_lastlog", 296, 8, 32, 0, 8),
    Layout("linux_arm64_utmpx", 400, 44, 32, 344, 8, 352, 8, 0, 4),
    Layout("linux_x86_acct", 64, 36, 17, 8, 4),
    Layout("linux_x86_acct_v3", 64, 48, 16, 24, 4, None, 8, None, 16),
    Layout("linux_x86_lastlog", 292, 4, 32, 0, 4),
    Layout("linux_x86_utmpx", 384, 44, 32, 340, 4, 344, 4, 0, 4),
    Layout("netbsd_x8632_acct", 56, 0, 16, 24, 8),
    Layout("netbsd_x8632_lastlogx", 428, 12, 32, 0, 8, 8, 4),
    Layout("netbsd_x8632_utmpx", 516, 0, 32, 464, 8, 472, 4, 326, 328),
    Layout("netbsd_x8664_lastlog", 32, 8, 8, 0, 8),
    Layout("netbsd_x8664_lastlogx", 432, 16, 32, 0, 8, 8, 4),
    Layout("netbsd_x8664_utmp", 40, 8, 8, 32, 8),
    Layout("netbsd_x8664_utmpx", 520, 0, 32, 464, 8, 472, 4, 326, 328),
    Layout("openbsd_x86_lastlog", 272, 8, 8, 0, 8),
    Layout("openbsd_x86_utmp", 304, 8, 32, 296, 8),
]
LAYOUT_BY_NAME = {l.name: l for l in LAYOUTS}

# the layout a source without an elected one decodes with
UTMPX = LAYOUT_BY_NAME["linux_x86_utmpx"]


def pack_records(layout: Layout, ut_type: int, pid: int, user: str, tv_sec: int, tv_usec: int) -> bytes:
    """Build one record (corpus/test construction only). Fields the
    layout lacks are silently dropped."""
    buf = bytearray(layout.size)
    if layout.off_type is not None:
        buf[layout.off_type : layout.off_type + 2] = int(ut_type).to_bytes(2, "little", signed=True)
    if layout.off_pid is not None:
        buf[layout.off_pid : layout.off_pid + 4] = int(pid).to_bytes(4, "little", signed=True)
    ub = user.encode()[: layout.user_len]
    buf[layout.off_user : layout.off_user + len(ub)] = ub
    w = layout.sec_width
    buf[layout.off_tv_sec : layout.off_tv_sec + w] = int(tv_sec).to_bytes(w, "little", signed=True)
    if layout.off_tv_usec is not None:
        wu = layout.usec_width
        buf[layout.off_tv_usec : layout.off_tv_usec + wu] = int(tv_usec).to_bytes(wu, "little", signed=True)
    return bytes(buf)


def _batch_view(payloads: list[bytes], layout: Layout) -> np.ndarray | None:
    """Stack equal-sized records into an (n, size) uint8 matrix."""
    ok = [p for p in payloads if p is not None and len(p) == layout.size]
    if len(ok) != len(payloads) or not ok:
        return None
    return np.frombuffer(b"".join(ok), dtype=np.uint8).reshape(len(ok), layout.size)


def _masked_view(payloads: list[bytes | None], layout: Layout) -> tuple[np.ndarray, np.ndarray]:
    """(ok_mask, matrix-of-ok-records). Wrong-size / None records are
    excluded from the matrix but keep their position in the mask, so a
    single truncated record never corrupts its siblings (the reference
    skips only the bad record — fixedstructreader.rs:174-232)."""
    ok = np.array([p is not None and len(p) == layout.size for p in payloads], dtype=bool)
    good = [p for p, o in zip(payloads, ok) if o]
    if not good:
        return ok, np.empty((0, layout.size), dtype=np.uint8)
    return ok, np.frombuffer(b"".join(good), dtype=np.uint8).reshape(len(good), layout.size)


def _read_ints(m: np.ndarray, off: int, width: int) -> np.ndarray:
    dt = {2: "<i2", 4: "<i4", 8: "<i8"}[width]
    return m[:, off : off + width].copy().view(dt)[:, 0].astype(np.int64)


def _decode_matrix(m: np.ndarray, layout: Layout) -> dict[str, np.ndarray]:
    n = len(m)
    zeros = np.zeros(n, dtype=np.int64)
    return {
        "ut_type": _read_ints(m, layout.off_type, 2) if layout.off_type is not None else zeros,
        "ut_pid": _read_ints(m, layout.off_pid, 4) if layout.off_pid is not None else zeros,
        "user_bytes": m[:, layout.off_user : layout.off_user + layout.user_len],
        "tv_sec": _read_ints(m, layout.off_tv_sec, layout.sec_width),
        "tv_usec": (
            _read_ints(m, layout.off_tv_usec, layout.usec_width)
            if layout.off_tv_usec is not None
            else zeros
        ),
    }


def score_layout(m: np.ndarray, layout: Layout) -> int:
    """Plausibility score (≙ score_fixedstruct, fixedstructreader.rs:964):
    +1 per record for sane ut_type (where the layout has one), sane epoch,
    plausible µs, printable user field."""
    d = _decode_matrix(m, layout)
    s = 0
    if layout.off_type is not None:
        s += int(((d["ut_type"] >= 0) & (d["ut_type"] <= 10)).sum())
    s += int(((d["tv_sec"] > 0) & (d["tv_sec"] < 4102444800)).sum())  # < 2100
    if layout.off_tv_usec is not None:
        s += int(((d["tv_usec"] >= 0) & (d["tv_usec"] < 1_000_000)).sum())
    ub = d["user_bytes"]
    printable = ((ub == 0) | ((ub >= 0x20) & (ub < 0x7F))).all(axis=1)
    s += int(printable.sum())
    return s


def bounded_sample(
    records: DataFrame,
    payload_col: str = "record",
    sample_per_source: int = 64,
    doc_sample_mod: int = 20,
) -> DataFrame:
    """≤ ``sample_per_source`` payload rows per source, with bounded
    memory at every stage (no unbounded ``collect_list`` buffer — a hot
    source with 10⁹ sampled records must not funnel GBs through one
    aggregation group):

    1. hash-sample ~1/doc_sample_mod of docs (scan-level filter);
    2. per-partition head — a streaming cap that emits at most
       ``sample_per_source`` rows per source from each input partition,
       so the window shuffle below moves ≤ 64·P rows/source, never the
       raw sampled payload;
    3. ``row_number() <= sample_per_source`` over a per-source window —
       the global cap, applied BEFORE any aggregate/collect.
    """
    from pyspark.sql.window import Window

    sampled = records.filter(F.pmod(F.xxhash64("doc_id"), F.lit(doc_sample_mod)) == 0)
    if sampled.isEmpty():
        sampled = records
    slim = sampled.select("source", "doc_id", "record_no", payload_col)

    def _partition_head(batches):
        seen: dict[str, int] = {}
        for pdf in batches:
            offs = pdf["source"].map(lambda s: seen.get(s, 0))
            cc = pdf.groupby("source", sort=False).cumcount() + offs
            mask = (cc < sample_per_source).to_numpy()
            for s, n in pdf["source"].value_counts().items():
                seen[s] = seen.get(s, 0) + int(n)
            if mask.any():
                yield pdf[mask]

    capped = slim.mapInPandas(_partition_head, schema=slim.schema)
    w = Window.partitionBy("source").orderBy("doc_id", "record_no")
    return (
        capped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sample_per_source)
        .drop("_rn")
    )


def elect_layouts(
    records: DataFrame,
    payload_col: str = "record",
    sample_per_source: int = 64,
    doc_sample_mod: int = 20,
) -> dict[str, str]:
    """Per-source layout election from a bounded sample (≙ per-file
    preprocessing, fixedstructreader.rs:174-232). The hash filter cuts
    ~1/doc_sample_mod of docs BEFORE any shuffle so the election job
    reads a bounded fraction at any corpus size, and
    :func:`bounded_sample` caps rows per source BEFORE anything is
    collected — no aggregation buffer ever holds more than the sample.
    Sources that lose every doc to the sample fall back to the default
    layout (decode still tags wrong-size records invalid). Returns
    {source: layout_name}."""
    rows = bounded_sample(records, payload_col, sample_per_source, doc_sample_mod).collect()
    by_source: dict[str, list[bytes]] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(bytes(r[payload_col]))
    out: dict[str, str] = {}
    for source, recs in by_source.items():
        best_name, best_score = None, -1
        for layout in LAYOUTS:
            m = _batch_view(recs, layout)
            if m is None:
                continue
            sc = score_layout(m, layout)
            if sc > best_score:
                best_name, best_score = layout.name, sc
        if best_name:
            out[source] = best_name
    return out


DECODED_SCHEMA = (
    "doc_id string, source string, record_no int, ut_type int, ut_pid int, "
    "ut_user string, ts timestamp, valid boolean"
)


def decode_fixedstruct(
    records: DataFrame,
    layout_by_source: dict[str, str] | None = None,
    payload_col: str = "record",
) -> DataFrame:
    """(doc_id, source, record_no, record binary) → decoded rows.

    Null records (all 0x00 / all 0xFF) are emitted with valid=false
    (rejects-channel doctrine) — the reference skips them
    (fixedstruct.rs:189-190).
    """
    layout_by_source = layout_by_source or elect_layouts(records, payload_col)

    def _gen(batches):
        for pdf in batches:
            frames = []
            for src, g in pdf.groupby("source", sort=False):
                layout = LAYOUT_BY_NAME.get(layout_by_source.get(src, UTMPX.name), UTMPX)
                payloads = [bytes(p) if p is not None else None for p in g[payload_col]]
                n = len(payloads)
                ok, m = _masked_view(payloads, layout)
                # defaults for wrong-size / None records (valid=false)
                ut_type = np.zeros(n, dtype="int32")
                ut_pid = np.zeros(n, dtype="int32")
                users = [""] * n
                ts = pd.Series([pd.NaT] * n, dtype="datetime64[ns, UTC]")
                valid = ok.copy()
                if len(m):
                    d = _decode_matrix(m, layout)
                    null_rec = (m == 0).all(axis=1) | (m == 0xFF).all(axis=1)
                    ut_type[ok] = d["ut_type"].astype("int32")
                    ut_pid[ok] = d["ut_pid"].astype("int32")
                    decoded_users = [
                        row.tobytes().split(b"\x00", 1)[0].decode("ascii", "replace")
                        for row in d["user_bytes"]
                    ]
                    for pos, u in zip(np.flatnonzero(ok), decoded_users):
                        users[pos] = u
                    ok_ts = pd.to_datetime(d["tv_sec"] * 1_000_000 + d["tv_usec"], unit="us", utc=True)
                    ts.iloc[np.flatnonzero(ok)] = ok_ts
                    valid[ok] = ~null_rec
                frames.append(
                    pd.DataFrame(
                        {
                            "doc_id": g["doc_id"].to_numpy(),
                            "source": g["source"].to_numpy(),
                            "record_no": g["record_no"].to_numpy(),
                            "ut_type": ut_type,
                            "ut_pid": ut_pid,
                            "ut_user": users,
                            "ts": ts,
                            "valid": valid,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                columns=["doc_id", "source", "record_no", "ut_type", "ut_pid", "ut_user", "ts", "valid"]
            )

    return records.select("doc_id", "source", "record_no", payload_col).mapInPandas(_gen, schema=DECODED_SCHEMA)


def time_ordered(decoded: DataFrame) -> DataFrame:
    """Valid records ranked by embedded timeval within each doc — the
    reference's BTreeMap<(tv_pair)> emission order
    (fixedstructreader.rs:116,174-232). Window per doc (bounded), not a
    global sort."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("ts", "record_no")
    return decoded.filter(F.col("valid")).withColumn("rec_rank", F.row_number().over(w))
