"""systemd-journal export-format parsing — P13.

Reference: ``JournalReader`` reads entries via libsystemd FFI
(/root/reference/src/readers/journalreader.rs); entry timestamp comes
from ``_SOURCE_REALTIME_TIMESTAMP`` when present, else
``__REALTIME_TIMESTAMP`` (µs epoch) —
/root/reference/src/data/journal.rs:86-123,148. We do not link
libsystemd: input is the documented journal *export format* (KEY=VALUE
lines, blank-line entry separator), which ``journalctl -o export``
emits.

Spark realization: pure JVM expressions — split doc on blank lines →
explode entries → split lines → map_from_entries. No UDF, whole-stage
codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REALTIME = "__REALTIME_TIMESTAMP"
SOURCE_REALTIME = "_SOURCE_REALTIME_TIMESTAMP"


def parse_journal_export(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, source, text) → one row per journal entry:
    (doc_id, source, entry_no, fields map<string,string>, ts).

    ts = _SOURCE_REALTIME_TIMESTAMP if present else __REALTIME_TIMESTAMP
    (both µs epoch), exactly the reference's precedence
    (journal.rs:112-123).
    """
    entries = docs.select(
        "doc_id", "source",
        F.posexplode(F.split(F.col(text_col), "\n\n")).alias("entry_no", "raw"),
    ).filter(F.length(F.trim("raw")) > 0)
    kv_lines = F.filter(F.split(F.col("raw"), "\n"), lambda l: l.contains("="))
    entries = entries.withColumn(
        "fields",
        F.map_from_entries(
            F.transform(
                kv_lines,
                lambda l: F.struct(
                    F.substring_index(l, "=", 1).alias("key"),
                    F.regexp_replace(l, "^[^=]*=", "").alias("value"),
                ),
            )
        ),
    ).drop("raw")
    usec = F.coalesce(
        F.element_at("fields", SOURCE_REALTIME).cast("long"),
        F.element_at("fields", REALTIME).cast("long"),
    )
    return entries.withColumn("ts", F.timestamp_micros(usec)).withColumn(
        "n_fields", F.size("fields")
    )


def parse_journal_export_binary(docs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, source, payload binary) → entry rows, like
    :func:`parse_journal_export` but over the RAW export stream, which
    may carry binary-valued fields: ``KEY\\n<uint64-le length><bytes>\\n``
    (the format journalctl -o export emits for fields with embedded
    newlines or non-UTF-8 bytes). Binary values are decoded
    UTF-8-with-replacement into the same ``map<string,string>`` — the
    reference's get_data also lossily stringifies for display
    (journalreader.rs export path).

    A pandas UDF walks the bytes (a JVM split on newline would tear
    binary values apart); entries stay one output row each.
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F811

    out_schema = (
        "doc_id string, source string, entry_no int, fields map<string,string>, "
        "ts timestamp, n_fields int"
    )

    def _parse_stream(buf: bytes) -> list[dict]:
        entries, fields, i, n = [], {}, 0, len(buf)
        while i <= n:
            nl = buf.find(b"\n", i)
            line = buf[i : nl if nl >= 0 else n]
            if not line:  # blank line (or EOF) closes the entry
                if fields:
                    entries.append(fields)
                    fields = {}
                if nl < 0:
                    break
                i = nl + 1
                if i >= n:
                    break
                continue
            if b"=" in line:
                k, _, v = line.partition(b"=")
                fields[k.decode("utf-8", "replace")] = v.decode("utf-8", "replace")
                i = (nl + 1) if nl >= 0 else n + 1
            else:
                # binary field: name \n <uint64 le size> <data> \n
                key = line.decode("utf-8", "replace")
                j = (nl + 1) if nl >= 0 else n
                size = int.from_bytes(buf[j : j + 8], "little")
                data = buf[j + 8 : j + 8 + size]
                fields[key] = data.decode("utf-8", "replace")
                i = j + 8 + size + 1  # trailing newline after the data
        if fields:
            entries.append(fields)
        return entries

    def _gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, source, payload in zip(pdf["doc_id"], pdf["source"], pdf[payload_col]):
                buf = bytes(payload) if payload is not None else b""
                for no, fields in enumerate(_parse_stream(buf)):
                    usec = fields.get(SOURCE_REALTIME, fields.get(REALTIME))
                    ts = pd.to_datetime(int(usec), unit="us", utc=True) if usec and usec.isdigit() else pd.NaT
                    rows.append({
                        "doc_id": doc_id, "source": source, "entry_no": no,
                        "fields": fields, "ts": ts, "n_fields": len(fields),
                    })
            yield pd.DataFrame(rows, columns=["doc_id", "source", "entry_no", "fields", "ts", "n_fields"])

    return docs.select("doc_id", "source", payload_col).mapInPandas(_gen, schema=out_schema)
