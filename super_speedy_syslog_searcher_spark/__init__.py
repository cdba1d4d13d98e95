"""super_speedy_syslog_searcher_spark — a PySpark-native log pipeline.

A brand-new DataFrame/Catalyst-native parse → enrich → route → aggregate
engine with the query and data-processing capabilities of the reference
``jayvdb/super-speedy-syslog-searcher`` (s4, Rust CLI). This is NOT a port:
the reference's byte-offset, thread-per-file execution model is replaced by
Spark scans, vectorized pandas/Arrow UDFs, window-based sessionization and a
range-partitioned global merge sort.

Layout
------
functions/   token codec, DTPD datetime-pattern table, vectorized parse,
             text-analysis column expressions
operators/   sessionize, year-inference, dt filters, enrichment join,
             global merge sort, routing/fan-out, summary aggregates,
             dedup, similarity search, media header metadata
sources/     file-type catalog rules, synthetic tokenized corpus generator,
             fixed-struct (utmpx-family) decoder, journald export decoder,
             evtx-analogue decoder
plans/       end-to-end pipeline composition, checkpoint/resume + lineage
streaming/   the pipeline under Structured Streaming (foreachBatch), and
             stateful sequence packing
session.py   the SparkSession factory; on local masters it runs the
             Python workers under worker_daemon.py

This file imports nothing: ``python -m ...worker_daemon`` runs it before
the daemon has settled which pyspark to import.
"""

__version__ = "0.1.0"
