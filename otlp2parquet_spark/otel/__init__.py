"""OTLP -> Parquet ingest dataflow (SURVEY.md §2.1, reference src/).

Spark-first re-expression of the reference's ingest engine: landing files
(protobuf / OTLP-JSON / JSONL payloads) are scanned with Spark sources,
decoded by an Arrow-batched Python codec (`mapInArrow`), and written as
Snappy Parquet in the reference's partitioned layout.
"""
