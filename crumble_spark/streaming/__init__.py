"""Incremental ingestion via Structured Streaming.

The reference is a bounded single-pass batch tool (SURVEY.md §2 notes),
so the engine's core is batch + lineage resume.  This package covers the
complementary production need: token shards that keep *arriving*.  The
file-source + foreachBatch pattern (ingest.py) runs each micro-batch as
one run of the batch job (job.write_run), with Spark's streaming
checkpoint guaranteeing each input file is processed exactly once.
"""
