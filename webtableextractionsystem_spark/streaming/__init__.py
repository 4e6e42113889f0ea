"""Structured Streaming surface (SURVEY.md §2.7): one path,
``incremental.incremental_extract``.

The reference runs three long-lived poll loops over SQL-Server queue
tables with destructive batch consumption (at-most-once). The rebuild's
primary replacement is checkpointed idempotent batch (checkpoint.py, as
the north rule requires); this package adds the streaming variant for
genuinely incremental ingest: a file-source stream with
``Trigger.AvailableNow`` + ``foreachBatch`` into the same extraction
stage, with Spark's streaming checkpoint giving exactly-once file
tracking — the correct version of the reference's fetch-then-DELETE
discipline.

A stream's answer is the batch query over the stream's prefix, so every
other operator runs as its batch form over the files present. Driver-side
filesystem calls go through ``session.hadoop_fs``, so output and state
roots may be plain paths or any URI Spark can write.
"""
