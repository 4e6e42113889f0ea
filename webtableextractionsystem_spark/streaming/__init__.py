"""Structured Streaming surface (SURVEY.md §2.7).

The reference runs three long-lived poll loops over SQL-Server queue
tables with destructive batch consumption (at-most-once). The rebuild's
primary replacement is checkpointed idempotent batch (checkpoint.py, as
the north rule requires); this package adds the Structured Streaming
variant for genuinely incremental ingest: file-source streams with
``Trigger.AvailableNow`` + ``foreachBatch`` into the same extraction
stage, with Spark's streaming checkpoint giving exactly-once file
tracking — the correct version of the reference's fetch-then-DELETE
discipline.

Each streaming entry point reuses its batch twin's expression; the
plumbing they share lives once in ``incremental.py``:
``run_available_now`` (the package's only ``writeStream``)
and ``batch_dirs`` (the replay-idempotent ``batch=<id>`` overwrite
sink). Driver-side filesystem calls go through ``session.hadoop_fs``,
so output and state roots may be plain paths or any URI Spark can
write.
"""
