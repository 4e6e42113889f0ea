"""PySpark-native web-table + main-content extraction engine.

A from-scratch rebuild of the capabilities of
``renlongyajin/WebTableExtractionSystem`` (reference read-only at
``/root/reference``) on idiomatic Spark: DataFrame/SQL for all relational
glue, Arrow-batched kernels (``mapInArrow``) for the per-document DOM
work, explicit salted partitioning for skew, and a checkpoint table for
idempotent resume.

Layout
------
``kernel/``     pure-Python per-document extraction kernel (no Spark
                dependency; unit-testable standalone).
``operators/``  Spark DataFrame operators: extraction stage, entity fusion,
                dedup family, similarity search, text analysis.
``schemas.py``  all StructType contracts (input documents, spans_out,
                tables_out, entities, triples, checkpoint).
``lexicons.py`` pinned classification lexicons + cell TypeTree.
``datagen.py``  deterministic synthetic interleaved-documents generator.
``checkpoint.py`` checkpointed, resumable batch runner.
"""

__version__ = "0.1.0"
