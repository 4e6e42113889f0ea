"""Pure-Python per-document extraction kernel.

No Spark imports here: everything is unit-testable standalone and is
invoked from Spark exclusively through Arrow-batched ``mapInArrow``
(operators/extraction.py). The kernel is "batched tokenize+classify":
one regex-driven tokenizer scan per document (dom.py), cell micro-typing
in one memoized pass over all cells of a document's tables
(celltype.classify_batch), and table features (orientation variance,
type-distance means) as numpy matrix ops over a precomputed 16x16
distance matrix. No per-row Python is visible to Spark — the entire
kernel runs inside a single mapInArrow stage.
"""
