"""Kernel output hash: the md5 and the table count of ``extract_document``
over the generated corpus ``gen_document(0..N-1)``. Stdlib plus the
package; no Spark.

    python tools/kernel_hash.py [N]        # N defaults to 20000

The md5 runs over ``json.dumps(result, sort_keys=True, default=str)`` of
each document's result, in index order. Two trees that print the same
line produce byte-identical kernel output over that corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webtableextractionsystem_spark.datagen import gen_document  # noqa: E402
from webtableextractionsystem_spark.kernel.pipeline import (  # noqa: E402
    extract_document,
)


def kernel_hash(n: int) -> tuple[str, int]:
    md5 = hashlib.md5()
    tables = 0
    for i in range(n):
        doc = gen_document(i)
        result = extract_document(doc["doc_id"], doc["spans"])
        md5.update(json.dumps(result, sort_keys=True, default=str).encode())
        tables += len(result["tables"])
    return md5.hexdigest(), tables


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    digest, tables = kernel_hash(n)
    print(f"docs={n} md5={digest} tables={tables}")


if __name__ == "__main__":
    main()
