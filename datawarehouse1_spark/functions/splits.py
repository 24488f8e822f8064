"""The deterministic train/val/test split of the document corpus.

A document's split is a pure function of its id: the first 8 hex chars
of md5(doc_id), compared lexicographically — which is a compare on the
top 32 bits of the digest: 'e6666666'/16^8 ≈ 0.90, 'f3333333'/16^8 ≈
0.95, so about 90/5/5. Re-partitioning, re-ordering or re-ingesting the
corpus never moves a document across splits. `split_col` is the Spark
expression; `SPLIT_SQL` is its DuckDB twin over a `doc_id` column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SPLIT_SQL = """
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
              THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333'
              THEN 'val'
         ELSE 'test' END
"""


def split_col(id_col: str = "doc_id") -> F.Column:
    """'train' / 'val' / 'test' of a document id column (the Spark twin
    of SPLIT_SQL)."""
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    return (
        F.when(prefix < "e6666666", "train")
        .when(prefix < "f3333333", "val")
        .otherwise("test")
    )
