"""Id-set filtering strategies + plan-level rewrites.

The reference's only row-restriction mechanism is an inner join against a
literal key frame (main.rs:310-318, 549-556).  Inner-join semantics are part
of the contract (SURVEY.md §1.4.1): requested ids absent from the table are
dropped; duplicated requested ids multiply result rows.

Spark-first strategy selection (this module is the Python planning layer —
SURVEY.md §4 notes a true Catalyst rule needs Scala; the rewrite here keeps
the same narrow interface so a `spark.sql.extensions` rule can replace it):

- ``ISIN_THRESHOLD``-or-fewer *distinct* literal ids and no duplicates →
  rewrite to an ``IN`` predicate.  This reaches the parquet scan as a
  PushedFilter, so row-group statistics (the reference's sorted-by-doc_id
  layout, main.rs:233) prune I/O — strictly better than the reference, whose
  join never prunes the scan (README.md:19-23 observed ~1 s/query).
- otherwise → inner join against a broadcast key frame; with runtime
  bloom-filter joins enabled (session.py) the keys still prune the scan.
  Duplicate ids keep join multiplicity, matching the reference exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Above this many ids, an in-predicate stops being pushdown-friendly and the
# broadcast-join path (with bloom-filter scan pruning) wins.
ISIN_THRESHOLD = 10_000


def ids_in_sql(operand: str, ids: Sequence[int]) -> str:
    """``<operand> IN (i1, i2, ...)`` as one SQL string, to be parsed with
    a single ``F.expr`` call: the Column-API ``isin(ids)`` (and a
    ``F.filter`` lambda around it) pays a py4j round trip per literal,
    ~550-1,040 calls for 100 ids.  Plain integer literals type exactly as
    the Column API's do (int, or bigint beyond the int range, negatives
    included) and coerce to the operand's type, so the optimized plan is
    the same.  ``IN ()`` does not parse, so an empty list renders as
    ``false``: an empty IN list matches no row, null operands included."""
    if not ids:
        return "false"
    return f"{operand} IN ({', '.join(str(int(i)) for i in ids)})"


def id_frame(
    spark: SparkSession, doc_ids: Sequence[int], doc_id_col: str = "doc_id"
) -> DataFrame:
    """Literal key frame, the reference's ``df!("doc_id" => ids)``
    (main.rs:302-307). No driver-side sort needed: Spark hash-joins."""
    return spark.createDataFrame(
        [(int(i),) for i in doc_ids], f"{doc_id_col} long"
    )


def filter_by_doc_ids(
    df: DataFrame,
    doc_ids: Sequence[int],
    doc_id_col: str = "doc_id",
    preserve_multiplicity: bool = True,
) -> DataFrame:
    """Restrict ``df`` to rows whose ``doc_id_col`` is in ``doc_ids``.

    Reproduces reference join semantics (main.rs:310-318): missing ids
    silently dropped; duplicate ids duplicate rows when
    ``preserve_multiplicity`` (the reference default).  When the id list is
    small and duplicate-free the ``IN`` rewrite is used — identical
    semantics, scan-prunable.
    """
    ids = [int(i) for i in doc_ids]
    has_dups = len(set(ids)) != len(ids)
    if len(ids) <= ISIN_THRESHOLD and not (preserve_multiplicity and has_dups):
        quoted = "`" + doc_id_col.replace("`", "``") + "`"
        return df.where(F.expr(ids_in_sql(quoted, ids)))
    spark = df.sparkSession
    keys = id_frame(spark, ids, doc_id_col)
    if not preserve_multiplicity:
        keys = keys.dropDuplicates([doc_id_col])
    return df.join(F.broadcast(keys), on=doc_id_col, how="inner")
