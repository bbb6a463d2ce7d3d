"""The BM25 term weight, defined once for every scorer and the build.

    weight(t, d) = idf(N, df_t) * tf_norm(tf, dl, k1, b, avg_dl)

Every engine path (block-max scores in ``index.build``, the NumPy scorers
and the distributed plan in ``query.bm25``, the generational readers in
``streaming.incremental``) multiplies ``idf * tf_norm(...)`` in exactly this
order, the order ``oracle.OracleIndex`` uses, so a weight computed on the
driver, on an executor or in the build is the same float64 everywhere the
idf is the same.

``tf_norm`` is written with plain operators, so one definition serves
Python floats, NumPy arrays and Spark Columns with the same operation
order (Column ``+`` and ``*`` may swap operands, which IEEE addition and
multiplication do not notice). The idf needs a logarithm, so it has two
twins: ``idf`` (CPython ``math.log``, the platform libm) and ``idf_col``
(Spark ``log``, Java StrictMath). The two logs can disagree in the last
bit, so an idf computed in a Spark plan may be one ulp away from the
driver's. The DuckDB SQL twins in ``operators.fulltext`` and ``oracle`` stay
independent: they are the reference.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def idf(n: int, df: int) -> float:
    """Lucene's BM25 idf for a term in ``df`` of ``n`` documents."""
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def idf_col(n: int, df: Column) -> Column:
    """``idf`` over a Column of document frequencies, same operation order."""
    return F.log(F.lit(1.0) + (F.lit(float(n)) - df + 0.5) / (df + 0.5))


def tf_norm(tf, dl, k1: float, b: float, avg_dl: float):
    """BM25's saturated, length-normalised term frequency. ``tf`` and ``dl``
    may be scalars, NumPy arrays or Spark Columns."""
    return tf / (tf + k1 * (1.0 - b + b * dl / avg_dl))
