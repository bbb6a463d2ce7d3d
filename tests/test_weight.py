"""The BM25 weight kernel's NumPy and Spark Column twins agree."""

import itertools

import numpy as np
from pyspark.sql import functions as F

from search_replica_spark.query.weight import idf, idf_col, tf_norm

N = 200_003
AVG_DL = 137.25
TFS = (1, 2, 3, 17, 1000)
DLS = (1, 2, 40, 137, 138, 2_000, 1_000_000)  # far below, near and far above AVG_DL
DFS = (1, 2, 97, N // 2, N - 1, N)
PARAMS = ((1.2, 0.75), (2.0, 0.3), (0.9, 0.0), (1.5, 1.0))


def test_kernel_twins_agree(spark):
    grid = list(itertools.product(TFS, DLS, DFS))
    sdf = spark.createDataFrame(grid, "tf long, dl long, df long")
    cols = [idf_col(N, F.col("df")).alias("idf")]
    for i, (k1, b) in enumerate(PARAMS):
        norm = tf_norm(F.col("tf"), F.col("dl"), k1, b, AVG_DL)
        cols += [norm.alias(f"norm{i}"), (idf_col(N, F.col("df")) * norm).alias(f"w{i}")]
    got = sdf.select("tf", "dl", "df", *cols).toPandas()
    tf = got["tf"].to_numpy(np.float64)
    dl = got["dl"].to_numpy(np.float64)
    want_idf = np.array([idf(N, int(d)) for d in got["df"]])
    spark_idf = got["idf"].to_numpy()

    # the two logs (libm vs Java StrictMath) may differ in the last bit only
    assert np.all(np.abs(spark_idf - want_idf) <= np.spacing(want_idf))
    same_idf = spark_idf == want_idf
    assert same_idf.mean() > 0.9
    for i, (k1, b) in enumerate(PARAMS):
        norm = tf_norm(tf, dl, k1, b, AVG_DL)
        assert np.array_equal(got[f"norm{i}"].to_numpy(), norm), (k1, b)
        # the whole weight is bit-equal wherever the idf twins agree
        w = want_idf * norm
        assert np.array_equal(got[f"w{i}"].to_numpy()[same_idf], w[same_idf]), (k1, b)
    # scalar and integer-array inputs take the same path as float arrays
    ti = got["tf"].to_numpy(np.int64)
    assert np.array_equal(tf_norm(ti, dl, 1.2, 0.75, AVG_DL), tf_norm(tf, dl, 1.2, 0.75, AVG_DL))
    assert tf_norm(3.0, 40.0, 1.2, 0.75, AVG_DL) == tf_norm(tf, dl, 1.2, 0.75, AVG_DL)[
        (tf == 3) & (dl == 40)
    ][0]
