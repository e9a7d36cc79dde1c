"""The vector kernel as SQL functions (SURVEY §2.3 T1–T6, M2).

The txtai SQL dialect itself — ``similar('…')`` as a score column on
the ``txtai`` view, with every other SQL feature plain Spark SQL over
it — lives in ``Embeddings.search`` (embeddings.py). This module only
registers the vector family for ad hoc ``spark.sql`` text.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the vector kernel inside ``spark.sql`` text.

    The reference's only SQL extension point is ``similar()`` (SURVEY
    §2.4 "no UDF surface"); ours registers the full vector family so ad
    hoc SQL can score without the DataFrame API:

        SELECT vec_id, cosine_sim(embedding, array(...)) AS score ...

    Registered as Arrow-batched pandas UDFs (NOT row-at-a-time Python
    UDFs): inputs arrive as numpy-backed Series per batch and the math
    is one vectorized expression per batch. For hot paths prefer the
    native Column exprs in ``functions/vector.py`` — SQL-text UDFs are
    a convenience surface, and the registration makes that tradeoff
    explicit here rather than hiding a slow path in every query.
    """
    import numpy as np

    def _mat(s):
        return [np.asarray(v, dtype=np.float64) for v in s]

    @F.pandas_udf("double")
    def cosine_sim_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(_mat(a), _mat(b)):
            na, nb = np.linalg.norm(x), np.linalg.norm(y)
            out.append(float(x @ y / ((na or 1.0) * (nb or 1.0))))
        return pd.Series(out)

    @F.pandas_udf("double")
    def dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([float(x @ y) for x, y in zip(_mat(a), _mat(b))])

    @F.pandas_udf("double")
    def l2_dist_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [float(np.linalg.norm(x - y)) for x, y in zip(_mat(a), _mat(b))]
        )

    spark.udf.register("cosine_sim", cosine_sim_udf)
    spark.udf.register("dot_product", dot_udf)
    spark.udf.register("l2_dist", l2_dist_udf)
