"""Scalar/similarity function surface (SURVEY.md §2.9, §2.4).

Native Catalyst expressions wherever Spark has a built-in; Arrow-batched
pandas UDFs only for the similarity kernels Spark lacks (indel ratio,
Jaro-Winkler, the md5-nibble SimHash vote).  No per-row Python UDFs
anywhere.
"""

from data_reconciliation_spark.functions.similarity import (  # noqa: F401
    indel_ratio_py,
    jaro_winkler_py,
    simhash64_md5_py,
    indel_ratio_udf,
)
