"""Column-expression library — reusable, composable `pyspark.sql.Column`
builders shared by operators and queries. Everything here returns
expressions (not DataFrames) and stays inside Catalyst/codegen."""

from fact_hive_custom_spark.functions.text import tokens
from fact_hive_custom_spark.functions.vectors import cosine, dot, norm

__all__ = ["tokens", "dot", "norm", "cosine"]
