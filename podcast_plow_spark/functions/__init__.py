"""Scalar / vectorized kernels.

All per-row logic here ships as Arrow-batched pandas UDFs (the
input_hint forbids row-at-a-time Python UDFs) or, where possible, as
pure Column expressions that stay inside whole-stage codegen.
"""

from podcast_plow_spark.functions.urls import host_hash_col  # noqa: F401
