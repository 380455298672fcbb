"""Scalar/batch functions: robots evaluation, retry-after parsing, image
codec + phash (payload validation), exposed both as plain Python (for the
oracle) and as vectorized Arrow UDF builders (for the Spark side).
"""
