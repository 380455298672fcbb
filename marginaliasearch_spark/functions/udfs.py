"""Spark-facing vectorized wrappers for the canonicalization kernel.

Batches flow through Arrow (``arrow_udf``); the murmur URL hash is numpy-
vectorized over the whole batch (canon/murmur.py), string parsing runs in
optimized Python per batch — no row-at-a-time ``udf()`` anywhere.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..canon.murmur import hash_url_parts_batch
from ..canon.url import parse_url

CANON_STRUCT = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("top_domain", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("param", T.StringType()),
        T.StructField("url_hash", T.LongType()),
    ]
)


# the string fields of CANON_STRUCT, in order, from a parsed EdgeUrl
_CANON_PARTS = (
    str,
    lambda u: u.domain.address,
    lambda u: u.domain.top_domain,
    lambda u: u.path,
    lambda u: u.param,
)


@arrow_udf(CANON_STRUCT)
def canonicalize(urls: pa.Array) -> pa.Array:
    parsed = [parse_url(raw) for raw in urls.to_pylist()]
    ok = [u for u in parsed if u is not None]
    failed = np.array([u is None for u in parsed], dtype=bool)
    hashes = np.zeros(len(parsed), dtype=np.int64)
    if ok:  # vectorized numpy over the whole batch
        hashes[~failed] = hash_url_parts_batch(
            [u.domain.address for u in ok], [u.path for u in ok], [u.param for u in ok]
        )
    arrays = [
        pa.array([None if u is None else part(u) for u in parsed], pa.string())
        for part in _CANON_PARTS
    ]
    arrays.append(pa.array(hashes, pa.int64(), mask=failed))
    return pa.StructArray.from_arrays(arrays, names=CANON_STRUCT.names)


def url_hash_col(url_col: Column) -> Column:
    return canonicalize(url_col)["url_hash"]
