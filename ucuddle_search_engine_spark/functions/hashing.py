"""Portable hashing helpers.

Everything here is expressible bit-identically in Spark SQL, Python hashlib,
and DuckDB — the property the driver's oracle comparison depends on. We
standardize on md5 hex strings (both engines ship md5()); where an integer is
needed we take hex prefixes via conv(). sha256 carries the per-row content
invariant from BASELINE.json input_hint (the reference ships whole documents to
ES and trusts transport, crawler/functs_with_elastic.go:314-322; we verify).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sha256_col(col: Column | str) -> Column:
    """JVM-side sha256 hex of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def sha256_py(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


@F.pandas_udf(T.StringType())
def sha256_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Arrow-batched sha256 (used in tests to cross-check F.sha2)."""
    for s in it:
        yield s.map(lambda x: hashlib.sha256(x.encode("utf-8")).hexdigest() if x is not None else None)


def md5_col(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def md5_prefix_long(col: Column | str, hex_digits: int = 15) -> Column:
    """First `hex_digits` hex chars of md5 as a non-negative long.

    15 hex digits = 60 bits < 2^63, so the cast never overflows/signs.
    Spark: conv(substring(md5(x),1,15),16,10). DuckDB mirror:
    CAST(('0x' || substring(md5(x),1,15)) AS BIGINT) — verified equivalent.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, hex_digits), 16, 10).cast(T.LongType())


def md5_prefix_long_py(text: str, hex_digits: int = 15) -> int:
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:hex_digits], 16)


#: `tb` partition fan-out of the term-keyed store outputs (segments, tstats,
#: postings sidecar): a term lookup prunes to 1/TERM_BUCKETS of the files
TERM_BUCKETS = 64


def term_bucket_col(term: Column | str = "term") -> Column:
    """Spark form of the term → `tb` directory mapping (term_buckets)."""
    return F.pmod(md5_prefix_long(term), F.lit(TERM_BUCKETS)).cast("int")


def term_buckets(terms, n_buckets: int = TERM_BUCKETS) -> list[int]:
    """Sorted distinct `tb` partition buckets for a set of terms — THE single
    definition of the term→directory mapping every pruned reader (segments,
    tstats, postings sidecar; Spark and pyarrow alike) must share with the
    store writers (term_bucket_col). Change the bucketing here and
    writers/readers move in lockstep instead of five call sites drifting."""
    return sorted({md5_prefix_long_py(t) % n_buckets for t in terms})
