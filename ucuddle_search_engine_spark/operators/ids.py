"""Deterministic distributed doc-id assignment.

The reference allocates monotone site_ids in blocks from a central task-manager
counter guarded by a mutex (task-manager/app.py:102-116, per-doc assignment
crawler/functs_with_elastic.go:303-309) — a central bottleneck at 10^12 files.
We replace it (SURVEY.md §4.3 custom #4) with deterministic assignment keyed
only on the data:

- ``assign_doc_ids_sort``: dense row_number over a global order — exact, used
  at test scale and as the oracle for the scale path.
- ``assign_doc_ids_prefix``: the 10^12-scale path. Sampled range buckets,
  a per-bucket count (a tiny collect: one long per bucket), exclusive
  prefix-sum on the driver, then offset + rank within the bucket on the
  JVM side. No global sort, no single-point counter; the only driver data
  is O(#buckets).

Both produce the identical id ↔ (repo, path) mapping (tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ids_from_buckets(df: DataFrame, bucket: Column, n_buckets: int, key_cols: list[str],
                      num_partitions: int) -> DataFrame:
    """doc_id = (rows in lower buckets) + rank of the key inside its bucket.

    `bucket` is an int column in [0, n_buckets) computed from the keys alone.
    Bucket sizes come from ONE keys-only aggregation (≤ n_buckets longs to
    the driver); their exclusive prefix sums become an array literal. The
    in-bucket rank is a JVM-side row_number over (bucket, keys) — the
    corpus rows, content included, never leave the engine."""
    with_b = df.withColumn("_b", bucket)
    counts = dict(with_b.groupBy("_b").count().collect())
    offsets, acc = [], 0
    for b in range(n_buckets):
        offsets.append(acc)
        acc += counts.get(b, 0)
    offs = F.array(*[F.lit(o) for o in offsets]).cast("array<bigint>")
    rank = F.row_number().over(Window.partitionBy("_b").orderBy(*[F.col(c) for c in key_cols]))
    width = max(1, min(num_partitions, df.sparkSession.sparkContext.defaultParallelism))
    # the explicit hash exchange on _b satisfies the window's clustering (no
    # second exchange) and keeps AQE from coalescing the pass onto one task
    return (
        with_b.repartition(width, "_b")
        .withColumn("doc_id", F.element_at(offs, F.col("_b") + 1) + rank - 1)
        .drop("_b")
    )


def assign_doc_ids_hash(df: DataFrame, key_cols: list[str], num_buckets: int = 4096,
                        num_partitions: int | None = None) -> DataFrame:
    """Cheapest deterministic scheme: ids are dense within md5-hash buckets.

    - bucket = pmod(md5-prefix(key), B) — portable, layout-independent;
    - bucket counts from a COLUMN-PRUNED scan of the keys only (collect of ≤B
      longs), exclusive prefix-sum on the driver;
    - id = offset[bucket] + rank of the key within its bucket
      (_ids_from_buckets).

    Ids are unique, stable across runs/partitionings/cluster sizes, but NOT the
    global lexicographic rank (use assign_doc_ids_prefix for that)."""
    from ..functions.hashing import md5_prefix_long

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    bucket = F.pmod(md5_prefix_long(F.concat_ws("\x00", *key_cols)), F.lit(num_buckets)).cast("int")
    return _ids_from_buckets(df, bucket, num_buckets, key_cols, num_partitions)


def assign_doc_ids_sort(df: DataFrame, order_cols: list[str]) -> DataFrame:
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("doc_id", F.row_number().over(w).cast("long") - F.lit(1).cast("long"))


def _range_bucket_col(boundaries: list[tuple], order_cols: list[str]) -> Column:
    """Range bucket of each row = number of boundaries ≤ its key (tuple
    order), from the key columns only: a binary search over ONE literal
    array of boundary structs, log2(#boundaries) steps per row on the JVM
    side. Struct comparison is Spark's own ordering (the window sort's),
    nulls included."""
    def as_struct(vals):
        return F.struct(*[F.lit(v).alias(f"k{i}") for i, v in enumerate(vals)])

    bounds = F.array(*[as_struct(b) for b in boundaries])
    key = F.struct(*[F.col(c).alias(f"k{i}") for i, c in enumerate(order_cols)])

    def step(s, _):
        lo, hi = s["lo"], s["hi"]
        mid = ((lo + hi) / 2).cast("int")
        return (
            F.when(lo >= hi, s)
            .when(F.element_at(bounds, mid + 1) <= key,
                  F.struct((mid + 1).alias("lo"), hi.alias("hi")))
            .otherwise(F.struct(lo.alias("lo"), mid.alias("hi")))
        )

    n = len(boundaries)
    init = F.struct(F.lit(0).alias("lo"), F.lit(n).alias("hi"))
    return F.aggregate(F.sequence(F.lit(1), F.lit(n.bit_length())), init, step, lambda s: s["lo"])


def assign_doc_ids_prefix(df: DataFrame, order_cols: list[str], num_partitions: int | None = None,
                          n_rows: int | None = None) -> DataFrame:
    """Scale path: per-range-bucket offsets instead of a global sort.

    Range boundaries are sampled ONCE on the driver (a bounded collect of
    ~100 keys per bucket) and each row's bucket is computed from its keys
    against them (_range_bucket_col), so the counts job and the
    id-assignment job agree on every row's bucket no matter how either job is
    physically partitioned. (repartitionByRange re-SAMPLES its boundaries
    with a seed derived from the RDD id, which differs across actions —
    verified on PySpark 4.1.2 — so a layout-derived bucket id could give the
    two jobs different layouts and duplicate/skipped ids.) The lookup is a
    binary search per row, so thousands of buckets cost no more code than
    three: a chain of per-boundary comparisons overflows the 64 KB JIT
    method limit there.

    (bucket exclusive-prefix-sum) + (within-bucket rank) = global dense rank,
    because buckets are non-overlapping increasing key ranges. n_rows: the
    row count of df when the caller already has it (skips the count job).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    key_df = df.select(*order_cols)
    if n_rows is None:
        n_rows = key_df.count()
    boundaries: list[tuple] = []
    if n_rows > 0 and num_partitions > 1:
        frac = min(1.0, (100.0 * num_partitions) / n_rows)
        sampled = sorted(
            tuple(r) for r in key_df.sample(withReplacement=False, fraction=frac, seed=42).collect()
        )
        if sampled:
            step = len(sampled) / num_partitions
            seen_b = set()
            for i in range(1, num_partitions):
                b = sampled[min(int(i * step), len(sampled) - 1)]
                if b not in seen_b:  # duplicate boundaries would only make empty buckets
                    seen_b.add(b)
                    boundaries.append(b)

    bucket = _range_bucket_col(boundaries, order_cols) if boundaries else F.lit(0)
    return _ids_from_buckets(df, bucket, len(boundaries) + 1, order_cols, num_partitions)
