"""Capped-bucket self-join: the one blocking primitive every candidate
pair generator (textops' MinHash band and Jaccard block joins,
linking's LSH band join) and the incremental attach tier share.

A blocking key concentrates hard in real corpora (boilerplate docs
sharing a MinHash band, 10^8 same-language docs with one token count,
a head entity's spellings), and a bucket's self-join is O(bucket^2).
Buckets larger than a cap are therefore dropped before the join and
counted — never silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ollie_spark.spark.materialize import materialize_once


def cap_buckets(keyed: DataFrame, key, cap: int) -> tuple:
    """-> (``keyed`` without its buckets of more than ``cap`` rows,
    number of buckets dropped).

    Sizes come from a map-side-combining ``groupBy(key)`` (r6): a
    ``count(*) over (partition by key)`` window colocates EVERY row of
    a bucket on one task, so the most degenerate bucket — the exact
    case the cap exists to catch — would funnel through a single task
    before the cap could drop it.  The groupBy shuffles only (key,
    partial-count) rows and the join back is an equi-join AQE can
    skew-split.  The sizes run eagerly ONCE (materialized) and the
    dropped count decides the join (r7): with no bucket over the cap
    the filter join is an identity and is skipped; sizes is one row per
    key, so the filter count IS the distinct dropped-bucket count.  The
    filtered frame stays lazy: materializing it stores a second copy of
    every kept row for two cheap join-side reads."""
    sizes = materialize_once(
        keyed.groupBy(key).agg(F.count("*").alias("_bucket_n")))
    dropped = sizes.where(F.col("_bucket_n") > cap).count()
    if dropped == 0:
        return keyed, 0
    return (keyed.join(sizes.where(F.col("_bucket_n") <= cap), key)
            .drop("_bucket_n"), dropped)


def bucket_self_join(df: DataFrame, key, cap: int, on=None,
                     keyed=None, probe=None) -> tuple:
    """-> (joined, dropped): ``df`` self-joined as ``a``/``b`` on equal
    ``key`` column(s) plus the extra condition ``on``, after
    :func:`cap_buckets` dropped its buckets over ``cap``.

    ``df`` is materialized ONCE first: aliasing a lazy plan as both
    join sides (plus the sizing reader) re-runs its whole producing
    pipeline — signatures, tokenization, the source scan — per reader.
    ``on`` must read stored columns of ``a``/``b`` only: an expression
    that rebuilds a column inside the join condition runs once per raw
    candidate row, with no subexpression elimination.

    ``keyed`` (optional) maps the stored frame to its keyed rows,
    lazily per reader — LSH banding, whose store then holds one row
    per entity instead of one per band (a banded store of the LSH
    gram arrays held ~75 MB more after a canonicalize of 11k norms).
    ``probe`` (optional) rewrites the ``a`` side's key columns before
    the join, e.g. exploding a bucket into its neighbours; a bucket the
    cap dropped neither anchors (``b``) nor probes (``a``).  The caller
    owns the output projection and any ``distinct``."""
    key = [key] if isinstance(key, str) else list(key)
    rows = materialize_once(df)
    if keyed is not None:
        rows = keyed(rows)
    kept, dropped = cap_buckets(rows, key, cap)
    a = (kept if probe is None else probe(kept)).alias("a")
    b = kept.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key]
    if on is not None:
        cond.append(on)
    return a.join(b, cond), dropped
