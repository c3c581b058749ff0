"""Text column expressions: tokenization, k-token sliding windows and
the reference's djb2 partition function, all pure Catalyst
expressions.

Reference trace:
- tokenizer: `strsep` on " \\t\\n\\r" per line (main.c:22-27). We use
  the clean `\\s+` split and drop empty tokens; the reference's
  consecutive-delimiter truncation quirk (main.c:23-24) is a
  documented defect (SURVEY §4.3), not reproduced.
- djb2: `hash*33+c` over key bytes, mod n_partitions
  (MR_DefaultHashPartition, mapreduce.c:88-94), with C unsigned
  64-bit wraparound semantics.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Split a text column on runs of whitespace → array<string>,
    empties removed. Pair with ``explode`` for the flatMap shape
    (reference A3, main.c:22-27).

    ``array_remove(_, '')`` — not ``F.filter`` with a lambda — drops
    the empties: same semantics (removes ALL empty strings, e.g. the
    leading one from ' a'.split), but it is a plain codegen'd
    expression, where higher-order-function lambdas are interpreted
    per element and were ~3× the cost of the split itself on the
    hot tokenize path."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(col, r"\s+"), "")


def token_windows(arr: Column, k: int, combine: Callable[..., Column]) -> Column:
    """Array of ``combine(t_i, …, t_{i+k-1})`` over every k-token
    sliding window of the token array ``arr`` (empty when it holds
    fewer than k tokens) — the narrow n-gram/shingle kernel: no
    explode, no window function, no shuffle. ``combine`` receives k
    element columns, e.g. ``F.xxhash64`` for an 8-byte identity or
    ``functools.partial(F.concat_ws, sep)`` for the joined string.

    ``arr`` must be a NAMED column reference (materialize
    ``tokens(...)`` with a select first): an inline expression would
    re-run per element access inside the lambda, since Catalyst does
    not CSE into lambda bodies — O(len²)."""
    n_windows = F.size(arr) - (k - 1)
    starts = F.when(n_windows >= 1, F.sequence(F.lit(0), n_windows - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        starts, lambda i: combine(*[F.get(arr, i + j) for j in range(k)])
    )


def djb2_partition(key: Column | str, n_partitions: int) -> Column:
    """Bit-exact djb2 partition id (reference A5, mapreduce.c:88-94).

    C semantics: ``unsigned long hash = 5381; hash = hash*33 + c``
    with silent mod-2^64 wraparound, then ``% n_partitions``. Spark 4
    runs with ANSI arithmetic (overflow throws), so instead of
    relying on wraparound we carry the hash as two 32-bit halves in a
    struct accumulator — every intermediate fits a long with room to
    spare:

        lo' = lo*33 + c          (< 2^38)
        hi' = (hi*33 + lo'>>32) & (2^32-1)
        lo  = lo' & (2^32-1)
        u % n = ((hi % n) * (2^32 % n) + lo) % n

    Pure expression — whole-stage-codegen-friendly, no UDF, ANSI-safe
    for keys of any length.
    """
    if n_partitions <= 0:
        raise ValueError("n_partitions must be positive")
    col = F.col(key) if isinstance(key, str) else key
    # split on '' yields one element per character (no trailing empty
    # in Spark 3/4); non-ASCII is out of scope (reference reads bytes,
    # fixtures are ASCII).
    chars = F.filter(F.split(col, ""), lambda ch: ch != F.lit(""))
    mask32 = F.lit((1 << 32) - 1)
    n = F.lit(n_partitions)

    def _step(acc: Column, ch: Column) -> Column:
        c = F.ascii(ch).cast("long")
        lo_full = acc.lo * F.lit(33) + c
        hi = (acc.hi * F.lit(33) + F.shiftrightunsigned(lo_full, 32)).bitwiseAND(mask32)
        return F.struct(hi.alias("hi"), lo_full.bitwiseAND(mask32).alias("lo"))

    return F.aggregate(
        chars,
        F.struct(
            F.lit(0).cast("long").alias("hi"), F.lit(5381).cast("long").alias("lo")
        ),
        _step,
        lambda acc: F.pmod(
            F.pmod(acc.hi, n) * F.lit((1 << 32) % n_partitions) + acc.lo, n
        ),
    )
