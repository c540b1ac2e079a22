"""Engine-neutral deterministic hash: a Lehmer (MINSTD) mixer.

``det_hash`` (Spark) and ``det_hash_sql`` (DuckDB) compute the same
value in [0, LEHMER_P) for any 64-bit integer, so a hash-threshold
filter (deterministic sampling and sharding) picks the identical rows
in the engine and in its oracle. Keep the two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reduce the id into the Lehmer field, then two MINSTD rounds —
# h = pmod(k, p) followed twice by h = (h*48271) % p, with p = 2^31 - 1.
# Chosen over xxhash64 ONLY because the DuckDB oracle must reproduce it
# with plain integer arithmetic; two rounds equidistribute sequential ids
# well enough for threshold sampling. The leading pmod makes it
# overflow-safe under ANSI mode for the FULL signed int64 range (ids are
# often xxhash64 values): after reduction h < 2^31, so h*48271 < 1.5e14
# stays far inside int64. Values are unchanged vs the unreduced form for
# ids in [0, p).
LEHMER_P = 2147483647
LEHMER_A = 48271


def det_hash(col: Column) -> Column:
    h = F.pmod(col, F.lit(LEHMER_P))
    h = F.pmod(h * LEHMER_A, F.lit(LEHMER_P))
    return F.pmod(h * LEHMER_A, F.lit(LEHMER_P))


def det_hash_sql(expr: str) -> str:
    """DuckDB twin of ``det_hash``. The double-% idiom reproduces
    Spark's pmod (nonnegative) for negative inputs."""
    k = f"((({expr}) % {LEHMER_P} + {LEHMER_P}) % {LEHMER_P})"
    return f"(({k} * {LEHMER_A}) % {LEHMER_P} * {LEHMER_A}) % {LEHMER_P}"
