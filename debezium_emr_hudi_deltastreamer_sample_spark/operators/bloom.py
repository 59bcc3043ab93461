"""Broadcast Bloom-filter membership — the decontamination probe for when
even the distinct benchmark-gram LIST is too large to hash-join cheaply,
but its BITS still fit an executor broadcast.

At fixture scale `llm_decontaminate`'s broadcast semi-join is the right
plan; at a few billion benchmark grams the distinct gram strings are tens
of GB while a 1%-FP Bloom filter of them is ~10 bits/element — single-digit
GB, broadcastable. The trade is one-sided error: membership says
"definitely not contaminated" or "maybe contaminated" (false-positive rate
``p``), so the filter DROPS a small extra fraction of clean docs — the
conservative direction for decontamination — and never keeps a
contaminated one. A two-phase deployment (Bloom prefilter → exact re-check
of the "maybe" stream against the real gram set) removes even that.

Pure numpy bit array + vectorized double hashing inside an Arrow
pandas_udf; no library, no driver-side per-row loop. Build cost is one
pass over the (small) benchmark side collected to the driver in bounded
batches.

Double hashing (Kirsch–Mitzenmacher): k indices h1 + i·h2 achieve the
same asymptotic FP rate as k independent hashes; h1/h2 come from the two
64-bit halves of blake2b-128, engine-independent and stable.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hash_pair(values) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 arrays for a sequence of strings."""
    h1 = np.empty(len(values), dtype=np.uint64)
    h2 = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        d = hashlib.blake2b(str(v).encode("utf-8"), digest_size=16).digest()
        h1[i] = int.from_bytes(d[:8], "little")
        h2[i] = int.from_bytes(d[8:], "little") | 1  # odd → full-period step
    return h1, h2


def bloom_params(n_items: int, fp_rate: float) -> tuple[int, int]:
    """Optimal (m_bits, k_hashes) for ``n_items`` at ``fp_rate``."""
    n = max(n_items, 1)
    m = max(64, int(math.ceil(-n * math.log(fp_rate) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def build_bloom(
    df: DataFrame, col: str, fp_rate: float = 0.01, max_items: int = 5_000_000
) -> tuple[np.ndarray, int, int]:
    """Build the bit array from ``df[col]`` (the SMALL side — benchmark
    grams), hashing EXECUTOR-SIDE in one pass (round-13, guide §4/§5):
    a ``mapInPandas`` computes the blake2b double-hash pairs per
    partition — the per-item Python hashing runs parallel on executors —
    and only 16 B/item of hashes cross to the driver, never the gram
    strings. One execution of the (typically shuffle-heavy distinct-gram)
    plan instead of the historical persist + count + toLocalIterator
    (two passes, driver-serial hashing). ``n`` falls out of the collected
    length, so sizing needs no separate count; ``max_items`` bounds the
    collect itself (16 B × max_items = 80 MB driver ceiling).
    Bit-identical to the historical build: same hash pairs, same (m, k)
    from the same n, and OR is order-insensitive.

    NULL grams must not enter the filter: str(None) would insert the
    hash of the literal "None", colliding with that real token on the
    probe side (and SQL semantics say NULL matches nothing anyway)."""

    def hash_parts(batches):
        for pdf in batches:
            h1, h2 = _hash_pair(pdf[col].to_numpy())
            yield pd.DataFrame(
                {"h1": h1.view("int64"), "h2": h2.view("int64")}
            )

    # The limit bounds the collect itself: at most max_items + 1 pairs
    # reach the driver, and the extra one is what trips the guard.
    pairs = (
        df.filter(F.col(col).isNotNull())
        .select(col)
        .mapInPandas(hash_parts, schema="h1 long, h2 long")
        .limit(max_items + 1)
        .toPandas()
    )
    n = len(pairs)
    if n > max_items:
        raise ValueError(
            f"bloom build side has more than max_items={max_items} items; "
            "use the exact broadcast semi-join or shard the filter"
        )
    m, k = bloom_params(n, fp_rate)
    words = np.zeros((m + 63) // 64, dtype=np.uint64)
    if n:
        h1 = pairs["h1"].to_numpy().view("uint64")
        h2 = pairs["h2"].to_numpy().view("uint64")
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
            w, b = np.divmod(idx, np.uint64(64))
            # unbuffered |= handles duplicate word indices within one pass
            np.bitwise_or.at(words, w.astype(np.int64), np.uint64(1) << b)
    return words, m, k


def bloom_contains(words: np.ndarray, m: int, k: int, col: Column) -> Column:
    """Vectorized membership probe as an Arrow pandas_udf column: True =
    maybe-member (FP rate p), False = definitely absent (no false
    negatives). The words array rides the UDF closure → one broadcast per
    executor, shared across tasks."""

    @F.pandas_udf(T.BooleanType())
    def probe(vals: pd.Series) -> pd.Series:
        # NULL probes are definitely-absent (SQL: NULL matches nothing);
        # hashing str(None) would collide with the literal token "None".
        null_mask = vals.isna().to_numpy()
        vals = vals.fillna("")
        h1, h2 = _hash_pair(vals.to_numpy())
        hit = np.ones(len(vals), dtype=bool)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
            w, b = np.divmod(idx, np.uint64(64))
            hit &= (words[w.astype(np.int64)] >> b) & np.uint64(1) != 0
        hit[null_mask] = False
        return pd.Series(hit)

    return probe(col)
