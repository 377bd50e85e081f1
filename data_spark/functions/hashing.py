"""Content fingerprints (SURVEY §2.8 "Hash/similarity").

The reference fingerprints ad text with SHA-512 + a 64-bit simhash and
uses the pair as a graph node key (facebook_compute_load_graph/
main.py:150-154; cypher node key facebook…/cypher.py:3).

- ``sha512_hex``      — native (F.sha2).
- ``token_shingles``  — character-shingle array, native.
- ``minhash_signature`` — k-permutation MinHash, fully native (xxhash64
  over seed-prefixed shingles; no Python in the path).
- ``simhash64``       — pandas UDF (bit-voting loop), Arrow-batched.
  Deterministic but NOT bit-identical to the ``simhash`` PyPI package
  the reference imports; near-duplicate *semantics* (small Hamming
  distance for similar text) are what the engine preserves.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def sha512_hex(col: Column) -> Column:
    return F.sha2(col, 512)


def _normalize(col: Column) -> Column:
    """simhash-style normalization: lowercase, strip non-alnum."""
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]+", "")


def char_shingles(norm: Column, width: int = 4) -> Column:
    """Character ``width``-gram array over an ALREADY-materialized
    normalized-string column.

    Performance contract: pass an attribute (a column produced by a
    previous projection), not a normalization expression — Spark
    re-evaluates the lambda's argument expression on every lambda
    invocation, so an inline regex would run once per shingle instead of
    once per row (measured 40× slower on the bench corpus).
    """
    n = F.greatest(F.length(norm) - F.lit(width - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substr(norm, i, F.lit(width)))
    )


def token_shingles(col: Column, width: int = 4) -> Column:
    """Array of character ``width``-grams over the normalized text.
    Convenience form for small inputs/tests; hot paths should
    materialize ``_normalize`` first and call ``char_shingles`` (see
    performance contract there)."""
    return char_shingles(_normalize(col), width)


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """k-permutation MinHash signature: ``array<bigint>`` of length
    ``num_hashes``. Hash family = xxhash64 over the shingle prefixed
    with the permutation index — one JVM hash call per (shingle, perm),
    no UDF, no shuffle.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingles, lambda sh: F.xxhash64(F.concat(i.cast("string"), F.lit("|"), sh))
            )
        ),
    )


@F.pandas_udf(LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit simhash over 4-char shingles of normalized text.

    Per-shingle 64-bit hash = first 8 bytes of md5; classic bit-voting.
    Arrow-batched; the only Python-side function in the library.
    """

    def one(t: str | None) -> int | None:
        if t is None:
            return None
        norm = "".join(ch for ch in t.lower() if ch.isalnum())
        if not norm:
            return 0
        if len(norm) <= 4:
            grams = [norm]
        else:
            grams = [norm[i : i + 4] for i in range(len(norm) - 3)]
        votes = [0] * 64
        for g in set(grams):
            h = int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        v = 0
        for b in range(64):
            if votes[b] > 0:
                v |= 1 << b
        # wrap to signed 64-bit for LongType
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(one)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two signed-64-bit simhashes."""
    return F.bit_count(a.bitwiseXOR(b))
