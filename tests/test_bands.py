"""Banded-candidate operators against an all-pairs brute force.

``hamming_neardup_pairs`` and ``simhash_dedup_pairs`` are exact: the
pigeonhole banding only prunes, so their output must equal the numpy
all-pairs popcount over the same hashes, for every band layout
(including widths where ``bits % (max_hamming + 1) != 0``), duplicate
hashes, planted near pairs and an empty input.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proj_spark.operators.bands import bit_band_keys
from proj_spark.operators.imagedup import hamming_neardup_pairs
from proj_spark.operators.textops import simhash_dedup_pairs

_SETTINGS = dict(max_examples=5, deadline=None, derandomize=True,
                 database=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture,
                                        HealthCheck.too_slow])


def _brute_pairs(ids, hashes, bits, max_hamming):
    """{(id_a, id_b): hamming} over all pairs, low ``bits`` bits."""
    mask = (1 << bits) - 1
    out = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                d = bin((hashes[i] ^ hashes[j]) & mask).count("1")
                if d <= max_hamming:
                    out[(ids[i], ids[j])] = d
    return out


@st.composite
def _hash_tables(draw):
    bits = draw(st.integers(1, 64))
    max_hamming = draw(st.integers(0, min(bits - 1, 6)))
    n_base = draw(st.integers(0, 12))
    rows = [draw(st.integers(-(1 << 63), (1 << 63) - 1))
            for _ in range(n_base)]
    for _ in range(draw(st.integers(0, 8)) if rows else 0):
        h = draw(st.sampled_from(rows))
        if draw(st.booleans()):  # planted near pair, else an exact dup
            for pos in draw(st.lists(st.integers(0, bits - 1),
                                     max_size=max_hamming + 1)):
                h ^= 1 << pos
            h = (h + (1 << 63)) % (1 << 64) - (1 << 63)
        rows.append(h)
    ids = draw(st.permutations(list(range(len(rows)))))
    return bits, max_hamming, list(ids), rows


@settings(**_SETTINGS)
@given(_hash_tables())
@example((64, 3, [], []))                       # empty input
@example((10, 2, [0, 1, 2, 3], [5, 5, 4, 1023]))  # 10 % 3 != 0, dup hashes
@example((7, 6, [0, 1, 2], [0, 0b1111111, 0b0000001]))  # one bit per band
def test_hamming_neardup_matches_brute_force(spark, table):
    bits, max_hamming, ids, hashes = table
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.array(ids, dtype=np.int64),
                      "h": np.array(hashes, dtype=np.int64)}),
        "id long, h long")
    out = hamming_neardup_pairs(df, id_col="id", hash_col="h",
                                max_hamming=max_hamming, bits=bits)
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert got == _brute_pairs(ids, hashes, bits, max_hamming)


def _simhash(text, bits):
    """numpy twin of the Spark SimHash: distinct lower-cased tokens,
    md5's first 15 hex digits, per-bit majority vote (ties -> 0)."""
    toks = dict.fromkeys(" ".join(text.lower().split()).split(" "))
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    votes = np.zeros(bits, dtype=np.int64)
    for h in hs:
        votes += np.array([1 if (h >> i) & 1 else -1 for i in range(bits)])
    return sum(1 << i for i in range(bits) if votes[i] > 0)


_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@settings(**_SETTINGS)
@given(st.integers(3, 60).flatmap(lambda bits: st.tuples(
    st.just(bits), st.integers(0, min(bits - 1, 5)),
    st.lists(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=6),
             max_size=10))))
@example((16, 2, []))
@example((13, 3, [["alpha", "beta"], ["alpha", "beta"], ["Alpha", "BETA"],
                  ["gamma"], ["alpha", "beta", "gamma"]]))
def test_simhash_dedup_matches_brute_force(spark, case):
    bits, max_hamming, docs = case
    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                      "text": pd.Series(texts, dtype=object)}),
        "doc_id long, text string")
    out = simhash_dedup_pairs(df, bits=bits, max_hamming=max_hamming)
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    hashes = [_simhash(t, bits) for t in texts]
    assert got == _brute_pairs(list(range(len(texts))), hashes, bits,
                               max_hamming)


def test_bit_band_keys_slices_low_bits_first(spark):
    h = -0x0123456789ABCDEF  # negative: the top band must shift unsigned
    row = spark.range(1).select(
        bit_band_keys(F.lit(h), [5, 20, 39]).alias("k")).first()
    u = h % (1 << 64)
    assert [(s.band, s.key) for s in row.k] == [
        (0, u & 31), (1, (u >> 5) & ((1 << 20) - 1)), (2, u >> 25)]


def test_simhash_dedup_rejects_more_bands_than_bits(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_dedup_pairs(df, bits=4, max_hamming=4)
