"""Adversarial hot-bucket tests for the banded near-dup joins.

A boilerplate family of m near-identical docs (license headers,
templated pages) lands every member in the same (band, bh) buckets, so
the banded self-join would emit O(m^2) candidate rows — the one
remaining 100 TB scale-killer flagged in round 3. These tests plant
exactly that family and pin:

1. the candidate multiset stays O(m·bands), not O(m^2);
2. the family still collapses to ONE connected component in the final
   verified output (star pairs keep every member attached to the
   bucket representative);
3. the drop count is observable (hot_buckets / hot_rows metrics);
4. "drop" mode removes hot buckets entirely.

Reference scale analog: parallel.rs:15-49 — the reference bounds every
internal channel rather than letting a producer outrun a consumer;
capping bucket fan-out is the same philosophy applied to join output.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation, functions as F

from solana_snapshot_etl_tools_spark.operators import dedup as DD

FAMILY = 1000  # near-identical docs, all pairwise jaccard ~0.99
CAP = 50


@pytest.fixture(scope="module")
def adversarial_docs(spark):
    base = (
        "permission is hereby granted free of charge to any person "
        "obtaining a copy of this software and associated documentation "
        "files to deal in the software without restriction including "
        "without limitation the rights to use copy modify merge publish "
        "distribute sublicense and or sell copies of the software "
    ) * 3
    rows = [(i, base + f"variant {i}") for i in range(FAMILY)]
    # plus a handful of unrelated docs that must be unaffected
    rows += [
        (FAMILY + i, f"completely different document number {i} " * 20)
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return {x: find(x) for x in parent}


def test_minhash_candidate_multiset_bounded(spark, adversarial_docs):
    sig = DD.minhash_signatures(adversarial_docs, "doc_id", "text").cache()
    try:
        capped = DD.minhash_lsh_candidates(sig, max_bucket_size=CAP).count()
        # uncapped would be ~bands * m^2/2 ≈ 8M rows; capped must be
        # linear in the family: ≤ bands * (m + cap^2/ish). Use a hard
        # ceiling well under any quadratic blow-up.
        assert capped <= DD.LSH_BANDS * (FAMILY + CAP * CAP), capped
        # sanity: the cap actually engaged (uncapped is quadratic)
        uncapped = DD.minhash_lsh_candidates(sig, max_bucket_size=None).count()
        assert uncapped > 100 * capped, (uncapped, capped)
    finally:
        sig.unpersist()


def test_minhash_family_stays_one_component(spark, adversarial_docs):
    pairs = [
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(
            adversarial_docs, "doc_id", "text", 0.8, max_bucket_size=CAP
        ).collect()
    ]
    comp = _components(pairs)
    fam_roots = {comp[d] for d in range(FAMILY) if d in comp}
    # every family member present and in a single component
    assert all(d in comp for d in range(FAMILY))
    assert len(fam_roots) == 1, f"family split into {len(fam_roots)} components"
    # unrelated docs never pair with the family
    assert all(comp.get(FAMILY + i, -1 - i) not in fam_roots for i in range(20))


def test_minhash_hot_bucket_observation(spark, adversarial_docs):
    obs = Observation("hot")
    DD.minhash_lsh_pairs(
        adversarial_docs,
        "doc_id",
        "text",
        0.8,
        max_bucket_size=CAP,
        observation=obs,
    ).count()
    assert obs.get["hot_buckets"] > 0
    assert obs.get["hot_rows"] > FAMILY  # family floods many bands


def test_minhash_drop_mode_removes_hot_buckets(spark, adversarial_docs):
    sig = DD.minhash_signatures(adversarial_docs, "doc_id", "text").cache()
    try:
        dropped = DD.minhash_lsh_candidates(
            sig, max_bucket_size=CAP, hot_bucket_mode="drop"
        ).count()
        starred = DD.minhash_lsh_candidates(
            sig, max_bucket_size=CAP, hot_bucket_mode="star"
        ).count()
        assert dropped < starred  # star re-adds O(m) rep pairs
    finally:
        sig.unpersist()
    with pytest.raises(ValueError, match="hot_bucket_mode"):
        DD.minhash_lsh_candidates(sig, max_bucket_size=CAP, hot_bucket_mode="bogus")


def test_simhash_family_bounded_and_connected(spark, adversarial_docs):
    out = DD.simhash_pairs(
        adversarial_docs, "doc_id", "text", max_hamming=5, max_bucket_size=CAP
    )
    rows = out.collect()
    # bounded: star mode emits O(m) pairs for the family, not m^2/2
    assert len(rows) <= 8 * FAMILY, len(rows)
    comp = _components([(r.doc_a, r.doc_b) for r in rows])
    fam_roots = {comp[d] for d in range(FAMILY) if d in comp}
    assert len(fam_roots) == 1
    # star pairs were Hamming-verified for real (precision stays 1.0):
    # every emitted pair is within the radius
    ham = {
        r.doc: r.simhash
        for r in DD.simhash64(adversarial_docs, "doc_id", "text").collect()
    }
    for r in rows:
        d = bin(ham[r.doc_a] ^ ham[r.doc_b]).count("1")
        assert d <= 5, (r.doc_a, r.doc_b, d)


def test_simhash_chunking_matches_8x8_banding(spark, adversarial_docs):
    """The r4 width-11 chunk split must produce the same verified
    output as any other pigeonhole-valid banding — compare against
    max_hamming=7 (8 chunks of 8 bits, the old fixed layout) filtered
    to ≤5. max_hamming=0 (one 64-bit block, whose all-ones mask must
    not overflow LongType) pairs exactly the equal sketches."""
    new = {
        (r.doc_a, r.doc_b)
        for r in DD.simhash_pairs(
            adversarial_docs, "doc_id", "text", max_hamming=5, max_bucket_size=None
        ).collect()
    }
    old_style = {
        (r.doc_a, r.doc_b)
        for r in DD.simhash_pairs(
            adversarial_docs, "doc_id", "text", max_hamming=7, max_bucket_size=None
        ).collect()
    }
    # distance ≤5 pairs are a subset of distance ≤7 pairs; re-verify
    sketches = {
        r.doc: r.simhash
        for r in DD.simhash64(adversarial_docs, "doc_id", "text").collect()
    }
    old_le5 = {
        (a, b)
        for (a, b) in old_style
        if bin(sketches[a] ^ sketches[b]).count("1") <= 5
    }
    assert new == old_le5
    by_sketch = {}
    for d, h in sketches.items():
        by_sketch.setdefault(h, []).append(d)
    equal = {
        (a, b)
        for ds in by_sketch.values()
        for a in ds
        for b in ds
        if a < b
    }
    zero = _pair_triples(
        DD.simhash_pairs(
            adversarial_docs, "doc_id", "text", max_hamming=0, max_bucket_size=None
        )
    )
    assert equal and zero == {(a, b, 0) for a, b in equal}


def test_simhash_token_budget_chunking_is_invisible(spark, adversarial_docs):
    """The OOM-guard sub-chunking of the sketch kernel must not change
    a single sketch: a budget of 1 token (every doc its own chunk) and
    a budget that splits mid-batch must equal the default 1M-token
    path bit-for-bit."""
    default = {
        r.doc: r.simhash
        for r in DD.simhash64(adversarial_docs, "doc_id", "text").collect()
    }
    for budget in (1, 500):
        chunked = {
            r.doc: r.simhash
            for r in DD.simhash64(
                adversarial_docs, "doc_id", "text", token_budget=budget
            ).collect()
        }
        assert chunked == default, budget


def test_hamming_chunks_cover_64_bits_disjointly():
    """The single-block scheme (n_blocks = max_hamming + 1, the
    default banding) is max_hamming + 1 one-block bands whose chunks
    cover the 64 bits disjointly, in bit order."""
    for mh in (0, 3, 5, 7, 31, 63):
        bands = DD._block_bands(mh, mh + 1)
        assert len(bands) == mh + 1
        assert all(len(band) == 1 for band in bands)
        covered = []
        for (shift, width), in bands:
            assert width >= 1
            covered.extend(range(shift, shift + width))
        assert covered == list(range(64))
    with pytest.raises(ValueError):
        DD._block_bands(64, 65)  # max_hamming must be in [0, 63]
    with pytest.raises(ValueError):
        DD._block_bands(-1, 0)


def test_block_bands_structure_and_guards():
    """Manku multi-block banding invariants: blocks partition the 64
    bits, every band keeps exactly n_blocks - max_hamming of them,
    there are C(n_blocks, max_hamming) bands, and every
    max_hamming-subset of blocks is avoided by some band (the
    pigeonhole exactness witness)."""
    from itertools import combinations
    from math import comb

    for mh, nb in ((5, 8), (5, 10), (3, 6), (2, 4), (0, 1)):
        bands = DD._block_bands(mh, nb)
        assert len(bands) == comb(nb, mh)
        blocks = sorted({b for band in bands for b in band})
        covered = []
        for shift, width in blocks:
            assert width >= 1
            covered.extend(range(shift, shift + width))
        assert covered == list(range(64))
        kept_sets = [frozenset(band) for band in bands]
        assert all(len(ks) == nb - mh for ks in kept_sets)
        # exactness: for ANY mh blocks that differ, some band keeps
        # none of them
        for bad in combinations(blocks, mh):
            assert any(not (ks & set(bad)) for ks in kept_sets), bad
    with pytest.raises(ValueError):
        DD._block_bands(5, 5)  # n_blocks must exceed max_hamming
    with pytest.raises(ValueError):
        DD._block_bands(5, 65)
    with pytest.raises(ValueError):
        DD._block_bands(5, 40)  # C(40,5) over the explode cap


def _pair_triples(pairs):
    """(doc_a, doc_b, hamming) set of a pairs frame, collected through
    Arrow: Row-by-Row collect of the ~0.5M uncapped pairs cost more
    than computing them."""
    pdf = pairs.select("doc_a", "doc_b", "hamming").toPandas()
    return set(
        zip(pdf.doc_a.tolist(), pdf.doc_b.tolist(), pdf.hamming.tolist())
    )


def test_simhash_multiblock_banding_output_identical(spark, adversarial_docs):
    """The n_blocks=8 Manku scheme must emit EXACTLY the default
    scheme's verified pair set (pigeonhole recall is exact in both;
    the Hamming filter fixes precision) — caps off so the comparison
    is over full banding. With the star cap on, the scheme must stay
    bounded and keep the planted family connected, like the default."""
    base = _pair_triples(
        DD.simhash_pairs(
            adversarial_docs, "doc_id", "text", max_hamming=5,
            max_bucket_size=None,
        )
    )
    for nb in (7, 8):
        wide = _pair_triples(
            DD.simhash_pairs(
                adversarial_docs, "doc_id", "text", max_hamming=5,
                max_bucket_size=None, n_blocks=nb,
            )
        )
        assert wide == base, nb
    capped = DD.simhash_pairs(
        adversarial_docs, "doc_id", "text", max_hamming=5,
        max_bucket_size=CAP, n_blocks=8,
    ).collect()
    assert len(capped) <= 8 * FAMILY, len(capped)
    comp = _components([(r.doc_a, r.doc_b) for r in capped])
    fam_roots = {comp[d] for d in range(FAMILY) if d in comp}
    assert len(fam_roots) == 1


def test_minhash_kernel_matches_per_doc_reference(spark):
    """The per-document signature kernel, which scans a document past
    2^16 windows in overlapping slices (k-1 bytes of overlap) and
    combines the slice signatures with uint64 min, must stay
    BIT-IDENTICAL to the straightforward whole-document spelling below
    on unicode, short, repeated and pathologically long documents. A
    >2^16-window doc exercises the slice min-combine branch through
    Spark."""
    import numpy as np

    k, n_hashes = 3, 64
    rng = np.random.default_rng(11)
    texts = [
        "".join(
            chr(int(c)) for c in rng.integers(32, 0x2600, size=int(n))
        )
        for n in rng.integers(0, 800, size=60)
    ]
    texts += [
        "abc",
        "ab",  # shorter than k bytes -> dropped
        "ünïcødé 文字 " * 40,
        "samesame " * 500,  # heavy shingle repetition
        "y" + "x" * 200_000,  # > 2^16 windows -> sliced long-doc path
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc: list(r.sig)
        for r in DD.minhash_signatures(
            docs, "doc_id", "text", k=k, n_hashes=n_hashes
        ).collect()
    }

    gold = np.uint64(0x9E3779B97F4A7C15)
    k1 = np.uint64(0xBF58476D1CE4E5B9)
    k2 = np.uint64(0x94D049BB133111EB)
    salts = (np.arange(n_hashes, dtype=np.uint64) + np.uint64(1)) * gold
    pw = np.uint64(256) ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    expected = {}
    for i, txt in enumerate(texts):
        b = np.frombuffer(txt.lower().encode("utf-8"), dtype=np.uint8)
        if b.size < k:
            continue
        w = np.lib.stride_tricks.sliding_window_view(b, k)
        keys = np.unique((w.astype(np.uint64) * pw).sum(axis=1))
        z = keys[None, :] ^ salts[:, None]
        z = (z ^ (z >> np.uint64(30))) * k1
        z = (z ^ (z >> np.uint64(27))) * k2
        z = z ^ (z >> np.uint64(31))
        expected[i] = list(z.min(axis=1).astype(np.int64))
    assert got == expected
