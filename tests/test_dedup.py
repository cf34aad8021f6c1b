"""Dedup operators on planted duplicates: exact, Jaccard, MinHash, SimHash."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from coastsat_spark.operators import dedup


def _letters(i: int) -> str:
    # pure-letter unique words: "w{i}" would tokenize as ("w", "<digits>")
    # and make unrelated docs share shingles through the digit pieces
    s = ""
    i += 1
    while i:
        s += chr(97 + i % 26)
        i //= 26
    return s


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(21)
    vocab = [f"q{_letters(i)}" for i in range(200)]
    texts = []
    for i in range(60):
        texts.append(" ".join(rng.choice(vocab, size=40)))
    # planted near-dups: 60..69 are copies of 0..9 with 1 word changed
    for i in range(10):
        toks = texts[i].split()
        toks[5] = "CHANGED"
        texts.append(" ".join(toks))
    # planted exact dups: 70..72 are copies of 10..12
    for i in range(10, 13):
        texts.append(texts[i])
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})
    return pdf, spark.createDataFrame(pdf)


def test_exact_dedup_finds_planted(spark, planted):
    pdf, sdf = planted
    out = dedup.exact_dedup(sdf).toPandas()
    groups = out[out["group_size"] > 1]
    assert set(groups["canonical_id"]) == {10, 11, 12}
    assert len(groups) == 6  # three pairs


def test_jaccard_pairs_find_near_dups(spark, planted):
    pdf, sdf = planted
    out = dedup.jaccard_pairs(sdf, n=5, threshold=0.6, max_doc_freq=None).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    for i in range(10):
        assert (i, 60 + i) in found, i
    for i in range(10, 13):
        assert (i, 60 + i) in found


def test_jaccard_exact_value(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["abcdefgh", "abcdefgh"]})
    out = dedup.jaccard_pairs(
        spark.createDataFrame(pdf), n=5, threshold=0.5, max_doc_freq=None
    ).toPandas()
    assert len(out) == 1 and out["jaccard"].iloc[0] == 1.0


def test_minhash_estimates_true_jaccard(spark, planted):
    pdf, sdf = planted
    out = dedup.minhash_dedup_pairs(sdf, k=128, bands=32, threshold=0.5).toPandas()
    found = {tuple(r): j for *r, j in out[["id_a", "id_b", "est_jaccard"]].to_numpy()}
    hits = sum((float(i), float(60 + i)) in found for i in range(10))
    assert hits >= 9  # LSH at 128/32 catches ~all 1-word-changed dups
    # exact dups estimate 1.0
    for i in range(10, 13):
        assert found.get((float(i), float(60 + i)), 0) == 1.0


def test_minhash_signatures_deterministic(spark, planted):
    _, sdf = planted
    s1 = dedup.minhash_signatures(sdf.repartition(8), k=32).toPandas()
    s2 = dedup.minhash_signatures(sdf.repartition(3), k=32).toPandas()
    m1 = dict(zip(s1["doc_id"], s1["sig"].map(tuple)))
    m2 = dict(zip(s2["doc_id"], s2["sig"].map(tuple)))
    assert m1 == m2


def test_simhash_near_dups(spark, planted):
    pdf, sdf = planted
    out = dedup.simhash_dup_pairs(sdf, max_hamming=8, n_bands=16).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    hits = sum((i, 60 + i) in found for i in range(10))
    assert hits >= 8
    # exact dups at hamming 0
    zero = out[out["hamming"] == 0]
    for i in range(10, 13):
        assert (i, 60 + i) in set(map(tuple, zero[["id_a", "id_b"]].to_numpy()))


def test_minhash_assignment_matches_planted_clusters(spark, planted):
    _, sdf = planted
    out = dedup.minhash_dedup_assign(sdf, k=128, bands=32).toPandas()
    m = dict(zip(out["doc_id"], out["canonical_id"]))
    assert sum(m[60 + i] == i for i in range(10)) == 10  # near-dups
    assert all(m[60 + i] == i for i in range(10, 13))  # exact dups
    assert sum(1 for d, c in m.items() if c != d and not (60 <= d <= 72)) == 0


def test_pigeonhole_banding_complete(spark, planted):
    """Any pair with hamming <= n_bands-1 must be found (pigeonhole)."""
    pdf, sdf = planted
    fp = dedup.simhash_fingerprints(sdf).toPandas()
    sig = dict(zip(fp["doc_id"], fp["simhash"]))
    out = dedup.simhash_dup_pairs(sdf, max_hamming=3, n_bands=4).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    ids = sorted(sig)
    for i in ids:
        for j in ids:
            if i < j:
                h = bin((sig[i] ^ sig[j]) & ((1 << 64) - 1)).count("1")
                if h <= 3:
                    assert (i, j) in found, (i, j, h)


def test_minhash_assignment_distributed_path(spark, planted):
    """driver_cc_max_edges=0 forces the distributed label-propagation
    loop; it must produce the same canonical assignment as the driver
    union-find path."""
    _, sdf = planted
    a = dedup.minhash_dedup_assign(sdf, k=128, bands=32).toPandas()
    b = dedup.minhash_dedup_assign(sdf, k=128, bands=32, driver_cc_max_edges=0).toPandas()
    ma = dict(zip(a["doc_id"], a["canonical_id"]))
    mb = dict(zip(b["doc_id"], b["canonical_id"]))
    assert ma == mb


def test_minhash_assignment_duplicate_free_corpus(spark):
    # ADVICE r2 (high): a corpus where no two docs share an LSH band key
    # used to IndexError inside the driver CC (empty edge list); the
    # guard must return the identity mapping instead.
    texts = [" ".join(f"q{_letters(i * 50 + j)}" for j in range(30)) for i in range(50)]
    pdf = pd.DataFrame({"doc_id": np.arange(50), "text": texts})
    out = dedup.minhash_dedup_assign(spark.createDataFrame(pdf), k=32, bands=8).toPandas()
    assert len(out) == 50
    assert (out["canonical_id"] == out["doc_id"]).all()


def test_lsh_candidate_pairs_rejects_wrong_k(spark, planted):
    # ADVICE r2: k must match the signature length, else out-of-range
    # element_at slots collide every doc into one bucket. The guard
    # raises instead of silently exploding.
    _, sdf = planted
    sigs = dedup.minhash_signatures(sdf, k=64)
    with pytest.raises(Exception, match="signature length"):
        dedup.lsh_candidate_pairs(sigs, bands=16, k=128).count()


def test_band_keys_null_and_short_docs(spark):
    """r6 mapInArrow band keys: NULL text and token-less docs yield empty
    key arrays (downstream explode drops them); 1- and 2-token docs pad
    like the legacy per-row path. Assignment output must treat NULL/empty
    docs as their own canonicals, exactly like the r5 pre-filter did."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": ["alpha beta gamma delta", "alpha beta gamma delta",
                     None, "", "!!!", "one"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    bk = dedup.minhash_band_keys(sdf, 32, 8).toPandas().set_index("doc_id")
    assert len(bk.loc[3, "bkeys"]) == 0  # NULL text
    assert len(bk.loc[4, "bkeys"]) == 0  # empty text
    assert len(bk.loc[5, "bkeys"]) == 0  # no alnum tokens
    assert len(bk.loc[6, "bkeys"]) == 8  # single token: padded window
    assert list(bk.loc[1, "bkeys"]) == list(bk.loc[2, "bkeys"])  # dup docs collide
    out = dedup.minhash_dedup_assign(sdf, k=32, bands=8).toPandas().set_index("doc_id")
    assert out.loc[2, "canonical_id"] == 1
    for d in (3, 4, 5, 6):
        assert out.loc[d, "canonical_id"] == d


def test_np_minhash_from_flat_padding_contract():
    """Short docs pad to one full 3-token window by repeating their last
    token: [t] signs like [t, t, t] and [a, b] like [a, b, b]; a
    zero-length doc keeps the all-max sentinel row (callers drop it)."""
    t, a, b = 11, -2**61, 2**62 + 5

    def sig(*docs):
        flat = np.array([x for d in docs for x in d], dtype=np.int64)
        return dedup.np_minhash_from_flat(flat, np.array([len(d) for d in docs]), 64, 3)

    got = sig([t], [a, b], [], [t, t, t], [a, b, b])
    assert (got[0] == got[3]).all()
    assert (got[1] == got[4]).all()
    assert (got[2] == np.iinfo(np.uint64).max).all()
    assert (got[0] != got[1]).any()


def test_list_flat_lens_null_slot_with_extent():
    """Arrow lets a null list slot span a nonzero offset extent, and
    flatten() drops the values under it. The shared reader must zero that
    row's length, so every later row still signs exactly as it does in
    the same batch without the null."""
    import pyarrow as pa

    rng = np.random.default_rng(3)
    docs = [rng.integers(-2**62, 2**62, size=n, dtype=np.int64) for n in (5, 4, 2, 7)]
    junk = rng.integers(-2**62, 2**62, size=6, dtype=np.int64)
    rows = [docs[0], junk, *docs[1:]]
    offs = np.concatenate(([0], np.cumsum([len(r) for r in rows]))).astype(np.int32)
    with_null = pa.ListArray.from_arrays(
        pa.array(offs), pa.array(np.concatenate(rows)),
        mask=pa.array([False, True, False, False, False]),
    )
    assert with_null.null_count == 1 and np.diff(with_null.offsets.to_numpy())[1] == 6
    flat, lens = dedup.list_flat_lens(with_null)
    assert lens.tolist() == [5, 0, 4, 2, 7] and len(flat) == lens.sum()
    got = dedup.np_minhash_from_flat(flat, lens, 64, 3)
    plain = pa.array([d.tolist() for d in docs], type=pa.list_(pa.int64()))
    ref = dedup.np_minhash_from_flat(*dedup.list_flat_lens(plain), 64, 3)
    assert (got[[0, 2, 3, 4]] == ref).all()
    assert (got[1] == np.iinfo(np.uint64).max).all()
