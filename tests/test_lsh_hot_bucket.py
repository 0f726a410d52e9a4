"""Hot-bucket cap: LSH candidate emission must be LINEAR, not quadratic,
in the size of a skewed bucket once the cap kicks in.

At 100 TB a single hot band bucket (boilerplate pages, template spam) can
hold millions of docs; exhaustive in-bucket pair expansion is O(M^2) and
sinks the stage. With ``hot_bucket_cap=K``, buckets over K emit star pairs
around a representative (M-1 pairs), keeping the cluster connected for the
downstream union-find/verify step.
"""

from sen2rts_spark.queries_docs import N_PERMS, _lsh_candidate_pairs


def _planted_signatures(spark, n_hot, n_cold):
    """n_hot docs with IDENTICAL MinHash signatures (one hot bucket in every
    band) + n_cold docs with unique signatures (no collisions)."""
    rows = []
    for d in range(n_hot):
        rows.append((d, *["hot"] * N_PERMS))
    for d in range(n_cold):
        rows.append((1000 + d, *[f"cold{d}_{i}" for i in range(N_PERMS)]))
    cols = ["doc_id"] + [f"h{i}" for i in range(1, N_PERMS + 1)]
    return spark.createDataFrame(rows, cols)


def test_minhash_hot_bucket_cap_linear(spark):
    sig = _planted_signatures(spark, n_hot=20, n_cold=5)
    exhaustive = _lsh_candidate_pairs(sig).count()
    assert exhaustive == 20 * 19 // 2  # quadratic in the hot bucket

    capped = _lsh_candidate_pairs(sig, hot_bucket_cap=8)
    rows = capped.collect()
    assert len(rows) == 19  # star pairs: linear in bucket size
    # every pair goes through the representative (min doc_id)
    assert all(r.doc_a == 0 for r in rows)
    assert sorted(r.doc_b for r in rows) == list(range(1, 20))


def test_minhash_cap_no_effect_below_threshold(spark):
    sig = _planted_signatures(spark, n_hot=6, n_cold=3)
    exhaustive = sorted(map(tuple, _lsh_candidate_pairs(sig).collect()))
    capped = sorted(map(tuple,
                        _lsh_candidate_pairs(sig, hot_bucket_cap=10).collect()))
    assert capped == exhaustive == [
        (a, b) for a in range(6) for b in range(a + 1, 6)]

