"""Tests for the training-data pipeline operators (dedup / text / ANN)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from htg_spark.operators import ann, dedup, text
from htg_spark.profile import absent, count, faults, plan_nodes, render

NO_CROSS = absent("CartesianProduct", "BroadcastNestedLoopJoin")


def _assert_plan(df, gates):
    nodes = plan_nodes(df)
    assert not faults(nodes, gates), render(nodes)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
        (3, "el perro corre por el parque y la casa es bonita"),
        (4, "der hund läuft durch den park und das ist gut"),
        (5, "le chat est sur la table et le chien est petit"),
        (6, "completely different words here about spark engines"),
        (7, "的 是 不 了 在 人 有 我 山 水"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).orderBy("doc_id").toPandas()
    assert out.loc[0, "grp_size"] == 2 and out.loc[1, "grp_size"] == 2
    assert bool(out.loc[0, "is_canonical"]) and not bool(out.loc[1, "is_canonical"])
    assert out.loc[2, "grp_size"] == 1
    assert out.loc[0, "grp_hash"] == out.loc[1, "grp_hash"]


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sigs).toPandas()
    pairset = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in pairset  # exact dups always collide
    verified = dedup.jaccard_verify(docs, dedup.lsh_candidate_pairs(sigs)).toPandas()
    row01 = verified[(verified.id_a == 0) & (verified.id_b == 1)].iloc[0]
    assert row01["jaccard"] == 1.0 and bool(row01["is_dup"])


def test_jaccard_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d", "a b c e"]})
    )
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [0], "id_b": [1]}))
    out = dedup.jaccard_verify(df, pairs, threshold=0.5).toPandas().iloc[0]
    # bigrams: {a b, b c, c d} vs {a b, b c, c e} -> inter 2, union 4
    assert out["inter"] == 2 and out["union_n"] == 4 and out["jaccard"] == 0.5


def test_simhash_identical_and_different(docs):
    out = dedup.simhash(docs).orderBy("doc_id").toPandas()
    assert out.loc[0, "simhash"] == out.loc[1, "simhash"]  # identical text
    assert out.loc[0, "simhash"] != out.loc[6, "simhash"]
    # near-dup: small hamming distance
    h0, h2 = int(out.loc[0, "simhash"]), int(out.loc[2, "simhash"])
    assert bin(h0 ^ h2).count("1") <= 20


def test_simhash_near_dup_pairs(docs):
    sigs = dedup.simhash(docs)
    # identical docs 0/1 -> hamming 0; banding must find them
    pairs = dedup.simhash_near_dup_pairs(sigs, max_hamming=3).toPandas()
    pairset = {(a, b): h for a, b, h in zip(pairs.id_a, pairs.id_b, pairs.hamming)}
    assert pairset.get((0, 1)) == 0
    # pigeonhole completeness: brute-force hamming <= 3 pairs == banded pairs
    sp = sigs.toPandas().set_index("doc_id")["simhash"]
    brute = {
        (a, b)
        for a in sp.index
        for b in sp.index
        if a < b and bin(int(sp[a]) ^ int(sp[b])).count("1") <= 3
    }
    assert set(pairset) == brute


def test_minhash_lsh_recall_on_edited_pairs(spark):
    """Family-change guard: every lightly-edited near-dup pair (jaccard
    22/24 ~ 0.92, per-pair find probability ~0.975 under the 2x2 band
    geometry) in a 120-doc corpus must survive the full MinHash -> LSH ->
    Jaccard-verify path. Deterministic given the fixed affine family, and
    measured 60/60 found (the md5-per-j family found 59/60 on the same
    fixture — the families are recall-equivalent; a mixing regression in
    the hash family, e.g. an order-preserving affine map, shows up here
    as missed pairs, not just as a candidate-count shift)."""
    rows = []
    for i in range(60):
        # 24 unique-ish tokens per doc; the edited copy changes the tail
        toks = [f"w{i}_{t}" for t in range(24)]
        rows.append((2 * i, " ".join(toks)))
        rows.append((2 * i + 1, " ".join(toks[:-1] + [f"edit{i}"])))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["cid", "text"]))
    sh = dedup.shingle_stream(docs, id_col="cid")
    sigs = dedup.minhash_signatures(docs, id_col="cid", shingles=sh)
    pairs = dedup.lsh_candidate_pairs(sigs, id_col="cid")
    ver = dedup.jaccard_verify(docs, pairs, id_col="cid", shingles=sh).toPandas()
    found = set(zip(ver[ver.is_dup].id_a, ver[ver.is_dup].id_b))
    missing = {(2 * i, 2 * i + 1) for i in range(60)} - found
    assert not missing, f"LSH missed {len(missing)} edited pairs: {sorted(missing)[:5]}"


def test_jaccard_join_matches_bruteforce(spark):
    """EXACT-join contract: jaccard_join must return precisely the pairs a
    quadratic all-pairs scan finds — zero misses (the prefix filter is
    provably complete) and zero extras — with bit-identical inter/union.
    Corpus: 50 random docs over a 14-word vocabulary (heavy n-gram
    collisions stress the candidate join) + edited copies of every fourth
    doc (append 2 / drop 1 tokens) planting pairs on both sides of the
    3/5 threshold."""
    rng = np.random.default_rng(17)
    vocab = [f"v{i}" for i in range(14)]
    rows = []
    for i in range(50):
        toks = [vocab[j] for j in rng.integers(0, len(vocab), rng.integers(9, 26))]
        rows.append((2 * i, " ".join(toks)))
        if i % 4 == 0:
            edited = toks[:-1] + ["zz", "qq"]
            rows.append((2 * i + 1, " ".join(edited)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["cid", "text"]))
    n, t_num, t_den = 3, 3, 5
    out = dedup.jaccard_join(
        docs, id_col="cid", n=n, threshold_num=t_num, threshold_den=t_den
    ).toPandas()
    got = {
        (r.id_a, r.id_b): (r.inter, r.union_n) for r in out.itertuples(index=False)
    }
    # quadratic reference over Python n-gram sets
    sets = {}
    for cid, txt in rows:
        toks = txt.split(" ")
        sets[cid] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and t_den * inter >= t_num * union:
                want[(a, b)] = (inter, union)
    assert got == want, (
        f"missing={set(want) - set(got)} extra={set(got) - set(want)}"
    )
    assert len(want) >= 13  # the planted copies actually exercise the join


def test_semdedup_matches_reference(spark):
    """Blocked applyInPandas SemDeDup vs an independent scalar reference:
    same centroid argmax (first index wins), same left-to-right dot/norm
    folds, greedy lower-id-shadows rule — n_earlier_dups / is_kept /
    max_earlier_cos must match BIT-for-bit. Corpus: 90 random vectors +
    exact 2x scalar copies of every third one (cosine ~1.0, same cluster),
    block=4 so the blocked accumulation path (multiple partial blocks,
    cross-block mask edges) is actually exercised."""
    import math

    rng = np.random.default_rng(23)
    dim, k = 8, 4
    cents = ann.ivf_centroids(dim, k, seed=7)
    vecs = {}
    for i in range(90):
        vecs[i] = [float(np.float32(v)) for v in rng.standard_normal(dim)]
        if i % 3 == 0:
            vecs[i + 1000] = [float(np.float32(2.0) * np.float32(v)) for v in vecs[i]]
    pdf = pd.DataFrame(
        {"vec_id": list(vecs), "embedding": [vecs[i] for i in vecs]}
    )
    emb = spark.createDataFrame(pdf).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = ann.semdedup(emb, cents, threshold=0.95, block=4).toPandas()
    got = {
        int(r.vec_id): (int(r.cluster), int(r.n_earlier_dups),
                        None if pd.isna(r.max_earlier_cos) else float(r.max_earlier_cos),
                        bool(r.is_kept))
        for r in out.itertuples(index=False)
    }

    def ltr_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    assign, norm = {}, {}
    for i, v in vecs.items():
        dots = [ltr_dot(v, c) for c in cents]
        assign[i] = dots.index(max(dots))
        norm[i] = math.sqrt(ltr_dot(v, v))
    want = {}
    for i in sorted(vecs):
        earlier = [j for j in vecs if assign[j] == assign[i] and j < i]
        cosines = [
            ltr_dot(vecs[i], vecs[j]) / (norm[i] * norm[j]) for j in earlier
        ]
        n_dups = sum(1 for c in cosines if c >= 0.95)
        want[i] = (
            assign[i],
            n_dups,
            max(cosines) if cosines else None,
            n_dups == 0,
        )
    assert got == want
    # the planted copies actually exercised the drop path
    dropped = [i for i in vecs if i >= 1000 and not got[i][3]]
    assert len(dropped) >= 25


def test_jaccard_join_threshold_boundary_exact(spark):
    """A pair at EXACTLY Jaccard = 3/5 (inter 3, union 5 over unigram sets)
    must be included — the rational integer compare cannot round it out —
    and 1/3 must be excluded; single-token docs (no n-grams at n=2) never
    pair."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "cid": [1, 2, 3, 4, 5],
                "text": ["a b c d", "a b c e", "a b x y", "q", "q"],
            }
        )
    )
    out = dedup.jaccard_join(docs, id_col="cid", n=1, threshold_num=3, threshold_den=5)
    got = {(r.id_a, r.id_b): (r.inter, r.union_n) for r in out.collect()}
    assert got == {(1, 2): (3, 5), (4, 5): (1, 1)}
    # n=2: the bigram pair (inter 2, union 4 -> J = 0.5 < 3/5) falls below
    # the threshold, and the one-token docs have no bigrams at all — empty
    out2 = dedup.jaccard_join(docs, id_col="cid", n=2, threshold_num=3, threshold_den=5)
    assert out2.count() == 0


def test_connected_components_grouping(spark):
    """Chain 1-2-3 collapses to one group under min-label propagation
    (needs >1 round: 3 only reaches 1 through 2); 4-5 a pair; 6 a
    singleton; canonical = lowest id in the group. Both physical
    strategies (driver collect solve and the distributed loop) must
    produce the identical table and report which one ran."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 4], "id_b": [2, 3, 5]})
    )
    verts = spark.createDataFrame(pd.DataFrame({"cid": [1, 2, 3, 4, 5, 6]}))
    for threshold, want_strategy in ((2_000_000, "collect"), (None, "loop")):
        stats: dict = {}
        out = (
            dedup.connected_components(
                pairs, verts, id_col="cid", stats=stats,
                collect_threshold=threshold,
            )
            .orderBy("cid")
            .toPandas()
        )
        assert stats["strategy"] == want_strategy
        assert out["group_id"].tolist() == [1, 1, 1, 4, 4, 6]
        assert out["is_canonical"].tolist() == [True, False, False, True, False, True]


def test_connected_components_strategy_parity_random_graph(spark):
    """Collect solve vs distributed loop on a random graph (plus edges
    whose endpoints are missing from `vertices`, which must neither
    receive nor conduct labels on EITHER path): identical label tables."""
    rng = np.random.default_rng(11)
    n = 400
    a = rng.integers(0, n, 300)
    b = rng.integers(0, n, 300)
    # absent vertex 1000 bridges the otherwise-isolated PRESENT vertices
    # 500 and 501: if either path let an absent endpoint conduct labels,
    # 500/501 would merge into one group instead of staying singletons
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": list(a) + [500, 1000],
                "id_b": list(b) + [1000, 501],
            }
        )
    )
    verts = spark.createDataFrame(
        pd.DataFrame({"cid": list(range(n)) + [500, 501]})
    )
    kw = dict(id_col="cid")
    got_c = (
        dedup.connected_components(pairs, verts, collect_threshold=10_000, **kw)
        .orderBy("cid").toPandas()
    )
    got_l = (
        dedup.connected_components(pairs, verts, collect_threshold=None, **kw)
        .orderBy("cid").toPandas()
    )
    pd.testing.assert_frame_equal(got_c, got_l)
    # absent endpoints never appear in the output, and the bridge through
    # the absent vertex did NOT merge 500/501
    assert set(got_c["cid"]) == set(range(n)) | {500, 501}
    by_id = got_c.set_index("cid")["group_id"]
    assert by_id[500] == 500 and by_id[501] == 501
    # a threshold below the edge count routes to the loop
    stats: dict = {}
    dedup.connected_components(
        pairs, verts, collect_threshold=1, stats=stats, **kw
    ).count()
    assert stats["strategy"] == "loop"


def test_connected_components_null_and_string_ids_both_strategies(spark):
    """Regressions from review: (a) a null endpoint must conduct nothing on
    BOTH paths (the collect path once let pandas coerce the id column to
    float64 and crashed the LongType round-trip); (b) string document ids
    must work on both paths (the collect path once called .item() on str)."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1.0, None, 3.0], "id_b": [2.0, 5.0, None]})
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    verts = spark.createDataFrame(pd.DataFrame({"cid": [1, 2, 3, 5]}))
    for threshold in (1000, None):
        out = (
            dedup.connected_components(
                pairs, verts, id_col="cid", collect_threshold=threshold
            )
            .orderBy("cid").toPandas()
        )
        # only the 1-2 edge survives; 5 and 3 stay singletons
        assert out["group_id"].tolist() == [1, 1, 3, 5], threshold
    s_pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ["a", "b"], "id_b": ["b", "c"]})
    )
    s_verts = spark.createDataFrame(pd.DataFrame({"doc_id": ["a", "b", "c", "z"]}))
    for threshold in (1000, None):
        out = (
            dedup.connected_components(
                s_pairs, s_verts, id_col="doc_id", collect_threshold=threshold
            )
            .orderBy("doc_id").toPandas()
        )
        assert out["group_id"].tolist() == ["a", "a", "a", "z"], threshold


def test_simhash_chunks_exact_above_2_53(spark):
    # regression: a floor-divide through double loses the low bits of
    # signatures >= 2^53, silently dropping pairs; exact shift/mask must
    # find this hamming-1 pair whose high bit is set
    sigs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "simhash": [1, (1 << 59) + 1, (1 << 59) + (1 << 30) + (1 << 16) + 14]})
    )
    out = dedup.simhash_near_dup_pairs(sigs, max_hamming=3).toPandas()
    pairset = {(a, b): h for a, b, h in zip(out.id_a, out.id_b, out.hamming)}
    assert pairset.get((0, 1)) == 1
    # brute-force completeness over the high-bit fixture
    sp = {0: 1, 1: (1 << 59) + 1, 2: (1 << 59) + (1 << 30) + (1 << 16) + 14}
    brute = {
        (a, b)
        for a in sp
        for b in sp
        if a < b and bin(sp[a] ^ sp[b]).count("1") <= 3
    }
    assert set(pairset) == brute


def test_simhash_block_count_is_a_pure_selectivity_knob(docs):
    """Raising n_blocks (the corpus-size knob) must never change the result
    set — only candidate-join selectivity. Same pairs at b=4 (fixture
    default), b=6 (~10^6 rows), b=8 (~10^9 rows)."""
    sigs = dedup.simhash(docs)
    base = dedup.simhash_near_dup_pairs(sigs, max_hamming=3).toPandas()
    ref = set(zip(base.id_a, base.id_b, base.hamming))
    for b in (6, 8):
        out = dedup.simhash_near_dup_pairs(sigs, max_hamming=3, n_blocks=b).toPandas()
        assert set(zip(out.id_a, out.id_b, out.hamming)) == ref, f"n_blocks={b}"
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(sigs, max_hamming=3, n_blocks=3)


def test_params_for_pins_scale_points():
    """The sizing rules at the corpus sizes a user would actually hit.
    Fixture scale must reproduce the oracle-pinned constants exactly;
    larger scales must grow every selectivity knob monotonically."""
    from htg_spark.operators.params import params_for

    p3 = params_for(10**3)
    # fixture scale == the constants every DuckDB oracle pins
    assert p3.lsh_planes == ann.N_PLANES == 16
    assert p3.ivf_centroids == ann.N_CENTROIDS == 16 and p3.ivf_nprobe == 2
    assert p3.minhash_k == dedup.N_MINHASH == 4 and p3.band_rows == 2
    assert (p3.neardup_planes, p3.neardup_tables) == (8, 4)
    # ANN top-k rule coincides with the near-dup rule at fixture scale, so
    # the lsh_topk_multi oracle's pinned 4x8-plane tables stay identical
    assert (p3.ann_planes, p3.ann_tables) == (8, 4)
    assert p3.simhash_blocks == 4 and p3.simhash_key_bits == 15
    assert (p3.pq_m, p3.pq_codes) == (8, 16)  # 4-bit codes at fixture scale
    assert params_for(10**9).pq_codes == 256  # classic 8-bit PQ at scale

    p6, p9, p12 = params_for(10**6), params_for(10**9), params_for(10**12)
    assert (p6.lsh_planes, p9.lsh_planes, p12.lsh_planes) == (20, 28, 28)
    assert (p6.simhash_blocks, p9.simhash_blocks, p12.simhash_blocks) == (6, 8, 12)
    # effective join-key width tracks log2(N)+5 (bucket occupancy << 1)
    assert (p6.simhash_key_bits, p9.simhash_key_bits, p12.simhash_key_bits) == (30, 35, 45)
    assert (p6.ivf_centroids, p9.ivf_centroids, p12.ivf_centroids) == (512, 16384, 65536)
    assert p6.ivf_nprobe < p9.ivf_nprobe <= p12.ivf_nprobe
    # multi-table LSH: tables grow WITH planes (recall held as per-table
    # recall p^planes shrinks), never planes alone
    assert (p6.neardup_planes, p6.neardup_tables) == (17, 6)
    assert (p9.neardup_planes, p9.neardup_tables) == (27, 8)
    assert (p12.neardup_planes, p12.neardup_tables) == (28, 9)
    # ANN top-k: fewer planes per table, tables growing 1:1 with planes —
    # recall at the ~0.9-cosine neighbor band stays >= 0.8 while the
    # queries x corpus candidate join stays O(n_q * N * T / 2^planes).
    # Deliberate round-5 retune: the old shared rule measured recall@10
    # 0.654 at 1e5 (predicted 0.66); 12x8 predicts ~0.89 there.
    p5 = params_for(10**5)
    assert (p5.ann_planes, p5.ann_tables) == (12, 10)
    assert (p6.ann_planes, p6.ann_tables) == (15, 14)
    assert (p9.ann_planes, p9.ann_tables) == (20, 16)
    assert (p12.ann_planes, p12.ann_tables) == (20, 16)
    # minhash banding: rows and bands grow together — the LSH threshold
    # (1/b)^(1/r) must never DROP with N (more bands at fixed r would
    # loosen the candidate filter exactly when N grows)
    for small, big in ((p3, p6), (p6, p9), (p9, p12)):
        t_small = (small.band_rows / small.minhash_k) ** (1.0 / small.band_rows)
        t_big = (big.band_rows / big.minhash_k) ** (1.0 / big.band_rows)
        assert t_big >= t_small - 1e-9
        assert big.band_rows >= small.band_rows
    assert (p6.minhash_k, p6.band_rows) == (16, 4)
    assert (p12.minhash_k, p12.band_rows) == (36, 6)
    # every block keeps >= 4 bits at any scale (join keys stay meaningful)
    for n in (10**3, 10**6, 10**9, 10**12, 10**15):
        p = params_for(n)
        assert p.simhash_bits // p.simhash_blocks >= 4


def test_fixture_params_match_pipeline_constants():
    """pipeline_queries derives its module constants from params_for(1000);
    if the sizing rules drift, this fails before the driver oracle does."""
    from htg_spark import pipeline_queries as pq

    assert len(pq.PLANES) == pq.P.lsh_planes
    assert len(pq.CENTROIDS) == pq.P.ivf_centroids
    assert len(pq.NEARDUP_TABLES) == pq.P.neardup_tables
    assert len(pq.NEARDUP_TABLES[0]) == pq.P.neardup_planes
    assert pq.IVF_NPROBE == pq.P.ivf_nprobe


def test_token_stats_and_quality(docs):
    st = text.token_stats(docs).orderBy("doc_id").toPandas()
    assert st.loc[0, "n_tokens"] == 9
    assert st.loc[0, "n_distinct"] == 8  # 'the' twice
    q = text.quality_score(docs).orderBy("doc_id").toPandas()
    assert ((q["quality"] > 0) & (q["quality"] <= 1.0)).all()


def test_repetition_stats(spark):
    """Hand-computed duplicate-ngram fractions: 'a b a b a b' has bigrams
    [a b, b a, a b, b a, a b] (5 total, 2 distinct -> 0.6) and trigrams
    [a b a, b a b, a b a, b a b] (4 total, 2 distinct -> 0.5); an
    all-distinct doc scores 0.0; a doc shorter than n scores 0.0."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": ["a b a b a b", "one two three four", "solo"],
            }
        )
    )
    out = text.repetition_stats(df).orderBy("doc_id").toPandas()
    assert out["n_tokens"].tolist() == [6, 4, 1]
    assert out["dup_bigram_frac"].tolist() == [1.0 - 2 / 5, 0.0, 0.0]
    assert out["dup_trigram_frac"].tolist() == [0.5, 0.0, 0.0]


def test_top_terms(spark):
    """Hand-computed rational tf-idf: 'cat' appears in both docs (df 2),
    'dog'/'bird' in one (df 1) — per-doc rarer terms outrank the common
    one at equal tf; ties break alphabetically."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1], "text": ["cat dog dog", "cat bird"]}
        )
    )
    out = text.top_terms(df, n_docs=2, k=2).orderBy("doc_id", "rank").toPandas()
    # doc 0: dog tf=2 df=1 -> 2*(3/2)=3.0 ; cat tf=1 df=2 -> 1*(3/3)=1.0
    assert out[out.doc_id == 0]["term"].tolist() == ["dog", "cat"]
    assert out[out.doc_id == 0]["score"].tolist() == [3.0, 1.0]
    # doc 1: bird 1*(3/2)=1.5 beats cat 1.0
    assert out[out.doc_id == 1]["term"].tolist() == ["bird", "cat"]


def test_sessionize(spark):
    """Gap-based sessionization: user 1's third event is 40 min after the
    second -> two sessions; exact-duplicate timestamps order by event_id;
    user 2 is a singleton session. One Exchange serves the whole plan."""
    import datetime as dt

    from htg_spark.operators import events as ev

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (10, t0, 1, "view"),
        (11, t0 + dt.timedelta(minutes=10), 1, "click"),
        (12, t0 + dt.timedelta(minutes=50), 1, "view"),
        (13, t0 + dt.timedelta(minutes=50), 1, "view"),  # same ts, ties by id
        (20, t0, 2, "error"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    )
    out = ev.sessionize(df).orderBy("user_id", "session_id").toPandas()
    assert out[["user_id", "session_id", "n_events"]].values.tolist() == [
        [1, 10, 2],
        [1, 12, 2],
        [2, 20, 1],
    ]
    assert out["duration_us"].tolist() == [600_000_000, 0, 0]
    assert out["n_event_types"].tolist() == [2, 1, 1]
    _assert_plan(ev.sessionize(df), [count("Exchange", 1, 1)])


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: equal-ts marker matches; duplicate marker
    timestamps reduce by max tiebreak; keys with no qualifying marker get
    NULLs; tolerance voids too-old matches; ONE Exchange in the plan."""
    from htg_spark.operators import events as ev

    probes = spark.createDataFrame(
        pd.DataFrame(
            [(10, 1, 100), (11, 1, 50), (12, 1, 20), (13, 1, 70), (20, 2, 99)],
            columns=["pid", "uid", "us"],
        )
    )
    markers = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, 100, 5, 1.5),
                (1, 60, 6, 2.5),
                (1, 60, 66, 7.5),  # duplicate ts -> max_by(mid) wins
                (1, 30, 7, 3.5),
                (3, 1, 8, 9.9),  # key absent from probes
            ],
            columns=["uid", "us", "mid", "val"],
        )
    )
    out = (
        ev.asof_join(
            probes, markers, key_col="uid", ts_col="us",
            payload_cols=["mid", "val"], tiebreak_col="mid",
        )
        .orderBy("pid")
        .toPandas()
    )
    # pid 10: inclusive equal-ts match (us=100); pid 11: latest marker
    # <= 50 is us=30 -> mid 7; pid 12: nothing <= 20 -> NULL; pid 13:
    # the duplicate-ts us=60 group reduces to max_by(mid) -> mid 66 with
    # its own val; pid 20: uid 2 has no markers at all -> NULL
    assert out["asof_mid"].tolist()[0] == 5
    assert out["asof_mid"].tolist()[1] == 7
    assert pd.isna(out["asof_mid"].tolist()[2])
    assert out["asof_mid"].tolist()[3] == 66
    assert out["asof_val"].tolist()[3] == 7.5
    assert pd.isna(out["asof_mid"].tolist()[4])
    assert out["asof_ts"].tolist()[0] == 100
    assert out["asof_ts"].tolist()[1] == 30
    assert out["asof_ts"].tolist()[3] == 60

    tol = (
        ev.asof_join(
            probes, markers, key_col="uid", ts_col="us",
            payload_cols=["mid"], tiebreak_col="mid", tolerance=10,
        )
        .orderBy("pid")
        .toPandas()
    )
    # pid 10 gap 0 keeps; pid 11's nearest (us=30, gap 20 > 10) is voided
    # and NOT resurrected by anything earlier (backward-nearest is exact);
    # pid 13 gap 10 sits exactly at the inclusive tolerance edge
    assert tol["asof_mid"].tolist()[0] == 5
    assert pd.isna(tol["asof_mid"].tolist()[1])
    assert tol["asof_mid"].tolist()[3] == 66

    # ONE Exchange with AND without the tiebreak: the dup-ts resolution
    # rides the window sort order, never a groupBy pre-reduce
    for tb in (None, "mid"):
        out = ev.asof_join(
            probes, markers, key_col="uid", ts_col="us",
            payload_cols=["mid"], tiebreak_col=tb,
        )
        _assert_plan(out, [count("Exchange", 1, 1), NO_CROSS])


def test_interval_join_semantics(spark):
    """Bucketized point-in-interval join: both boundaries inclusive,
    overlapping windows each match (exactly once — no dedup pass needed),
    zero-length windows work, keys partition, and the plan never falls
    back to a cross product."""
    from htg_spark.operators import events as ev

    probes = spark.createDataFrame(
        pd.DataFrame(
            [
                ("p1", 1, 20),   # start boundary of A (inclusive)
                ("p2", 1, 50),   # end boundary of A (inclusive)
                ("p3", 1, 46),   # inside A AND B -> two rows
                ("p4", 1, 19),   # just before A
                ("p5", 1, 51),   # just after A
                ("p6", 2, 46),   # right ts, wrong key
                ("p7", 2, 5),    # inside C
                ("p8", 3, 100),  # zero-length window D, boundary hit
                ("p9", 3, 101),  # just after D
            ],
            columns=["pid", "user_id", "us"],
        )
    )
    windows = spark.createDataFrame(
        pd.DataFrame(
            [
                ("A", 1, 20, 50),   # spans buckets 2..5 at bucket_us=10
                ("B", 1, 45, 47),   # overlaps A
                ("C", 2, 0, 9),     # single bucket
                ("D", 3, 100, 100),  # zero length
            ],
            columns=["window_id", "user_id", "ws_us", "we_us"],
        )
    )
    out = (
        ev.interval_join(probes, windows, bucket_us=10)
        .orderBy("pid", "window_id")
        .toPandas()
    )
    got = list(zip(out["pid"], out["window_id"]))
    assert got == [
        ("p1", "A"), ("p2", "A"), ("p3", "A"), ("p3", "B"),
        ("p7", "C"), ("p8", "D"),
    ]
    # exactly-once even though window A explodes to 4 buckets
    assert len(got) == len(set(got))
    # probe columns survive; interval start/end ride along
    assert list(out.columns) == ["pid", "user_id", "us", "window_id", "ws_us", "we_us"]
    assert out.loc[out["pid"] == "p8", "we_us"].tolist() == [100]

    with pytest.raises(ValueError, match="bucket_us"):
        ev.interval_join(probes, windows, bucket_us=0)

    _assert_plan(ev.interval_join(probes, windows, bucket_us=10), [NO_CROSS])


def test_phash_banding_63bit(spark):
    """The image-phash reuse of the banding engine at sig_bits=63: high
    bit 62 participates in a block (the top block is 15 bits wide), exact
    hamming filters above-threshold candidates, and nothing overflows the
    63-bit signature domain."""
    base = (1 << 62) | 5
    rows = [
        ("a", base),
        ("b", base ^ 0b1011),  # hamming 3 vs a
        ("c", base ^ ((1 << 62) | (1 << 61))),  # hamming 2 vs a (top bits)
        ("d", base ^ 0b11111),  # hamming 5 vs a (excluded), 2 vs b
    ]
    sigs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "simhash"])
    )
    for interleave in (False, True):
        out = (
            dedup.simhash_near_dup_pairs(
                sigs, id_col="image_id", max_hamming=3, sig_bits=63,
                interleave=interleave,
            )
            .orderBy("id_a", "id_b")
            .toPandas()
        )
        assert out[["id_a", "id_b", "hamming"]].values.tolist() == [
            ["a", "b", 3],
            ["a", "c", 2],
            ["b", "d", 2],
        ]


def test_banding_interleave_equals_contiguous(spark):
    """Interleaved block assignment finds EXACTLY the same pair set as
    contiguous blocks (pigeonhole is partition-agnostic; only bucket
    balance differs) — on a corpus with planted near-dups across both
    low and high bit ranges."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.integers(0, 1 << 63, size=400, dtype=np.uint64)
    rows = [(f"r{i}", int(v) & ((1 << 63) - 1)) for i, v in enumerate(base)]
    # plant near-dups: low-bit flips, high-bit flips, mixed
    for i in range(0, 60, 3):
        mask = (1 << (i % 63)) | (1 << ((i * 17 + 40) % 63))
        rows.append((f"d{i}", rows[i][1] ^ mask))
    sigs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "simhash"]))
    got = {}
    for interleave in (False, True):
        out = dedup.simhash_near_dup_pairs(
            sigs, id_col="doc_id", max_hamming=3, sig_bits=63,
            interleave=interleave, n_blocks=5,
        ).toPandas()
        got[interleave] = sorted(map(tuple, out.values.tolist()))
    assert got[True] == got[False]
    assert len(got[True]) >= 20


def test_lang_id_detects_real_languages(docs):
    out = text.lang_id(docs).orderBy("doc_id").toPandas().set_index("doc_id")
    assert out.loc[0, "pred_lang"] == "en"
    assert out.loc[3, "pred_lang"] == "es"
    assert out.loc[4, "pred_lang"] == "de"
    assert out.loc[5, "pred_lang"] == "fr"
    assert out.loc[7, "pred_lang"] == "zh"


def test_bpe_token_stats(spark):
    """BPE-ish regex tokenizer: letter/digit/punct runs split apart."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["don't stop2! now", "", "a\x0bb"]})
    )
    out = text.bpe_token_stats(df).orderBy("doc_id").toPandas()
    # [don, ', t, stop, 2, !, now] -> 7 tokens, all distinct
    assert out.loc[0, "n_bpe_tokens"] == 7 and out.loc[0, "n_bpe_distinct"] == 7
    # lengths 3+1+1+4+1+1+3 = 14 chars over 7 tokens
    assert out.loc[0, "avg_bpe_token_len"] == 2.0
    assert out.loc[1, "n_bpe_tokens"] == 0 and pd.isna(out.loc[1, "avg_bpe_token_len"])
    # vertical tab: the one ASCII char where Java \s and RE2 \s disagree —
    # the explicit whitespace class must make BOTH engines see [a, b]
    assert out.loc[2, "n_bpe_tokens"] == 2
    import duckdb

    from htg_spark import pipeline_queries as pq

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [2], "text": ["a\x0bb"]}))
    duck = con.execute(pq.oracle_sql()["bpe_token_stats"]).df()
    assert int(duck["n_bpe_tokens"][0]) == 2


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iter must raise, never return split groups."""
    n = 8
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    verts = spark.createDataFrame(pd.DataFrame({"cid": list(range(n))}))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(
            pairs, verts, id_col="cid", max_iter=2, collect_threshold=None
        )
    # and converges fine with enough rounds
    out = dedup.connected_components(
        pairs, verts, id_col="cid", max_iter=n, collect_threshold=None
    ).toPandas()
    assert set(out["group_id"]) == {0}


def test_connected_components_path_graph_log_rounds(spark):
    """High-diameter hardening: a 1,000-vertex path (diameter 999) must
    converge in O(log n) rounds via the pointer-doubling shortcut — plain
    min-label propagation would need 999 rounds. 2^k doubling plus the
    one shortcut-free first round and the final no-change confirmation
    round bounds this at ~13; assert a comfortable margin under the old
    O(diameter) behavior."""
    n = 1000
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    verts = spark.createDataFrame(pd.DataFrame({"cid": list(range(n))}))
    stats: dict = {}
    out = dedup.connected_components(
        pairs, verts, id_col="cid", max_iter=25, stats=stats, collect_threshold=None
    ).toPandas()
    assert set(out["group_id"]) == {0}
    assert out.shape[0] == n
    assert stats["rounds"] <= 16, stats


def test_pii_redact_hand_computed(spark):
    """Counts from the original text; redaction chain email -> ip -> phone;
    multiple hits of one kind all counted and replaced; clean text
    untouched."""
    rows = [
        (0, "mail a@b.co and c.d@e-f.org now"),
        (1, "host 10.0.0.1 and 192.168.255.3"),
        (2, "call 555-123-4567 twice 555-123-4567"),
        (3, "nothing to see here"),
        (4, "mix a@b.co at 10.0.0.1 call 555-000-1111"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = text.pii_redact(df).orderBy("doc_id").toPandas()
    assert out["n_emails"].tolist() == [2, 0, 0, 0, 1]
    assert out["n_ipv4"].tolist() == [0, 2, 0, 0, 1]
    assert out["n_phones"].tolist() == [0, 0, 2, 0, 1]
    assert out.loc[0, "redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert out.loc[1, "redacted"] == "host <IP> and <IP>"
    assert out.loc[2, "redacted"] == "call <PHONE> twice <PHONE>"
    assert out.loc[3, "redacted"] == "nothing to see here"
    assert out.loc[4, "redacted"] == "mix <EMAIL> at <IP> call <PHONE>"


def test_line_filter_hand_computed(spark):
    """C4 rules: terminal punctuation AND >= min_words non-empty words.
    Boundary cases: exactly min_words kept; quote terminator kept;
    double spaces don't inflate the word count; all-dropped doc yields
    n_kept=0 with empty kept_text (not [''])."""
    rows = [
        (0, 'One two three.\nno punct line\nOk!\n"quoted line here."'),
        (1, "a  b  c.\nshort.\nx"),
        (2, "drop me\nand me too"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = text.line_filter(df, min_words=3).orderBy("doc_id").toPandas()
    # doc 0: 'One two three.' kept; 'no punct line' dropped (no terminal);
    # 'Ok!' dropped (1 word); '"quoted line here."' kept
    assert out.loc[0, "n_lines"] == 4 and out.loc[0, "n_kept"] == 2
    assert out.loc[0, "kept_text"] == 'One two three.\n"quoted line here."'
    # doc 1: 'a  b  c.' has 3 NON-EMPTY words (double spaces ignored) ->
    # kept; 'short.' dropped (1 word); 'x' dropped
    assert out.loc[1, "n_lines"] == 3 and out.loc[1, "n_kept"] == 1
    assert out.loc[1, "kept_text"] == "a  b  c."
    # doc 2: everything dropped
    assert out.loc[2, "n_kept"] == 0 and out.loc[2, "kept_text"] == ""


def test_line_dedup_hand_computed(spark):
    """Lines in > max_docs distinct documents drop; per-doc order is
    preserved in the rebuilt text; repeats WITHIN one doc count once
    toward the distinct-doc threshold; an all-boilerplate doc survives as
    an empty row, not a missing one."""
    boiler = "same everywhere"
    rows = [
        (0, f"{boiler}\nalpha zero\n{boiler}\nomega zero"),
        (1, f"{boiler}\nalpha one"),
        (2, f"{boiler}\nshared pair\nalpha two"),
        (3, f"shared pair\n{boiler}"),
        (4, boiler),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        dedup.line_dedup(df, max_docs=2).orderBy("doc_id").toPandas()
    )
    # 'same everywhere' is in 5 docs -> dropped everywhere (doc 0's two
    # copies count as ONE distinct doc, but it is dropped anyway);
    # 'shared pair' is in exactly 2 docs -> kept (<= max_docs)
    assert out["n_lines"].tolist() == [4, 2, 3, 2, 1]
    assert out["n_kept"].tolist() == [2, 1, 2, 1, 0]
    assert out.loc[0, "cleaned_text"] == "alpha zero\nomega zero"  # order kept
    assert out.loc[2, "cleaned_text"] == "shared pair\nalpha two"
    assert out.loc[3, "cleaned_text"] == "shared pair"
    assert out.loc[4, "cleaned_text"] == ""


def test_props_stats_hand_computed(spark):
    """JSON scalar extraction + exact per-type rollup; rows without the
    key count in n_events but not n_with_key / sum / min / max."""
    from htg_spark.operators import events as ev

    rows = [
        ("click", '{"k": 3}'),
        ("click", '{"k": 7}'),
        ("click", '{"other": 1}'),
        ("view", '{"k": -2}'),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["event_type", "props"]))
    out = ev.props_stats(df).orderBy("event_type").toPandas()
    click = out[out.event_type == "click"].iloc[0]
    assert (click.n_events, click.n_with_key, click.sum_k, click.min_k, click.max_k) == (3, 2, 10, 3, 7)
    view = out[out.event_type == "view"].iloc[0]
    assert (view.n_events, view.n_with_key, view.sum_k, view.min_k, view.max_k) == (1, 1, -2, -2, -2)


def test_props_stats_non_integer_values_yield_null(spark):
    """Non-integer k values must yield NULL (try_cast), not throw under
    ANSI mode — matching the DuckDB oracle's TRY_CAST semantics: such rows
    count in n_events but are excluded from the key aggregates."""
    from htg_spark.operators import events as ev

    rows = [
        ("click", '{"k": 3}'),
        ("click", '{"k": "3.5"}'),   # non-integer string -> NULL
        ("click", '{"k": "abc"}'),   # non-numeric string -> NULL
        ("click", '{"k": 4.25}'),    # JSON float -> NULL under long cast
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["event_type", "props"]))
    out = ev.props_stats(df).toPandas().iloc[0]
    assert (out.n_events, out.n_with_key, out.sum_k, out.min_k, out.max_k) == (4, 1, 3, 3, 3)


def test_rolling_fingerprint(spark):
    """Position-sensitive: a token swap changes the fingerprint (min-shingle
    would often survive it); value matches the Python reference fold."""
    import hashlib

    rows = [(0, "a b c"), (1, "b a c"), (2, "a b c")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = text.rolling_fingerprint(df).orderBy("doc_id").toPandas()
    assert out.loc[0, "rolling_fp"] == out.loc[2, "rolling_fp"]
    assert out.loc[0, "rolling_fp"] != out.loc[1, "rolling_fp"]

    def ref(t):
        acc = 0
        for tok in t.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:7], 16)
            acc = (acc * 131 + h) % 2147483647
        return acc

    assert out["rolling_fp"].tolist() == [ref(t) for _, t in rows]


def test_fingerprints(docs):
    fp = text.fingerprints(docs).orderBy("doc_id").toPandas()
    assert fp.loc[0, "md5_fp"] == fp.loc[1, "md5_fp"]
    assert fp.loc[0, "min_shingle_fp"] == fp.loc[1, "min_shingle_fp"]
    assert fp.loc[0, "md5_fp"] != fp.loc[2, "md5_fp"]
    # near dup shares most shingles -> min often equal, but at minimum defined
    assert fp["min_shingle_fp"].notna().all()


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16)).astype(np.float32)
    vecs[5] = vecs[3] * 1.5  # exact direction dup -> cosine 1.0
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": [v.tolist() for v in vecs]})
    return spark.createDataFrame(pdf), vecs


def test_cosine_topk_matches_numpy(emb):
    df, vecs = emb
    out = ann.cosine_topk(df, df.where(F.col("vec_id") < 3), k=5).toPandas()
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for q in range(3):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = np.argsort(-s, kind="stable")[:5]
        got = out[out.q_id == q].sort_values("rank")["n_id"].tolist()
        # NumPy matmul sum order differs from strict fold; compare sets + top1
        assert set(got) == set(expect.tolist())
        assert got[0] == expect[0]


def test_lsh_plane_cap_raises():
    """>31 sign bits would silently wrap the int32 bucket pack in the UDF
    while the expression parity reference raises on the ANSI cast — both
    construction paths must refuse instead of diverging."""
    with pytest.raises(ValueError, match="31"):
        ann.hyperplane_tables(16, n_planes=32, n_tables=2)
    with pytest.raises(ValueError, match="31"):
        ann.lsh_buckets_udf([[[0.1] * 16] * 32])


def test_near_dup_pairs_bucketed_full_recall(emb):
    df, _ = emb
    tables = ann.hyperplane_tables(16, n_planes=8, n_tables=4)
    out = ann.near_dup_pairs(df, tables, threshold=0.999).toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    assert (3, 5) in got
    # recall vs the exact all-pairs baseline: scalar multiples collide in
    # every table, so the bucketed plan must find every brute-force pair
    exact = ann.near_dup_pairs_exact(df, threshold=0.999).toPandas()
    want = set(zip(exact["id_a"], exact["id_b"]))
    assert got == want
    # and the plan must not contain a cartesian product
    _assert_plan(ann.near_dup_pairs(df, tables, threshold=0.999), [NO_CROSS])


def _clustered_corpus(spark, n_clusters=12, per_cluster=30, dim=16, seed=3):
    """Clustered fixture: ANN recall is only meaningful when neighbors are
    closer than random — centers + small perturbations model near-dup
    crawl shards."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 4.0
    vecs = np.concatenate(
        [centers[c] + rng.standard_normal((per_cluster, dim)) * 0.3 for c in range(n_clusters)]
    ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs]})
    return spark.createDataFrame(pdf), vecs


def _brute_topk(vecs, q_ids, k):
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    out = {}
    for q in q_ids:
        s = sims[q].copy()
        s[q] = -np.inf
        out[q] = set(np.argsort(-s, kind="stable")[:k].tolist())
    return out


def test_ivf_trained_centroids_recall(spark):
    df, vecs = _clustered_corpus(spark)
    sample = vecs[:: max(1, len(vecs) // 200)]  # driver-side bounded sample
    cents = ann.train_centroids(sample, k=12, iters=10, seed=7)
    out = ann.ivf_topk(df, df.where(F.col("vec_id") < 20), cents, k=5, nprobe=2).toPandas()
    brute = _brute_topk(vecs, range(20), 5)
    hits = sum(len(set(out[out.q_id == q]["n_id"]) & brute[q]) for q in range(20))
    recall = hits / (20 * 5)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_pq_encode_matches_numpy(emb):
    df, vecs = emb
    books = ann.pq_codebooks(16, m=4, k=8, seed=11)
    out = (
        df.select("vec_id", ann.pq_encode_expr("embedding", books).alias("codes"))
        .orderBy("vec_id")
        .toPandas()
    )
    b = np.asarray(books, dtype=np.float64)  # (m, k, d)
    v = vecs.astype(np.float64)
    for j in range(4):
        sub = v[:, j * 4 : (j + 1) * 4]
        dist = ((sub[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
        expect = dist.argmin(axis=1)
        got = np.array([c[j] for c in out["codes"]])
        assert np.array_equal(got, expect), f"subspace {j}"
    # codes stay in range -> the m-int encoding really is the whole payload
    assert all(0 <= c < 8 for codes in out["codes"] for c in codes)
    # the Arrow-batched UDF encoder (the plannable path — the expression
    # form's m*k inlined lambdas cost ~10 s of Catalyst time per query)
    # is bit-identical to the expression form
    udf_out = (
        df.select("vec_id", ann.pq_encode_udf(books)("embedding").alias("codes"))
        .orderBy("vec_id")
        .toPandas()
    )
    assert [list(c) for c in udf_out["codes"]] == [list(c) for c in out["codes"]]
    # and the LUT agrees with the expression form bit-for-bit
    lut_expr = (
        df.where(F.col("vec_id") < 5)
        .select("vec_id", ann.pq_lut_expr("embedding", books).alias("lut"))
        .orderBy("vec_id")
        .toPandas()
    )
    lut_udf = (
        df.where(F.col("vec_id") < 5)
        .select("vec_id", ann.pq_lut_udf(books)("embedding").alias("lut"))
        .orderBy("vec_id")
        .toPandas()
    )
    for a, b in zip(lut_expr["lut"], lut_udf["lut"]):
        assert list(a) == list(b)
    # the vectorized IVF assign/probe twins are bit-identical too (they
    # carry the same explicit-order accumulation contract)
    cents = ann.ivf_centroids(16, 4, seed=7)
    a1 = df.select("vec_id", ann.ivf_assign_expr("embedding", cents).alias("l")).orderBy("vec_id").toPandas()
    a2 = df.select("vec_id", ann.ivf_assign_udf(cents)("embedding").alias("l")).orderBy("vec_id").toPandas()
    assert a1["l"].tolist() == a2["l"].tolist()
    p1 = df.select("vec_id", ann.ivf_probe_expr("embedding", cents, 2).alias("p")).orderBy("vec_id").toPandas()
    p2 = df.select("vec_id", ann.ivf_probe_udf(cents, 2)("embedding").alias("p")).orderBy("vec_id").toPandas()
    assert [list(x) for x in p1["p"]] == [list(x) for x in p2["p"]]


def test_pq_adc_trained_recall(spark):
    """IVF-PQ end-to-end on the clustered corpus with TRAINED codebooks.
    Two honest properties of ADC (it approximates L2 through quantized
    cells): (a) at ANY code budget every returned neighbor comes from the
    query's true cluster — coarse ranking is exact; (b) exact-rank recall
    within the cluster rises with the code budget (quantization error is
    the knob, params_for's 16 -> 256 step): measured 0.28 at m=4 x 16
    codes vs 0.67 at m=8 x 64 on this fixture."""
    df, vecs = _clustered_corpus(spark)
    sample = vecs[:: max(1, len(vecs) // 200)]
    cents = ann.train_centroids(sample, k=12, iters=10, seed=7)
    v = vecs.astype(np.float64)

    def run(m, k_codes):
        books = ann.train_pq(sample, m=m, k=k_codes, iters=10, seed=11)
        out = ann.pq_adc_topk(
            df, df.where(F.col("vec_id") < 20), cents, books, k=5, nprobe=3
        ).toPandas()
        hits = in_cluster = n = 0
        for q in range(20):
            d = ((v - v[q]) ** 2).sum(axis=1)
            d[q] = np.inf
            exact = set(np.argsort(d, kind="stable")[:5].tolist())
            got = out[out.q_id == q]["n_id"].tolist()
            hits += len(set(got) & exact)
            in_cluster += sum(1 for t in got if t // 30 == q // 30)
            n += len(got)
        return hits / (20 * 5), in_cluster / n

    rec_coarse, clus_coarse = run(4, 16)
    rec_fine, clus_fine = run(8, 64)
    assert clus_coarse >= 0.95 and clus_fine >= 0.95  # cluster routing exact
    assert rec_fine >= 0.55, f"fine-codebook ADC recall@5 = {rec_fine}"
    assert rec_fine > rec_coarse  # the code budget is a real quality knob


def test_lsh_multi_table_recall(spark):
    df, vecs = _clustered_corpus(spark)
    tables = ann.hyperplane_tables(16, n_planes=8, n_tables=6, seed=11)
    out = ann.lsh_topk_multi(df, df.where(F.col("vec_id") < 20), tables, k=5).toPandas()
    brute = _brute_topk(vecs, range(20), 5)
    hits = sum(len(set(out[out.q_id == q]["n_id"]) & brute[q]) for q in range(20))
    recall = hits / (20 * 5)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_lsh_topk_bucket_subset(emb):
    df, vecs = emb
    planes = ann.hyperplanes(16, 4)
    out = ann.lsh_topk(df, df.where(F.col("vec_id") < 3), planes, k=5).toPandas()
    # scaled copy lands in the same bucket as its original
    buckets = df.select("vec_id", ann.lsh_bucket_expr("embedding", planes).alias("b")).toPandas()
    b = buckets.set_index("vec_id")["b"]
    assert b[3] == b[5]
    # every reported neighbor shares the query's bucket
    for _, r in out.iterrows():
        assert b[r["q_id"]] == b[r["n_id"]]


def test_ivf_topk(emb):
    df, vecs = emb
    import numpy as np
    from pyspark.sql import functions as F

    cents = ann.ivf_centroids(16, 4, seed=7)
    out = ann.ivf_topk(df, df.where(F.col("vec_id") < 3), cents, k=5).toPandas()
    # every neighbor shares the query's assigned centroid bucket
    assigned = df.select(
        "vec_id", ann.ivf_assign_expr("embedding", cents).alias("lst")
    ).toPandas().set_index("vec_id")["lst"]
    for _, r in out.iterrows():
        assert assigned[r["q_id"]] == assigned[r["n_id"]]
    # assignment matches NumPy argmax
    c = np.array(cents)
    dots = vecs.astype(np.float64) @ c.T
    expect = dots.argmax(axis=1)
    assert list(assigned.sort_index()) == list(expect)


def test_funnel_stages_semantics(spark, tmp_path):
    """Hand-built event logs cover every funnel branch: full completion,
    out-of-order stages (purchase before click must NOT count), click
    before any view rejected, view-only, nothing, and a same-timestamp
    tie resolved by the documented (ts, event_id) total order."""
    import datetime as dt

    from htg_spark.pipeline_queries import q_funnel_stages

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # u1: view(1) -> click(2) -> purchase(3): stage 3
        ("u1", 1, ts(1), "view"), ("u1", 2, ts(2), "click"),
        ("u1", 3, ts(3), "purchase"),
        # u2: purchase BEFORE click: view(1), purchase(2), click(3) -> stage 2
        ("u2", 4, ts(1), "view"), ("u2", 5, ts(2), "purchase"),
        ("u2", 6, ts(3), "click"),
        # u3: click before any view -> that click ignored; later view only
        ("u3", 7, ts(1), "click"), ("u3", 8, ts(2), "view"),
        # u4: nothing relevant
        ("u4", 9, ts(1), "error"),
        # u5: tie — click shares ts with the view; view has the SMALLER
        # event_id so it precedes in the total order and the click counts
        ("u5", 10, ts(5), "view"), ("u5", 11, ts(5), "click"),
        # u6: tie the other way — click's event_id sorts BEFORE the view,
        # so the click does not qualify
        ("u6", 13, ts(5), "view"), ("u6", 12, ts(5), "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, event_type string"
    )
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)

    out = {r.user_id: r for r in q_funnel_stages(spark, str(tmp_path)).collect()}
    assert out["u1"].stage == 3 and out["u1"].first_purchase_us is not None
    assert out["u2"].stage == 2 and out["u2"].first_purchase_us is None
    assert out["u3"].stage == 1 and out["u3"].first_click_us is None
    assert out["u4"].stage == 0 and out["u4"].first_view_us is None
    assert out["u5"].stage == 2
    assert out["u6"].stage == 1

    # plan: ONE Exchange, ONE Sort serve both windows and the groupBy
    _assert_plan(
        q_funnel_stages(spark, str(tmp_path)), [count("Exchange", 1, 1), count("Sort", 1, 1)]
    )


# --- incremental corpus dedup -------------------------------------------------


def test_incremental_dedup_verdicts(spark):
    corpus_rows = [
        (10, "alpha bravo charlie delta echo foxtrot golf hotel india"),
        (11, "juliet kilo lima mike november oscar papa quebec romeo"),
        (12, "one two three four five six seven eight nine ten eleven"),
        (13, "alpha bravo charlie delta echo foxtrot golf hotel india"),  # dup of 10
    ]
    batch_rows = [
        (100, "alpha bravo charlie delta echo foxtrot golf hotel india"),  # exact
        (101, "juliet kilo lima mike november oscar papa quebec romeo zz"),  # near
        (102, "totally unseen sentence with its own fresh vocabulary set"),  # novel
        (103, "one two three four five six seven eight nine ten eleven"),  # exact
    ]
    corpus = spark.createDataFrame(pd.DataFrame(corpus_rows, columns=["doc_id", "text"]))
    batch = spark.createDataFrame(pd.DataFrame(batch_rows, columns=["doc_id", "text"]))
    out = (
        dedup.incremental_dedup(corpus, batch, threshold=0.5)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert len(out) == len(batch_rows)  # one verdict row per batch doc
    # exact dup resolves to the LOWEST corpus id of the duplicate group
    assert out.loc[100, "exact_dup_of"] == 10 and not out.loc[100, "is_novel"]
    assert out.loc[103, "exact_dup_of"] == 12
    # near dup: no exact hit, LSH candidate + jaccard over threshold
    assert pd.isna(out.loc[101, "exact_dup_of"])
    assert out.loc[101, "near_dup_of"] == 11
    assert 0.5 <= out.loc[101, "near_jaccard"] < 1.0
    assert not out.loc[101, "is_novel"]
    # novel: neither verdict fires
    assert pd.isna(out.loc[102, "exact_dup_of"])
    assert pd.isna(out.loc[102, "near_dup_of"])
    assert bool(out.loc[102, "is_novel"])


def test_incremental_dedup_idempotent_readmit(spark):
    """Re-submitting already-admitted docs: every row must resolve to an
    exact dup of its corpus canonical — never a novel."""
    rows = [
        (0, "aa bb cc dd ee ff gg hh"),
        (1, "ii jj kk ll mm nn oo pp"),
        (2, "qq rr ss tt uu vv ww xx"),
    ]
    corpus = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    resub = corpus.select((F.col("doc_id") + 50).alias("doc_id"), "text")
    out = dedup.incremental_dedup(corpus, resub).toPandas()
    assert not out["is_novel"].any()
    assert sorted(out["exact_dup_of"].tolist()) == [0, 1, 2]


def test_band_keys_one_row_per_band(spark):
    sigs = dedup.minhash_signatures(
        spark.createDataFrame(
            pd.DataFrame([(0, "aa bb cc dd"), (1, "aa bb cc dd")], columns=["doc_id", "text"])
        )
    )
    bk = dedup.band_keys(sigs).toPandas()
    assert len(bk) == 4  # 2 docs x 2 bands
    assert set(bk["band_id"]) == {0, 1}
    # identical docs -> identical band keys in every band
    piv = bk.pivot(index="band_id", columns="doc_id", values="band_key")
    assert (piv[0] == piv[1]).all()


# --- BPE vocabulary training ----------------------------------------------------


def bpe_reference(texts, n_merges, min_count=2):
    """Independent pure-Python BPE trainer (Sennrich formulation)."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): n for w, n in words.items()}
    merges = []
    for step in range(n_merges):
        pairs = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        # count DESC, then (left, right) ASC — the operator's total order
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append({"step": step, "left": l, "right": r, "merged": l + r,
                       "pair_count": cnt})
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    from htg_spark.operators import bpe

    texts = [
        "low lower lowest low low",
        "new newer newest new new new",
        "wide wider widest wide",
        "low newer wide lowest",
        "aaa aaa aaab",  # overlap case: greedy left-to-right inside a word
    ]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = bpe.bpe_train(df, n_merges=12, min_count=2)
    want = bpe_reference(texts, n_merges=12, min_count=2)
    assert got == want
    assert len(got) == 12  # corpus is rich enough that no early stop fires


def test_bpe_greedy_overlap(spark):
    """Merge (a, a) applied to 'aaa' must produce ['aa', 'a', '</w>'] —
    greedy left-to-right, no overlapping re-merge."""
    from htg_spark.operators import bpe

    df = spark.createDataFrame(pd.DataFrame({"text": ["aaa aaa aaa"]}))
    merges = bpe.bpe_train(df, n_merges=1, min_count=2)
    assert merges == [
        {"step": 0, "left": "a", "right": "a", "merged": "aa", "pair_count": 6}
    ]


def test_bpe_encode_roundtrip(spark):
    """Encoding with the learned merges: concatenating a word's tokens
    (minus the marker) reconstructs the word, and frequent words compress
    to fewer tokens than rare ones."""
    from htg_spark.operators import bpe

    texts = ["banana banana banana band bandana", "banana band banana"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts, "doc_id": [0, 1]}))
    merges = bpe.bpe_train(df, n_merges=8, min_count=2)
    enc = bpe.bpe_encode(df, merges).orderBy("doc_id").collect()
    for row in enc:
        joined = "".join(t for t in row["bpe_tokens"])
        assert joined.replace(bpe.END_OF_WORD, "") == row["text"].replace(" ", "")
        assert row["n_bpe_tokens"] == len(row["bpe_tokens"])
    # 'banana' (5 occurrences) must encode in fewer symbols than its 7 chars
    ref = bpe_reference(texts, 8, 2)
    assert ref == merges
