"""Operator unit tests: as-of join, dedup family, similarity, text,
multimodal plumbing — each against an independent oracle (numpy / hand
replay), not against another Spark path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from debezium_emr_hudi_deltastreamer_sample_spark.operators.asof import asof_join
from debezium_emr_hudi_deltastreamer_sample_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_candidates,
    with_shingles,
    with_simhash,
)
from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
    decode_images,
    frame_sample_plan,
    make_fake_media,
)
from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from debezium_emr_hudi_deltastreamer_sample_spark.operators.text import (
    fingerprint_col,
    language_id_col,
    with_token_stats,
)

# ---------------------------------------------------------------- as-of join


def test_asof_backward_inclusive(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100), ("A", 7, 101), ("B", 5, 200), ("A", 1, 99)],
        "sym string, ts int, trade_px int",
    )
    quotes = spark.createDataFrame(
        [("A", 2, 10.0), ("A", 3, 11.0), ("A", 6, 12.0), ("B", 9, 20.0)],
        "sym string, ts int, px double",
    )
    out = asof_join(trades, quotes, ["sym"], "ts", "ts", ["px"]).collect()
    got = {(r.sym, r.ts): r.px_asof for r in out}
    # ts=3 matches quote at ts=3 (inclusive); ts=1 has no earlier quote;
    # B@5 precedes B's only quote → null.
    assert got == {("A", 1): None, ("A", 3): 11.0, ("A", 7): 12.0, ("B", 5): None}


# ------------------------------------------------------------------- dedup


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3, "completely different words about spark engines and parquet columnar files"),
    (4, "the quick brown fox jumps over the lazy dog again and again today"),
]


def true_jaccard(a: str, b: str, n=3) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup_groups_identical(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    out = exact_dedup(df, ["text"], "doc_id").collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id == {1: 2, 2: 1, 3: 1}  # doc 4 == doc 1, min id kept


def test_minhash_estimates_jaccard(spark):
    df = with_shingles(spark.createDataFrame(DOCS, "doc_id int, text string"))
    sigs = minhash_signatures(df, "doc_id", num_hashes=128)
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_candidates(sigs, "doc_id", 128, bands=32).collect()
    }
    assert pairs[(1, 4)] == 1.0  # identical docs
    tj = true_jaccard(DOCS[0][1], DOCS[1][1])
    assert abs(pairs[(1, 2)] - tj) < 0.25  # 128 hashes → |err| ~ 1/sqrt(K)
    assert (1, 3) not in pairs  # unrelated docs never share a band


def test_lsh_between_ingest_gate_recall(spark):
    """Cross-set LSH (minhash_lsh_candidates_between) as an ingest gate:
    every batch doc that is a TRUE high-Jaccard near-dup of some corpus
    doc must be flagged (recall at j≥0.8), and genuinely fresh docs with
    disjoint vocabulary must never be."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.dedup import (
        minhash_lsh_candidates_between,
        minhash_signatures_from_tokens,
    )

    corpus_rows = []
    for i in range(30):
        toks = [f"c{i}t{j}" for j in range(40)]
        corpus_rows.append((i, toks))
    near_rows = []  # batch docs: corpus doc with one token replaced (j≈0.93)
    for i in range(15):
        toks = [f"c{i}t{j}" for j in range(40)]
        toks[20] = "EDITED"
        near_rows.append((1000 + i, toks))
    fresh_rows = [  # disjoint vocabulary → zero shingle overlap
        (2000 + i, [f"f{i}t{j}" for j in range(40)]) for i in range(15)
    ]
    schema = "doc_id long, tokens array<string>"
    corpus = spark.createDataFrame(corpus_rows, schema)
    batch = spark.createDataFrame(near_rows + fresh_rows, schema)
    cands = minhash_lsh_candidates_between(
        minhash_signatures_from_tokens(batch, "doc_id"),
        minhash_signatures_from_tokens(corpus, "doc_id"),
        "doc_id",
    )
    best = {
        r.doc_id: r.best
        for r in cands.groupBy(F.col("id_a").alias("doc_id"))
        .agg(F.max("est_jaccard").alias("best"))
        .collect()
    }
    flagged = {d for d, b in best.items() if b >= 0.5}
    assert {1000 + i for i in range(15)} <= flagged  # full recall on near-dups
    assert not any(d >= 2000 for d in flagged)  # fresh docs admitted
    # Candidate volume stays bucket-bounded: no batch×corpus explosion.
    assert cands.count() <= len(near_rows) * 3


def test_ngram_jaccard_exact(spark):
    df = with_shingles(spark.createDataFrame(DOCS, "doc_id int, text string"))
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", threshold=0.0).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert pairs[(1, 2)] == pytest.approx(true_jaccard(DOCS[0][1], DOCS[1][1]), abs=1e-4)


def test_simhash_identical_docs_hamming_zero(spark):
    df = with_shingles(spark.createDataFrame(DOCS, "doc_id int, text string"))
    sigs = with_simhash(df)
    cands = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidates(sigs, "doc_id").collect()
    }
    assert cands[(1, 4)] == 0
    near = cands.get((1, 2))
    assert near is not None and near <= 16  # one-word-diff docs stay close


# --------------------------------------------------------------- similarity


def np_topk(vecs: dict[int, np.ndarray], k: int):
    ids = sorted(vecs)
    out = {}
    for q in ids:
        sims = []
        for c in ids:
            if c == q:
                continue
            s = float(
                vecs[q] @ vecs[c] / (np.linalg.norm(vecs[q]) * np.linalg.norm(vecs[c]))
            )
            sims.append((-round(s, 4), c))
        sims.sort()
        out[q] = [(c, -s) for s, c in sims[:k]]
    return out


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(7)
    vecs = {i: rng.standard_normal(16).astype("float32") for i in range(30)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id int, embedding array<float>",
    )
    return df, vecs


def test_cosine_topk_matches_numpy(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") < 5)
    got = {}
    for r in cosine_topk_bruteforce(df, queries, k=3).collect():
        got.setdefault(r.qid, []).append((r.cid, r.sim))
    want = np_topk({i: v for i, v in vecs.items()}, k=3)
    for q in got:
        assert [c for c, _ in got[q]] == [c for c, _ in want[q][:3]]
        for (gc, gs), (wc, ws) in zip(got[q], want[q]):
            assert gs == pytest.approx(ws, abs=2e-4)


def test_cosine_lsh_recall(spark, emb_df):
    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") < 10)
    brute = {
        (r.qid, r.cid) for r in cosine_topk_bruteforce(df, queries, k=3).collect()
    }
    approx = {
        (r.qid, r.cid)
        for r in cosine_topk_lsh(df, queries, k=3, dim=16).collect()
    }
    recall = len(brute & approx) / len(brute)
    # Loose: LSH is approximate and 16-dim random vectors are a hard case
    # (near-uniform similarities). Seed is fixed → the value is stable.
    assert recall >= 0.4


# --------------------------------------------------------------------- text


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "The cat sat, the cat ran!")], "id int, text string")
    r = with_token_stats(df).first()
    assert r.n_tokens == 6
    assert r.n_uniq_tokens == 5  # The, cat, sat,, the, ran!
    assert r.punct_ratio == pytest.approx(2 / 25, abs=1e-4)


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "el perro de la casa"), (2, "hello plain english words")],
        "id int, text string",
    )
    out = {
        r.id: r.lang
        for r in with_token_stats(df).select("id", language_id_col().alias("lang")).collect()
    }
    assert out == {1: "es", 2: "en"}


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "id int, text string",
    )
    fps = {
        r.id: r.fp
        for r in with_token_stats(df).select("id", fingerprint_col().alias("fp")).collect()
    }
    assert fps[1] == fps[3] and fps[1] != fps[2]


# --------------------------------------------------------------- multimodal


def test_fake_media_decode_roundtrip(spark):
    base = spark.range(5).select(
        F.col("id").alias("media_id"),
        (F.col("id") % 3 + 2).cast("int").alias("w"),
        (F.col("id") % 2 + 1).cast("int").alias("h"),
    )
    media = make_fake_media(base, "media_id", "w", "h")
    out = {r.media_id: (r.width, r.height) for r in decode_images(media).collect()}
    want = {i: (i % 3 + 2, i % 2 + 1) for i in range(5)}
    assert out == want


def test_decode_strict_gates_compressed_formats(spark):
    """Strict decode handles PPM/BMP natively; bytes that are neither
    (e.g. a JPEG magic) require an imaging library and must raise the
    documented capability error when PIL is absent (pass through when
    PIL is importable)."""
    import pandas as pd

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        _imaging,
        decode_image_batch,
    )

    jpeg_like = pd.DataFrame({"media_id": [1], "media": [b"\xff\xd8\xff\xe0junk"]})
    if _imaging() is None:
        with pytest.raises(NotImplementedError):
            decode_image_batch(jpeg_like, strict=True)
    # Empty batch never needs a codec, in either mode.
    empty = decode_image_batch(pd.DataFrame({"media_id": [], "media": []}), strict=True)
    assert len(empty) == 0


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x"), ("video", "fake", None, None, 3500))],
        "media_id long, media binary, media_meta struct<media_type:string,format:string,width:int,height:int,duration_ms:long>",
    )
    ts = [r.frame_ts_ms for r in frame_sample_plan(df, every_ms=1000).collect()]
    # Every every_ms tick strictly inside the 3500 ms duration — the old
    # truncation dropped the 3000 ms frame (round-4 review finding).
    assert ts == [0, 1000, 2000, 3000]


def test_ivf_topk_recall(spark, emb_df):
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import ivf_topk

    df, vecs = emb_df
    queries = df.filter(F.col("vec_id") < 10)
    brute = {
        (r.qid, r.cid) for r in cosine_topk_bruteforce(df, queries, k=3).collect()
    }
    approx = {
        (r.qid, r.cid)
        for r in ivf_topk(df, queries, k=3, nlist=4, nprobe=2, max_iter=8).collect()
    }
    # Probing half the cells of a 4-cell index on 30 vectors: most true
    # neighbors are reachable; fixed seed keeps this stable.
    assert len(brute & approx) / len(brute) >= 0.6
    # Multi-assignment (each DB vector in its 2 nearest cells) recovers
    # boundary neighbors: recall must not drop below single-assignment,
    # and no (qid, cid) pair may appear twice despite shared cells.
    multi = [
        (r.qid, r.cid)
        for r in ivf_topk(
            df, queries, k=3, nlist=4, nprobe=2, max_iter=8, nassign=2
        ).collect()
    ]
    assert len(multi) == len(set(multi))
    assert len(brute & set(multi)) / len(brute) >= len(brute & approx) / len(brute)


def test_avro_gated_cleanly(spark):
    """No spark-avro jar in this container: the probe reports it and the
    Avro parser refuses with a clear message instead of a py4j stack."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import (
        avro_available,
        parse_envelope_avro,
    )

    assert avro_available(spark) is False
    raw = spark.createDataFrame([(bytearray(b"x"),)], "value binary")
    with _pytest.raises(RuntimeError, match="spark-avro"):
        parse_envelope_avro(raw, "{}")


def test_salted_join_matches_plain_join(spark):
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.skew import salted_join

    # 90% of fact rows share one hot key.
    fact = spark.range(1000).select(
        F.when(F.col("id") < 900, 7).otherwise(F.col("id") % 20).alias("k"),
        F.col("id").alias("fact_id"),
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(20)], "k long, label string")
    plain = fact.join(dim, "k").select("fact_id", "label")
    salted = salted_join(fact, dim, ["k"], n_salts=4).select("fact_id", "label")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_minhash_from_tokens_matches_properties(spark):
    """The single-shuffle explode+window MinHash must satisfy the same
    estimator properties as the array-shingle path."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.dedup import (
        minhash_signatures_from_tokens,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.text import tokens_col

    df = spark.createDataFrame(DOCS, "doc_id int, text string").withColumn(
        "tokens", tokens_col()
    )
    sigs = minhash_signatures_from_tokens(df, "doc_id", n=3, num_hashes=128)
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_candidates(sigs, "doc_id", 128, bands=32).collect()
    }
    assert pairs[(1, 4)] == 1.0
    tj = true_jaccard(DOCS[0][1], DOCS[1][1])
    assert abs(pairs[(1, 2)] - tj) < 0.25
    assert (1, 3) not in pairs


def test_embed_neardup_lsh_subset_of_exact(spark):
    """The LSH-candidate near-dup variant may MISS qualifying pairs but
    must never invent one: its removals ⊆ the exact variant's removals,
    and the lowest id always survives both."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_survivors,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    exact = {
        r.vec_id
        for r in embedding_neardup_survivors(emb, threshold=0.46).collect()
    }
    approx = {
        r.vec_id
        for r in embedding_neardup_survivors(
            emb, threshold=0.46, approx=True
        ).collect()
    }
    assert all_ids - exact  # the threshold actually removes something
    assert exact <= approx  # approx removals are a subset of exact removals
    assert min(all_ids) in exact


def test_embed_neardup_multiprobe_ring_and_string_guard(spark):
    """multiprobe='ring' (explicit full Hamming-1 ring) must be containment
    -safe like every candidate channel — its pairs ⊆ the exact pair set and
    ⊇ the plain-banding pairs (a strictly wider probe set can only add).
    Any OTHER string is a loud ValueError, not int()-coercion."""
    import pytest as _pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")

    def pairs(**kw):
        return {
            (r.aid, r.bid)
            for r in embedding_neardup_pairs(
                emb, threshold=0.46, **kw
            ).collect()
        }

    exact = pairs()
    plain = pairs(approx=True)
    ring = pairs(approx=True, multiprobe="ring")
    assert plain <= ring <= exact
    with _pytest.raises(ValueError, match="'ring'"):
        embedding_neardup_pairs(
            emb, threshold=0.46, approx=True, multiprobe="rings", band_bits=4
        )


def test_read_binary_media(spark, tmp_path):
    """binaryFile ingestion: glob pushes down to the listing, size filter
    uses the length metadata column, bytes round-trip exactly."""
    from debezium_emr_hudi_deltastreamer_sample_spark.sources import read_binary_media

    (tmp_path / "a.png").write_bytes(b"\x89PNG_fake_a")
    (tmp_path / "b.png").write_bytes(b"\x89PNG_fake_bb" * 100)
    (tmp_path / "c.wav").write_bytes(b"RIFF_fake")

    all_media = read_binary_media(spark, str(tmp_path))
    got = {r.media_id.rsplit("/", 1)[-1]: r for r in all_media.collect()}
    assert set(got) == {"a.png", "b.png", "c.wav"}
    assert bytes(got["a.png"].media) == b"\x89PNG_fake_a"
    assert got["a.png"].media_meta.media_type == "image"
    assert got["c.wav"].media_meta.media_type == "audio"
    assert got["c.wav"].media_meta.format == "wav"

    pngs_small = read_binary_media(spark, str(tmp_path), glob="*.png", max_bytes=100)
    names = [r.media_id.rsplit("/", 1)[-1] for r in pngs_small.collect()]
    assert names == ["a.png"]


def test_connected_components_known_graph(spark):
    """Two chains and an isolate: {1-2-3}, {10-11}, {99}."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.components import (
        connected_components,
    )

    verts = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 99]], "id long")
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], "src long, dst long")
    got = {
        r.id: r.component for r in connected_components(verts, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_weighted_sample_stride_properties(spark, sf_tiny):
    """Systematic weighted sampling invariants: per stratum the sample
    size is ~target (the cumulative walk crosses floor(total/stride)
    stride boundaries → 19-21 picks), picks are size-biased (mean picked
    n_chars >= stratum mean — probability ∝ weight), and the whole result
    is deterministic under recomputation."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_weighted_sample,
    )

    rows = llm_weighted_sample(spark, sf_tiny).collect()
    again = llm_weighted_sample(spark, sf_tiny).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table

    docs = load_table(spark, sf_tiny, "documents").select("lang", "n_chars")
    stats = {
        r.lang: (r.n, r.mean)
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("n_chars").alias("mean"))
        .collect()
    }
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_chars)
    for lang, picked in by_lang.items():
        n_total, mean_chars = stats[lang]
        if n_total >= 40:  # strata big enough for the stride to resolve
            assert 19 <= len(picked) <= 21, (lang, len(picked))
            # Size-biased: picked docs skew at least as large as average.
            assert sum(picked) / len(picked) >= 0.8 * mean_chars, lang


def test_triangles_lsh_contained_in_exact(spark, sf_tiny):
    """The LSH-edge triangle default emits a SUBSET of the exact-edge
    triangles (candidates are exact-cosine re-checked, so LSH edges ⊆
    exact edges). The fixture's 0.35-threshold triangles are marginal-
    similarity triples — the WORST case for banding — so coverage there
    is best-effort (≥1/3 measured); the regime triangles are actually
    used for (near-dup cluster cohesion, high cosine) is pinned at ~full
    recall by test_triangles_lsh_full_recall_on_high_sim_clusters."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_graph_triangles,
        llm_graph_triangles_exact,
    )

    lsh = {
        (r.id_a, r.id_b, r.id_c)
        for r in llm_graph_triangles(spark, sf_tiny).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.id_c)
        for r in llm_graph_triangles_exact(spark, sf_tiny).collect()
    }
    assert lsh <= exact
    assert len(lsh) * 3 >= len(exact)


def test_triangles_lsh_full_recall_on_high_sim_clusters(spark):
    """High-similarity regime (the one cohesion analysis runs in): planted
    4-member near-identical clusters must yield ALL their triangles
    through the LSH edge path."""
    import numpy as np

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        _triangles_from_edges,
    )

    rng = np.random.default_rng(3)
    rows = []
    vid = 0
    for c in range(10):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for _ in range(4):  # near-identical members (cos ≈ 0.999)
            v = base + rng.normal(scale=0.01, size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(60):  # unrelated noise vectors
        v = rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    edges = embedding_neardup_pairs(
        emb, threshold=0.9, approx=True, multiprobe=True
    ).select(F.col("aid").alias("ida"), F.col("bid").alias("idb"))
    tris = {
        (r.id_a, r.id_b, r.id_c)
        for r in _triangles_from_edges(edges).collect()
    }
    # 10 clusters × C(4,3) = 40 planted triangles, all recovered.
    assert len(tris) == 40


def test_triangle_count_matches_enumeration(spark, sf_tiny):
    """Degree-ordered counting is EXACT on the same edge set: the count
    variant (cap off) must equal |enumeration| for both edge sources, and
    the query's cap=64 must not bite at fixture degrees."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        _triangle_count_from_edges,
        _triangles_from_edges,
        llm_graph_triangles_count,
    )

    emb = load_table(spark, sf_tiny, "embeddings")
    for approx in (True, False):
        edges = embedding_neardup_pairs(
            emb, threshold=0.35, approx=approx, multiprobe=approx
        ).select(F.col("aid").alias("ida"), F.col("bid").alias("idb"))
        enum_n = _triangles_from_edges(edges).count()
        row = _triangle_count_from_edges(edges).collect()[0]
        assert row.n_triangles == enum_n, (approx, row, enum_n)
    q = llm_graph_triangles_count(spark, sf_tiny).collect()[0]
    lsh_edges = embedding_neardup_pairs(
        emb, threshold=0.35, approx=True, multiprobe=True
    ).select(F.col("aid").alias("ida"), F.col("bid").alias("idb"))
    assert q.n_triangles == _triangles_from_edges(lsh_edges).count()


def test_triangle_count_known_graph_and_cap(spark):
    """K5 ∪ hub-star sanity: K5 has C(5,3)=10 triangles, a pure star has
    none; a tight cap under-counts MONOTONICALLY (never over-counts) and
    a cap ≥ max out-degree is exact."""
    from itertools import combinations

    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        _triangle_count_from_edges,
    )

    k5 = [(a, b) for a, b in combinations(range(5), 2)]
    star = [(100, 100 + i) for i in range(1, 20)]
    edges = spark.createDataFrame(k5 + star, "ida long, idb long")
    exact = _triangle_count_from_edges(edges).collect()[0]
    assert (exact.n_vertices, exact.n_edges, exact.n_triangles) == (25, 29, 10)
    capped = _triangle_count_from_edges(edges, cap=2).collect()[0]
    assert 0 <= capped.n_triangles <= 10
    wide = _triangle_count_from_edges(edges, cap=64).collect()[0]
    assert wide.n_triangles == 10


def test_dedup_clusters_approx_refines_exact(spark, sf_tiny):
    """The graded LSH-edge cluster assignment must REFINE the exact one:
    approx edges are a subset of real edges (exact cosine re-check on
    candidates), so two vectors sharing an approx cluster always share the
    exact cluster — approx can only split clusters, never merge them."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_dedup_clusters,
        llm_dedup_clusters_exact,
    )

    approx = {
        r.vec_id: r.cluster_id for r in llm_dedup_clusters(spark, sf_tiny).collect()
    }
    exact = {
        r.vec_id: r.cluster_id
        for r in llm_dedup_clusters_exact(spark, sf_tiny).collect()
    }
    assert set(approx) == set(exact)  # every vector assigned in both
    by_approx_cluster: dict[int, set[int]] = {}
    for v, c in approx.items():
        by_approx_cluster.setdefault(c, set()).add(exact[v])
    assert all(len(s) == 1 for s in by_approx_cluster.values())
    # Sanity: the approx path finds real clusters on this fixture, so the
    # refinement claim is not vacuous.
    assert any(len([v for v in approx.values() if v == c]) > 1 for c in approx)


from hypothesis import HealthCheck, given, settings, strategies as st


@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_neardup_property_matches_numpy(spark, seed):
    """Property: for ANY random embedding set, the distributed near-dup
    survivors equal the numpy replay of the rule (drop iff an earlier row
    has cosine ≥ τ)."""
    import numpy as np

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_survivors,
    )

    rng = np.random.default_rng(seed)
    # Low-dim vectors → plenty of pairs straddle any threshold.
    vecs = rng.standard_normal((20, 4))
    tau = 0.5
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    got = {
        r.vec_id for r in embedding_neardup_survivors(df, threshold=tau).collect()
    }

    # float32 storage: replay on the float32-rounded values the engine saw.
    v32 = vecs.astype("float32").astype("float64")
    n = v32 / np.linalg.norm(v32, axis=1, keepdims=True)
    sims = n @ n.T
    want = {
        i
        for i in range(len(vecs))
        if not any(sims[i][j] >= tau for j in range(i))
    }
    assert got == want


def test_binned_range_join_matches_naive(spark):
    """Binned result == naive cross-filter result on a known set, incl.
    intervals spanning multiple bins and points on bin boundaries."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.rangejoin import (
        binned_range_join,
    )

    pts = spark.createDataFrame([(float(x),) for x in [0, 4.9, 5.0, 7.5, 23]], "x double")
    ivs = spark.createDataFrame(
        [("a", 0.0, 5.0), ("b", 4.0, 12.0), ("c", 22.0, 22.5)],
        "name string, lo double, hi double",
    )
    got = {
        (r.name, r.x)
        for r in binned_range_join(pts, ivs, "x", "lo", "hi", bin_width=5).collect()
    }
    naive = {
        (n, x)
        for n, lo, hi in [("a", 0, 5), ("b", 4, 12), ("c", 22, 22.5)]
        for x in [0, 4.9, 5.0, 7.5, 23]
        if lo <= x <= hi
    }
    assert got == naive


def test_binned_interval_join_matches_naive(spark):
    """Overlap join: duplicates suppressed by first-shared-bin, including
    long intervals spanning many bins."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.rangejoin import (
        binned_interval_join,
    )

    a = spark.createDataFrame(
        [("a1", 0.0, 3.0), ("a2", 2.0, 20.0), ("a3", 30.0, 31.0)],
        "aname string, alo double, ahi double",
    )
    b = spark.createDataFrame(
        [("b1", 2.5, 2.6), ("b2", 4.0, 19.0), ("b3", 25.0, 35.0)],
        "bname string, blo double, bhi double",
    )
    got = {
        (r.aname, r.bname)
        for r in binned_interval_join(a, b, "alo", "ahi", "blo", "bhi", 5).collect()
    }
    ivs_a = {"a1": (0, 3), "a2": (2, 20), "a3": (30, 31)}
    ivs_b = {"b1": (2.5, 2.6), "b2": (4, 19), "b3": (25, 35)}
    naive = {
        (an, bn)
        for an, (alo, ahi) in ivs_a.items()
        for bn, (blo, bhi) in ivs_b.items()
        if alo <= bhi and blo <= ahi
    }
    assert got == naive


def test_hll_sketch_estimates_within_bound(spark):
    """HLL estimates (per-group and sketch-union global) within 2% of
    exact distinct counts on the fixture."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import agg_hll_sketch

    sf = "/root/testdata/sf0.01"
    got = {r.event_type: r.distinct_users_est for r in agg_hll_sketch(spark, sf).collect()}
    ev = load_table(spark, sf, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n")
        ).collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    for k, want in exact.items():
        assert abs(got[k] - want) / want <= 0.02, (k, got[k], want)


def test_percentile_approx_close_to_exact(spark):
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.relational import (
        agg_percentile_approx,
    )

    sf = "/root/testdata/sf0.01"
    got = {r.o_orderstatus: (r.p50_est, r.p90_est) for r in agg_percentile_approx(spark, sf).collect()}
    exact = {
        r.o_orderstatus: (r.p50, r.p90)
        for r in load_table(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    for k, (e50, e90) in exact.items():
        a50, a90 = got[k]
        assert abs(a50 - e50) / e50 <= 0.005
        assert abs(a90 - e90) / e90 <= 0.005


@given(
    pts=st.lists(st.integers(-20, 40), min_size=1, max_size=12),
    ivs=st.lists(
        st.tuples(st.integers(-20, 40), st.integers(0, 25)), min_size=1, max_size=8
    ),
    width=st.sampled_from([1, 3, 5, 10]),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_range_joins_property(spark, pts, ivs, width):
    """Property: binned point-in-interval and interval-overlap joins equal
    the naive replays for ANY data and bin width (incl. negative values,
    zero-length intervals, and bin-boundary points)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.rangejoin import (
        binned_interval_join,
        binned_range_join,
    )

    p = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(pts)], "pid int, x double"
    )
    i_df = spark.createDataFrame(
        [(j, float(lo), float(lo + ln)) for j, (lo, ln) in enumerate(ivs)],
        "iid int, lo double, hi double",
    )
    got_pt = {
        (r.pid, r.iid)
        for r in binned_range_join(p, i_df, "x", "lo", "hi", width).collect()
    }
    want_pt = {
        (pi, j)
        for pi, x in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= x <= lo + ln
    }
    assert got_pt == want_pt

    b_df = i_df.select(
        F.col("iid").alias("bid"), F.col("lo").alias("blo"), F.col("hi").alias("bhi")
    )
    got_ov = {
        (r.iid, r.bid)
        for r in binned_interval_join(
            i_df, b_df, "lo", "hi", "blo", "bhi", width
        ).collect()
    }
    want_ov = {
        (a, b)
        for a, (alo, aln) in enumerate(ivs)
        for b, (blo, bln) in enumerate(ivs)
        if alo <= blo + bln and blo <= alo + aln
    }
    assert got_ov == want_ov


def test_sessionize_properties(spark, sf_tiny):
    """Sessionization invariants against an independent Python replay:
    (1) session event counts sum to the table size, (2) every intra-session
    gap <= 1 day, and consecutive sessions of a user are > 1 day apart."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.pipeline import (
        pipe_sessionize,
    )

    got = pipe_sessionize(spark, sf_tiny).collect()
    ev = load_table(spark, sf_tiny, "events")
    assert sum(r.n_events for r in got) == ev.count()

    # session_start/end are now epoch MICROSECONDS (the raw-timestamp
    # projection was a driver-OS-timezone hazard) — compare in int µs.
    day = 86400 * 1_000_000
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append(r)
    for sessions in by_user.values():
        sessions.sort(key=lambda r: r.session_id)
        for a, b in zip(sessions, sessions[1:]):
            assert b.session_id == a.session_id + 1
            assert b.session_start - a.session_end > day
        for s in sessions:
            # A session's span can exceed a day only via chained sub-gap
            # events; its event density must allow that chain.
            if s.n_events == 1:
                assert s.session_start == s.session_end
            else:
                span = s.session_end - s.session_start
                assert span <= (s.n_events - 1) * day


def test_embed_quantize_error_bound(spark, sf_tiny):
    """int8 quantization error bound: |dequant - x| <= scale/254 (half a
    quantization step) within float tolerance, and codes stay in int8
    range after the symmetric scale."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_embed_quantize,
    )

    rows = llm_embed_quantize(spark, sf_tiny).collect()
    assert rows
    for r in rows:
        # q is serialized as a canonical CSV string (driver-hasher contract).
        assert all(-127 <= int(q) <= 127 for q in r.q.split(","))
        assert r.max_err <= r.scale / 254 + 1e-6


def test_pagerank_fixed_known_graph(spark):
    """3-vertex path graph a-b-c: the middle vertex must outrank the ends,
    ranks must sum to ~1 (undirected, no dangling mass loss here), and an
    isolated vertex keeps only its teleport share."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.components import (
        pagerank_fixed,
    )

    verts = spark.createDataFrame([(v,) for v in [1, 2, 3, 9]], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.id: r.rank for r in pagerank_fixed(verts, edges, iterations=5).collect()}
    assert got[2] > got[1] == pytest.approx(got[3], abs=1e-12)
    assert got[2] > got[9]
    # Isolated vertex 9 receives teleport only: (1-d)/n at every round.
    assert got[9] == pytest.approx(0.15 / 4, abs=1e-12)
    # Total mass stays within (teleport-only, 1]: the path component
    # conserves its mass; only the isolate leaks its damped share.
    assert 4 * 0.15 / 4 < sum(got.values()) <= 1.0 + 1e-9


def test_pagerank_duplicate_edges_do_not_skew_ranks(spark):
    """Regression (round-4 review finding): a duplicated input pair must
    not inflate a vertex's degree (which would shrink its per-edge share
    and skew every neighbor's rank) — the bidirected list dedups like the
    connected-components sibling."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.components import (
        pagerank_fixed,
    )

    verts = spark.createDataFrame([(v,) for v in [1, 2, 3]], "id long")
    clean = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (1, 3)], "src long, dst long"
    )
    want = {r.id: r.rank for r in pagerank_fixed(verts, clean, iterations=4).collect()}
    got = {r.id: r.rank for r in pagerank_fixed(verts, dup, iterations=4).collect()}
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_connected_components_undeclared_endpoint(spark):
    """Regression (round-4 review finding): an edge endpoint absent from
    the declared vertex set must still participate in min-label
    propagation — vertices={5}, edges={(5,3)} converges to component 3
    for BOTH vertices (previously 3 never propagated its own id back and
    the output claimed component 5)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.components import (
        connected_components,
    )

    verts = spark.createDataFrame([(5,)], "id long")
    edges = spark.createDataFrame([(5, 3)], "src long, dst long")
    got = {
        r.id: r.component for r in connected_components(verts, edges).collect()
    }
    assert got == {5: 3, 3: 3}


def test_avro_py_parse_skips_null_kafka_values(spark):
    """Regression (round-4 review finding): a Kafka tombstone (null value
    column) must be skipped by the pure-Python Avro parser, not crash the
    task on bytes(None)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.envelope import (
        encode_envelope_avro_py,
        envelope_avro_schema,
        parse_envelope_avro_py,
    )
    from pyspark.sql import types as T

    row_schema = T.StructType([T.StructField("id", T.LongType())])
    schema_json = envelope_avro_schema(row_schema)
    flat = spark.createDataFrame([(7, "c", 1)], "id long, op string, _lsn long")
    [blob_row] = encode_envelope_avro_py(flat, schema_json, row_schema).collect()
    raw = spark.createDataFrame(
        [(bytearray(blob_row[0]),), (None,)], "value binary"
    )
    out = parse_envelope_avro_py(raw, schema_json, row_schema).collect()
    assert len(out) == 1 and out[0].id == 7


def test_pagerank_lsh_edges_rank_containment(spark, sf_tiny):
    """Default llm_pagerank builds its graph from LSH-banded candidate
    pairs (O(n·bucket) at scale); the oracle variant uses the exact
    all-pairs edge set. Near-dup thresholds sit in the high-cosine regime
    where banding recall is high, so the two rankings must broadly agree:
    most of the exact top-20 survives in the LSH top-20, and no vertex's
    rank moves by more than ~1% of total mass (measured 16/20 overlap,
    max |Δrank| 0.0017 on this fixture)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_pagerank,
        llm_pagerank_exact,
    )

    approx = llm_pagerank(spark, sf_tiny).collect()
    exact = llm_pagerank_exact(spark, sf_tiny).collect()
    assert len(approx) == len(exact)
    top = lambda rows: {
        r.vec_id for r in sorted(rows, key=lambda r: (-r.rank, r.vec_id))[:20]
    }
    assert len(top(approx) & top(exact)) >= 12
    ra = {r.vec_id: r.rank for r in approx}
    assert max(abs(ra[r.vec_id] - r.rank) for r in exact) <= 0.01


def test_ppm_bmp_codec_roundtrip():
    """Pure-numpy uncompressed codecs: encode→decode is the identity for
    arbitrary pixel data, including odd widths (BMP row padding) and PPM
    headers carrying comments."""
    import numpy as np

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    for w, h in [(5, 3), (8, 8), (1, 1), (33, 2)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_ppm(encode_ppm(arr)) == arr).all(), (w, h, "ppm")
        assert (decode_bmp(encode_bmp(arr)) == arr).all(), (w, h, "bmp")
    # Comment-bearing PPM header (other encoders emit these).
    arr = rng.integers(0, 256, size=(2, 4, 3), dtype=np.uint8)
    blob = b"P6\n# made by a test\n4 2\n# more\n255\n" + arr.tobytes()
    assert (decode_ppm(blob) == arr).all()


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_png_codec_roundtrip_and_filters():
    """Stdlib-only PNG codec: encode→decode identity for gray/RGB/RGBA at
    odd sizes; decode handles every scanline filter (Sub/Up/Average/Paeth
    — the part third-party encoders actually vary on); corrupt CRCs and
    unsupported variants fail loudly."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(11)
    for shape in [(3, 5), (3, 5, 3), (2, 7, 4), (1, 1, 3), (9, 2, 3)]:
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert (decode_png(encode_png(arr)) == arr).all(), shape

    # Hand-build a PNG whose five scanlines use filters 0..4 and check the
    # decoder reconstructs the original pixels (filter spec: byte-wise mod
    # 256 against left / up / average / Paeth predictors).
    h, w, ch = 5, 4, 3
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):
        line = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, np.int32)
        out = np.empty(stride, np.int32)
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            up = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (a + up) // 2
            else:
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
            out[i] = (line[i] - pred) % 256
        raw += bytes([f]) + out.astype(np.uint8).tobytes()

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(blob) == arr).all()

    # Corrupt CRC must fail loudly, not decode garbage.
    good = encode_png(arr)
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # 16-bit depth refused (falls back to the imaging-library branch).
    blob16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * (h * (2 * stride + 1))))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="non-interlaced"):
        decode_png(blob16)


def test_jpeg_codec_quality_and_variants():
    """Pure-numpy baseline JPEG: solid colors decode EXACTLY (DC-only
    blocks round within the quantization bound), smooth content error
    shrinks with quality, 4:2:0 subsampling and restart markers roundtrip,
    grayscale and odd sizes work, and progressive refuses cleanly."""
    import struct

    import numpy as np
    import pytest

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    # Solid color: exact for every gray level (oracle-grade property).
    for v in (0, 7, 128, 200, 255):
        a = np.full((10, 13, 3), v, np.uint8)
        assert (decode_jpeg(encode_jpeg(a)) == a).all(), v

    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [np.sin(xx / 7) * 60 + 120, np.cos(yy / 9) * 50 + 110, xx * 3 + yy],
        -1,
    ).clip(0, 255).astype(np.uint8)
    err90 = np.abs(
        decode_jpeg(encode_jpeg(img, quality=90)).astype(int) - img.astype(int)
    ).mean()
    err50 = np.abs(
        decode_jpeg(encode_jpeg(img, quality=50)).astype(int) - img.astype(int)
    ).mean()
    assert err90 < err50  # rate-distortion monotone
    assert err90 < 2.0

    # Grayscale + odd size.
    g = (xx * 5 % 256).astype(np.uint8)[:23, :39]
    assert np.abs(
        decode_jpeg(encode_jpeg(g, quality=90)).astype(int) - g.astype(int)
    ).mean() < 3.0

    # 4:2:0 subsampling decodes at full size with bounded chroma blur.
    d420 = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    assert d420.shape == img.shape
    assert np.abs(d420.astype(int) - img.astype(int)).mean() < 4.0

    # 4:2:2 (round 5): horizontal-only chroma halving — full size, blur
    # bounded BETWEEN 4:4:4 and 4:2:0 (it keeps vertical chroma), solid
    # colors exact (the property mm_decode_codec's oracle leans on), and
    # odd widths pad/crop cleanly under the (2,1) MCU geometry.
    d422 = decode_jpeg(encode_jpeg(img, quality=90, subsample="422"))
    assert d422.shape == img.shape
    assert np.abs(d422.astype(int) - img.astype(int)).mean() < 4.0
    for hw in ((10, 13), (9, 33), (24, 40)):
        solid = np.full((*hw, 3), 177, np.uint8)
        assert (decode_jpeg(encode_jpeg(solid, subsample="422")) == solid).all()
    assert (
        decode_jpeg(encode_jpeg(img, quality=90, subsample="422", restart_interval=2))
        == d422
    ).all()

    # Restart markers are bit-transparent: identical output to plain.
    plain = decode_jpeg(encode_jpeg(img, quality=90))
    for ri in (1, 3):
        assert (
            decode_jpeg(encode_jpeg(img, quality=90, restart_interval=ri))
            == plain
        ).all()

    # Extreme-magnitude coefficients at q100: 0/255 block edges maximize
    # the DC differential (cat 11) and a basis-aligned checkerboard
    # maximizes AC magnitude (cat 10) — the Huffman category boundaries
    # the spec guarantees 8-bit baseline stays within.
    blocks = np.zeros((16, 16), np.uint8)
    blocks[8:, :] = 255
    blocks[:, 8:] ^= 255
    checker = ((np.indices((16, 16)).sum(axis=0) % 2) * 255).astype(np.uint8)
    for extreme in (blocks, checker):
        out = decode_jpeg(encode_jpeg(extreme, quality=100))
        assert np.abs(out.astype(int) - extreme.astype(int)).max() <= 1

    # Progressive (SOF2) refuses into the imaging-library fallback.
    b = bytearray(encode_jpeg(img))
    i = b.find(b"\xff\xc0")
    b[i + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(b))

    # 0xFF fill bytes before markers are legal (T.81 B.1.1.2) and must
    # decode identically; camera firmware emits them.
    good = encode_jpeg(img, quality=90)
    j = good.find(b"\xff\xdb")
    padded = good[:j] + b"\xff\xff\xff" + good[j:]
    assert (decode_jpeg(padded) == decode_jpeg(good)).all()

    # Non-interleaved multi-scan (ns < component count) must REFUSE —
    # decoding only the first scan would silently return grayscale.
    b = bytearray(encode_jpeg(img))
    i = b.find(b"\xff\xda")
    ln = int.from_bytes(b[i + 2 : i + 4], "big")
    one_comp_sos = (
        b"\xff\xda" + (2 + 1 + 2 + 3).to_bytes(2, "big")
        + bytes([1, 1, 0x00, 0, 63, 0])
    )
    b[i : i + 2 + ln] = one_comp_sos
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(bytes(b))


def test_jpeg_decoder_against_handcrafted_bytes():
    """Decode a JPEG whose bytes are built BY HAND from the spec (not by
    our encoder), with an analytically known result — guards against
    mirror-image bugs where encoder and decoder share the same mistake
    (e.g. a transposed zigzag would roundtrip cleanly but fail here).

    Construction: 8×8 grayscale, quant table all 16s, standard Annex K
    DC/AC luminance Huffman tables. Scan = DC diff 4 (category 3, code
    '100', bits '100') then EOB (code '1010'): coefficient 4·16 = 64,
    spatial value 64/8 + 128 = 136 on every pixel."""
    import struct

    import numpy as np

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        decode_jpeg,
    )

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    b = bytearray(b"\xff\xd8")
    b += seg(0xFFDB, bytes([0]) + bytes([16] * 64))
    b += seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    b += seg(0xFFC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    b += seg(0xFFC4, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    b += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # bits: 100 100 1010 + 6 pad ones -> 1001 0010 1011 1111
    b += bytes([0b10010010, 0b10111111])
    b += b"\xff\xd9"
    out = decode_jpeg(bytes(b))
    assert out.shape == (8, 8)
    assert (out == 136).all()


def test_decode_sniffer_survives_truncated_blobs():
    """One corrupt blob in a corpus must fall through the sniffer (→
    imaging-library branch / clean error), never abort the partition:
    truncated PNG raises struct.error, cut zlib stream raises zlib.error,
    truncated JPEG raises IndexError from the bit reader — all must map
    to None."""
    import numpy as np

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.jpeg import (
        encode_jpeg,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        _decode_uncompressed,
        encode_png,
    )

    img = np.full((8, 8, 3), 42, np.uint8)
    png, jpg = encode_png(img), encode_jpeg(img)
    assert _decode_uncompressed(png[:20]) is None  # short chunk header
    assert _decode_uncompressed(png[:-30]) is None  # cut zlib/IEND
    assert _decode_uncompressed(jpg[: len(jpg) // 2]) is None  # cut scan
    assert _decode_uncompressed(b"\xff\xd8\xff\xd9") is None  # empty JPEG
    # Valid blobs still decode.
    assert _decode_uncompressed(png).shape == (8, 8, 3)
    assert _decode_uncompressed(jpg).shape == (8, 8, 3)


def test_strict_decode_batch_dispatches_by_magic():
    """decode_image_batch(strict=True) must route PPM and BMP blobs to the
    native codecs and report exact dimensions and RGB mean."""
    import numpy as np
    import pandas as pd

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        decode_image_batch,
        encode_bmp,
        encode_ppm,
    )

    a = np.full((3, 5, 3), 10, dtype=np.uint8)
    b = np.full((2, 7, 3), 200, dtype=np.uint8)
    pdf = pd.DataFrame(
        {"media_id": [1, 2], "media": [encode_ppm(a), encode_bmp(b)]}
    )
    out = decode_image_batch(pdf, strict=True).set_index("media_id")
    assert (out.loc[1, "width"], out.loc[1, "height"]) == (5, 3)
    assert (out.loc[2, "width"], out.loc[2, "height"]) == (7, 2)
    assert out.loc[1, "mean_byte"] == 10.0
    assert out.loc[2, "mean_byte"] == 200.0


def test_kmeans_assign_clusters_separable_data(spark):
    """Three well-separated direction clusters → kmeans_assign puts
    same-cluster vectors together (cohesion ~1) and never mixes ground
    truth groups that are 90° apart."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import kmeans_assign

    rng = np.random.default_rng(3)
    rows = []
    for g, base in enumerate([0, 5, 10]):
        center = np.zeros(16)
        center[base] = 1.0
        for i in range(20):
            v = center + rng.normal(scale=0.05, size=16)
            rows.append((g * 100 + i, g, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id int, truth int, embedding array<float>")
    out = kmeans_assign(df, k=3, seed=11, max_iter=10).collect()
    by_truth = {}
    for r in out:
        by_truth.setdefault(r.truth, set()).add(r.cluster_id)
        assert r.cluster_cos > 0.9  # tight clusters → near-centroid cosine
    # Each ground-truth group maps to exactly one cluster, all distinct.
    assert all(len(s) == 1 for s in by_truth.values())
    assert len({s.pop() for s in by_truth.values()}) == 3


def test_span_dedup_removes_repeated_spans(spark):
    """A span repeated across documents survives only in its first
    (doc_id, position) occurrence; unique spans always survive."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import llm_span_dedup

    boiler = " ".join(f"b{i}" for i in range(10))  # one exact 10-token span
    uniq = {d: " ".join(f"u{d}_{i}" for i in range(10)) for d in range(3)}
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="span_dedup_fix_")
    spark.createDataFrame(
        [
            (0, boiler + " " + uniq[0]),
            (1, boiler + " " + uniq[1]),   # leading boiler span is a dup
            (2, uniq[2] + " " + boiler),   # trailing boiler span is a dup
        ],
        "doc_id long, text string",
    ).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.doc_id: r for r in llm_span_dedup(spark, tmp).collect()}
    assert (out[0].n_spans, out[0].kept_spans) == (2, 2)  # first owner keeps all
    assert (out[1].n_spans, out[1].kept_spans) == (2, 1)
    assert (out[2].n_spans, out[2].kept_spans) == (2, 1)
    # Reassembled length drops by exactly the boiler span + 1 separator.
    assert out[1].clean_len == len(uniq[1])
    assert out[2].clean_len == len(uniq[2])


def test_adaptive_band_bits_bounds_bucket_size():
    """Adaptive LSH sizing: small inputs keep the historical 4-bit bands
    (test/oracle stability); larger inputs add bits so the expected
    bucket size stays ~128 and candidate volume stays linear in n."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import adaptive_band_bits

    assert adaptive_band_bits(50) == 4
    assert adaptive_band_bits(2_000) == 4
    assert adaptive_band_bits(20_000) == 8
    assert adaptive_band_bits(1_000_000) == 13
    assert adaptive_band_bits(10**9) == 16  # clamped
    # Expected bucket size n / 2^bits stays within [64, 256] in the
    # unclamped regime.
    for n in (5_000, 50_000, 500_000, 5_000_000):
        bits = adaptive_band_bits(n)
        assert 64 <= n / (1 << bits) <= 256


def test_wav_codec_roundtrip_and_chunk_walk():
    """RIFF/WAVE codec: int16 PCM survives encode → decode byte-exactly,
    the chunk walker skips unknown chunks, and malformed containers are
    rejected."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import decode_wav, encode_wav

    s = ((np.arange(999) * 31 % 4096) - 2048).astype("int16")
    b = encode_wav(s, sample_rate=8000)
    back, rate = decode_wav(b)
    assert rate == 8000 and (back == s).all()
    # Insert a LIST chunk between fmt and data (odd size → word padding).
    fmt_end = b.index(b"data")
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    b2 = b[:fmt_end] + extra + b[fmt_end:]
    back2, _ = decode_wav(b2)
    assert (back2 == s).all()
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")


def test_bloom_decontaminate_no_false_negatives(spark, sf_tiny):
    """The Bloom path must never KEEP a doc the exact path drops (one-
    sided error): bloom-kept ⊆ exact-kept, and the extra drops (false
    positives) stay within a loose multiple of the 1% design rate."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.bloom import (
        bloom_contains,
        bloom_params,
        build_bloom,
    )
    from pyspark.sql import functions as F2

    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import doc_grams

    _docs, _grams, bench, train = doc_grams(spark, sf_tiny)

    exact_flagged = {
        r.doc_id
        for r in train.join(bench, "ng", "left_semi").select("doc_id").distinct().collect()
    }
    words, m, k = build_bloom(bench, "ng", fp_rate=0.01)
    bloom_flagged = {
        r.doc_id
        for r in train.withColumn("hit", bloom_contains(words, m, k, F2.col("ng")))
        .filter("hit")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert exact_flagged <= bloom_flagged  # no false negatives, ever
    n_train_docs = train.select("doc_id").distinct().count()
    extra = len(bloom_flagged - exact_flagged)
    # Doc-level FP compounds over ~n_grams probes per doc; keep a loose
    # ceiling that still catches a broken filter (which flags everything).
    assert extra <= max(5, int(0.5 * n_train_docs))
    assert bloom_params(1000, 0.01)[0] >= 9000  # ~9.6 bits/elem at 1%


def test_bloom_max_items_guard_trips_before_collect(spark, monkeypatch):
    """The size guard bounds what reaches the driver: an oversized build
    side collects at most max_items + 1 hash pairs, then raises."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.bloom import (
        build_bloom,
    )

    grams = spark.range(500).selectExpr("concat('g', id) AS ng")
    collected: list[int] = []
    real = type(grams).toPandas

    def spy(self):
        out = real(self)
        collected.append(len(out))
        return out

    monkeypatch.setattr(type(grams), "toPandas", spy)
    with pytest.raises(ValueError, match="max_items=10"):
        build_bloom(grams, "ng", max_items=10)
    assert collected and max(collected) <= 11, collected
    words, m, k = build_bloom(grams.limit(10), "ng", max_items=10)
    assert collected[-1] == 10 and words.any()


def test_python_datasource_partitions_and_pushdown(spark):
    """Spark 4 Python Data Source: partition planning yields one task per
    planned range, pushFilters consumes the op-equality filter (source
    skips generation) and leaves others for Spark, and a filtered read
    agrees with the content contract."""
    from pyspark.sql.datasource import EqualTo
    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import (
        ChangefeedDataSource,
        ChangefeedReader,
        row_at,
    )

    r = ChangefeedReader({"rows": "100", "partitions": "7"})
    parts = r.partitions()
    assert len(parts) == 7
    assert [p.start for p in parts][0] == 0 and parts[-1].end == 100
    # Pushdown: op filter consumed, unknown filter returned to Spark.
    other = EqualTo(("lsn",), 5)
    left = list(r.pushFilters([EqualTo(("op",), "d"), other]))
    assert left == [other]
    got = [row for p in parts for row in r.read(p)]
    assert got == [row_at(i) for i in range(100) if row_at(i)[0] == "d"]

    # End-to-end: Spark-applied filter on a registered read matches the
    # contract regardless of which side evaluates it.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import register_changefeed
    register_changefeed(spark)
    n = (
        spark.read.format("changefeed")
        .option("rows", "500")
        .load()
        .filter("op = 'u'")
        .count()
    )
    assert n == sum(1 for i in range(500) if row_at(i)[0] == "u")


def test_avrolog_two_phase_commit(spark, tmp_path):
    """The avrolog writer's task-commit protocol: written files stay
    invisible (temp-named) until driver commit renames them; abort
    removes them; overwrite commit clears prior part files."""
    import os

    from pyspark.sql import Row
    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import (
        AvroLogDataSource,
    )

    path = str(tmp_path / "log")
    ds = AvroLogDataSource({"path": path, "ddl": "id bigint, v double"})
    w = ds.writer("id bigint, v double", overwrite=True)
    m1 = w.write(iter([Row(id=1, v=1.5), Row(id=2, v=None)]))
    m2 = w.write(iter([Row(id=3, v=2.5)]))
    names = set(os.listdir(path))
    assert all(n.startswith("_temp-") for n in names)  # nothing visible yet

    # Abort the second task: its temp disappears, the first remains.
    w.abort([m2])
    assert m2.temp_name not in set(os.listdir(path))

    w.commit([m1])
    visible = [n for n in os.listdir(path) if n.startswith("part-")]
    assert len(visible) == 1

    # Read back through the reader: only committed rows, null intact.
    r = ds.reader("id bigint, v double")
    got = sorted(row for p in r.partitions() for row in r.read(p))
    assert got == [(1, 1.5), (2, None)]

    # A second overwrite commit clears the old part file.
    w2 = ds.writer("id bigint, v double", overwrite=True)
    m3 = w2.write(iter([Row(id=9, v=9.0)]))
    w2.commit([m3])
    r2 = ds.reader("id bigint, v double")
    assert [row for p in r2.partitions() for row in r2.read(p)] == [(9, 9.0)]


def test_zorder_key_bijective_on_grid(spark):
    """Morton interleave is a bijection on [0, 2^bits)²: all 4096 keys of
    a 64×64 grid are distinct, and the python-reference interleave agrees
    bit-for-bit with the codegen'd column expression."""
    from debezium_emr_hudi_deltastreamer_sample_spark.functions import zorder_key

    def ref(x, y, bits=6):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.range(4096).selectExpr(
        "cast(id % 64 as int) AS x", "cast(id div 64 as int) AS y"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), 6).alias("z")
        ).collect()
    }
    assert len(set(got.values())) == 4096  # bijective
    assert all(z == ref(x, y) for (x, y), z in got.items())


def test_resize_images_nearest_neighbor_reference(spark):
    """resize_images must implement exactly src = dst * src_dim // out_dim
    over the decoded array: compare against an independent numpy reference
    for both container formats, including a BMP width (w=9) whose rows are
    padded (9*3 % 4 != 0) — a codec that keeps padding shifts every
    sampled pixel."""
    import numpy as np
    import pandas as pd

    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
        resize_images,
    )

    rng = np.random.default_rng(11)
    cases = [(1, 9, 13, encode_bmp), (2, 32, 8, encode_ppm), (3, 8, 8, encode_bmp)]
    rows, expected = [], {}
    for mid, w, h, enc in cases:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append({"media_id": mid, "media": enc(arr)})
        ri = (np.arange(8) * h) // 8
        ci = (np.arange(8) * w) // 8
        expected[mid] = float(arr[ri][:, ci].mean())
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {r.media_id: r for r in resize_images(df).collect()}
    assert set(got) == {1, 2, 3}
    for mid, w, h, _ in cases:
        assert (got[mid].src_width, got[mid].src_height) == (w, h)
        assert got[mid].resized_mean == pytest.approx(expected[mid], abs=1e-9)


def test_semantic_dedup_prunes_subset_of_exact(spark, sf_small):
    """SemDeDup containment + recall: every id the semantic pass prunes
    must be a duplicate under the EXACT all-pairs rule at the same
    threshold (cells only restrict the candidate set — the pairwise is
    exact, so it can miss, never invent), the nassign=2 multi-assignment
    recovers the full dup set on this fixture (measured: 7/7 at sf0.01 vs
    6/7 single-assignment — the boundary-pair fix), membership partitions
    the table, and the report's n_pruned aggregation equals the exposed
    pruned-id set."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        _semantic_cells,
        embedding_neardup_pairs,
        semantic_dedup_pruned_ids,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_semantic_dedup,
    )

    report = llm_semantic_dedup(spark, sf_small).collect()
    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    assert sum(r.n_members for r in report) == n
    assert sum(r.n_pruned for r in report) > 0

    # Recompute the pruned id set with the operator's own two channels —
    # cell sharing plus the round-6 multiprobe-LSH re-probe — to check it
    # against the exact dup set (the report aggregates it away).
    k = max(2, n // 256)
    assigned = _semantic_cells(
        emb, "vec_id", "embedding", k=k, nassign=2, seed=7
    ).localCheckpoint(eager=True)
    cell_pruned = {
        r.vec_id for r in semantic_dedup_pruned_ids(assigned).collect()
    }
    # multiprobe=3 matches semantic_dedup_report's own re-probe channel
    # exactly (a 2-probe recompute can silently diverge from the report:
    # the third probe finds real extra pairs on this fixture).
    lsh_pruned = {
        r.bid
        for r in embedding_neardup_pairs(
            emb, threshold=0.46, approx=True, multiprobe=3
        ).collect()
    }
    pruned = cell_pruned | lsh_pruned
    exact = {r.bid for r in embedding_neardup_pairs(emb, threshold=0.46).collect()}
    assert pruned <= exact
    assert len(pruned) >= len(exact) - 1  # measured 7/7 (union channel)
    assert sum(r.n_pruned for r in report) == len(pruned)


def test_semantic_dedup_chunking_and_kcap_paths(spark, sf_small):
    """The two scale bounds of semantic_dedup_report that fixture-size
    inputs never trigger: (1) a tiny cell_cap forces the cohesion-ordered
    chunk split — membership must still partition the table and the
    pruned count can only SHRINK vs the unchunked run (chunking restricts
    the candidate set, never invents a pair); (2) a tiny k_max caps the
    coarse quantizer — the driver fit stays bounded and the report stays
    a partition. With a cap larger than every cell, output must be
    IDENTICAL to the default (the insurance code is a no-op until it
    triggers)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        semantic_dedup_report,
    )

    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()

    base = {r.cluster_id: r for r in semantic_dedup_report(emb).collect()}
    assert sum(r.n_members for r in base.values()) == n

    # (1) force chunking: cap far below the ~n/2 cell sizes at sf0.01.
    # Containment is the hard guarantee: a chunk only RESTRICTS the
    # candidate set, so per-cell pruned counts can shrink, never grow.
    # (No recall floor here — this fixture's qualifying pairs sit at
    # cos≈0.46-0.51, far from identical, so their cluster_cos values are
    # not adjacent; the recall property of cohesion chunking belongs to
    # near-IDENTICAL duplicates and is asserted on the synthetic groups
    # below.)
    chunked = {
        r.cluster_id: r
        for r in semantic_dedup_report(emb, cell_cap=16).collect()
    }
    assert set(chunked) == set(base)
    for cid, r in chunked.items():
        assert r.n_members == base[cid].n_members
        assert r.min_vec == base[cid].min_vec
        assert 0 <= r.n_pruned <= base[cid].n_pruned

    # Near-identical duplicate groups (the sf1 replica / boilerplate
    # shape SemDeDup exists for: cos ≥ ~0.999) survive forced chunking —
    # members share cluster_cos to ~1e-3, so cohesion ordering keeps them
    # adjacent and co-chunked.
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    rows = []
    vid = 0
    for g in range(20):  # 20 groups of 5 near-identical vectors
        center = rng.standard_normal(16)
        for _ in range(5):
            v = center + 0.01 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(200):  # random fill
        rows.append((vid, [float(x) for x in rng.standard_normal(16)]))
        vid += 1
    syn = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    rep = semantic_dedup_report(syn, threshold=0.95, cell_cap=32).collect()
    assert sum(r.n_members for r in rep) == 300
    # Each 5-group prunes its 4 non-minimal members: 80 total; allow a
    # small chunk-boundary loss but require ≥ 70%.
    assert sum(r.n_pruned for r in rep) >= 56

    # (2) force the k cap: k_max=3 < n//target would have been chosen.
    capped = semantic_dedup_report(emb, target_cell=32, k_max=3).collect()
    assert len(capped) <= 3
    assert sum(r.n_members for r in capped) == n

    # A cap that never binds must be byte-identical to the default.
    loose = {
        r.cluster_id: r
        for r in semantic_dedup_report(emb, cell_cap=100_000).collect()
    }
    assert {c: (r.n_members, r.n_pruned, r.min_vec) for c, r in loose.items()} == {
        c: (r.n_members, r.n_pruned, r.min_vec) for c, r in base.items()
    }


def test_ngram_jaccard_lsh_refines_subset_of_exact(spark, sf_small):
    """The LSH-refined Jaccard twin: every emitted pair must appear in the
    exact inverted-index result WITH the same Jaccard value (the refine
    recomputes the true statistic — banding can only shrink the candidate
    set), and recall on the fixture's near-dup structure stays high."""
    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        llm_ngram_jaccard,
        llm_ngram_jaccard_lsh,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in llm_ngram_jaccard(spark, sf_small).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.jaccard
        for r in llm_ngram_jaccard_lsh(spark, sf_small).collect()
    }
    assert set(approx) <= set(exact)
    for pair, j in approx.items():
        assert j == pytest.approx(exact[pair], abs=1e-9)
    assert len(approx) >= max(1, int(0.8 * len(exact)))


def test_bpe_apply_matches_python_reference(spark, sf_tiny):
    """The 5-round distributed BPE loop must learn exactly the merges a
    sequential pure-python trainer learns on the same corpus (same greedy
    election, same (count desc, pair) tie-break) and produce the same
    before/after token totals."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from debezium_emr_hudi_deltastreamer_sample_spark.queries.llm import (
        _BPE_SEP,
        llm_bpe_apply,
    )

    tbl = pq.read_table(f"{sf_tiny}/documents.parquet", columns=["text"])
    seqs = [
        [t for t in re.split(r"\s+", txt) if t] for txt in tbl.column("text").to_pylist()
    ]
    before = sum(map(len, seqs))
    expect = []
    for _ in range(5):
        counts = Counter()
        for s in seqs:
            counts.update(zip(s, s[1:]))
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((a, b, cnt))
        merged = a + _BPE_SEP + b
        out = []
        for s in seqs:
            res, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            out.append(res)
        seqs = out
    after = sum(map(len, seqs))

    rows = llm_bpe_apply(spark, sf_tiny).orderBy("round").collect()
    got = [(r.merge_a, r.merge_b, r.pair_count) for r in rows]
    assert got == expect
    assert rows[0].tokens_before == before
    assert rows[0].tokens_after == after


def test_fixture_text_is_single_space_separated(spark, sf_tiny):
    """The llm oracles split on the literal ' ' (string_split) while the
    Spark side splits on \\s+ and drops empties (tokens_col) — the two
    agree ONLY while fixture text has no runs of whitespace, no
    leading/trailing space and no tabs/newlines. Pin that invariant so a
    fixture regeneration that breaks it fails HERE with a clear message,
    not as a cryptic parity hash mismatch."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table

    docs = load_table(spark, sf_tiny, "documents")
    offenders = docs.filter(
        F.col("text").rlike(r"\s\s|^\s|\s$|[\t\n\r]")
    ).count()
    assert offenders == 0, (
        "fixture text violates the single-space invariant the oracle "
        "tokenization depends on"
    )


def test_multiprobe_budget_decays_with_band_width(spark, sf_small):
    """The probe request is a budget, not a contract — but only at dedup
    thresholds: at ≥0.4 with explicit 8-bit bands (the sf1 adaptive
    regime) a 3-probe request decays to zero — the pair set must equal
    plain banding's exactly — while at the 4-bit floor probes stay live
    and can only ADD pairs (superset). Below 0.4 (graph analytics) the
    decay is OFF and the full budget applies at every width. Pins the
    THRESHOLD-GATED probes_eff = req − (band_bits − 4) decay in
    embedding_neardup_pairs."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, sf_small, "embeddings").localCheckpoint(eager=True)

    def pairset(threshold_override=0.46, **kw):
        return {
            (r.aid, r.bid)
            for r in embedding_neardup_pairs(
                emb, threshold=threshold_override, approx=True, **kw
            ).collect()
        }

    wide_plain = pairset(band_bits=8, multiprobe=False)
    wide_probed = pairset(band_bits=8, multiprobe=3)
    assert wide_probed == wide_plain  # 3 − (8−4) < 0 → no probes

    narrow_plain = pairset(band_bits=4, multiprobe=False)
    narrow_probed = pairset(band_bits=4, multiprobe=3)
    assert narrow_probed >= narrow_plain  # probes live, candidates only grow
    assert len(narrow_probed) > len(narrow_plain)  # and do fire on this fixture

    # The decay is THRESHOLD-GATED: below 0.4 (graph-analytics regime,
    # where probes carry +41% true edges at sf1 — see the operator
    # docstring) the full budget is honored even at wide bands.
    low_plain = pairset(band_bits=8, multiprobe=False, threshold_override=0.35)
    low_probed = pairset(band_bits=8, multiprobe=3, threshold_override=0.35)
    assert low_probed >= low_plain
    assert len(low_probed) > len(low_plain)


def test_asof_join_null_keys_never_match(spark):
    """Equi-join semantics (DuckDB ASOF JOIN): NULL = NULL never holds.
    Window.partitionBy would happily group NULL keys into one partition —
    the operator must drop NULL-key right rows so a NULL-key left row
    gets a null match, not another NULL-key row's value."""
    left = spark.createDataFrame(
        [(None, 5), ("k", 5)], "key string, ts int"
    )
    right = spark.createDataFrame(
        [(None, 3, 7.0), ("k", 3, 9.0)], "key string, ts int, val double"
    )
    out = {
        r.key: r.val_asof
        for r in asof_join(
            left, right, on=["key"], left_ts="ts", right_ts="ts",
            right_values=["val"],
        ).collect()
    }
    assert out["k"] == 9.0
    assert out[None] is None  # NULL key matched nothing


def test_frame_sample_zero_and_null_duration_emit_no_frames(spark):
    """A clip with duration 0 (or NULL) has no sampleable frames — the
    round-6 review caught a phantom ts-0 frame from the ceil arithmetic."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.multimodal import (
        frame_sample_plan,
    )

    df = spark.createDataFrame(
        [(1, 0), (2, None), (3, 2500)], "media_id long, d int"
    ).select(
        "media_id",
        F.struct(
            F.lit("video").alias("media_type"),
            F.col("d").alias("duration_ms"),
        ).alias("media_meta"),
    )
    rows = frame_sample_plan(df, every_ms=1000).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r.frame_ts_ms)
    assert 1 not in by_id and 2 not in by_id
    assert sorted(by_id[3]) == [0, 1000, 2000]


def test_reserved_working_columns_fail_loudly(spark):
    """salted_join / binned range joins must refuse inputs that carry the
    engine's reserved working columns instead of silently clobbering and
    dropping user data (the merge.py _reject_reserved contract)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.rangejoin import (
        binned_interval_join,
        binned_range_join,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.skew import (
        salted_join,
    )

    fact = spark.createDataFrame([(1, "x")], "k int, __salt string")
    dim = spark.createDataFrame([(1, "d")], "k int, v string")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(fact, dim, on=["k"])

    pts = spark.createDataFrame([(1.0, "x")], "p double, __bin string")
    iv = spark.createDataFrame([(0.0, 2.0)], "lo double, hi double")
    with pytest.raises(ValueError, match="__bin"):
        binned_range_join(pts, iv, "p", "lo", "hi", bin_width=1.0)
    with pytest.raises(ValueError, match="__bin"):
        binned_interval_join(
            pts.select(F.col("p").alias("a_lo"), F.col("p").alias("a_hi"),
                       "__bin"),
            iv, "a_lo", "a_hi", "lo", "hi", bin_width=1.0,
        )


def test_explicit_band_width_collapse_refused(spark, sf_tiny):
    """band_bits wider than n_planes would yield zero bands and a silently
    empty candidate join (every duplicate kept) — must raise instead."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, sf_tiny, "embeddings")
    with pytest.raises(ValueError, match="no bands would survive"):
        embedding_neardup_pairs(
            emb, threshold=0.9, approx=True, n_planes=12, band_bits=16
        ).collect()


def test_read_binary_media_extensionless_in_dotted_dir(spark, tmp_path):
    """Extension comes from the BASENAME's final dot only: an
    extensionless file inside a dotted directory must get NULL format /
    'unknown' type, not a path fragment (round-6 review fix)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.sources import (
        read_binary_media,
    )

    d = tmp_path / "data.v2"
    d.mkdir()
    (d / "clip").write_bytes(b"rawbytes")
    (d / "ok.wav").write_bytes(b"RIFF_fake")
    got = {
        r.media_id.rsplit("/", 1)[-1]: r
        for r in read_binary_media(spark, str(d)).collect()
    }
    assert got["clip"].media_meta.format is None
    assert got["clip"].media_meta.media_type == "unknown"
    assert got["ok.wav"].media_meta.format == "wav"


def test_changefeed_pushdown_conflicting_equalities(spark):
    """pushFilters must consume at most ONE op equality: claiming both
    sides of `op = 'c' AND op = 'd'` while applying only the last would
    return op='d' rows where the correct answer is zero (round-6 review
    fix — Spark drops every consumed predicate from the plan)."""
    from debezium_emr_hudi_deltastreamer_sample_spark.sources.pydatasource import (
        register_changefeed,
    )

    register_changefeed(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("changefeed")
        .option("rows", "200")
        .load()
        .filter("op = 'c' AND op = 'd'")
    )
    assert df.count() == 0
    # And a single pushed equality still filters correctly.
    only_d = (
        spark.read.format("changefeed")
        .option("rows", "200")
        .load()
        .filter("op = 'd'")
    )
    assert only_d.count() == 20 and {r.op for r in only_d.collect()} == {"d"}


def test_exact_dedup_null_safe_digest(spark):
    """Round-6 review fix: the content digest must be NULL-safe and
    injective — concat_ws SKIPS nulls, so ('x', NULL) and (NULL, 'x')
    collided on one digest (genuinely different rows merged), and a
    literal separator inside a value could forge a collision."""
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "a\x1fb", "c"), (4, "a", "b\x1fc"),
         (5, "x", None)],
        "id long, a string, b string",
    )
    out = exact_dedup(df, ["a", "b"], "id").collect()
    groups = {r.id: r.dup_count for r in out}
    # Only the true duplicate pair (1, 5) merges; 2/3/4 stay distinct.
    assert groups == {1: 2, 2: 1, 3: 1, 4: 1}


def test_shingles_and_simhash_short_doc_safety(spark):
    """Round-6 review fixes: shingles_col must yield an EMPTY array (not
    an element_at-index-0 crash) on docs shorter than n tokens, and
    with_simhash must keep token-less docs with a NULL signature instead
    of silently dropping them through an inner join."""
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.dedup import (
        shingles_col,
        with_simhash,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.text import (
        tokens_col,
    )

    df = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d"), (3, "")],
        "doc_id long, text string",
    ).withColumn("tokens", tokens_col("text"))
    sh = {r.doc_id: r.s for r in df.select("doc_id", shingles_col(3).alias("s")).collect()}
    assert sh[1] == [] and sh[3] == []
    assert sh[2] == ["a b c", "b c d"]

    anno = {r.doc_id: r.simhash for r in with_simhash(df).collect()}
    assert set(anno) == {1, 2, 3}  # nothing dropped
    assert anno[3] is None and anno[2] is not None


def test_lsh_banding_contract_and_cc_rounds_guard(spark, sf_tiny):
    """Round-6 review fixes: bands must divide num_hashes (a remainder
    silently shifted the LSH recall curve by dropping trailing
    minhashes), and connected_components(batch_rounds=0) must raise
    instead of returning the identity labeling."""
    from debezium_emr_hudi_deltastreamer_sample_spark.catalog import load_table
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.components import (
        connected_components,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_from_tokens,
    )
    from debezium_emr_hudi_deltastreamer_sample_spark.operators.text import (
        tokens_col,
    )

    docs = load_table(spark, sf_tiny, "documents").withColumn(
        "tokens", tokens_col("text")
    )
    sigs = minhash_signatures_from_tokens(docs, "doc_id", num_hashes=32)
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_candidates(sigs, "doc_id", num_hashes=32, bands=5)

    verts = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="batch_rounds"):
        connected_components(verts, edges, batch_rounds=0)


def test_sem_bench_matrix_cache_bounded_and_capped(spark, tmp_path):
    """_SEM_BENCH_CACHE is a structural 2-entry LRU (VERDICT r7 task 7) and
    the benchmark selection is pinned to a FIXED eval suite
    (vec_id % 13 == 0 AND vec_id < SEM_BENCH_MAX_VEC_ID) so it stays
    constant-size across scale factors (task 4)."""
    import shutil

    from debezium_emr_hudi_deltastreamer_sample_spark.queries import llm

    llm._SEM_BENCH_CACHE.clear()
    b1 = llm._sem_bench_matrix(spark, "/root/testdata/sf0.001")
    b2 = llm._sem_bench_matrix(spark, "/root/testdata/sf0.01")
    # sf0.1's bench set is the SAME fixed suite despite a 4x corpus.
    b3 = llm._sem_bench_matrix(spark, "/root/testdata/sf0.1")
    assert b1.shape == b2.shape == b3.shape == (39, 64)
    assert len(llm._SEM_BENCH_CACHE) <= llm._SEM_BENCH_CACHE_MAX
    # A third distinct fixture evicts the oldest, never grows the dict.
    alt = tmp_path / "sfalt"
    alt.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        alt / "embeddings.parquet",
    )
    llm._sem_bench_matrix(spark, str(alt))
    assert len(llm._SEM_BENCH_CACHE) <= llm._SEM_BENCH_CACHE_MAX
    # TRUE LRU (ADVICE r8): a hit refreshes recency, so in a 3-fixture
    # rotation the entry just reused survives the next insert and its
    # re-read is a HIT (identity-equal matrix, no recompute).
    llm._SEM_BENCH_CACHE.clear()
    m1 = llm._sem_bench_matrix(spark, "/root/testdata/sf0.001")
    llm._sem_bench_matrix(spark, "/root/testdata/sf0.01")
    m1_hit = llm._sem_bench_matrix(spark, "/root/testdata/sf0.001")  # refresh
    assert m1_hit is m1
    llm._sem_bench_matrix(spark, str(alt))  # evicts sf0.01, NOT sf0.001
    assert llm._sem_bench_matrix(spark, "/root/testdata/sf0.001") is m1
