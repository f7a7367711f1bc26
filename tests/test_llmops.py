"""Property tests for the murmur3-based llmops operators that have no
SQL oracle (MinHash/SimHash/LSH), plus multimodal batch plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark.llmops import dedup, multimodal, similarity
from covid_19_fl_spark import tables


@pytest.fixture(scope="module")
def docs_dup(spark):
    """documents + planted near-duplicates: doc 9001 = copy of doc 1,
    doc 9002 = doc 1 with one word changed, doc 9003 = unrelated."""
    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").limit(50)
    base = docs.filter(F.col("doc_id") == 1).first()
    words = base.text.split(" ")
    mutated = " ".join(["zzz" if i == 3 else w for i, w in enumerate(words)])
    extra = spark.createDataFrame(
        [
            (9001, base.text, base.lang, base.source, base.n_chars),
            (9002, mutated, base.lang, base.source, len(mutated)),
            (9003, "totally different content " * 10, base.lang, "srcX", 260),
        ],
        schema=docs.schema,
    )
    return docs.unionByName(extra)


def test_minhash_identical_docs_collide(spark, docs_dup):
    pairs = dedup.minhash_lsh_pairs(
        docs_dup, "text", "doc_id", num_hashes=32, bands=8, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert (1, 9001) in found and found[(1, 9001)] == 1.0
    assert (1, 9002) in found and 0.5 <= found[(1, 9002)] < 1.0
    assert not any(9003 in p for p in found)


def test_minhash_signature_deterministic(spark, docs_dup):
    sig = dedup.minhash_signature(F.col("text"), num_hashes=16)
    a = docs_dup.select("doc_id", sig.alias("sig")).collect()
    b = docs_dup.repartition(7).select("doc_id", sig.alias("sig")).collect()
    assert {r.doc_id: tuple(r.sig) for r in a} == {r.doc_id: tuple(r.sig) for r in b}


def test_simhash_near_dup_small_hamming(spark, docs_dup):
    sigs = {
        r.doc_id: r.sig
        for r in docs_dup.select(
            "doc_id", dedup.simhash32(F.col("text")).alias("sig")
        ).collect()
    }
    assert sigs[1] == sigs[9001]  # identical text → identical simhash
    hamming = bin(sigs[1] ^ sigs[9002]).count("1")
    assert hamming <= 8  # one-word mutation stays close


def test_simhash_pairs_finds_planted(spark, docs_dup):
    pairs = dedup.simhash_pairs(docs_dup, "text", "doc_id", max_hamming=8).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 9001) in found


def test_embedding_cosine_tiling_invariant(spark):
    """The tiled all-pairs fan-out (tile_pair_cells) must emit exactly
    the same pair set regardless of chunking: a tiny target_chunk
    (many cross cells, pmod-skewed chunks) vs one chunk per block."""
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    one = dedup.embedding_cosine_pairs(emb, threshold=0.3, target_chunk=10**9)
    many = dedup.embedding_cosine_pairs(emb, threshold=0.3, target_chunk=5)
    b = sorted(map(tuple, one.collect()))
    t = sorted(map(tuple, many.collect()))
    assert len(b) > 0
    assert b == t


def test_ivf_matches_bruteforce_for_in_cluster_neighbors(spark):
    """IVF with nprobe=1 must agree with brute force whenever the true
    top-k lives in the probed cluster (labels are the true clusters)."""
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    brute = similarity.cosine_topk(emb, [0, 1, 2], k=3).collect()
    ivf = similarity.ivf_topk(emb, [0, 1, 2], k=3).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    brute_by_q = {}
    for r in brute:
        brute_by_q.setdefault(r.query_id, []).append(r)
    ivf_by_q = {}
    for r in ivf:
        ivf_by_q.setdefault(r.query_id, []).append(r)
    for q, rows in brute_by_q.items():
        if all(labels[r.neighbor_id] == labels[q] for r in rows):
            assert [r.neighbor_id for r in sorted(rows, key=lambda r: r.rank)] == [
                r.neighbor_id for r in sorted(ivf_by_q[q], key=lambda r: r.rank)
            ], f"query {q}"


def test_lsh_topk_subset_of_bruteforce_candidates(spark):
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    res = similarity.lsh_bucketed_topk(emb, [0, 1], k=5, planes=4).collect()
    assert len(res) > 0
    for r in res:
        assert -1.0 <= r.cos_sim <= 1.0


def test_multimodal_batch_plumbing(spark):
    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = multimodal.to_media(docs)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r.n_bytes > 0 and len(r.feature) == 8
        assert all(0.0 <= f <= 1.0 for f in r.feature)
    # deterministic across partitionings
    feats2 = multimodal.extract_features(media.repartition(5)).collect()
    assert {r.doc_id: (r.n_bytes, r.checksum) for r in feats} == {
        r.doc_id: (r.n_bytes, r.checksum) for r in feats2
    }


def test_multimodal_decode_stub_raises(spark):
    # PNG decodes for REAL since r4 (tests/test_multimodal_decode.py);
    # codec-bound mimes without a library still raise.
    with pytest.raises(NotImplementedError):
        multimodal._decode_payload(b"\x00\x01", "video/mp4")
    with pytest.raises(ValueError):  # corrupt payload, real decoder
        multimodal._decode_payload(b"\x89PNG", "image/png")


def test_chunk_spans_cover_every_token_exactly(spark):
    from covid_19_fl_spark.llmops import text as tx

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").limit(30)
    n_tokens = {
        r.doc_id: r.n
        for r in docs.select("doc_id", tx.token_count(F.col("text")).alias("n")).collect()
    }
    chunks = tx.chunk_spans(docs, "text", "doc_id", size=32, stride=24).collect()
    by_doc: dict[int, list] = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    assert set(by_doc) == set(n_tokens)
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda c: c.chunk_idx)
        covered = set()
        for c in cs:
            assert c.start_tok == c.chunk_idx * 24 + 1
            assert len(c.chunk_text.split(" ")) == c.n_tok
            covered.update(range(c.start_tok, c.start_tok + c.n_tok))
        # every token covered, nothing past the end, no empty chunks
        assert covered == set(range(1, n_tokens[doc_id] + 1)), doc_id
        assert all(c.n_tok > 0 for c in cs)


def test_decontaminate_flags_planted_leak_only(spark):
    docs = tables.load(spark, "/root/testdata/sf0.001", "documents").limit(20)
    bench = docs.filter(F.col("doc_id") < 3)
    base = docs.filter(F.col("doc_id") == 1).first()
    leak = " ".join(base.text.split(" ")[:5])  # one benchmark 5-gram
    corpus = docs.filter(F.col("doc_id") >= 3).select(
        "doc_id",
        F.when(F.col("doc_id") == 10, F.concat(F.lit("x y z w v u t s "), F.lit(leak)))
        .otherwise(F.lit("totally unrelated words only aaa bbb ccc ddd eee fff"))
        .alias("text"),
    )
    out = dedup.decontaminate(corpus, bench, "text", "doc_id", n=5).collect()
    assert [(r.doc_id, r.n_leaked_shingles) for r in out] == [(10, 1)]


def test_source_mix_weights_form_a_proper_distribution(spark):
    from covid_19_fl_spark.llmops import sampling, text as tx

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    out = sampling.source_mix_weights(docs, "source", tx.token_count(F.col("text"))).collect()
    assert abs(sum(r.token_share for r in out) - 1.0) < 1e-4
    # weight × share == 1/n_groups for every group (up to rounding)
    n = len(out)
    for r in out:
        assert abs(r.mix_weight * r.group_tokens / sum(x.group_tokens for x in out) - 1.0 / n) < 1e-6


def test_binary_file_source_end_to_end(spark, tmp_path):
    """binaryFile ingest: glob pushdown opens only matching files, the
    MEDIA schema comes out typed, doc_id is stable across re-listing,
    and the rows feed extract_features unchanged."""
    d = tmp_path / "media"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x89PNGfakepayload-a")
    (d / "b.img").write_bytes(b"\x89PNGfakepayload-bb")
    (d / "skip.txt").write_bytes(b"not media")

    media = multimodal.read_binary_media(
        spark, str(d), glob="*.img", mime="image/png"
    )
    rows = {r.meta.source.rsplit("/", 1)[-1]: r for r in media.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert rows["a.img"].meta.n_bytes == 17
    assert rows["a.img"].meta.mime == "image/png"
    assert bytes(rows["a.img"].payload) == b"\x89PNGfakepayload-a"

    again = {r.meta.source.rsplit("/", 1)[-1]: r.doc_id
             for r in multimodal.read_binary_media(spark, str(d), glob="*.img").collect()}
    assert {k: v.doc_id for k, v in rows.items()} == again  # stable ids

    # feature extraction consumes the same rows (text mime so the
    # deterministic stand-in decode runs; image decode stays stubbed)
    as_text = multimodal.read_binary_media(spark, str(d), glob="*.img", mime="text/plain")
    feats = multimodal.extract_features(as_text).collect()
    assert len(feats) == 2 and all(len(f.feature) == 8 for f in feats)


def test_hof_lambda_alias_shadowing_hazard_avoided(spark):
    """Regression for ss_scalar_quantize's 1-ulp mse drift at sf0.1:
    when a select aliases round(x, ...) back to the SAME name x that a
    higher-order-function lambda in that select references, Spark
    resolves the lambda against the rounded output column instead of
    the child's unrounded one. The suite avoids the shape; this pins
    the engine behavior so a regression (or an upstream fix) is loud.
    """
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, [10.0, 20.0], 3.456789)], "id long, v array<double>, s double")
    folded = F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x / F.col("s"))

    # shadow-free two-step projection: lambda sees the raw s
    clean = (
        df.select("id", "s", folded.alias("f"))
        .select("id", F.round("s", 1).alias("s"), "f")
        .collect()[0]
    )
    assert clean.f == 10.0 / 3.456789 + 20.0 / 3.456789

    # single-select shadowing: documents the rebind (lambda sees
    # round(s, 1) = 3.5); if Spark ever fixes this, flip the assert
    shadowed = df.select("id", F.round("s", 1).alias("s"), folded.alias("f")).collect()[0]
    assert shadowed.f == 10.0 / 3.5 + 20.0 / 3.5


def test_ivf_index_persisted_matches_inline_and_prunes(spark, tmp_path, sf_dir):
    """The persisted IVF index must return exactly what the inline
    ivf_topk computes, and its probe scan must read only the routed
    cluster partitions (planning-time partition pruning)."""
    from covid_19_fl_spark.llmops import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path)

    qids = [0, 1, 2, 3]
    inline = similarity.ivf_topk(emb, qids, k=5).collect()
    indexed = similarity.ivf_topk_indexed(spark, path, qids, k=5)
    assert sorted(map(tuple, indexed.collect())) == sorted(map(tuple, inline))

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:800]
    # The pruning must be the broadcast-reused DYNAMIC filter, not a
    # literal IN built from a driver-side collect of routed labels —
    # the routed table never funnels through the driver.
    assert "dynamicpruningexpression" in m.group(1), m.group(1)
    import inspect

    src = inspect.getsource(similarity.ivf_topk_indexed)
    assert ".collect()" not in src, "ivf_topk_indexed must not collect"


def test_ivf_index_probes_any_label_column(spark, tmp_path, sf_dir):
    """An index built with a non-default ``label_col`` probes like the
    inline ivf_topk over the same labels."""
    from covid_19_fl_spark.llmops import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumnRenamed(
        "label", "topic"
    )
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, label_col="topic")
    qids = [0, 1, 2, 3]
    inline = similarity.ivf_topk(emb, qids, k=5, label_col="topic").collect()
    indexed = similarity.ivf_topk_indexed(spark, path, qids, k=5).collect()
    assert inline
    assert sorted(map(tuple, indexed)) == sorted(map(tuple, inline))


def test_inverted_index_semantics(spark):
    from covid_19_fl_spark.llmops import text

    rows = [
        (1, "the cat sat"),
        (2, "The cat ran"),
        (3, "a dog ran"),
        (4, "THE the the"),  # repeated term counts once per doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.term: r for r in text.inverted_index(df, "text", "doc_id").collect()}
    assert out["the"].doc_freq == 3 and out["the"].postings == [1, 2, 4]
    assert out["cat"].postings == [1, 2]
    assert out["ran"].postings == [2, 3]
    assert out["sat"].doc_freq == 1

    # min_df drops hapax terms; truncation keeps smallest-id prefix
    # while doc_freq stays exact
    trunc = {
        r.term: r
        for r in text.inverted_index(
            df, "text", "doc_id", min_df=2, max_postings=2
        ).collect()
    }
    assert set(trunc) == {"the", "cat", "ran"}
    assert trunc["the"].doc_freq == 3 and trunc["the"].postings == [1, 2]


def test_split_assign_partition_and_determinism(spark):
    from covid_19_fl_spark.llmops import sampling

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    out = sampling.split_assign(df, "doc_id")  # 98/1/1
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts == {"train": 9_800, "val": 100, "test": 100}

    a = sorted((r.doc_id, r.split) for r in out.collect())
    b = sorted(
        (r.doc_id, r.split)
        for r in sampling.split_assign(df.repartition(13), "doc_id").collect()
    )
    assert a == b

    with pytest.raises(ValueError):
        sampling.split_assign(df, "doc_id", splits=(("train", 50), ("test", 20)))


def test_bm25_semantics_and_plan(spark):
    import math

    from covid_19_fl_spark.llmops import text

    rows = [
        (1, "spark spark spark joins data"),   # tf(spark)=3, dl=5
        (2, "spark is fast"),                  # tf(spark)=1, dl=3
        (3, "duck pond"),                      # no hit
        (4, "data data data"),                 # tf(data)=3, dl=3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.bm25_topk(df, "text", "doc_id", ("spark", "data"), k=10)
    got = {r.doc_id: r for r in out.collect()}
    assert 3 not in got and set(got) == {1, 2, 4}
    assert got[1].n_terms_hit == 2 and got[2].n_terms_hit == 1

    def bm25(tf, dl, df_t, n=4, avgdl=13 / 4, k1=1.2, b=0.75):
        idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert got[2].bm25 == round(bm25(1, 3, 2), 6)
    assert got[1].bm25 == round(bm25(3, 5, 2) + bm25(1, 5, 2), 6)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no global sort


def test_repetition_scores_on_crafted_docs(spark):
    import math

    from covid_19_fl_spark.llmops import text

    rows = [
        (1, "a a a a"),            # 1 distinct word, 1 distinct bigram
        (2, "a b c d"),            # all distinct
        (3, "a b a b"),            # bigrams: "a b","b a","a b" → 2/3 distinct
        (4, "solo"),               # single word → no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select("doc_id", *text.repetition_scores(F.col("text"))).collect()
    }
    assert out[1].dup_word_frac == 0.75 and out[1].dup_bigram_frac == round(2 / 3, 6)
    assert out[1].top_word_frac == 1.0
    assert out[2].dup_word_frac == 0.0 and out[2].dup_bigram_frac == 0.0
    assert out[2].top_word_frac == 0.25
    assert out[3].dup_word_frac == 0.5
    assert out[3].dup_bigram_frac == round(1 - 2 / 3, 6)
    assert out[3].top_word_frac == 0.5
    assert out[4].dup_word_frac == 0.0 and out[4].dup_bigram_frac == 0.0
    assert out[4].top_word_frac == 1.0


def test_unigram_logprob_matches_hand_computation(spark):
    import math

    from covid_19_fl_spark.llmops import text

    # Corpus: "x x y" + "y z" → counts x=2 y=2 z=1, total=5.
    rows = [(1, "x x y"), (2, "y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.unigram_logprob(df, "text", "doc_id").collect()}
    lp = {"x": math.log(2 / 5), "y": math.log(2 / 5), "z": math.log(1 / 5)}
    assert out[1].n_tokens == 3
    assert out[1].avg_logprob == round((2 * lp["x"] + lp["y"]) / 3, 6)
    assert out[2].n_tokens == 2
    assert out[2].avg_logprob == round((lp["y"] + lp["z"]) / 2, 6)


def test_resize_media_contract(spark, sf_dir):
    from covid_19_fl_spark.llmops import multimodal

    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = multimodal.to_media(docs)
    resized = multimodal.resize_media(media, max_bytes=64)
    rows = resized.collect()
    assert len(rows) == 50
    orig = {r.doc_id: r for r in media.collect()}
    for r in rows:
        n_orig = len(orig[r.doc_id].payload)
        assert r.meta.orig_bytes == n_orig
        assert len(r.payload) <= 64
        assert r.meta.n_bytes == len(r.payload)
        k = r.meta.scale_den
        # striding semantics: resized is every k-th byte of the original
        assert bytes(orig[r.doc_id].payload[::k]) == bytes(r.payload)
        if n_orig <= 64:
            assert k == 1 and bytes(r.payload) == bytes(orig[r.doc_id].payload)
    # map-only: no exchange in the plan
    plan = resized._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_token_budget_sample_boundary_and_partition_independence(spark, sf_dir):
    from covid_19_fl_spark.llmops import sampling, text

    docs = tables.load(spark, sf_dir, "documents")
    budget = 3000
    out = sampling.token_budget_sample(
        docs, "doc_id", text.token_count(F.col("text")), budget=budget
    )
    rows = sorted(out.collect(), key=lambda r: r.cum_tokens)
    assert rows, "budget sample must keep at least one doc"
    # every kept doc started strictly under budget; only the last may overshoot
    for r in rows:
        assert r.cum_tokens - r.n_tokens < budget
    for r in rows[:-1]:
        assert r.cum_tokens < budget + rows[-1].n_tokens
    total = rows[-1].cum_tokens
    assert total >= min(budget, sum(r.n_tokens for r in rows))
    # partitioning must not change membership (content-deterministic)
    out2 = sampling.token_budget_sample(
        docs.repartition(7), "doc_id", text.token_count(F.col("text")), budget=budget
    )
    assert {r.doc_id for r in out2.collect()} == {r.doc_id for r in rows}


def test_boilerplate_ngram_stats_semantics(spark):
    from covid_19_fl_spark.llmops import text

    tpl = "alpha beta gamma delta epsilon zeta"  # 6 tokens → 2 5-gram positions
    docs = spark.createDataFrame(
        [
            (1, tpl),
            (2, tpl),
            (3, tpl),
            (4, "one two three four five six seven"),  # unique text
            (5, "tiny doc"),  # < n tokens → zero gram positions
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.boilerplate_ngram_stats(
        docs, "text", "doc_id", n=5, min_docs=3
    ).collect()}
    assert set(out) == {1, 2, 3, 4, 5}, "every doc reported exactly once"
    for doc_id, r in out.items():
        assert 0.0 <= r.boiler_frac <= 1.0
        assert 0 <= r.n_boiler <= r.n_grams
    # the 3× duplicated template is 100% boilerplate
    for doc_id in (1, 2, 3):
        assert out[doc_id].n_grams == 2 and out[doc_id].boiler_frac == 1.0
    # unique text → 0; short doc → no positions, frac 0 not null
    assert out[4].n_boiler == 0 and out[4].boiler_frac == 0.0
    assert out[5].n_grams == 0 and out[5].boiler_frac == 0.0


def test_pq_quantize_contract(spark, sf_dir):
    from covid_19_fl_spark.llmops import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.pq_quantize(emb, m=8, dims=64)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count(), "one code row per vector"
    by_vec = {r.vec_id: tuple(r.embedding) for r in emb.collect()}
    codes_of = {}
    for vid, r in rows.items():
        parts = r.pq_codes.split("-")
        assert len(parts) == 8, "m sub-space codes"
        assert r.recon_mse >= 0.0
        codes_of[vid] = r.pq_codes
    # identical vectors must quantize to identical codes and MSE
    seen = {}
    for vid, v in by_vec.items():
        if v in seen:
            other = seen[v]
            assert codes_of[vid] == codes_of[other]
            assert rows[vid].recon_mse == rows[other].recon_mse
        else:
            seen[v] = vid
    # partition invariance of the argmin/merge path
    out2 = similarity.pq_quantize(emb.repartition(13), m=8, dims=64)
    assert {(r.vec_id, r.pq_codes, r.recon_mse) for r in out2.collect()} == {
        (r.vec_id, r.pq_codes, r.recon_mse) for r in rows.values()
    }


def test_source_kl_divergence_properties(spark, sf_dir):
    from covid_19_fl_spark import tables
    from covid_19_fl_spark.llmops import sampling

    docs = tables.load(spark, sf_dir, "documents")
    out = sampling.source_kl_divergence(docs, "source", "text")
    rows = out.collect()
    assert len(rows) == docs.select("source").distinct().count()
    for r in rows:
        # KL >= 0 up to the 1e-12 quantization dust (|vocab| * 1e-12)
        assert r.kl_nats >= -1e-6, r
        assert r.n_tokens > 0
    # identical per-source distributions → KL exactly 0
    same = spark.createDataFrame(
        [(i, f"s{i % 3}", "alpha beta beta gamma") for i in range(9)],
        "doc_id long, source string, text string",
    )
    kl = sampling.source_kl_divergence(same, "source", "text")
    assert all(r.kl_nats == 0.0 for r in kl.collect())


def test_bigram_logprob_properties(spark):
    from covid_19_fl_spark.llmops import text as t

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # only 'a b'/'b a' bigrams
            (2, "a b c"),
            (3, "solo"),          # 1 token → no bigrams
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in t.bigram_logprob(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3].n_bigrams == 0 and out[3].avg_logprob is None
    assert out[4].n_bigrams == 0
    assert out[1].n_bigrams == 5 and out[2].n_bigrams == 2
    # log-probs are <= 0 (probabilities <= 1)
    for d in (1, 2):
        assert out[d].avg_logprob <= 0.0
    # corpus counts: c('a b')=4, c('b a')=2, c('b c')=1 →
    # P(b|a)=4/4=1, P(c|b)=1/3; doc 2's positions are 'a b','b c'
    import math

    expect = round((math.log(1.0) + math.log(1 / 3)) / 2, 6)
    assert abs(out[2].avg_logprob - expect) < 1e-9


def test_exact_substr_spans_semantics(spark):
    """Hand-computed span merge: k=2 windows duplicated across docs,
    overlapping/adjacent islands merged, clean docs absent."""
    from covid_19_fl_spark.llmops import dedup

    docs = spark.createDataFrame(
        [
            # docs 1 & 2 share "x y z w" (3 duplicated 2-grams at pos
            # 0,1,2 in doc 1 → one island of 4 tokens) and "q r" later
            # in doc 1 (pos 5) matching doc 3 — a second island.
            (1, "x y z w a q r"),
            (2, "x y z w"),
            (3, "b q r c"),
            (4, "unique tokens only here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.exact_substr_spans(
            docs, "text", "doc_id", k=2, min_docs=2
        ).collect()
    }
    # doc 1: island {0,1,2} → tokens 0..3 (4), island {5} → tokens 5..6 (2)
    assert out[1].n_spans == 2 and out[1].dup_tokens == 6
    # doc 2: single island covering the whole doc
    assert out[2].n_spans == 1 and out[2].dup_tokens == 4
    # doc 3: "q r" at pos 1 → 2 tokens
    assert out[3].n_spans == 1 and out[3].dup_tokens == 2
    assert 4 not in out


def test_dup_clusters_chain_exact_under_any_partitioning(spark):
    # ADVICE r4 asked for loud failure on unconverged labels; the
    # round-5 forest-contraction kernel made unconverged states
    # structurally impossible (pass count is log of partition count,
    # not data-diameter). Pin the replacement contract instead: a
    # path graph — the old kernel's worst case — labels exactly, even
    # when its edges are scattered across many partitions.
    chain_edges = [(i + 1, i) for i in range(1, 200)]
    chain = spark.createDataFrame(
        chain_edges, "id_a long, id_b long"
    ).repartition(16)
    rows = dedup.dup_clusters(chain).collect()
    assert {(r.doc_id, r.cluster_id) for r in rows} == {
        (i, 1) for i in range(1, 201)
    }


def test_quadratic_guard_trips_above_ceiling(spark):
    """The two uncapped lossless similarity joins must refuse a
    production-sized corpus loudly (VERDICT r6 ask #9) while staying
    inert on every test corpus size."""
    import inspect

    from covid_19_fl_spark import suite, suite_r5, suite_r5b

    small = spark.range(10).select(F.col("id").alias("doc_id"))
    assert suite.guard_quadratic(small, "q").count() == 10  # passthrough

    big = spark.range(suite.QUADRATIC_GUARD_MAX_ROWS + 1)
    with pytest.raises(RuntimeError, match="quadratic guard"):
        suite.guard_quadratic(big, "dd_jaccard_prefix_join")

    # both uncapped twins actually call the guard
    for fn in (suite_r5.dd_jaccard_prefix_join, suite_r5b.dd_edit_distance_join):
        assert "guard_quadratic" in inspect.getsource(fn)
