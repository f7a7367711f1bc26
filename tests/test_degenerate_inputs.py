"""Degenerate-input robustness: empty tables, single rows, and
all-duplicate corpora must flow through every operator family without
errors and with the boundary semantics the docstrings promise. At
100 TB these shapes are routine (an empty partition after a selective
filter, a source that returned nothing today), and operators that
crash or mis-aggregate on them fail silently in a 1000-leg union."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark.llmops import curation, dedup, similarity, text
from covid_19_fl_spark.operators import analytics


DOC_SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


@pytest.fixture(scope="module")
def one_doc(spark):
    return spark.createDataFrame(
        [(7, "one single document with a handful of plain words inside")],
        DOC_SCHEMA,
    )


def test_dedup_family_on_empty(empty_docs):
    assert dedup.exact_dedup(empty_docs, "text", "doc_id").count() == 0
    assert dedup.exact_dup_groups(empty_docs, "text", "doc_id").count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs, "text", "doc_id").count() == 0
    assert dedup.simhash_pairs(empty_docs, "text", "doc_id").count() == 0


def test_dedup_family_on_single_doc(one_doc):
    assert dedup.exact_dedup(one_doc, "text", "doc_id").count() == 1
    # no pair can exist with one document
    assert dedup.minhash_lsh_pairs(one_doc, "text", "doc_id").count() == 0


def test_all_duplicate_corpus_keeps_exactly_one(spark):
    docs = spark.createDataFrame(
        [(i, "identical text repeated across every row of the corpus")
         for i in range(20)],
        DOC_SCHEMA,
    )
    kept = dedup.exact_dedup(docs, "text", "doc_id")
    assert [r.doc_id for r in kept.collect()] == [0]  # min-id canonical
    groups = dedup.exact_dup_groups(docs, "text", "doc_id").collect()
    assert len(groups) == 1 and groups[0].n_docs == 20


def test_curation_pipeline_on_empty(spark, empty_docs):
    stages = curation.curate(empty_docs, None, curation.CurationConfig())
    assert stages["chunks"].count() == 0
    funnel = {r.stage: r.n_docs for r in curation.funnel_report(stages).collect()}
    assert set(funnel.values()) == {0}


def test_text_features_on_empty_string(spark):
    """Empty and whitespace-only text: token pipeline must not emit
    nulls or negative counts (split of '' yields [''], documented)."""
    docs = spark.createDataFrame([(0, ""), (1, "   "), (2, "\t\n")], DOC_SCHEMA)
    rows = docs.select(
        text.token_count(F.col("text")).alias("nt"),
        text.quality_score(F.col("text")).alias("q"),
        text.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert all(r.nt >= 0 and r.fp is not None for r in rows)
    # whitespace-only normalizes to the same fingerprint as empty
    assert len({r.fp for r in rows}) == 1


def test_chunking_on_empty_and_tiny(spark):
    docs = spark.createDataFrame([(0, ""), (1, "two words")], DOC_SCHEMA)
    chunks = text.chunk_spans(docs, "text", "doc_id", size=8, stride=6).collect()
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    # a doc shorter than one chunk still yields exactly one chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_tok == 2


def test_similarity_on_empty_embeddings(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(emb, query_ids=[0], k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    labeled = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert similarity.ivf_topk(labeled, query_ids=[0], k=3).count() == 0
    assert similarity.lsh_bucketed_topk(emb, query_ids=[0], k=3).count() == 0


def test_analytics_on_empty_series(spark):
    empty = spark.createDataFrame([], "date_added date, case_number long")
    counts = analytics.daily_counts(empty, "date_added", "case_number")
    assert analytics.cumulative_sum(counts, "date_added").count() == 0
    assert analytics.growth_rates(
        analytics.cumulative_sum(counts, "date_added"), "date_added", "cum_count"
    ).count() == 0


def test_global_max_default_on_empty(spark):
    """A1 semantics from the reference (cv.py:101-107): empty stored
    table → the numeric watermark defaults to 0 (caller-supplied, since
    an int default is only meaningful for numeric keys), not null/crash."""
    empty = spark.createDataFrame([], "case_number long")
    from covid_19_fl_spark import incremental

    assert incremental.max_key(empty, "case_number", default=0) == 0
    assert incremental.max_key(empty, "case_number") is None


def test_documents_shorter_than_shingle_width(spark):
    """Docs with < n tokens (including empty text) must produce empty
    shingle sets, not crash: a bare sequence(1, size-(n-1)) descends
    through 0 when size < n and element_at throws (regression)."""
    from pyspark.sql import functions as F

    from covid_19_fl_spark.llmops import dedup

    short = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d e"), (4, "a b c d e")],
        "doc_id: long, text: string",
    )
    pairs = dedup.minhash_lsh_pairs(short, "text", "doc_id", threshold=0.5)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(3, 4)]
    sigs = short.select(
        dedup.minhash_signature(F.col("text")).alias("sig"),
        dedup.word_shingles(F.col("text")).alias("sh"),
    ).collect()
    # per-row signature of an empty shingle set: all-null lanes (the
    # agg path simply emits no signature row for such docs)
    assert set(sigs[0].sig) == {None} and sigs[0].sh == []
    assert set(sigs[1].sig) == {None} and sigs[1].sh == []


def test_exact_substr_spans_on_empty_and_single(empty_docs, one_doc):
    assert dedup.exact_substr_spans(empty_docs, "text", "doc_id").count() == 0
    # one document → no gram occurs in >= 2 docs → no spans
    assert dedup.exact_substr_spans(one_doc, "text", "doc_id").count() == 0


def test_exact_substr_spans_short_docs(spark):
    """Documents shorter than the shingle width produce no grams (the
    _gram_positions empty-sequence guard), not a crash."""
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], DOC_SCHEMA
    )
    assert dedup.exact_substr_spans(docs, "text", "doc_id", k=8).count() == 0


def test_sweepline_on_empty(spark):
    from covid_19_fl_spark.operators import sweepline

    df = spark.createDataFrame([], "k string, s long, e long, id long")
    assert sweepline.peak_concurrency(df, "k", "s", "e", "id").count() == 0


def test_multimodal_resize_on_empty_and_tiny_payloads(spark):
    """resize_media boundary shapes: empty payload (k clamps to 1,
    stride of nothing is nothing), payload exactly at the cap
    (untouched, scale 1/1), and one byte over (k=2 halves it)."""
    from covid_19_fl_spark.llmops import multimodal

    docs = spark.createDataFrame(
        [(0, ""), (1, "x" * 64), (2, "y" * 65)], DOC_SCHEMA
    ).withColumn("source", F.lit("t"))
    out = {
        r.doc_id: r
        for r in multimodal.resize_media(
            multimodal.to_media(docs), max_bytes=64
        ).collect()
    }
    assert out[0].meta.n_bytes == 0 and out[0].meta.scale_den == 1
    assert out[1].meta.n_bytes == 64 and out[1].meta.scale_den == 1
    assert out[2].meta.n_bytes == 33 and out[2].meta.scale_den == 2
    assert bytes(out[2].payload) == b"y" * 33


def test_multimodal_features_on_empty_corpus(spark):
    from covid_19_fl_spark.llmops import multimodal

    docs = spark.createDataFrame([], DOC_SCHEMA).withColumn(
        "source", F.lit("t")
    )
    media = multimodal.to_media(docs)
    assert multimodal.extract_features(media).count() == 0
    assert multimodal.resize_media(media).count() == 0
    assert multimodal.sample_frames(media).count() == 0


def test_morton_interleave_boundaries():
    """_morton16 must round-trip the corner cases of the 8-bit space
    exactly (0, 255, single-axis extremes)."""
    from covid_19_fl_spark.session import get_spark
    from covid_19_fl_spark.suite_r8b import _morton16

    spark = get_spark("covid_19_fl_spark-tests")
    df = spark.createDataFrame(
        [(0, 0), (255, 0), (0, 255), (255, 255), (170, 85)],
        "xb long, yb long",
    ).select(_morton16(F.col("xb"), F.col("yb")).alias("z"))
    got = [r.z for r in df.collect()]
    # x bits at even positions (0x5555 mask), y bits at odd (0xAAAA);
    # (170, 85) = (10101010b, 01010101b) interleaves to 0x6666
    assert got == [0, 0x5555, 0xAAAA, 0xFFFF, 0x6666]
