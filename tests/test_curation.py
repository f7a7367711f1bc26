"""End-to-end curation pipeline: the composed dedup → filter →
decontaminate → sample → chunk chain over a corpus with planted
duplicates, a planted benchmark leak, and junk docs."""

from __future__ import annotations

import pytest

from covid_19_fl_spark.llmops import curation


GOOD = (
    "the quick brown fox jumps over the lazy dog and then the fox "
    "rests in the shade of a tall tree while the dog watches the road "
    "for travelers who pass by with carts of grain and fruit"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, GOOD),                                  # canonical good doc
        (1, GOOD),                                  # exact duplicate of 0
        (2, GOOD + " extra trailing words here"),   # near-duplicate of 0
        (3, "zz qq xx " * 3),                       # junk: low quality, short
        (4, "the benchmark answer is forty two and the question is unknown "
            "but the scholars keep searching for the deeper meaning of it"),
        (5, "a completely different document about rivers and mountains "
            "where the water flows down from the high peaks into the valley "
            "and the villagers gather to fish along the quiet banks"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_set(spark):
    return spark.createDataFrame(
        [(100, "the benchmark answer is forty two and the question is unknown")],
        "doc_id long, text string",
    )


def test_curation_funnel(spark, corpus, eval_set):
    stages = curation.curate(
        corpus,
        eval_set,
        curation.CurationConfig(min_quality=0.3, min_tokens=5, near_dup_threshold=0.4),
    )
    kept = {r.doc_id for r in stages["clean"].select("doc_id").collect()}
    # 1 falls to exact dedup, 2 to near-dup, 3 to quality/length,
    # 4 to decontamination; 0 and 5 survive
    assert kept == {0, 5}

    funnel = {r.stage: r.n_docs for r in curation.funnel_report(stages).collect()}
    assert funnel["redacted"] == 6
    assert funnel["exact_deduped"] == 5
    assert funnel["near_deduped"] == 4
    assert funnel["quality_kept"] == 3
    assert funnel["clean"] == 2
    assert funnel["sampled"] == 2  # no sample_pct → pass-through


@pytest.mark.parametrize(
    "cfg, with_bench",
    [
        (
            curation.CurationConfig(
                min_quality=0.3, min_tokens=5, near_dup_threshold=0.4
            ),
            True,
        ),
        (
            curation.CurationConfig(
                min_quality=0.3, min_tokens=5, near_dup_threshold=0.4, sample_pct=50
            ),
            False,
        ),
        (curation.CurationConfig(min_quality=0.0, min_tokens=1), False),
    ],
    ids=["default", "with-sample", "keep-all"],
)
def test_funnel_counts_matches_funnel_report(spark, corpus, eval_set, cfg, with_bench):
    """The round-10 single-pass funnel (one conditional aggregation
    over survivor flags) must report row-for-row what the six-leg
    union over curate() stages reports — with and without a benchmark
    side and a sampling stage. The benchmark leg runs on the default
    cfg only (round 11): the decontamination flag is independent of
    the sample/keep-all knobs, and each leg is four full LSH+CC
    pipeline executions of pytest wall."""
    benches = (None, eval_set) if with_bench else (None,)
    for bench in benches:
        expected = sorted(
            (r.stage_order, r.stage, r.n_docs)
            for r in curation.funnel_report(curation.curate(corpus, bench, cfg)).collect()
        )
        got = sorted(
            (r.stage_order, r.stage, r.n_docs)
            for r in curation.funnel_counts(corpus, bench, cfg).collect()
        )
        assert got == expected


def test_funnel_counts_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = curation.funnel_counts(empty).collect()
    assert len(rows) == 6 and all(r.n_docs == 0 for r in rows)


def test_curation_chunks_cover_survivors(spark, corpus, eval_set):
    stages = curation.curate(
        corpus,
        eval_set,
        curation.CurationConfig(
            min_quality=0.3, min_tokens=5, near_dup_threshold=0.4,
            chunk_size=8, chunk_stride=6,
        ),
    )
    chunks = stages["chunks"].collect()
    assert {c.doc_id for c in chunks} == {0, 5}
    # every chunk is non-empty and no longer than the configured size
    assert all(0 < c.n_tok <= 8 for c in chunks)
    # reassembling stride-offset chunks covers every token of doc 0
    n0 = len(GOOD.split())
    doc0 = sorted((c for c in chunks if c.doc_id == 0), key=lambda c: c.chunk_idx)
    covered = max(c.start_tok + c.n_tok - 1 for c in doc0)
    assert covered == n0


def test_dedup_canonical_not_filter_order_dependent(spark, corpus):
    """Quality filtering runs AFTER dedup: the canonical doc of a dup
    cluster is chosen by id, and a doc must not survive dedup because
    its duplicate was quality-filtered first."""
    stages = curation.curate(
        corpus, None, curation.CurationConfig(min_quality=0.3, min_tokens=5)
    )
    near = {r.doc_id for r in stages["near_deduped"].select("doc_id").collect()}
    assert 0 in near and 1 not in near


def test_sampling_stage_is_deterministic(spark, corpus):
    cfg = curation.CurationConfig(min_quality=0.0, min_tokens=1, sample_pct=50)
    a = curation.curate(corpus, None, cfg)["sampled"]
    b = curation.curate(corpus, None, cfg)["sampled"]
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_redaction_applies_before_chunking(spark):
    docs = spark.createDataFrame(
        [(0, "call me at 555 123 4567 about the quick brown fox and the "
             "lazy dog who wait together by the long winding river road")],
        "doc_id long, text string",
    )
    stages = curation.curate(
        docs, None, curation.CurationConfig(min_quality=0.0, min_tokens=1)
    )
    joined = " ".join(c.chunk_text for c in stages["chunks"].collect())
    assert "4567" not in joined
