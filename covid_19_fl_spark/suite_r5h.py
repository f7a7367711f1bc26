"""Round-5 suite additions, batch H: keyphrase extraction + CDC apply.

- ``tx_rake_keyphrases`` — RAKE (Rapid Automatic Keyword Extraction)
  over the English documents: candidate phrases are maximal
  stopword-delimited token runs, each word scores degree/frequency
  over the phrase corpus, and a phrase scores the sum of its word
  scores — the classic unsupervised keyphrase extractor, completing
  the text family (TF-IDF ranks single terms; RAKE surfaces
  multi-word phrases).
- ``st_cdc_merge_upsert`` — streaming CDC apply: each micro-batch
  MERGEs into a parquet table through the K4 sink's atomic swap with
  last-writer-wins semantics; the associative LWW reduction makes the
  fixpoint invariant to micro-batch slicing, and the drained table is
  hash-checked against the batch LWW aggregate — the keyed-merge sink
  promoted from pytest into the oracle gate.

Determinism discipline unchanged: integer degree/frequency counts
across every shuffle, the per-phrase score sum as an ordered
left-to-right fold (≤ 3 terms), deterministic top-k tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .llmops.text import STOPWORDS, words
from .suite import _t, query

_RAKE_MAX_LEN = 3  # standard RAKE phrase-length cap
_RAKE_K = 15

_SW = STOPWORDS["en"]
_SW_SQL = ", ".join(f"'{w}'" for w in _SW)


@query(
    "tx_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
           LATERAL (
             SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                      AS tok,
                    generate_subscripts(
                      regexp_split_to_array(trim(text), '\\s+'), 1)
                      AS pos
           ) t
      WHERE lang = 'en'
    ), grouped AS (
      SELECT doc_id, tok, pos,
             tok IN ({_SW_SQL}) AS is_stop,
             CAST(SUM(CASE WHEN tok IN ({_SW_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS grp
      FROM toks
    ), phrases AS (
      SELECT doc_id, grp,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             list(tok ORDER BY pos) AS ws,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM grouped WHERE NOT is_stop
      GROUP BY 1, 2
    ), kept AS (
      SELECT * FROM phrases WHERE plen <= {_RAKE_MAX_LEN}
    ), wstats AS (
      SELECT w AS word,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM kept, LATERAL (SELECT unnest(ws) AS w) u
      GROUP BY 1
    ), ptypes AS (
      SELECT phrase, ANY_VALUE(ws) AS ws,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM kept GROUP BY 1
    ), pw AS (
      SELECT p.phrase, p.n_occurrences, u.wpos, u.w
      FROM ptypes p, LATERAL (
        SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS wpos
      ) u
    ), folded AS (
      SELECT pw.phrase, pw.n_occurrences,
             list(CAST(s.deg AS DOUBLE) / s.freq ORDER BY pw.wpos) AS sws
      FROM pw JOIN wstats s ON s.word = pw.w
      GROUP BY 1, 2
    ), scored AS (
      SELECT phrase, n_occurrences,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), sws),
                         (acc, x) -> acc + x) AS score
      FROM folded
    )
    SELECT phrase, n_occurrences, ROUND(score, 6) AS rake_score
    FROM scored
    ORDER BY score DESC, n_occurrences DESC, phrase ASC
    LIMIT {_RAKE_K}
    """,
)
def tx_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the English corpus: candidate
    phrases are the maximal stopword-delimited token runs (length ≤ 3,
    the standard cap), each word's salience is degree/frequency over
    the phrase corpus (degree = Σ lengths of phrases it appears in —
    co-occurrence reach; frequency = raw occurrences), and a phrase
    scores the sum of its words' saliences. The classic unsupervised
    multi-word keyphrase extractor (Rose et al. 2010), next to TF-IDF
    (single terms) and PMI collocations (2-grams only).

    Plan shape: one posexplode of the token arrays, the stopword
    run-splitting as a per-DOC running count (window partitioned by
    doc — never global), two map-combinable aggregates for word stats
    and phrase types, one broadcast-able word-stats join back. Scale:
    everything after the scan is vocabulary- or phrase-type-sized.
    Exactness: degree/freq are exact BIGINT; the per-phrase score sum
    folds left-to-right over ≤ 3 identical IEEE quotients on both
    engines; top-15 ties break (score, n, phrase)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    toks = docs.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos", "tok")
    )
    is_stop = F.col("tok").isin(*_SW)
    wdoc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grouped = toks.select(
        "doc_id",
        "tok",
        "pos",
        is_stop.alias("is_stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(wdoc).cast("long").alias("grp"),
    )
    phrases = (
        grouped.filter(~F.col("is_stop"))
        .groupBy("doc_id", "grp")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("pw"),
            F.count("*").cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
        .select(
            "doc_id",
            "grp",
            "plen",
            F.transform(F.col("pw"), lambda s: s["tok"]).alias("ws"),
        )
        .withColumn("phrase", F.concat_ws(" ", F.col("ws")))
    )
    wstats = (
        phrases.select(F.explode("ws").alias("word"), "plen")
        .groupBy("word")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .withColumn("wscore", F.col("deg").cast("double") / F.col("freq"))
    )
    ptypes = phrases.groupBy("phrase").agg(
        F.any_value(F.col("ws")).alias("ws"),
        F.count("*").cast("long").alias("n_occurrences"),
    )
    # per-phrase word scores in POSITION order, then a left fold — the
    # ordered-fold recipe so the ≤3-term double sum matches the oracle
    pw = ptypes.select(
        "phrase", "n_occurrences", F.posexplode("ws").alias("wpos", "word")
    ).join(F.broadcast(wstats.select("word", "wscore")), "word")
    folded = pw.groupBy("phrase", "n_occurrences").agg(
        F.array_sort(F.collect_list(F.struct("wpos", "wscore"))).alias("sws")
    )
    score = F.aggregate(
        F.transform(F.col("sws"), lambda s: s["wscore"]),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return (
        folded.select(
            "phrase",
            "n_occurrences",
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("n_occurrences").desc(), F.col("phrase").asc())
        .limit(_RAKE_K)
        .select("phrase", "n_occurrences", F.round("score", 6).alias("rake_score"))
    )


# ---------------------------------------------------------------------------
# st_cdc_merge_upsert — streaming foreachBatch keyed MERGE into a table
# ---------------------------------------------------------------------------


@query(
    "st_cdc_merge_upsert",
    oracle="""
    SELECT CAST(o_orderkey % 1000 AS BIGINT) AS k,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_writer,
           CAST(max_by(CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey)
                AS BIGINT) AS price_c,
           CAST(COUNT(*) AS BIGINT) AS n_versions
    FROM orders GROUP BY 1
    """,
)
def st_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the #1 production streaming-sink pattern
    (Delta MERGE / upsert): the order stream is a change feed keyed by
    ``o_orderkey % 1000`` (collisions make every key receive many
    versions), and each micro-batch MERGEs into a parquet table with
    last-writer-wins semantics via the K4 sink's atomic
    staging-then-rename swap. The drained table must equal the batch
    LWW aggregate bit-for-bit — promoting the keyed-merge sink (K4,
    previously pytest-only) into the oracle gate.

    Correct under ANY micro-batch slicing: the per-batch pre-merge and
    the table merge are the same associative LWW reduction
    (max last_writer, max_by price over last_writer, summed version
    counts), so batch boundaries cannot change the fixpoint. Replay
    idempotence (a re-delivered batch double-counting n_versions)
    is the rollup sink's batch-id-stamp job (streaming/rollup.py) —
    this query drains availableNow exactly once. Scale: each batch
    shuffles on k once and rewrites the k-sized table; a production
    run partitions the table by key range so the merge rewrites only
    touched partitions."""
    import uuid as _uuid

    from . import tables
    from .sinks.batch import ParquetTable

    src = (
        tables.stream(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 1000).cast("long").alias("k"),
            F.col("o_orderkey").cast("long").alias("w"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        )
    )
    table = ParquetTable(spark, f"/tmp/st_cdc_{_uuid.uuid4().hex[:8]}")

    def apply(bdf: DataFrame, _eid: int) -> None:
        b = bdf.groupBy("k").agg(
            F.max("w").alias("last_writer"),
            F.max_by("price_c", "w").alias("price_c"),
            F.count("*").cast("long").alias("n_versions"),
        )
        if table.exists():
            merged = (
                table.read()
                .unionByName(b)
                .groupBy("k")
                .agg(
                    F.max("last_writer").alias("last_writer"),
                    F.max_by("price_c", "last_writer").alias("price_c"),
                    F.sum("n_versions").cast("long").alias("n_versions"),
                )
            )
            table.overwrite(merged)
        else:
            table.overwrite(b)

    q = (
        src.writeStream.foreachBatch(apply)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError(
                "st_cdc_merge_upsert: availableNow drain did not finish "
                "within 300s — refusing to read a partial merge table"
            )
    finally:
        q.stop()
    return table.read().select("k", "last_writer", "price_c", "n_versions")


# ---------------------------------------------------------------------------
# x_allen_relations — Allen interval-algebra relation census
# ---------------------------------------------------------------------------

_ALLEN_CASE = """
    CASE WHEN s1 = s2 AND e1 = e2 THEN 'equals'
         WHEN s1 = s2 AND e1 < e2 THEN 'starts'
         WHEN e1 < s2 THEN 'before'
         WHEN e1 = s2 THEN 'meets'
         WHEN e1 < e2 THEN 'overlaps'
         WHEN e1 = e2 THEN 'finished_by'
         ELSE 'contains' END
"""


@query(
    "x_allen_relations",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + (CAST(FLOOR(value) AS BIGINT) + 1) * 60000000
               AS e,
             event_id
      FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL
        AND value IS NOT NULL
    ), pairs AS (
      -- canonical order: A is the interval that sorts first by
      -- (s, e, event_id), so only the 7 forward relations occur
      SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id
       AND (a.s < b.s OR (a.s = b.s AND a.e < b.e)
            OR (a.s = b.s AND a.e = b.e AND a.event_id < b.event_id))
    )
    SELECT {_ALLEN_CASE} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def x_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of Allen's interval-algebra relations over each user's
    view intervals (the same ``floor(value)+1``-minute construction as
    x_interval_coverage): every same-user interval pair, taken in the
    canonical (s, e, id) order so only the seven forward relations
    occur — equals / starts / before / meets / overlaps / finished_by
    / contains — counted corpus-wide. The temporal-LOGIC primitive
    behind schedule-conflict detection, process mining and temporal
    databases, complementing the interval family's measure
    (x_interval_coverage), count (x_peak_concurrency) and join
    (x_interval_overlap) members.

    Exactness: all boundary comparisons are integer microseconds, and
    the canonical ordering makes each unordered pair classify exactly
    once. Scale: the self-join keys on user_id, so the quadratic term
    is bounded by per-user activity (the sessionize-first knob at
    100 TB); the relation census itself is a map-combinable 7-row
    aggregate."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "view")
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + (F.floor(F.col("value")).cast("long") + 1) * 60_000_000
        ).alias("e"),
        "event_id",
    )
    a = iv.alias("a")
    b = iv.alias("b")
    canon = (F.col("a.s") < F.col("b.s")) | (
        (F.col("a.s") == F.col("b.s")) & (F.col("a.e") < F.col("b.e"))
    ) | (
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.e") == F.col("b.e"))
        & (F.col("a.event_id") < F.col("b.event_id"))
    )
    pairs = a.join(
        b, (F.col("a.user_id") == F.col("b.user_id")) & canon
    ).select(
        F.col("a.s").alias("s1"),
        F.col("a.e").alias("e1"),
        F.col("b.s").alias("s2"),
        F.col("b.e").alias("e2"),
    )
    rel = (
        F.when((F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2")), "equals")
        .when((F.col("s1") == F.col("s2")) & (F.col("e1") < F.col("e2")), "starts")
        .when(F.col("e1") < F.col("s2"), "before")
        .when(F.col("e1") == F.col("s2"), "meets")
        .when(F.col("e1") < F.col("e2"), "overlaps")
        .when(F.col("e1") == F.col("e2"), "finished_by")
        .otherwise("contains")
    )
    return (
        pairs.select(rel.alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
