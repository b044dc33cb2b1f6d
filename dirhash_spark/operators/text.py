"""Text analysis for LLM-data pipelines (SURVEY §2.B B45 + north-star
extensions): tokenization/word count, token counting (whitespace +
BPE-ish regex), language-ID heuristic, quality scoring, document
fingerprinting.

All operators are pure ``pyspark.sql.functions`` expressions — no Python
UDFs — so they run inside whole-stage codegen and scale linearly with a
single scan (word count adds one shuffle for its groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog, sink_dir
from ..registry import query
from ..routing import checkpoint_counted


def gram_start_indices(toks, n: int):
    """1-based n-gram start positions over token array ``toks`` — NULL
    (so a downstream ``explode`` emits nothing) when the document
    holds fewer than ``n`` tokens.  The guard matters: Spark's
    ``sequence(1, 0)`` is the DESCENDING ``[1, 0]``, so an unguarded
    ``sequence(1, greatest(size - (n-1), 0))`` feeds ``slice`` a 0
    start and crashes the whole job (INVALID_PARAMETER_VALUE.START)
    on any short document — exactly where the oracle's
    ``generate_series(1, 0)`` is simply empty."""
    return F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    )

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"
_BPE_RE = r"\w+|[^\w\s]"
_FP_MOD = 2147483647  # 2^31 - 1


@query(
    "text_tokens",
    oracle=r"""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B45: tokenize + corpus word count (explode → groupBy; the partial
    aggregation squashes the token stream before the shuffle)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT) AS n_bpe_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens and a BPE-ish
    regex tokenization (word runs + single punctuation marks) — the two
    standard budget estimators for LLM training data."""
    cat = Catalog(spark, sf_dir)
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
    return cat.documents.select("doc_id", ws.alias("n_ws_tokens"), bpe.alias("n_bpe_tokens"))


@query(
    "text_lang_id",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           floor(CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                 / greatest(len(toks), 1) * 10000) / 10000 AS stopword_ratio,
           CASE WHEN CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                     / greatest(len(toks), 1) >= 0.05
                THEN 'en' ELSE 'unk' END AS pred_lang
    FROM t
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: ratio of English stopword hits among
    tokens → 'en'/'unk'.  (An n-gram profile per language drops in the
    same shape: per-token membership test + ratio threshold.)"""
    cat = Catalog(spark, sf_dir)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    hits = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    ratio = hits.cast("double") / F.greatest(F.size(toks), F.lit(1))
    return cat.documents.select(
        "doc_id",
        "lang",
        (F.floor(ratio * 10000) / 10000).alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("unk").alias("pred_lang"),
    )


@query(
    "text_quality",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             CAST(length(text) AS INT) AS n_chars,
             CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio_raw
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           floor(alpha_ratio_raw * 10000) / 10000 AS alpha_ratio,
           floor(least(1.0, n_tokens / 50.0) * alpha_ratio_raw * 10000) / 10000 AS quality_score,
           (n_chars >= 100 AND alpha_ratio_raw >= 0.8) AS keep
    FROM q
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, token count, alphabetic-character ratio,
    a composite score, and the keep/drop decision a filtering pipeline
    would apply."""
    cat = Catalog(spark, sf_dir)
    n_chars = F.length("text")
    n_tokens = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z ]", "")).cast("double") / F.greatest(
        n_chars, F.lit(1)
    )
    score = F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * alpha
    return cat.documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (F.floor(alpha * 10000) / 10000).alias("alpha_ratio"),
        (F.floor(score * 10000) / 10000).alias("quality_score"),
        ((n_chars >= 100) & (alpha >= 0.8)).alias("keep"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               [CAST(unicode(text[g]) AS BIGINT) FOR g IN generate_series(1, length(text))]),
             (a, b) -> (a * 131 + b) % {_FP_MOD}
           ) AS fingerprint
    FROM documents
    WHERE length(text) > 0
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: rolling polynomial hash over the character
    stream (h ← h·131 + code  mod 2³¹−1) — the primitive behind
    winnowing/rolling-window fingerprints, as one JVM-side aggregate."""
    cat = Catalog(spark, sf_dir)
    codes = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.ascii(F.col("text").substr(i, F.lit(1))).cast("long"),
    )
    fp = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 131 + x) % F.lit(_FP_MOD)
    )
    return cat.documents.where(F.length("text") > 0).select("doc_id", fp.alias("fingerprint"))


@query(
    "pipeline_corpus_curation",
    oracle=r"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    ),
    deduped AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN keep k ON d.doc_id = k.doc_id
    ),
    metrics AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS n_words
      FROM deduped
    )
    SELECT doc_id, n_chars, n_words,
           floor(CAST(n_chars AS DOUBLE) / n_words * 10000) / 10000 AS chars_per_word
    FROM metrics
    WHERE n_chars BETWEEN 50 AND 5000 AND n_words >= 10 AND doc_id % 5 = 0
    """,
    tags=("pipeline", "composed"),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline — the end-to-end shape a training-data
    run takes, as ONE declarative program Catalyst plans globally:

        exact dedup (keep lowest doc_id per content hash)
        → quality metrics (chars, words, chars/word)
        → quality filter (length + word-count bands)
        → deterministic 20% sample (key residue)

    ONE scan and ONE shuffle total: dedup is ``groupBy(content hash)
    .agg(min_by(row, doc_id))`` — the keeper ROW rides the aggregation
    buffer, so there is no join-back (whose keeper set is O(corpus)
    and does not broadcast at 100 TB) AND no ``row_number`` window
    (which admits no map-side combine, so a boilerplate document
    duplicated 10^8 times would shuffle every copy into one task — the
    r10 span-dedup lesson applied to its exact-dedup sibling; partial
    min_by reduces a hot hash to one surviving row per map task before
    the exchange).  Each stage is also available as its own operator
    (dedup_exact, text_quality, sample_hash_deterministic) — this
    query is the proof they compose without materialization
    boundaries."""
    cat = Catalog(spark, sf_dir)
    deduped = (
        cat.documents.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("keep"))
        .select(F.col("keep.doc_id").alias("doc_id"), F.col("keep.text").alias("text"))
    )
    words = F.filter(F.split(F.trim("text"), r"\s+"), lambda w: w != "")
    metrics = deduped.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(words).alias("n_words"),
    )
    return metrics.where(
        F.col("n_chars").between(50, 5000)
        & (F.col("n_words") >= 10)
        & (F.col("doc_id") % 5 == 0)
    ).select(
        "doc_id",
        "n_chars",
        "n_words",
        (F.floor(F.col("n_chars").cast("double") / F.col("n_words") * 10000) / 10000).alias("chars_per_word"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"


@query(
    "text_tfidf",
    oracle=r"""
    WITH pairs AS (
      SELECT doc_id, word AS term, count(*) AS n_td
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                      w -> w <> '')) AS word
            FROM documents)
      GROUP BY doc_id, word
    ),
    doclen AS (
      SELECT doc_id, sum(n_td) AS len_d FROM pairs GROUP BY doc_id
    ),
    df AS (
      SELECT term, count(*) AS df_t FROM pairs GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM doclen),
    scored AS (
      SELECT p.doc_id, p.term,
             (CAST(p.n_td AS DOUBLE) / d.len_d)
               * (ln((CAST(n.n_docs AS DOUBLE) + 1) / (df.df_t + 1)) + 1) AS score
      FROM pairs p
      JOIN doclen d USING (doc_id)
      JOIN df USING (term)
      CROSS JOIN n
    ),
    quantized AS (
      SELECT doc_id, term, CAST(floor(score * 10000) AS BIGINT) AS score_q
      FROM scored
    ),
    ranked AS (
      SELECT doc_id, term, score_q,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_q DESC, term) AS rn
      FROM quantized
    )
    SELECT doc_id, term, CAST(rn AS INT) AS rank,
           score_q / 10000.0 AS tfidf
    FROM ranked WHERE rn <= 3
    """,
    tags=("text", "tfidf"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 characteristic terms per document.  tf = term count
    / document length; idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn
    convention); rank by score with term as the deterministic tie-break.

    Plan shape: one explode → (doc, term) count agg; document length via
    a window sum over the pairs (no second scan); document frequency is
    a term-keyed agg joined back on the term key; N rides in as a
    1-row broadcast cross join.  Everything is JVM codegen; the large
    (doc, term) table shuffles twice (doc key, then term key) — at
    corpus scale the df table is vocabulary-sized and the join on term
    broadcasts once vocabulary pruning (min df) is applied.  (A
    pre-explode repartition was measured here and REGRESSED 1.7s→4.0s:
    unigram explode is cheap enough that the extra full-text shuffle
    dominates — unlike the 5-gram/8-gram queries where amplification
    pays for it.  The groupBy right after the explode already
    redistributes.)
    """
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
        ).alias("term"),
    )
    pairs = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n_td"))
    # The pairs table feeds THREE consumers (df counts, the N
    # aggregate, the score probe); un-pinned, that lineage diamond
    # planned as three independent corpus scans + explodes (r8 plan
    # audit — same defect as text_surprisal_bits).  Materializing the
    # compact (doc, term, n, len) table once costs a shuffle-sized
    # local write and replaces two full corpus re-reads.
    pairs = pairs.withColumn(
        "len_d", F.sum("n_td").over(Window.partitionBy("doc_id"))
    ).localCheckpoint()
    df_t = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = pairs.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        pairs.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                (F.col("n_td").cast("double") / F.col("len_d"))
                * (
                    F.log(
                        (F.col("n_docs").cast("double") + 1) / (F.col("df_t") + 1)
                    )
                    + 1
                )
            ).alias("score"),
        )
    )
    # Rank over the QUANTIZED score, not the raw double: ln() is only
    # 1-ulp-accurate per libm (the repo's float discipline — same
    # reason text_surprisal_bits avoids ln entirely), so a raw-score
    # rank could cut a different top-3 per engine when two scores land
    # within an ulp.  Quantizing first confines any residual divergence
    # to the floor boundary — the same accepted class as every other
    # floor-rounded output — and the term tie-break then resolves
    # equal-bucket terms identically in both engines.
    quantized = scored.select(
        "doc_id", "term", F.floor(F.col("score") * 10000).cast("bigint").alias("score_q")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("term"))
    return (
        quantized.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", (F.col("score_q") / 10000.0).alias("tfidf"))
    )


@query(
    "text_pii_mask",
    oracle=rf"""
    WITH aug AS (
      SELECT doc_id,
             text || ' Contact: user' || doc_id || '@example.com or tel 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INT) AS n_phones,
           sha256(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_PHONE_RE}', '<PHONE>', 'g')) AS masked_sha
    FROM aug
    """,
    tags=("text", "pii"),
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: detect and mask email addresses and phone-style
    numbers with redaction tokens — the compliance pass every training
    corpus goes through before release.  The fixture corpus contains no
    PII, so the query injects a synthetic contact line per document
    first (making the masking observable), then counts detections and
    emits a digest of the masked text for exact cross-engine comparison.

    Pure JVM regexps (Java regex here, RE2 in the oracle — the patterns
    stay in the common dialect subset), single scan, no shuffle at all:
    at 100 TB this runs embarrassingly parallel map-only.
    """
    cat = Catalog(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    masked = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return cat.documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.sha2(masked, 256).alias("masked_sha"),
    )


@query(
    "text_common_ngrams",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, gram
      FROM (SELECT doc_id,
                   unnest([array_to_string(t[i:i+4], ' ')
                           FOR i IN generate_series(1, len(t) - 4)]) AS gram
            FROM toks)
    ),
    freq AS (
      SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram
    )
    SELECT gram, n_docs FROM freq
    ORDER BY n_docs DESC, gram LIMIT 50
    """,
    tags=("text", "boilerplate"),
)
def text_common_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate phrase mining: the 50 most widespread 5-gram phrases
    by document frequency (each doc counted once per phrase) — the
    detector for headers, footers, license blocks, and template text
    that repeat across a crawl and should be stripped before training.

    Per-document gram dedup happens inside the row (``array_distinct``
    before explode), so "each doc counted once per phrase" costs zero
    shuffle — a corpus-wide ``DISTINCT (doc, gram)`` would shuffle
    every gram of every document.  The exploded stream feeds a
    gram-count aggregate whose partial (map-side) combine squashes it
    before the only remaining exchange, and TakeOrderedAndProject keeps
    the global top-50 from materializing a full sort.  The pre-explode
    spread is LAYOUT-AWARE (:func:`spread_for_compute`): the
    ~|tokens|-per-doc explode amplification under-signals the stage's
    work to byte-sized scan splits, so an under-split layout (the
    one-row-group fixtures) gets repartitioned across all cores, while
    a production layout whose scan already splits skips the corpus-wide
    text shuffle entirely.  Deterministic (n_docs DESC, gram) ordering
    makes the cutoff reproducible across engines.
    """
    from ..catalog import spread_for_compute

    cat = Catalog(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    gram_arr = F.array_distinct(
        F.transform(
            gram_start_indices(toks, 5),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
        )
    )
    grams = spread_for_compute(cat.documents, cat.sf_dir, "documents").select(
        "doc_id", F.explode(gram_arr).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(50)
    )


@query(
    "text_repetition_score",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS t
      FROM documents
    ),
    uni AS (
      SELECT doc_id, unnest(t) AS w FROM toks
    ),
    uni_counts AS (
      SELECT doc_id, w, count(*) AS n FROM uni GROUP BY doc_id, w
    ),
    uni_stats AS (
      SELECT doc_id, sum(n) AS n_tokens, count(*) AS n_distinct, max(n) AS top1
      FROM uni_counts GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id,
             unnest([t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t) - 1)])
               AS g
      FROM toks
    ),
    bi_counts AS (
      SELECT doc_id, g, count(*) AS n FROM bi GROUP BY doc_id, g
    ),
    bi_stats AS (
      SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top1 FROM bi_counts GROUP BY doc_id
    )
    SELECT u.doc_id,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           floor(u.n_distinct * 10000.0 / u.n_tokens) / 10000 AS distinct_frac,
           floor(u.top1 * 10000.0 / u.n_tokens) / 10000 AS top_unigram_frac,
           floor(b.top1 * 10000.0 / b.n_bigrams) / 10000 AS top_bigram_frac
    FROM uni_stats u JOIN bi_stats b USING (doc_id)
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document: distinct-token ratio, most
    frequent unigram's share, most frequent bigram's share — the
    Gopher/RefinedWeb-style repetitiousness filters that catch
    keyword-stuffed and template-looping pages before they pollute a
    training mix.

    Every statistic is DOC-LOCAL (a document's tokens live in one row),
    so the whole computation is map-side: one corpus scan, tokenization
    in the JVM (split/lower semantics identical to the oracle's
    ``string_split_regex``), then an Arrow-batched numpy stage
    (:func:`_repetition_batches`) that counts per-document — ZERO
    exchanges.  The r13 form shuffled the exploded token AND bigram
    multisets on (doc_id, gram) keys — two corpus-token-sized exchanges
    plus two doc-level exchanges and a join — to compute numbers that
    never needed cross-row state (r14 plan audit: 6 jobs → 1, 4
    Exchange → 0).  The ratios divide exact integers with one IEEE
    floor-round (identical in numpy float64), so cross-engine values
    still compare bit-identical; docs with fewer than two tokens have
    no bigram and are dropped exactly as the old inner join dropped
    them.
    """
    from ..catalog import spread_for_compute

    cat = Catalog(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    docs = spread_for_compute(
        cat.documents.select("doc_id", toks.alias("t")), cat.sf_dir, "documents"
    )
    return docs.mapInArrow(_repetition_batches, _REPETITION_SCHEMA)


_REPETITION_SCHEMA = (
    "doc_id bigint, n_tokens bigint, distinct_frac double, "
    "top_unigram_frac double, top_bigram_frac double"
)


def _repetition_batches(batches):
    """(doc_id, t: array<string>) → per-doc repetition stats, Arrow-
    batched and vectorized (the ``_word5_gram_batches`` pattern: the
    list column's flat token values, one Arrow hash group-by for the
    per-(doc, gram) counts — no per-token Python).

    Exactness contract with the r13 dataflow form and the DuckDB
    oracle: docs with < 2 tokens yield nothing (no bigram row ⇒ the old
    inner join dropped them; NULL text splits to NULL ⇒ explode emitted
    nothing); fractions are ``floor(n * 10000.0 / den) / 10000`` in
    float64 — multiply, divide, floor and final divide are each single
    correctly-rounded IEEE ops in both engines, so the doubles are
    bit-identical."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_doc(d, keys, n_docs):
        """(distinct keys, count of the most frequent key) per doc."""
        c = pa.table({"d": d, "k": keys}).group_by(["d", "k"]).aggregate([([], "count_all")])
        cd = c["d"].to_numpy()
        top = np.zeros(n_docs, dtype=np.int64)
        np.maximum.at(top, cd, c["count_all"].to_numpy())
        return np.bincount(cd, minlength=n_docs), top

    def frac(num, den):
        return np.floor(num * 10000.0 / den) / 10000

    for batch in batches:
        batch = batch.filter(pc.greater_equal(pc.list_value_length(batch.column("t")), 2))
        lens = pc.list_value_length(batch.column("t")).to_numpy().astype(np.int64)
        toks = pc.list_flatten(batch.column("t"))
        doc_idx = np.repeat(np.arange(len(lens)), lens)
        n_distinct, top1 = per_doc(doc_idx, toks, len(lens))
        # bigrams: join each token with its in-doc successor (mask out
        # the cross-doc seams of the flat array)
        seam = doc_idx[:-1] == doc_idx[1:]
        bigrams = pc.binary_join_element_wise(
            toks[:-1].filter(pa.array(seam)), toks[1:].filter(pa.array(seam)), " "
        )
        _, btop1 = per_doc(doc_idx[:-1][seam], bigrams, len(lens))
        yield pa.record_batch(
            {
                "doc_id": batch.column("doc_id"),
                "n_tokens": lens,
                "distinct_frac": frac(n_distinct, lens),
                "top_unigram_frac": frac(top1, lens),
                "top_bigram_frac": frac(btop1, lens - 1),
            }
        )


@query(
    "pipeline_training_export",
    oracle="""
    WITH keeper AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents
    ),
    curated AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> w <> '')) AS n_words
      FROM keeper
      WHERE rn = 1 AND len(text) BETWEEN 50 AND 5000
    ),
    sharded AS (
      SELECT CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 8 AS BIGINT)
               AS shard, n_words
      FROM curated WHERE n_words >= 10
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words
    FROM sharded GROUP BY 1 ORDER BY 1
    """,
    tags=("pipeline", "llm", "sink"),
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone export: the curation pipeline's output written as
    training shards, returning the shard manifest.  Chain:

        exact dedup (keeper per content hash)
        → length/word-count quality gate
        → shard id via Knuth multiplicative scramble mod 8
          (engine- and partitioning-independent; hash sharding keeps
          shard sizes balanced without a global sort)
        → partitioned parquet write (one directory per shard — the
          layout a data-parallel training loader expects)
        → manifest read-back from the WRITTEN files (shard, docs,
          token total): the returned numbers prove the export, not
          just the plan.

    One scan and one shuffle to the write — dedup is ``groupBy(hash)
    .agg(min_by(row, doc_id))``, the skew-safe keeper pick (partial
    combine bounds a mega-hot duplicate at one row per map task; a
    ``row_number`` window would shuffle every copy to one task — the
    r10 span-dedup lesson); the partitioned write adds no extra
    exchange (shard is a column, the writer splits files per task).
    At 100 TB the same program only changes mod-8 to mod-N(shards)."""
    cat = Catalog(spark, sf_dir)
    out = sink_dir("training_shards", sf_dir)
    words = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    curated = (
        cat.documents.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("keep"))
        .select(F.col("keep.doc_id").alias("doc_id"), F.col("keep.text").alias("text"))
        .where(F.length("text").between(50, 5000))
        .select("doc_id", "text", F.size(words).alias("n_words"))
        .where(F.col("n_words") >= 10)
        # scramble rides DECIMAL(38,0)/HUGEINT — BIGINT wraps negative
        # (Spark) / raises (DuckDB) once doc_id exceeds ~3.5e9
        .withColumn(
            "shard",
            ((F.col("doc_id").cast("decimal(38,0)") * 2654435761) % 8).cast("long"),
        )
    )
    export = curated.select("shard", "doc_id", "text", "n_words")
    export.write.mode("overwrite").partitionBy("shard").parquet(out)
    # explicit schema: a zero-row write leaves no data files to infer
    # from — empty input must read back as an empty manifest, not crash
    return (
        spark.read.schema(export.schema).parquet(out)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
        .select(F.col("shard").cast("bigint").alias("shard"), "n_docs", "total_words")
        .orderBy("shard")
    )


@query(
    "corpus_cross_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             unnest([array_to_string(w[i:i+4], ' ')
                     FOR i IN generate_series(1, greatest(len(w) - 4, 1))])
               AS gram
      FROM toks
    ),
    posting AS (
      SELECT gram, list_sort(list(DISTINCT source)) AS srcs FROM g GROUP BY 1
    ),
    pairs AS (
      SELECT u1.s AS source_a, u2.s AS source_b
      FROM posting, unnest(srcs) AS u1(s), unnest(srcs) AS u2(s)
      WHERE u1.s < u2.s
    )
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS shared_grams
    FROM pairs GROUP BY 1, 2
    ORDER BY shared_grams DESC, source_a, source_b
    LIMIT 20
    """,
    tags=("text", "llm", "provenance"),
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: how many distinct word
    5-grams each PAIR of sources shares — the provenance question
    behind every corpus-mixing decision ("how much of crawl B is
    already in crawl A?"), asked pairwise over all sources at once.

    Same posting-list topology as ``dedup_containment``: one shingle
    pass to distinct (source, gram) postings, one gram-keyed shuffle
    building the per-gram source list (≤ |sources| long — the blow-up
    bound is sources², not documents²), in-row ordered-pair expansion,
    and a final pair-keyed count with map-side combine, topped with
    TakeOrderedAndProject.  At 100 TB add the same df-cap as
    containment (drop boilerplate grams past a document-frequency
    threshold) — the fixture needs none, keeping the oracle exact."""
    cat = Catalog(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 4, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, 5), " "),
        )
    )
    g = (
        cat.documents.select("source", F.explode(grams).alias("gram"))
        .distinct()
    )
    posting = g.groupBy("gram").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "srcs",
                lambda a: F.transform(
                    F.filter("srcs", lambda b: b > a),
                    lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
                ),
            )
        )
    )
    return (
        posting.select(pair.alias("p"))
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
        .orderBy(F.col("shared_grams").desc(), "source_a", "source_b")
        .limit(20)
    )


# ------------------------------------------------- chunking / surprisal

_CHUNK_W, _CHUNK_S = 32, 24  # window, stride (8-token overlap)


@query(
    "text_chunk_sliding",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id, ws,
             unnest(generate_series(0,
               CAST((greatest(len(ws) - {_CHUNK_W}, 0) + {_CHUNK_S - 1})
                    // {_CHUNK_S} AS INT))) AS chunk_id
      FROM d
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(ws[chunk_id*{_CHUNK_S}+1 : chunk_id*{_CHUNK_S}+{_CHUNK_W}], ' ')
             AS chunk_text,
           CAST(len(ws[chunk_id*{_CHUNK_S}+1 : chunk_id*{_CHUNK_S}+{_CHUNK_W}]) AS INT)
             AS n_chunk_tokens
    FROM c
    """,
    tags=("text", "llm", "chunk"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the training-prep/RAG step
    that turns documents into overlapping ``_CHUNK_W``-token windows with
    stride ``_CHUNK_S`` (trailing chunk keeps the remainder; stride <=
    window guarantees full coverage).  Chunk count is the exact integer
    1 + ceil(max(n-W,0)/S), so both engines enumerate identical chunk
    ids.

    Scale shape: map-only — tokenize once, explode a per-doc integer
    sequence, slice the token array per chunk.  No shuffle at all; at
    100 TB this runs at scan speed and the downstream shard write
    (pipeline_training_export's layout) keys on (doc_id, chunk_id).
    """
    cat = Catalog(spark, sf_dir)
    ws = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    base = cat.documents.select("doc_id", ws.alias("ws"))
    nc_minus1 = F.expr(
        f"(greatest(size(ws) - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) div {_CHUNK_S}"
    ).cast("int")
    start = F.col("chunk_id") * _CHUNK_S + 1
    chunk = F.slice("ws", start, F.lit(_CHUNK_W))
    return (
        base.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), nc_minus1)).alias("chunk_id"),
            "ws",
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("int").alias("n_chunk_tokens"),
        )
    )


@query(
    "text_surprisal_bits",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    v AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    n AS (SELECT sum(c) AS total FROM v),
    b AS (
      SELECT word,
             CAST(length(bin(CAST(n.total // v.c AS BIGINT))) - 1 AS BIGINT)
               AS bits
      FROM v, n
    ),
    s AS (
      SELECT tok.doc_id, count(*) AS n_tokens, sum(b.bits) AS total_bits
      FROM tok JOIN b USING (word) GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(total_bits AS BIGINT) AS total_bits,
           CAST((total_bits * 100) // n_tokens AS BIGINT) AS mean_centibits
    FROM s
    """,
    tags=("text", "llm", "quality"),
)
def text_surprisal_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score from a corpus unigram LM, in
    EXACT integer arithmetic: per-token surprisal = floor(log2(N/c)) =
    bit_length(N div c) - 1 (N = corpus token count, c = token count),
    summed per document, plus the mean in centibits.  A document of
    nothing but ultra-common tokens scores low (template/boilerplate);
    one of rare tokens scores high (noise) — the standard two-sided
    quality cut, but with zero transcendentals: floor(log2(x)) computed
    as the binary-digit count of an integer is bit-identical on any
    engine, where ln/log2 doubles are only 1-ulp-accurate per libm
    (the repo's float discipline, DESIGN.md).

    Scale shape: the corpus is scanned TWICE (vocab build + score
    probe), not three times — the vocab table feeds both the 1-row
    total aggregate and the bits projection, and that lineage diamond
    planned as two independent corpus scans (no ReusedExchange across
    the partial-agg boundary; r8 audit) until the vocab was pinned
    with ``localCheckpoint``.  The checkpoint materializes only the
    distributed word-count table (bounded by vocabulary size, never
    the corpus, never the driver); the 1-row total broadcasts; the doc
    rollup is the only other exchange.
    """
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias(
            "word"
        ),
    )
    vocab = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    total = vocab.agg(F.sum("c").alias("total"))
    bits = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "word",
            (
                F.length(F.conv(F.expr("CAST(total div c AS STRING)"), 10, 2)) - 1
            )
            .cast("bigint")
            .alias("bits"),
        )
    )
    s = (
        tok.join(bits, "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("bits").alias("total_bits"))
    )
    return s.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("total_bits").cast("bigint").alias("total_bits"),
        F.expr("CAST((total_bits * 100) div n_tokens AS BIGINT)").alias(
            "mean_centibits"
        ),
    )


# --------------------------------------- vocab coverage / winnowing

_COVERAGE_KS = (100, 1000, 10000)
_WINNOW_K, _WINNOW_W = 8, 4  # k-gram chars, winnow window


@query(
    "corpus_vocab_coverage",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    v AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rnk FROM v
    ),
    n AS (SELECT sum(c) AS total, count(*) AS vocab FROM r),
    k AS (SELECT unnest([{", ".join(map(str, _COVERAGE_KS))}]) AS k)
    SELECT CAST(k.k AS INT) AS k,
           CAST(least(k.k, n.vocab) AS BIGINT) AS vocab_size_used,
           CAST((sum(r.c) * 10000) // max(n.total) AS BIGINT) AS coverage_bp
    FROM k JOIN r ON r.rnk <= k.k CROSS JOIN n
    GROUP BY k.k, n.vocab
    """,
    tags=("text", "llm", "vocab"),
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of corpus tokens (in
    integer basis points) the top-K most frequent words cover, for
    K in ``_COVERAGE_KS`` — the measurement behind tokenizer vocab sizing and
    OOV-rate budgeting.  Rank ties break on the word itself so the
    curve is deterministic cross-engine.

    Scale shape: the corpus contributes ONE token-keyed count; the
    ranking and cumulative sums run on the vocabulary table (dim-sized
    next to the corpus).  The global rank here is a single-partition
    window — fine for fixture vocabularies; at web-scale vocabularies
    (1e8+ words) replace the exact rank with a count-threshold per K
    estimated from the frequency histogram (same outputs, map-side),
    or range-partition the rank.  The corpus itself never re-shuffles
    either way.
    """
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias(
            "word"
        )
    )
    # vocab materialized once: both the ranking and the totals read it,
    # and Spark has no cross-branch CSE (the scan_cached_branches
    # lesson) — lazy, the corpus token count would execute twice
    v = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    r = v.select("c", F.row_number().over(Window.orderBy(F.col("c").desc(), "word")).alias("rnk"))
    n = v.agg(F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab"))
    ks = spark.createDataFrame([(k,) for k in _COVERAGE_KS], "k: int")
    return (
        ks.join(r, r["rnk"] <= ks["k"])
        .crossJoin(F.broadcast(n))
        .groupBy("k", "vocab")
        .agg(F.sum("c").alias("cum"), F.max("total").alias("total"))
        .select(
            F.col("k").cast("int").alias("k"),
            F.least(F.col("k").cast("bigint"), F.col("vocab")).alias("vocab_size_used"),
            F.expr("CAST((cum * 10000) div total AS BIGINT)").alias("coverage_bp"),
        )
    )


@query(
    "text_winnow_fingerprints",
    # Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): k-gram
    # rolling hashes, min per w-window, distinct selected values.
    # Output = the distinct fingerprint VALUES, so the rightmost-vs-
    # leftmost tie rule of the original (a position property) cannot
    # matter — both engines state the same set.
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             [list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  [CAST(unicode(t[i + j]) AS BIGINT)
                   FOR j IN generate_series(0, {_WINNOW_K - 1})]),
                (a, b) -> (a * 131 + b) % {_FP_MOD})
              FOR i IN generate_series(1, length(t) - {_WINNOW_K - 1})] AS hs
      FROM d WHERE length(t) >= {_WINNOW_K}
    ),
    w AS (
      SELECT doc_id,
             list_distinct([list_min(hs[j:j+{_WINNOW_W - 1}])
                            FOR j IN generate_series(1, greatest(len(hs) - {_WINNOW_W - 1}, 1))])
               AS fps
      FROM h
    )
    SELECT doc_id, unnest(fps) AS fingerprint FROM w
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS algorithm, Schleimer
    et al. SIGMOD 2003): rolling ``_WINNOW_K``-char polynomial hashes, the
    minimum of every ``_WINNOW_W``-hash window selected, distinct selected
    values emitted as (doc_id, fingerprint) rows.  Winnowing
    guarantees any shared substring of length >= k + w - 1 yields at
    least one shared fingerprint while storing ~2/(w+1) of the hash
    stream — the principled sampling layer between whole-document
    fingerprints (text_fingerprint) and full n-gram postings
    (dedup_verbatim_runs): an index over these fingerprints finds
    verbatim reuse at a w-fold storage discount.

    All arithmetic is integer mod 2^31-1 (the text_fingerprint
    polynomial), window mins are exact, and the output is a SET of
    values — the original's rightmost-min tie rule is a position
    property that cannot affect it.  Map-only: hash stream, window
    mins, and dedup all happen inside the row; no shuffle at all.
    """
    cat = Catalog(spark, sf_dir)
    t = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    # CPU-heavy map work over a byte-light scan: repartition for even
    # parallelism (the explode-amplification lever, DESIGN.md) and to
    # pin the normalized text physical so the per-element hash lambda
    # reads a column, not the regex chain.
    from ..catalog import spread_for_compute

    base = spread_for_compute(
        cat.documents.select("doc_id", t.alias("t")).where(
            F.length("t") >= _WINNOW_K
        ),
        cat.sf_dir,
        "documents",
    )
    kgram_hash = lambda i: F.aggregate(  # noqa: E731
        F.transform(
            F.sequence(F.lit(0), F.lit(_WINNOW_K - 1)),
            lambda j: F.ascii(F.substr(F.col("t"), i + j, F.lit(1))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 131 + x) % F.lit(_FP_MOD),
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.length("t") - (_WINNOW_K - 1)), kgram_hash
    )
    withh = base.select("doc_id", hs.alias("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("hs") - (_WINNOW_W - 1), F.lit(1))
            ),
            lambda j: F.array_min(F.slice(F.col("hs"), j, _WINNOW_W)),
        )
    )
    return withh.select("doc_id", F.explode(fps).alias("fingerprint"))


# ------------------------------------------------------- BPE trainer

_BPE_STEPS = 3


def _bpe_iteration_sql(k: int) -> str:
    """One unrolled BPE iteration: pair counts -> argmax rule m{k} ->
    leftmost-nonoverlap merge into w{k+1} (islands of consecutive match
    positions, odd ranks selected — provably the same positions the
    Spark fold merges)."""
    return f"""
    p{k} AS (
      SELECT (pp).l AS l, (pp).r AS r, sum(freq) AS cnt FROM (
        SELECT freq, unnest([{{'l': syms[i], 'r': syms[i+1]}}
                             FOR i IN generate_series(1, len(syms)-1)]) AS pp
        FROM w{k} WHERE len(syms) >= 2
      ) GROUP BY 1, 2
    ),
    m{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
    s{k} AS (
      SELECT word, freq,
             unnest(generate_series(1, len(syms))) AS i, unnest(syms) AS s
      FROM w{k}
    ),
    mm{k} AS (
      SELECT s.word, s.freq, s.i, s.s,
             (s.s = m.l AND lead(s.s) OVER (PARTITION BY s.word ORDER BY s.i) = m.r) AS hit
      FROM s{k} s CROSS JOIN m{k} m
    ),
    sel{k} AS (
      SELECT word, i FROM (
        SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rk
        FROM (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
              FROM mm{k} WHERE hit)
      ) WHERE rk % 2 = 1
    ),
    w{k + 1} AS (
      SELECT t.word, t.freq, list(CASE WHEN a.i IS NOT NULL THEN m.l || m.r ELSE t.s END ORDER BY t.i) AS syms
      FROM mm{k} t
      CROSS JOIN m{k} m
      LEFT JOIN sel{k} a ON a.word = t.word AND a.i = t.i
      LEFT JOIN sel{k} b ON b.word = t.word AND b.i = t.i - 1
      WHERE b.i IS NULL
      GROUP BY t.word, t.freq
      -- vocabulary fully merged before step {k}: m{k} is empty, the
      -- CROSS JOIN branch above collapses, and WITHOUT this carry the
      -- whole w-chain (and the encode oracle's final join) would go
      -- empty while the Spark trainer breaks and KEEPS the last
      -- vocabulary — carry w{k} through unchanged instead
      UNION ALL
      SELECT word, freq, syms FROM w{k}
      WHERE NOT EXISTS (SELECT 1 FROM m{k})
    )"""


_BPE_ORACLE = (
    r"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    w1 AS (
      SELECT word, count(*) AS freq,
             [word[i] FOR i IN generate_series(1, length(word))] AS syms
      FROM tok GROUP BY word
    ),"""
    + ",".join(_bpe_iteration_sql(k) for k in range(1, _BPE_STEPS + 1))
    + f"""
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, _BPE_STEPS + 1)
      )}
    ) ORDER BY step
    """
)




#: Vocabulary-row bound for running the BPE merge loop driver-side.
#: 2^17 words × ~50 bytes of (word, freq, syms) is a few MB — the same
#: bounded-collect tier as _CC_DRIVER_EDGE_BOUND and the PageRank rank
#: table.  Below it the per-step dataflow (pair agg + argmax collect +
#: vocabulary checkpoint, ~4 Spark jobs and ~0.4 s of driver stall per
#: step measured at r14) collapses into one collect and pure-Python
#: integer folds; above it (real web-corpus vocabularies) the
#: distributed loop runs unchanged.  Tests monkeypatch to -1 to force
#: the distributed route.
_BPE_DRIVER_VOCAB_BOUND = 1 << 17


def _bpe_merge_driver(vocab, steps: int):
    """Driver twin of the `_bpe_train` dataflow loop over a collected
    (word, freq, syms) list: per step, frequency-weighted adjacent-pair
    counts -> argmax (cnt DESC, l, r — Python tuple min on (-cnt, l, r);
    Spark's UTF8 byte ordering equals Python's code-point ordering, so
    the lexicographic tie-break is engine-identical) -> leftmost-
    nonoverlap fold (acc tail == l and next == r merges; the merged
    symbol cannot re-match l, exactly the dataflow fold's semantics).
    All arithmetic is exact ints; returns (rules, merged vocab)."""
    rules = []
    for step in range(1, steps + 1):
        cnt: dict = {}
        for _, freq, syms in vocab:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                cnt[k] = cnt.get(k, 0) + freq
        if not cnt:
            break
        a, b = min(cnt, key=lambda k: (-cnt[k], k))
        rules.append((step, a, b, a + b, cnt[(a, b)]))
        merged = []
        for word, freq, syms in vocab:
            acc: list = []
            for x in syms:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            merged.append((word, freq, acc))
        vocab = merged
    return rules, vocab


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (rules, w_final) where rules
    is the (step, l, r, merged, count) list and w_final the vocabulary
    table (word, freq, syms) AFTER all merges — the word-level encoder
    table vocab_bpe_encode broadcasts.  See vocab_bpe_merges for the
    algorithm and cross-engine merge-equivalence argument.

    Routing (r14): the corpus-sized work — the word-frequency
    aggregation — always runs distributed; when the resulting
    vocabulary is small enough to collect
    (:data:`_BPE_DRIVER_VOCAB_BOUND`, router-counted on the
    checkpoint), the merge iterations run driver-side in exact Python
    ints (:func:`_bpe_merge_driver`) instead of paying ~4 Spark jobs
    per step to iterate a dim-sized table — the same bounded-collect
    router as `_connected_components`.  Route parity is pinned by
    tests (identical rules and final vocabulary)."""
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias(
            "word"
        )
    )
    symbols = F.transform(
        F.sequence(F.lit(1), F.length("word")), lambda i: F.substr(F.col("word"), i, F.lit(1))
    )
    w, m = checkpoint_counted(
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", symbols.alias("syms")),
        n=F.count(F.lit(1)),
    )
    if m["n"] <= _BPE_DRIVER_VOCAB_BOUND:
        # bounded: router-counted <= _BPE_DRIVER_VOCAB_BOUND vocab rows
        vocab = [(r["word"], int(r["freq"]), list(r["syms"])) for r in w.collect()]
        rules, vocab = _bpe_merge_driver(vocab, _BPE_STEPS)
        w_final = spark.createDataFrame(
            vocab, "word string, freq bigint, syms array<string>"
        )
        return rules, w_final
    rules = []
    for step in range(1, _BPE_STEPS + 1):
        pairs = w.where(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        top_rows = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()  # bounded: exactly one merge-winner row per step
        )
        if not top_rows:  # vocabulary fully merged before N steps —
            break         # the oracle's m{k} CTE is empty then too
        top = top_rows[0]
        a, b, cnt = top["l"], top["r"], int(top["cnt"])
        rules.append((step, a, b, a + b, cnt))
        merge = F.aggregate(
            "syms",
            F.expr("CAST(array() AS ARRAY<STRING>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        w = w.select("word", "freq", merge.alias("syms")).localCheckpoint()
    return rules, w

@query("vocab_bpe_merges", oracle=_BPE_ORACLE, tags=("text", "llm", "bpe"))
def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary trainer, bounded to ``_BPE_STEPS`` merge steps: the actual
    byte-pair-encoding training loop (Sennrich et al., ACL 2016) run
    as a Spark program.  Each step counts adjacent symbol pairs across
    the frequency-weighted word vocabulary, picks the most frequent
    pair (ties broken lexicographically so both engines pick the same
    rule), and merges it leftmost-nonoverlapping into every word.
    Output = the merge-rule table (step, pair, merged symbol, count) —
    the artifact a tokenizer ships.

    Merge equivalence across engines: Spark folds each word's symbol
    array left-to-right, merging when the accumulator tail is `l` and
    the next symbol is `r` — after a merge the tail becomes `lr`,
    which cannot re-match `l`, so overlapping runs merge at odd
    positions exactly like the oracle's islands-odd-ranks selection.

    Scale shape: the corpus is touched ONCE (the word-frequency
    aggregation); every iteration runs on the vocabulary table
    (dim-sized, checkpointed per step so the loop re-reads data, not
    lineage), and the argmax is a 1-row collect per step — the same
    bounded-driver-state tier as PageRank's rank table and k-means'
    centroids.  A production trainer runs more steps of exactly this
    loop; cost is O(steps · vocab), independent of corpus size after
    the first aggregation.
    """
    rules, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        rules, "step: int, left_sym: string, right_sym: string, merged: string, pair_count: bigint"
    )


# ------------------------------------------- Gopher-style quality rules

#: Stopword set for the Gopher "has common English words" rule
#: (Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1).
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: cheap language-gate list for the funnel report: high-frequency
#: English function words that DO occur in the synthetic corpus
#: (the Gopher eight mostly don't — measured 0-1 distinct hits/doc).
_FUNNEL_FUNCTION_WORDS = ("the", "a", "and", "of", "to", "in", "is", "on")


@query(
    "text_gopher_quality_rules",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
             string_split(text, chr(10)) AS ls,
             text
      FROM documents
    ),
    c AS (
      SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT)
          AS word_chars,
        CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
          AS n_alpha_words,
        CAST(length(text) - length(replace(text, '#', ''))
             + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
          AS n_symbols,
        CAST(len(ls) AS BIGINT) AS n_lines,
        CAST(len(list_filter(ls, x -> starts_with(ltrim(x), '- ')
                                   OR starts_with(ltrim(x), '* ')
                                   OR starts_with(ltrim(x), '• '))) AS BIGINT)
          AS n_bullet_lines,
        CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '...'))) AS BIGINT)
          AS n_ellipsis_lines,
        CAST(len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))),
                                {list(_GOPHER_STOPWORDS)})) AS BIGINT)
          AS n_stopwords
      FROM w
    )
    SELECT doc_id, n_words, word_chars, n_alpha_words, n_symbols, n_lines,
           n_bullet_lines, n_ellipsis_lines, n_stopwords,
           (CAST(n_words BETWEEN 50 AND 100000 AS INT)
            + CAST(3 * n_words <= word_chars AND word_chars <= 10 * n_words AS INT)
            + CAST(5 * n_alpha_words >= 4 * n_words AS INT)
            + CAST(10 * n_symbols <= n_words AS INT)
            + CAST(10 * n_bullet_lines <= 9 * n_lines AS INT)
            + CAST(10 * n_ellipsis_lines <= 3 * n_lines AS INT)
            + CAST(n_stopwords >= 2 AS INT)) AS n_rules_passed,
           (n_words BETWEEN 50 AND 100000
            AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
            AND 5 * n_alpha_words >= 4 * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_bullet_lines <= 9 * n_lines
            AND 10 * n_ellipsis_lines <= 3 * n_lines
            AND n_stopwords >= 2) AS keep
    FROM c
    """,
    tags=("text", "quality", "llm"),
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    appendix A1.1) as one declarative pass — the document-level filter a
    production pretraining pipeline runs before any fuzzy dedup:

    - word count in [50, 100 000];
    - mean word length in [3, 10] characters;
    - ≥ 80 % of words contain at least one alphabetic character;
    - symbol-to-word ratio ('#' characters + '...' occurrences) ≤ 0.1;
    - ≤ 90 % of lines start with a bullet ('- ', '* ', '• ');
    - ≤ 30 % of lines end with an ellipsis;
    - at least 2 of the 8 common English stopwords appear.

    Every ratio is stated as an exact integer cross-multiplication
    (10·symbols ≤ words, 5·alpha ≥ 4·words, ...), so the rule verdicts
    are bit-identical cross-engine — no float thresholds anywhere.
    Scale shape: map-only over the corpus (tokenize once, in-row
    aggregates), no shuffle at all; at 100 TB this runs at scan speed
    and composes with pipeline_corpus_curation's keep-set semantics.
    """
    cat = Catalog(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    ls = F.split(F.col("text"), "\n")
    base = cat.documents.select("doc_id", ws.alias("ws"), ls.alias("ls"), "text")
    n_words = F.size("ws").cast("long")
    word_chars = F.aggregate(
        F.col("ws"), F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    n_alpha = F.size(F.filter("ws", lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_symbols = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
        + F.expr("(length(text) - length(replace(text, '...', ''))) div 3")
    ).cast("long")
    n_lines = F.size("ls").cast("long")
    bullet = lambda l: (  # noqa: E731
        F.ltrim(l).startswith("- ") | F.ltrim(l).startswith("* ") | F.ltrim(l).startswith("• ")
    )
    n_bullets = F.size(F.filter("ls", bullet)).cast("long")
    n_ell = F.size(F.filter("ls", lambda l: F.rtrim(l).endswith("..."))).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform("ws", lambda w: F.lower(w))),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    ).cast("long")
    c = base.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_symbols.alias("n_symbols"),
        n_lines.alias("n_lines"),
        n_bullets.alias("n_bullet_lines"),
        n_ell.alias("n_ellipsis_lines"),
        n_stop.alias("n_stopwords"),
    )
    rules = [
        F.col("n_words").between(50, 100000),
        (3 * F.col("n_words") <= F.col("word_chars"))
        & (F.col("word_chars") <= 10 * F.col("n_words")),
        5 * F.col("n_alpha_words") >= 4 * F.col("n_words"),
        10 * F.col("n_symbols") <= F.col("n_words"),
        10 * F.col("n_bullet_lines") <= 9 * F.col("n_lines"),
        10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines"),
        F.col("n_stopwords") >= 2,
    ]
    n_passed = sum((r.cast("int") for r in rules), F.lit(0))
    keep = rules[0]
    for r in rules[1:]:
        keep = keep & r
    return c.select(
        "doc_id",
        "n_words",
        "word_chars",
        "n_alpha_words",
        "n_symbols",
        "n_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        "n_stopwords",
        n_passed.alias("n_rules_passed"),
        keep.alias("keep"),
    )


_BPE_ENCODE_ORACLE = (
    r"""
    WITH dtok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    tok AS (SELECT word FROM dtok),
    w1 AS (
      SELECT word, count(*) AS freq,
             [word[i] FOR i IN generate_series(1, length(word))] AS syms
      FROM tok GROUP BY word
    ),"""
    + ",".join(_bpe_iteration_sql(k) for k in range(1, _BPE_STEPS + 1))
    + f"""
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens
    FROM dtok d JOIN w{_BPE_STEPS + 1} w USING (word)
    GROUP BY d.doc_id
    """
)


@query("vocab_bpe_encode", oracle=_BPE_ENCODE_ORACLE, tags=("text", "llm", "bpe"))
def vocab_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the TRAINED BPE vocabulary — the apply
    step that closes the tokenizer loop vocab_bpe_merges opens: after
    the ``_BPE_STEPS`` merge rules, every distinct word's symbol sequence IS its
    encoding, so per-document token counts under the trained tokenizer
    are one dictionary join away.  Output: (doc_id, n_words,
    n_bpe_tokens) — the real token-budget number (vs text_token_count's
    regex estimate), and n_bpe_tokens/n_words is the compression the
    merges bought.

    Scale shape: training cost is O(steps · vocab) (see _bpe_train);
    the APPLY is one broadcast join of the corpus token stream against
    the vocabulary-sized (word → len(syms)) table + a doc_id-keyed
    count — the corpus is touched once and never shuffles on anything
    wider than doc_id.  The oracle replays the identical merge
    iterations as unrolled CTEs and joins the final w{N+1} table the
    same way.
    """
    cat = Catalog(spark, sf_dir)
    _, w_final = _bpe_train(spark, sf_dir)
    enc = w_final.select("word", F.size("syms").alias("n_syms"))
    dtok = cat.documents.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias(
            "word"
        ),
    )
    return (
        dtok.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )


@query(
    "text_perplexity_bigram",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
      FROM tok WHERE len(t) >= 2
    ),
    cb AS (
      SELECT gram, count(*) AS c12, split_part(gram, ' ', 1) AS w1
      FROM g GROUP BY gram
    ),
    cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY w1),
    bt AS (
      SELECT gram, CAST(length(bin(c1 // c12)) - 1 AS BIGINT) AS bits
      FROM cb JOIN cu USING (w1)
    )
    SELECT doc_id,
           CAST(sum(bits) AS BIGINT) AS bigram_bits,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           (100 * CAST(sum(bits) AS BIGINT)) // count(*) AS mean_centibits
    FROM g JOIN bt USING (gram)
    GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy quality score (the CCNet-style
    perplexity cut, Wenzek et al. 2020, stated transcendental-free):
    train conditional bigram counts on the corpus itself, then score
    each document as the sum of per-bigram surprisal
    floor(log2(c(w1)/c(w1 w2))) bits — computed as the binary digit
    count of the integer quotient (floor(log2(x div y)) ==
    floor(log2(x/y)); DESIGN.md float discipline), so the score is
    bit-identical on any engine.  Low mean-centibits = predictable
    boilerplate, high = noise — the same two-sided cut as
    ``text_surprisal_bits`` but conditioned on the preceding token.

    No smoothing is needed: scoring the training corpus itself means
    every scored bigram has c12 >= 1 by construction.

    Scale shape: bigrams are formed IN-ROW (array transform over the
    token list — no window pass, no positional explode+lag shuffle);
    the exploded gram stream shuffles once on the gram key, where both
    the count aggregate and the score join consume it (Spark reuses
    the exchange — ``text_surprisal_bits``'s topology); c(w1) derives
    from the c12 table by a second tiny aggregate, never from a
    corpus re-scan; the doc rollup is the only other corpus-scale
    exchange.  Docs with < 2 tokens have no bigrams and are absent
    from the output by definition.
    """
    cat = Catalog(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    grams = (
        cat.documents.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                )
            ).alias("gram"),
        )
    )
    c12 = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c12"))
    # c(w1) = sum over w2 of c(w1,w2), computed as a WINDOW over the
    # count table rather than a groupBy + self-join: the join form made
    # the c12 subtree a lineage diamond that Spark planned as two extra
    # corpus scans (no ReusedExchange across a partial-agg boundary);
    # the window keeps it one linear subtree on distinct-bigram-sized
    # data.
    c1 = F.sum("c12").over(Window.partitionBy(F.substring_index("gram", " ", 1)))
    bits = c12.withColumn("c1", c1).select(
        "gram",
        (
            F.length(
                F.conv(F.expr("CAST(c1 div c12 AS STRING)"), 10, 2)
            ) - 1
        ).cast("bigint").alias("bits"),
    )
    return (
        grams.join(bits, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("bits").alias("bigram_bits"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "bigram_bits",
            "n_bigrams",
            F.expr("(100 * bigram_bits) div n_bigrams").alias("mean_centibits"),
        )
    )


@query(
    "corpus_quality_filter_funnel",
    oracle=r"""
    WITH c AS (
      SELECT source, n_chars,
             list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT source,
             (n_chars BETWEEN 100 AND 20000) AS g1,
             (len(ws) BETWEEN 20 AND 50000
              AND 3 * len(ws) <= coalesce(CAST(list_sum(
                    list_transform(ws, w -> length(w))) AS BIGINT), 0)
              AND coalesce(CAST(list_sum(
                    list_transform(ws, w -> length(w))) AS BIGINT), 0)
                  <= 10 * len(ws)) AS g2,
             (len(list_intersect(list_distinct(ws),
                  ['the','a','and','of','to','in','is','on'])) >= 2) AS g3,
             (2 * len(list_distinct(ws)) >= len(ws)) AS g4
      FROM c
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
           CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shape,
           CAST(sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang,
           CAST(sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           (10000 * CAST(sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
                         AS BIGINT)) // count(*) AS retention_bp
    FROM m
    GROUP BY source
    """,
    tags=("text", "llm", "quality", "pipeline"),
)
def corpus_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survivor funnel through an ordered C4-style gate
    sequence — the report a curation pipeline dashboards to see WHERE
    documents die, not just how many (complements
    ``text_gopher_quality_rules``, which emits per-doc verdicts):

    1. length gate: n_chars in [100, 20000];
    2. shape gate: 20-50k words AND mean word length in [3, 10];
    3. language gate: >= 2 distinct common-English function words
       ('the', 'a', 'and', ...) — the cheap n-gram-free language cut;
    4. repetition gate: type-token ratio >= 50 % (2 * distinct words
       >= total words) — templated/boilerplate text dies here.

    The thresholds are tuned to discriminate on the synthetic corpus
    (each stage measurably kills documents at sf0.01; a funnel whose
    stages all pass or all fail reports nothing).

    Counts are cumulative (a doc must pass every earlier gate to be
    counted at a later one), ending in ``retention_bp`` = integer
    basis points kept.  Every ratio is an exact integer
    cross-multiplication and the retention is integer ``div`` — no
    float thresholds anywhere, so the funnel is bit-identical
    cross-engine.

    Scale shape: map-only predicate evaluation (tokenize once in-row,
    no explode), then one tiny groupBy(source) hash aggregate with
    map-side partials — the whole report is one corpus scan at scan
    speed, the same shape as ``text_gopher_quality_rules``.
    """
    cat = Catalog(spark, sf_dir)
    text = F.lower(F.coalesce(F.col("text"), F.lit("")))
    ws = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    base = cat.documents.select("source", "n_chars", ws.alias("ws"))
    n_words = F.size("ws").cast("long")
    word_chars = F.aggregate(
        F.col("ws"), F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    n_func = F.size(
        F.array_intersect(
            F.array_distinct(F.col("ws")),
            F.array(*[F.lit(s) for s in _FUNNEL_FUNCTION_WORDS]),
        )
    ).cast("long")
    n_distinct = F.size(F.array_distinct("ws")).cast("long")
    g1 = F.col("n_chars").between(100, 20000)
    g2 = (
        n_words.between(20, 50000)
        & (3 * n_words <= word_chars)
        & (word_chars <= 10 * n_words)
    )
    g3 = n_func >= 2
    g4 = 2 * n_distinct >= n_words
    one = F.lit(1)
    return base.groupBy("source").agg(
        F.count(one).alias("n_total"),
        F.sum(F.when(g1, one).otherwise(0)).alias("n_len"),
        F.sum(F.when(g1 & g2, one).otherwise(0)).alias("n_shape"),
        F.sum(F.when(g1 & g2 & g3, one).otherwise(0)).alias("n_lang"),
        F.sum(F.when(g1 & g2 & g3 & g4, one).otherwise(0)).alias("n_kept"),
    ).select(
        "source",
        "n_total",
        "n_len",
        "n_shape",
        "n_lang",
        "n_kept",
        F.expr("(10000 * n_kept) div n_total").alias("retention_bp"),
    )


#: Word-span width for C4-style span dedup.  5 words gives the synthetic
#: corpus a ~6% repeated-span rate (meaningful, not degenerate); C4 used
#: three-sentence spans — the granularity knob, not the algorithm.
_SPAN_W = 5


@query(
    "text_span_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(w[(i*{_SPAN_W}+1):((i+1)*{_SPAN_W})], ' ')
               AS span_text
      FROM toks,
           UNNEST(range(CAST(ceil(len(w)/{_SPAN_W}.0) AS BIGINT))) AS t(i)
    ),
    ranked AS (
      SELECT doc_id, span_idx, span_text,
             row_number() OVER (PARTITION BY span_text
                                ORDER BY doc_id, span_idx) AS rn
      FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(span_text, ' ' ORDER BY span_idx)
                      FILTER (WHERE rn = 1), '') AS cleaned_text
    FROM ranked GROUP BY doc_id
    """,
    tags=("text", "dedup", "llm"),
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup (Raffel et al., 2020 removed any
    three-sentence span occurring more than once in the corpus): split
    each document into consecutive non-overlapping ``_SPAN_W``-word
    spans, keep only the globally FIRST occurrence of each distinct
    span text (ordered by (doc_id, span_idx) — deterministic, not
    "whichever task won"), and rebuild every document from its
    surviving spans in order.

    Plan shape (r10 de-skew — the r9 verdict's scale-killer fix): the
    first-occurrence pick is ``groupBy(span_text).agg(min(struct(
    doc_id, span_idx)))``, NOT a ``row_number`` window.  A window
    admits no map-side partial aggregation, so a mega-hot boilerplate
    span (10^8 repeats at C4 scale) shuffles EVERY occurrence into one
    task and sorts there; the aggregate form reduces each hot key to
    one row per map task before the exchange, bounding the hot key at
    O(tasks).  The winner rows ARE the kept spans (no join-back against
    the span multiset), so the span_text exchange carries ~|distinct
    spans| rows instead of the full corpus span multiset.  Per-doc
    totals come from a second map-only pass over ``documents``
    (``ceil(len/W)`` — no explode, no exchange on that branch), then
    one doc_id-keyed join stitches totals to the reassembled survivors.
    At 100 TB the aggregate key becomes sha2(span_text) so the exchange
    carries 32-byte keys instead of span bodies (identical keep-set;
    literal text here keeps the oracle comparison byte-transparent).
    """
    cat = Catalog(spark, sf_dir)
    w = F.split("text", " ")
    n_spans = F.ceil(F.size(w) / _SPAN_W).cast("int")
    spans = cat.documents.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(F.slice(w, i * _SPAN_W + 1, _SPAN_W), " "),
            )
        ).alias("span_idx", "span_text"),
    )
    # min(struct) == ORDER BY (doc_id, span_idx) LIMIT 1 per span —
    # deterministic global-first, partially aggregable (layout- and
    # skew-invariant by construction; pinned in tests/test_plans.py).
    winners = (
        spans.groupBy("span_text")
        .agg(F.min(F.struct("doc_id", "span_idx")).alias("first_at"))
        .select(
            F.col("first_at.doc_id").alias("doc_id"),
            F.col("first_at.span_idx").alias("span_idx"),
            "span_text",
        )
    )
    kept = winners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span_text"))),
                lambda s: s.span_text,
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = cat.documents.select(
        "doc_id", n_spans.cast("bigint").alias("n_spans")
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


@query(
    "corpus_dsir_importance",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    v AS (
      SELECT word, count(*) AS c_r,
             count(*) FILTER (source = 'src0') AS c_t
      FROM tok GROUP BY word
    ),
    n AS (
      SELECT sum(c_r) AS n_r, sum(c_t) AS n_t, count(*) AS vsz FROM v
    ),
    lam AS (
      SELECT word,
             (CAST(length(bin(CAST((n.n_r + n.vsz) // (v.c_r + 1) AS BIGINT)))
                     - 1 AS BIGINT)
              - CAST(length(bin(CAST((n.n_t + n.vsz) // (v.c_t + 1) AS BIGINT)))
                     - 1 AS BIGINT)) AS lambda_bits
      FROM v, n
    )
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(lam.lambda_bits) AS BIGINT) AS score_bits,
           CAST((sum(lam.lambda_bits) * 100) // count(*) AS BIGINT)
             AS mean_centibits
    FROM tok JOIN lam USING (word)
    GROUP BY tok.doc_id
    """,
    tags=("text", "llm", "sampling"),
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight per document (Xie et al., 2023 —
    Data Selection via Importance Resampling: weight each raw document
    by log p_target(x)/p_raw(x) under cheap bag-of-ngram LMs, then
    resample by weight): target distribution = the ``source = 'src0'``
    slice, raw = the whole corpus, model = add-1-smoothed unigram LM.

    EXACT integer arithmetic end-to-end (the repo's float discipline):
    per-word log-ratio is computed in floor-log2 bits,
    ``lambda(w) = bits_raw(w) - bits_target(w)`` with
    ``bits_x(w) = floor(log2((N_x + V) div (c_x(w) + 1)))`` via the
    binary-digit-count idiom (same as :func:`text_surprisal_bits` —
    zero transcendentals, bit-identical on any engine).  Positive
    score = the document looks more like the target slice than like
    the raw average.  Resampling by these weights is downstream
    composition (``corpus_temperature_sampling`` is the registered
    sampling surface).

    Scale shape (the surprisal topology, one extra counter): ONE vocab
    pass computes raw and target counts together (conditional sum, no
    second scan of the target slice), localCheckpoint pins the
    vocab-bounded count table against the lineage diamond, the 1-row
    totals broadcast, and the score probe is one word-keyed join plus
    one doc rollup.  Nothing downstream of the vocab table ever
    rescans the corpus.
    """
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias(
            "word"
        ),
    )
    vocab = (
        tok.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("c_r"),
            F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("c_t"),
        )
        .localCheckpoint()
    )
    totals = vocab.agg(
        F.sum("c_r").alias("n_r"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("vsz"),
    )

    def _bits(total_col: str, c_col: str):
        return (
            F.length(
                F.conv(
                    F.expr(f"CAST(({total_col} + vsz) div ({c_col} + 1) AS STRING)"),
                    10,
                    2,
                )
            )
            - 1
        ).cast("bigint")

    lam = vocab.crossJoin(F.broadcast(totals)).select(
        "word", (_bits("n_r", "c_r") - _bits("n_t", "c_t")).alias("lambda_bits")
    )
    return (
        tok.join(lam, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lambda_bits").cast("bigint").alias("score_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "score_bits",
            F.expr("CAST((score_bits * 100) div n_tokens AS BIGINT)").alias(
                "mean_centibits"
            ),
        )
    )
