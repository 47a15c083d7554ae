"""Text-analysis family: quality scores, language-ID (heuristic and
Naive Bayes), token counts, fingerprinting/winnowing, PII redaction,
TF-IDF, PMI, inverted index, decontamination, repetition/outlier filters,
plus the deterministic sampling queries (stratified, temperature,
weighted, hash).

Split from plans/pipeline.py (round 11) — registration names, oracles,
and SQL byte-identical to the pre-split module.
"""


from __future__ import annotations

from pyspark.sql import functions as F

from bdt_spark.plans.registry import isum, query, sql_query
from bdt_spark.sources.io import load_fixture_tables
from bdt_spark.plans._pipecommon import _shingle_stream, _shingles, _word_stream


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"


def _quality_sql(dialect: str) -> str:
    spark = dialect == "spark"
    if spark:
        nwords = "size(split(text, ' '))"
        nstop = (
            f"size(filter(split(lower(text), ' '), w -> w IN {_STOPWORDS}))"
        )
        nalpha = "length(regexp_replace(text, '[^A-Za-z]', ''))"
        npunct = "length(regexp_replace(text, '[^.,;:!?]', ''))"
    else:
        nwords = "len(string_split(text, ' '))"
        nstop = (
            f"len(list_filter(string_split(lower(text), ' '),"
            f" w -> w IN {_STOPWORDS}))"
        )
        nalpha = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
        npunct = "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))"
    return f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST({nwords} AS BIGINT) AS n_words,
           ROUND(length(text) / CAST({nwords} AS DOUBLE), 6) AS avg_word_len,
           ROUND({nstop} / CAST({nwords} AS DOUBLE), 6) AS stopword_ratio,
           ROUND({nalpha} / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
           ROUND({npunct} / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
           (length(text) >= 50 AND {nstop} / CAST({nwords} AS DOUBLE) >= 0.01)
             AS passes_quality
    FROM documents
    ORDER BY doc_id
    """


sql_query(
    "text_quality_scores",
    _quality_sql("spark"),
    oracle=_quality_sql("duck"),
    tags=("text", "quality"),
    doc="Per-document quality features (length, word count, stopword/alpha/"
    "punct ratios) + a boolean gate — the C4-style quality filter shape. "
    "Pure map-side, no shuffle.",
)


def _langid_sql(dialect: str) -> str:
    spark = dialect == "spark"
    # Character-n-gram-frequency heuristic: score = count of language-marker
    # substrings. Markers chosen per-language; argmax with deterministic
    # tie-break on marker order.
    markers = {
        "en": ["the ", " and ", "data"],
        "es": ["spark", "row", "valor"],
        "de": ["batch", "join", "und "],
        "fr": ["table", "merge", "les "],
        "zh": ["window", "vector", "hash"],
    }

    def score(lang: str) -> str:
        terms = []
        for m in markers[lang]:
            esc = m.replace("'", "''")
            if spark:
                terms.append(
                    f"(size(split(lower(text), '{esc}')) - 1)"
                )
            else:
                terms.append(
                    f"(len(string_split(lower(text), '{esc}')) - 1)"
                )
        return " + ".join(terms)

    scores = ",\n           ".join(
        f"({score(lang)}) AS sc_{lang}" for lang in markers
    )
    langs = list(markers)
    greatest = ", ".join(f"sc_{lang}" for lang in langs)
    case = " ".join(
        f"WHEN GREATEST({greatest}) = sc_{lang} THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
           {scores}
      FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE {case} ELSE 'und' END AS predicted_lang
    FROM scored
    ORDER BY doc_id
    """


sql_query(
    "text_langid_heuristic",
    _langid_sql("spark"),
    oracle=_langid_sql("duck"),
    tags=("text", "langid"),
    doc="N-gram-marker language-ID heuristic (argmax of marker-substring "
    "counts, first-wins tie-break). Map-side only.",
)


def _token_count_sql(dialect: str) -> str:
    spark = dialect == "spark"
    if spark:
        ws = "size(split(text, ' +'))"
        bpe = "size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0))"
    else:
        ws = "len(string_split_regex(text, ' +'))"
        bpe = "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))"
    return f"""
    SELECT source,
           COUNT(*) AS n_docs,
           {isum(ws, 'ws_tokens')},
           {isum(bpe, 'bpe_ish_tokens')},
           {isum('length(text)', 'total_chars')}
    FROM documents
    GROUP BY source
    ORDER BY source
    """


sql_query(
    "text_token_counts",
    _token_count_sql("spark"),
    oracle=_token_count_sql("duck"),
    tags=("text", "tokens"),
    doc="Corpus token accounting per source: whitespace tokens and a BPE-ish "
    "regex token count (letter-runs / digit-runs / single symbols).",
)


def _fingerprint_sql(dialect: str) -> str:
    spark = dialect == "spark"
    shingles = _shingles(dialect)
    if spark:
        norm = "regexp_replace(lower(text), ' +', ' ')"
        winnow = "array_min(transform(shingles, s -> md5(s)))"
    else:
        norm = "regexp_replace(lower(text), ' +', ' ', 'g')"
        winnow = "list_min(list_transform(shingles, s -> md5(s)))"
    return f"""
    WITH sh AS (
      SELECT doc_id, md5({norm}) AS content_hash, {shingles} AS shingles
      FROM documents
    )
    SELECT doc_id, content_hash, {winnow} AS min_shingle_fp
    FROM sh
    ORDER BY doc_id
    """


sql_query(
    "text_fingerprint",
    _fingerprint_sql("spark"),
    oracle=_fingerprint_sql("duck"),
    tags=("text", "fingerprint"),
    doc="Document fingerprints: md5 of whitespace-normalized text plus a "
    "winnowing-style min-shingle-hash fingerprint.",
)


sql_query(
    "sample_global_shuffle",
    """
    SELECT doc_id, lang,
           md5(concat('epoch7#', CAST(doc_id AS STRING))) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    LIMIT 100
    """,
    oracle="""
    SELECT doc_id, lang,
           md5('epoch7#' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    LIMIT 100
    """,
    tags=("sampling", "shuffle", "pipeline"),
    doc="Deterministic global training-order shuffle: sort by "
    "md5(epoch_seed # doc_id). Reproducible on any engine/cluster/retry "
    "(rand() is not), reshuffled per epoch by changing the seed; at scale "
    "this is a single range-partitioned sort producing shard files in "
    "epoch order.",
)


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting (pipeline staple: stable across runs,
# engines, and cluster sizes — unlike TABLESAMPLE/rand())
# ---------------------------------------------------------------------------

sql_query(
    "sample_deterministic_hash",
    """
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE
               WHEN CONV(SUBSTRING(MD5(CAST(doc_id AS STRING)), 1, 4), 16, 10)
                    % 100 < 80 THEN 'train'
               WHEN CONV(SUBSTRING(MD5(CAST(doc_id AS STRING)), 1, 4), 16, 10)
                    % 100 < 90 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents) t
    GROUP BY split
    ORDER BY split
    """,
    oracle="""
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE
               WHEN CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4)
                         AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4)
                         AS BIGINT) % 100 < 90 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents) t
    GROUP BY split
    ORDER BY split
    """,
    tags=("sampling", "split", "pipeline"),
    doc="Deterministic 80/10/10 train/valid/test split via md5-bucket "
    "hashing of the stable key — reproducible on any engine, any cluster "
    "size, any run (TABLESAMPLE/rand() are not). Map-side only.",
)


# ---------------------------------------------------------------------------
# round-2 pipeline depth: stratified sampling, PII redaction, top-k terms,
# sequence packing, embedding centroids
# ---------------------------------------------------------------------------


def _stratified_sql(dialect: str) -> str:
    key = (
        "md5(CAST(c_custkey AS STRING))"
        if dialect == "spark"
        else "md5(CAST(c_custkey AS VARCHAR))"
    )
    return f"""
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY {key}) AS rk
      FROM customer
    )
    SELECT c_mktsegment, rk, c_custkey
    FROM ranked WHERE rk <= 20
    ORDER BY c_mktsegment, rk
    """


sql_query(
    "sample_stratified_exact",
    _stratified_sql("spark"),
    oracle=_stratified_sql("duck"),
    tags=("sampling", "stratified"),
    doc="Exact-count stratified sample: 20 rows per class, selected by "
    "md5-hash order — deterministic on any cluster/partitioning, no "
    "driver-side randomness. At 100 TB: one window shuffle on the strata "
    "key; for heavy strata swap row_number for a per-stratum hash "
    "threshold (no sort) at the cost of approximate counts.",
)


def _pii_sql(dialect: str) -> str:
    spark = dialect == "spark"
    synth = (
        "concat(text, ' contact user', CAST(doc_id AS STRING),"
        " '@example.com or +1-555-01', CAST(doc_id % 90 + 10 AS STRING))"
        if spark
        else "concat(text, ' contact user', CAST(doc_id AS VARCHAR),"
        " '@example.com or +1-555-01', CAST(doc_id % 90 + 10 AS VARCHAR))"
    )
    # character classes only — no backslashes, since Spark SQL string
    # literals process backslash escapes but DuckDB literals do not
    email = "[a-z0-9]+@[a-z]+[.][a-z]+"
    phone = "[+]?[0-9][0-9-]{7,}"
    if spark:
        redact = (
            f"regexp_replace(regexp_replace(raw, '{email}', '<EMAIL>'),"
            f" '{phone}', '<PHONE>')"
        )
        n_email = f"size(regexp_extract_all(raw, '{email}', 0))"
        n_phone = f"size(regexp_extract_all(raw, '{phone}', 0))"
    else:
        redact = (
            f"regexp_replace(regexp_replace(raw, '{email}', '<EMAIL>', 'g'),"
            f" '{phone}', '<PHONE>', 'g')"
        )
        n_email = f"len(regexp_extract_all(raw, '{email}'))"
        n_phone = f"len(regexp_extract_all(raw, '{phone}'))"
    return f"""
    WITH synth AS (
      SELECT doc_id, {synth} AS raw FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           CAST({n_email} AS INT) AS n_emails,
           CAST({n_phone} AS INT) AS n_phones,
           md5({redact}) AS redacted_md5
    FROM synth
    ORDER BY doc_id
    """


sql_query(
    "text_pii_redaction",
    _pii_sql("spark"),
    oracle=_pii_sql("duck"),
    tags=("text", "pii", "redaction"),
    doc="PII scrubbing pass: email + phone regex redaction with match "
    "counts (fixture text is digit-free, so deterministic doc_id-derived "
    "contact strings are appended first). Pure regexp_replace — "
    "whole-stage codegen, no UDF.",
)


def _lang_temperature_sql(dialect: str) -> str:
    """Temperature-based language rebalancing (the mC4/XLM-R scheme):
    sampling weight per lang = count^alpha / sum(count^alpha), alpha<1
    upweights low-resource languages. Allocation uses largest-remainder
    rounding so the per-lang quotas sum exactly to the budget; the docs
    actually taken are the md5-smallest per lang — deterministic on any
    engine and any partitioning."""
    alpha = 0.5
    budget = 1000
    md5_id = (
        "md5(CAST(doc_id AS STRING))"
        if dialect == "spark"
        else "md5(CAST(doc_id AS VARCHAR))"
    )
    # r16 (guide §2.4), Spark side only: the scalar subquery
    # `(SELECT SUM(base_take) FROM quota)` re-expands the inlined
    # quota -> weights -> counts chain, i.e. a THIRD documents scan in
    # the executed plan; SUM(base_take) OVER () derives the identical
    # integer total from the alloc pass's own rows (same set, exact
    # BIGINT arithmetic). Oracle text keeps the declarative scalar
    # form. Executed-plan documents scans: 3 -> 2 (the remaining two —
    # the counts aggregate and the per-lang ranking window — consume
    # the corpus differently and cannot share a scan without a
    # corpus-sized cache the tiny allocation table does not justify).
    remaining = (
        f"{budget} - SUM(base_take) OVER ()"
        if dialect == "spark"
        else f"{budget} - (SELECT SUM(base_take) FROM quota)"
    )
    return f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    weights AS (
      SELECT lang, n_docs,
             POWER(n_docs, {alpha})
               / SUM(POWER(n_docs, {alpha})) OVER () AS w
      FROM counts
    ),
    quota AS (
      SELECT lang, n_docs, w,
             CAST(FLOOR(w * {budget}) AS BIGINT) AS base_take,
             ROW_NUMBER() OVER (
               ORDER BY w * {budget} - FLOOR(w * {budget}) DESC, lang
             ) AS frac_rank
      FROM weights
    ),
    alloc AS (
      SELECT lang, n_docs, w,
             base_take + CASE WHEN frac_rank <=
               {remaining}
               THEN 1 ELSE 0 END AS take_n
      FROM quota
    ),
    ranked AS (
      SELECT d.lang, d.doc_id,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY {md5_id}, d.doc_id) AS rk
      FROM documents d
    )
    SELECT a.lang, a.n_docs, ROUND(a.w, 6) AS weight,
           CAST(a.take_n AS BIGINT) AS take_n,
           CAST(COUNT(r.doc_id) AS BIGINT) AS taken,
           MIN(r.doc_id) AS first_doc
    FROM alloc a
    JOIN ranked r ON r.lang = a.lang AND r.rk <= a.take_n
    GROUP BY a.lang, a.n_docs, a.w, a.take_n
    ORDER BY a.lang
    """


sql_query(
    "sample_language_temperature",
    _lang_temperature_sql("spark"),
    oracle=_lang_temperature_sql("duck"),
    tags=("sampling", "mixing", "pipeline"),
    doc="Temperature-resampled language mix (mC4/XLM-R): per-lang weight "
    "count^0.5 normalized, largest-remainder rounding to hit the budget "
    "exactly, md5-order deterministic selection within each language. "
    "Two tiny aggs over lang cardinality + one ranking window per lang — "
    "the doc scan is one pass; the allocation table is driver-size at any "
    "corpus scale.",
)


def _topk_terms_sql(dialect: str) -> str:
    words = _word_stream(dialect)
    return f"""
    WITH w AS (
      SELECT lang, {words} AS word FROM documents
    ),
    c AS (
      SELECT lang, word, COUNT(*) AS n
      FROM w WHERE length(word) >= 3
      GROUP BY lang, word
    ),
    r AS (
      SELECT lang, word, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, word) AS rk
      FROM c
    )
    SELECT lang, rk, word, n FROM r WHERE rk <= 5
    ORDER BY lang, rk
    """


sql_query(
    "text_topk_terms_per_lang",
    _topk_terms_sql("spark"),
    oracle=_topk_terms_sql("duck"),
    tags=("text", "topk", "terms"),
    doc="Top-5 terms per language: explode -> two-level partial-agg "
    "shuffle on (lang, word) -> per-lang ranking window. The explode is "
    "map-side; the (lang, word) agg bounds the ranking input to distinct "
    "terms, so the window state stays tiny at any corpus size.",
)


def _outlier_clip_sql(dialect: str) -> str:
    pctl = "percentile" if dialect == "spark" else "quantile_cont"
    return f"""
    WITH bounds AS (
      SELECT lang,
             {pctl}(n_chars, 0.05) AS p05,
             {pctl}(n_chars, 0.95) AS p95
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN n_chars < p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN n_chars > p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           ROUND(p05, 6) AS p05, ROUND(p95, 6) AS p95
    FROM documents d JOIN bounds b ON d.lang = b.lang
    GROUP BY d.lang, p05, p95
    ORDER BY d.lang
    """


sql_query(
    "text_outlier_clipping",
    _outlier_clip_sql("spark"),
    oracle=_outlier_clip_sql("duck"),
    tags=("text", "quality", "percentile"),
    doc="Percentile-based length clipping: exact interpolated p05/p95 per "
    "lang (Spark percentile == DuckDB quantile_cont, bit-identical), "
    "then per-lang outlier counts. The bounds side is tiny (one row per "
    "lang) and broadcasts; at 100 TB swap exact percentile for "
    "approx_percentile and accept the documented sketch divergence.",
)


def _repetition_sql(dialect: str) -> str:
    words = _word_stream(dialect)
    return f"""
    WITH w AS (
      SELECT doc_id, {words} AS word FROM documents
    ),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS n
      FROM w GROUP BY doc_id, word
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS total_words,
             CAST(COUNT(*) AS BIGINT) AS distinct_words,
             CAST(MAX(n) AS BIGINT) AS top_word_count
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, total_words, distinct_words,
           ROUND(CAST(top_word_count AS DOUBLE) / total_words, 6)
             AS top_word_ratio,
           ROUND(CAST(distinct_words AS DOUBLE) / total_words, 6)
             AS distinct_ratio,
           CAST(top_word_count AS DOUBLE) / total_words > 0.10
             AS is_repetitive
    FROM per_doc
    ORDER BY doc_id
    """


sql_query(
    "text_repetition_filter",
    _repetition_sql("spark"),
    oracle=_repetition_sql("duck"),
    tags=("text", "quality", "repetition"),
    doc="C4-style repetition filter: per-doc top-term frequency ratio and "
    "type-token ratio flag boilerplate/spam docs. Two partial-agg "
    "shuffles — (doc, word) then doc — both map-side combinable; no "
    "window over raw words.",
)


def _decontam_sql(dialect: str) -> str:
    shingles = _shingles(dialect)
    expl = _shingle_stream(dialect)
    return f"""
    WITH ex AS (
      SELECT doc_id, {expl} AS shingle
      FROM (SELECT doc_id, {shingles} AS shingles FROM documents)
    ),
    bench AS (
      SELECT DISTINCT shingle FROM ex WHERE doc_id < 10
    ),
    hits AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_contaminated_shingles
      FROM ex c JOIN bench b ON c.shingle = b.shingle
      WHERE c.doc_id >= 10
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_contaminated_shingles
    FROM hits
    WHERE n_contaminated_shingles >= 5
    ORDER BY doc_id
    """


sql_query(
    "text_benchmark_decontamination",
    _decontam_sql("spark"),
    oracle=_decontam_sql("duck"),
    tags=("text", "decontamination", "ngram"),
    doc="Benchmark decontamination: flag corpus docs sharing >= 5 word-3-"
    "shingles with a held-out set (docs 0-9 stand in for an eval "
    "benchmark). The benchmark shingle set is tiny and broadcasts; the "
    "corpus side is one explode + equi join + per-doc agg — never "
    "pairwise doc x doc.",
)


def _substring_contam_sql(dialect: str) -> str:
    pos = (
        "INSTR(c.text, b.snippet) > 0"
        if dialect == "spark"
        else "position(b.snippet IN c.text) > 0"
    )
    # Only one organic corpus doc contains a verbatim bench snippet at
    # sf0.01 — a 1-row result barely exercises the contains-join. The
    # contam CTE plants each snippet inside a synthetic carrier doc so the
    # query provably flags every contaminated doc (>= 10 rows at any sf)
    # on top of the organic hit.
    return f"""
    WITH bench AS (
      SELECT doc_id AS bench_id, SUBSTRING(text, 10, 40) AS snippet
      FROM documents WHERE doc_id < 10 AND LENGTH(text) >= 50
    ),
    contam AS (
      SELECT bench_id + 1000000 AS doc_id,
             'leaked eval text: ' || snippet || ' (end of leak)' AS text
      FROM bench
    ),
    corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 10
      UNION ALL
      SELECT doc_id, text FROM contam
    ),
    flagged AS (
      SELECT c.doc_id, b.bench_id
      FROM corpus c JOIN bench b ON {pos}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_benchmarks_hit,
           MIN(bench_id) AS first_bench
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """


sql_query(
    "text_substring_contamination",
    _substring_contam_sql("spark"),
    oracle=_substring_contam_sql("duck"),
    tags=("text", "decontamination", "substring"),
    doc="Exact-substring contamination (the other standard decontamination "
    "mode next to n-gram overlap): corpus docs containing a 40-char "
    "verbatim snippet of any held-out doc. The snippet table is tiny and "
    "broadcasts; the corpus side is one scan with a contains() predicate "
    "per snippet — at real benchmark sizes this becomes an Aho-Corasick "
    "pass inside mapInPandas, same join shape.",
)


def _dup_span_sql(dialect: str) -> str:
    shingles = _shingles(dialect)
    expl = _shingle_stream(dialect)
    return f"""
    WITH grams AS (
      SELECT doc_id, {expl} AS s
      FROM (SELECT doc_id, {shingles} AS shingles FROM documents)
    ),
    freq AS (
      SELECT s, COUNT(*) AS n_docs FROM grams GROUP BY s
    ),
    per_doc AS (
      -- the report covers doc_id < 500 ONLY, so the filter lives on the
      -- probe branch (pushed below the explode into the scan) instead of
      -- on the aggregated output: freq must still span the WHOLE corpus
      -- ("shared with ANY doc"), but the join's probe side and the
      -- per-doc aggregate shrink from all shingles to the reported docs'
      -- (~1000x fewer rows at sf10). Identical result — the filter is on
      -- the group key.
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_spans
      FROM grams g JOIN freq f ON g.s = f.s
      WHERE g.doc_id < 500
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_spans, n_shared_spans,
           ROUND(CAST(n_shared_spans AS DOUBLE) / n_spans, 6)
             AS shared_span_ratio
    FROM per_doc
    ORDER BY doc_id
    """


sql_query(
    "text_duplicate_span_ratio",
    _dup_span_sql("spark"),
    oracle=_dup_span_sql("duck"),
    tags=("text", "dedup", "spans"),
    doc="Corpus-level span-sharing signal (C4 span-dedup precursor): for "
    "each doc, the fraction of its word-3-shingles appearing in any other "
    "doc. Shingles are per-doc distinct, so COUNT(*) per shingle counts "
    "docs; one (shingle) agg shuffle + one join back — linear in corpus "
    "shingle volume, never doc x doc.",
)


def _unigram_logprob_sql(dialect: str) -> str:
    words = _word_stream(dialect)
    return f"""
    WITH w AS (
      SELECT doc_id, {words} AS word FROM documents
    ),
    freq AS (
      SELECT word, COUNT(*) AS n FROM w GROUP BY word
    ),
    total AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM freq
    ),
    scored AS (
      SELECT w.doc_id,
             CAST(LN(freq.n / tot) AS DECIMAL(30,12)) AS logp
      FROM w JOIN freq ON w.word = freq.word CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob
    FROM scored
    WHERE doc_id < 300
    GROUP BY doc_id
    ORDER BY doc_id
    """


sql_query(
    "text_unigram_logprob_score",
    _unigram_logprob_sql("spark"),
    oracle=_unigram_logprob_sql("duck"),
    tags=("text", "quality", "language-model"),
    doc="Unigram LM quality score (the classic perplexity-filter stand-"
    "in): corpus unigram frequencies -> per-doc mean log-probability. "
    "Low scorers are gibberish/outliers. Per-token log-probs are cast "
    "to DECIMAL before summing so accumulation order is moot (float "
    "sums of logs are order-sensitive). One word-freq shuffle + one "
    "doc shuffle; the freq table broadcasts at probe time.",
)


def _weighted_sample_sql(dialect: str) -> str:
    if dialect == "spark":
        hexint = "CAST(CONV(SUBSTR(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    else:
        hexint = "CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
    return f"""
    WITH keyed AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
             LN(({hexint} + 1) / 4294967297.0)
               / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents
    )
    SELECT doc_id, lang, n_chars, ROUND(es_key, 8) AS es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 25
    """


sql_query(
    "sample_weighted_deterministic",
    _weighted_sample_sql("spark"),
    oracle=_weighted_sample_sql("duck"),
    tags=("sampling", "weighted", "deterministic"),
    doc="Deterministic weighted sampling (Efraimidis-Spirakis A-ES): "
    "u = md5-derived uniform per doc, key = ln(u)/weight, top-k by key "
    "= a weight-proportional sample that is identical on any cluster, "
    "any partitioning, any retry — rand()-free. Plans as TopK "
    "(TakeOrderedAndProject), no full sort.",
)


def _idf_rarity_sql(dialect: str) -> str:
    words = _word_stream(dialect)
    return f"""
    WITH w AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, {words} AS word FROM documents
      ) t
    ),
    df AS (
      SELECT word, COUNT(*) AS n_docs_with FROM w GROUP BY word
    ),
    n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    ),
    scored AS (
      SELECT w.doc_id,
             CAST(LN((n.n_docs + 1.0) / (df.n_docs_with + 1.0))
                  AS DECIMAL(30,12)) AS idf
      FROM w JOIN df ON w.word = df.word CROSS JOIN n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_terms,
           ROUND(CAST(SUM(idf) AS DOUBLE) / COUNT(*), 6) AS mean_idf
    FROM scored
    WHERE doc_id < 300
    GROUP BY doc_id
    ORDER BY doc_id
    """


sql_query(
    "text_idf_rarity_score",
    _idf_rarity_sql("spark"),
    oracle=_idf_rarity_sql("duck"),
    tags=("text", "quality", "idf"),
    doc="Corpus-level IDF rarity score per document (the boilerplate/"
    "template-page signal: low mean IDF = the page is made of terms "
    "every other page also has; complements text_unigram_logprob_score, "
    "which weights by term frequency instead of document frequency). "
    "Smoothed IDF = ln((N+1)/(df+1)) over DISTINCT (doc, word) pairs; "
    "per-term IDFs are decimal-cast before summing so accumulation "
    "order is moot. Plan: one distinct shuffle, one word-df aggregate "
    "(partial agg first), one join back — at probe time the df table "
    "broadcasts. Output bounded to doc_id < 300; the IDF statistics "
    "are computed over the FULL corpus.",
)


def _tfidf_feat_sql(dialect: str) -> str:
    sh = _shingles(dialect)
    feats = f"explode({sh})" if dialect == "spark" else f"unnest({sh})"
    return f"SELECT doc_id, {feats} AS word FROM documents"


_TFIDF_RARE = (
    "SELECT word, COUNT(*) AS df FROM {feat} GROUP BY word "
    "HAVING COUNT(*) <= 10"
)

_TFIDF_WEIGHTED = """
      SELECT {join_hint} f.doc_id, f.word,
             CAST(CAST(LN((n.n_docs + 1.0) / (r.df + 1.0))
                       AS DECIMAL(30,12)) AS DOUBLE) AS w
      FROM {feat} f JOIN {rare} r ON f.word = r.word CROSS JOIN {n} n
"""

_TFIDF_N = "SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents"


_TFIDF_NORMS = """
      SELECT doc_id,
             SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
      FROM {src} GROUP BY doc_id
"""


def _tfidf_tail(
    src: str, norms: str | None = None, norms_hint: str = ""
) -> str:
    """CTE list + final select over a weighted (doc_id, word, w) posting
    relation — one template for both engines (see _pmi_tail). `norms`
    overrides the norm relation with a pre-materialized view and
    `norms_hint` carries the Spark-side size-driven join strategy for
    the two norm joins (empty for the oracle — DuckDB lexes /*+ */
    comments away anyway)."""
    norms_body = norms or f"({_TFIDF_NORMS.format(src=src)})"
    return f"""
    norms AS (
      SELECT * FROM {norms_body}
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(a.w * b.w AS DECIMAL(30,12))) AS DOUBLE) AS dot
      FROM {src} a JOIN {src} b
        ON a.word = b.word AND a.doc_id < b.doc_id
      WHERE a.doc_id < 200
      GROUP BY a.doc_id, b.doc_id
    ),
    cos AS (
      SELECT {norms_hint} d.doc_a, d.doc_b,
             ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
      FROM dots d
      JOIN norms na ON d.doc_a = na.doc_id
      JOIN norms nb ON d.doc_b = nb.doc_id
    ),
    ranked AS (
      SELECT doc_a, doc_b, cosine,
             ROW_NUMBER() OVER (PARTITION BY doc_a
                                ORDER BY cosine DESC, doc_b) AS rk
      FROM cos
    )
    SELECT doc_a, doc_b, cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3 AND doc_a < 200
    ORDER BY doc_a, rk
    """.replace("{norms_hint}", norms_hint)


def _tfidf_cosine_sql(dialect: str) -> str:
    weighted = _TFIDF_WEIGHTED.format(
        feat="feat", rare="rare", n="n", join_hint=""
    )
    return f"""
    WITH feat AS (
      {_tfidf_feat_sql(dialect)}
    ),
    n AS ({_TFIDF_N}),
    rare AS (
      {_TFIDF_RARE.format(feat='feat')}
    ),
    tfidf AS ({weighted}),
    {_tfidf_tail('tfidf')}
    """


@query(
    "text_tfidf_topk_similar",
    oracle=_tfidf_cosine_sql("duck"),
    tags=("text", "similarity", "tfidf", "inverted-index"),
    doc="IDF-weighted shingle-set cosine top-k retrieval via an INVERTED-"
    "INDEX join — the sparse-vector companion to the dense-embedding "
    "ANN family, and the weighted/top-k complement of "
    "dedup_ngram_jaccard (which thresholds an unweighted set overlap). "
    "Features are distinct word 3-shingles (the fixture vocabulary is "
    "31 words, so unigrams have no rare terms — shingles do: 16k "
    "distinct, max df 7 at sf0.01); each doc is a binary shingle "
    "vector weighted by smoothed IDF. The index keeps only rare "
    "features (df <= 10): common features carry no discriminative "
    "signal AND are exactly the ones whose posting lists blow the "
    "self-join up quadratically, so the cap is simultaneously the "
    "quality filter and the scale bound (candidate pairs <= df_cap^2/2 "
    "per feature — linear in vocabulary, independent of corpus size; "
    "the same hot-bucket philosophy as the MinHash/sign-LSH dedups). "
    "Per-feature IDFs are pinned to 12 decimals so both engines weigh "
    "identically; dots and norms are decimal-summed (order-proof), "
    "cosine rounded to 6 before ranking so the ROW_NUMBER order is "
    "identical cross-engine (ties broken by doc_b). Plan: one "
    "(doc,shingle) explode + feature-df agg (rare table broadcasts at "
    "probe scale), the bounded posting-list self-join, two small norm "
    "joins. The probe set (doc_a < 200) is pushed into the pair join — "
    "a filter on the window partition key commutes with the per-doc_a "
    "ranking, so this is the true retrieval shape: probe set x corpus "
    "index, never index x index. IDF statistics and norms are computed "
    "over the FULL corpus; output is top-3 per probe doc. "
    "r12 (sf100 probe finding): `rare` and the weighted posting table "
    "are MATERIALIZED (persist + eager count) before the joins. "
    "Statically, Catalyst estimated the agg+HAVING `rare` side as "
    "broadcast-small at EVERY scale — true to sf10, but the fixture "
    "vocabulary grows with corpus size and at sf100 the broadcast "
    "collect blew spark.driver.maxResultSize (1.09 GB of task "
    "results). Planning the joins against the CACHED tables' true "
    "sizes picks broadcast at probe scale and sort-merge at sf100 "
    "automatically — the same statistics-driven strategy switch a "
    "1000-executor job needs. Also saves the duplicate explode the "
    "inlined CTE paid (tfidf is consumed by norms and both self-join "
    "sides).",
)
def text_tfidf_topk_similar(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.sources.io import fanout_rewrite

    # NO small-scan inline arm here, deliberately (unlike pmi): an
    # interleaved sf0.1 A/B measured the materialized path at parity or
    # better (inline 1.7-2.2 s vs materialized 1.2-1.7 s steady-state —
    # the three persist+count actions are repaid by the duplicate feat
    # subtree the inline plan re-expands three times), so one arm keeps
    # the sf100-critical statistics-driven strategy everywhere.
    load_fixture_tables(spark, sf_dir)
    feat_sql = fanout_rewrite(
        spark, _tfidf_feat_sql("spark"), ("documents",)
    )
    rare = spark.sql(_TFIDF_RARE.format(feat=f"({feat_sql})"))
    rare = rare.persist()
    rare.count()  # materialize: joins below plan against TRUE size
    rare.createOrReplaceTempView("tfidf_rare_cached")

    def _true_bytes(df) -> int:
        # the materialized cache's measured size — the number the static
        # estimator LACKS (it sizes an explode's output from the scan's
        # column ratio, which at sf100 undershot feat by ~4 orders and
        # made Catalyst broadcast the 2.5B-row gram stream)
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )

    bcast_limit = 64 << 20  # session autoBroadcastJoinThreshold (64MB)
    rare_hint = (
        "/*+ BROADCAST(r) */"
        if _true_bytes(rare) <= bcast_limit
        else "/*+ MERGE(f, r) */"
    )
    tfidf = spark.sql(
        _TFIDF_WEIGHTED.format(
            feat=f"({feat_sql})",
            rare="tfidf_rare_cached",
            n=f"({_TFIDF_N})",
            join_hint=rare_hint,
        )
    )
    tfidf = tfidf.persist()
    tfidf.count()  # consumed by norms + both self-join sides in ONE action
    tfidf.createOrReplaceTempView("tfidf_weighted_cached")
    # norms joins the probe output TWICE; its agg estimate reads
    # broadcast-small at every scale but the real table is corpus-sized
    # (one row per doc — the second sf100 maxResultSize source)
    norms = spark.sql(_TFIDF_NORMS.format(src="tfidf_weighted_cached"))
    norms = norms.persist()
    norms.count()
    norms.createOrReplaceTempView("tfidf_norms_cached")
    norms_hint = (
        "/*+ BROADCAST(na, nb) */"
        if _true_bytes(norms) <= bcast_limit
        else "/*+ MERGE(na, nb) */"
    )
    out = spark.sql(
        "WITH "
        + _tfidf_tail(
            "tfidf_weighted_cached", "tfidf_norms_cached", norms_hint
        )
    )
    return transfer_ownership(out, norms, tfidf, rare)


def _nb_langid_sql(dialect: str) -> str:
    words = _word_stream(dialect)
    return f"""
    WITH train_tokens AS (
      SELECT lang, {words} AS word FROM documents WHERE doc_id % 2 = 0
    ),
    test_tokens AS (
      SELECT doc_id, lang AS actual_lang, {words} AS word
      FROM documents WHERE doc_id % 2 = 1
    ),
    class_counts AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_tokens
      FROM train_tokens GROUP BY lang
    ),
    priors AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_docs
      FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM train_tokens
    ),
    word_counts AS (
      SELECT lang, word, CAST(COUNT(*) AS DOUBLE) AS c
      FROM train_tokens GROUP BY lang, word
    ),
    model AS (
      SELECT wc.lang, wc.word,
             CAST(LN((wc.c + 1.0) / (cc.n_tokens + vocab.v))
                  AS DECIMAL(30,12)) AS logp
      FROM word_counts wc
      JOIN class_counts cc ON wc.lang = cc.lang
      CROSS JOIN vocab
    ),
    defaults AS (
      SELECT cc.lang,
             CAST(LN(1.0 / (cc.n_tokens + vocab.v))
                  AS DECIMAL(30,12)) AS logp0,
             CAST(LN(p.n_docs) AS DECIMAL(30,12)) AS logprior
      FROM class_counts cc
      JOIN priors p ON cc.lang = p.lang
      CROSS JOIN vocab
    ),
    scored AS (
      -- Both hints pin the scoring pipeline to stream the TOKEN side
      -- (r11; the executed plan previously built/broadcast the corpus
      -- half of the cross join and STREAMED the 5-row defaults, so the
      -- join output inherited defaults' near-single partitioning and
      -- the whole explode+join+aggregate ran serialized — the reason
      -- this query was ~150 s at sf10). d is |langs| rows; m is
      -- vocab x langs (15.5k rows at sf10 — megabytes even at 100 TB
      -- corpus, the classic broadcast-the-model shape) but derives
      -- from an aggregate whose static estimate is input-sized, which
      -- also drove a 67M-row sort-merge shuffle on (lang, word) that
      -- scattered doc locality into every task's partial aggregate
      -- (the r11 sf10 OOM). DuckDB lexes the hint away as a comment.
      SELECT /*+ BROADCAST(d, m) */
             t.doc_id, t.actual_lang, d.lang AS cand_lang,
             CAST(MAX(d.logprior) + SUM(COALESCE(m.logp, d.logp0))
                  AS DOUBLE) AS score
      FROM test_tokens t
      CROSS JOIN defaults d
      LEFT JOIN model m ON m.lang = d.lang AND m.word = t.word
      GROUP BY t.doc_id, t.actual_lang, d.lang
    ),
    predicted AS (
      SELECT doc_id, actual_lang, cand_lang AS predicted_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY ROUND(score, 6) DESC,
                                         cand_lang) AS rk
      FROM scored
    )
    SELECT actual_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM predicted WHERE rk = 1
    GROUP BY actual_lang, predicted_lang
    ORDER BY actual_lang, predicted_lang
    """


sql_query(
    "text_naive_bayes_langid",
    _nb_langid_sql("spark"),
    oracle=_nb_langid_sql("duck"),
    tags=("text", "classifier", "langid", "naive-bayes"),
    doc="Trained multinomial Naive Bayes language classifier — counting IS "
    "training, so the whole train/score/evaluate loop is one declarative "
    "plan (no iterative solver): even doc_ids train, odd doc_ids score, "
    "output is the confusion matrix (complements text_langid_heuristic, "
    "which is a fixed stopword rule). Laplace-smoothed log-likelihoods "
    "ln((c+1)/(n_lang+V)) and log-priors are pinned to 12 decimals "
    "pointwise, per-doc scores are decimal-summed (order-proof), and "
    "the argmax is a ROW_NUMBER over the rounded score with the lang "
    "name as tiebreak — identical cross-engine. Unseen words hit the "
    "COALESCE backoff ln(1/(n_lang+V)). Scale: the model is two "
    "aggregates over the training corpus (vocab x langs rows — "
    "megabytes at 100 TB corpus scale) and BROADCASTS to the scoring "
    "join; the per-candidate fan-out is |langs| (bounded), and the "
    "final argmax + confusion matrix are doc-keyed aggs. ",
)


def _inverted_index_sql(dialect: str) -> str:
    if dialect == "spark":
        words = (
            "SELECT doc_id, word FROM documents "
            "LATERAL VIEW explode(split(lower(text), '[^a-z]+')) t AS word "
            "WHERE word <> ''"
        )
        postings = (
            "concat_ws(',', array_sort("
            "collect_list(doc_id) FILTER (WHERE rn <= 8)))"
        )
    else:
        words = (
            "SELECT doc_id, unnest(string_split_regex(lower(text), "
            "'[^a-z]+')) AS word FROM documents"
        )
        postings = (
            "array_to_string(list_sort("
            "list(doc_id) FILTER (WHERE rn <= 8)), ',')"
        )
    # Aggregation state is BOUNDED: the naive collect_set(doc_id) +
    # slice would buffer every posting of a stop-word in one aggregate
    # buffer (millions of ids at corpus scale); here the (word, doc_id)
    # dedup aggregate feeds a ROW_NUMBER that tags the 8 smallest
    # doc_ids, and the final collect_list is FILTERed to those — at most
    # 8 elements per word ever held, while the window sort itself is
    # spillable. The window and the final GROUP BY share the word
    # partitioning, so the rewrite costs no extra exchange.
    return f"""
    WITH words AS ({words}),
    wd AS (
      SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt_wd
      FROM words WHERE word <> '' GROUP BY word, doc_id
    ),
    ranked AS (
      SELECT word, doc_id, cnt_wd,
             ROW_NUMBER() OVER (PARTITION BY word ORDER BY doc_id) AS rn
      FROM wd
    ),
    idx AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(cnt_wd) AS BIGINT) AS cf,
             {postings} AS first_postings
      FROM ranked GROUP BY word
    )
    SELECT word, df, cf, first_postings
    FROM idx
    ORDER BY df DESC, word
    LIMIT 100
    """


sql_query(
    "text_inverted_index",
    _inverted_index_sql("spark"),
    oracle=_inverted_index_sql("duck"),
    tags=("text", "retrieval", "index"),
    doc="Inverted-index build (term -> document-frequency, collection-"
    "frequency, posting-list prefix) — the retrieval-side data "
    "structure behind decontamination and BM25-style search over a "
    "training corpus. Tokenize is a map-only explode; a (word, doc_id) "
    "dedup aggregate (partial map-side) feeds one word-partitioned "
    "stage where df/cf fold and a ROW_NUMBER window caps the posting "
    "prefix to the 8 smallest doc_ids with BOUNDED aggregation state "
    "(a collect_set-then-slice would buffer a stop-word's millions of "
    "postings in one aggregate buffer; the FILTERed collect_list never "
    "holds more than 8). Prefixes serialize to a comma string so both "
    "engines compare exactly; production would keep the full sorted "
    "array bucketed by term. Output is the 100 highest-df terms with "
    "deterministic (df DESC, word) tie-break. Dialect split: LATERAL "
    "VIEW explode+split vs unnest+string_split_regex, and the two "
    "engines' filtered list-aggregate spellings.",
)


_PMI_SPARK_WORDS = (
    "SELECT DISTINCT doc_id, word FROM documents "
    "LATERAL VIEW explode(split(lower(text), '[^a-z]+')) t AS word "
    "WHERE LENGTH(word) >= 3"
)


def _pmi_tail(src: str) -> str:
    """CTE list + final select over a (doc_id, word) token relation —
    ONE template for both engines (duck wraps it around its own wd CTE;
    Spark points it at the MATERIALIZED token view), so the scoring
    logic cannot drift between query and oracle."""
    return f"""
    df AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM {src} GROUP BY word
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM {src}),
    mid AS (
      SELECT s.doc_id, s.word, df.c
      FROM {src} s JOIN df ON s.word = df.word CROSS JOIN n
      WHERE df.c >= 5 AND df.c * 20 <= n.n * 19
    ),
    capped AS (
      SELECT doc_id, word, c FROM (
        SELECT doc_id, word, c,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY c, word) AS rn
        FROM mid
      ) r WHERE rn <= 64
    ),
    pairs AS (
      SELECT a.word AS word_a, b.word AS word_b,
             CAST(MAX(a.c) AS BIGINT) AS c_a,
             CAST(MAX(b.c) AS BIGINT) AS c_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM capped a JOIN capped b
        ON a.doc_id = b.doc_id AND a.word < b.word
      GROUP BY a.word, b.word
      HAVING COUNT(*) >= 3
    )
    SELECT word_a, word_b, c_a, c_b, c_ab,
           ROUND(CAST(n.n * c_ab AS DOUBLE) / (c_a * c_b), 6) AS lift
    FROM pairs CROSS JOIN n
    ORDER BY lift DESC, word_a, word_b
    LIMIT 20
    """


# Scan-size gate for the heavy-corpus plan shape (see
# sources/io.py:plan_scan_bytes): scan fan-out and CTE
# materialization both trade FIXED overhead (extra exchanges / an extra
# eager action + cache write) for savings PROPORTIONAL to corpus CPU,
# so one exact-bytes threshold decides both. Measured for pmi at sf0.1:
# bare inline 1.25 s, fanned inline 2.34 s, fanned+materialized 2.19 s
# (the fan-out exchanges are the whole regression — pmi was already a
# measured fan-out NON-member in the r12 relocation, and the
# materialization that reintroduced it for sf10 must not drag it back
# in at probe scale). At sf10 the fanned+materialized plan is the one
# that works (10 s steady vs 10-37 s bimodal). Calibrated against
# MEASURED A/Bs at every shipped shard size (zstd parquet): sf0.1 =
# 0.58 MB bare wins (1.25 s vs 2.2 s heavy); sf1 = 2.3 MB the HEAVY
# arm already wins (4.2-5.0 s steady vs 5.5-6.4 s bare, interleaved
# 3-rep A/B); sf10 = 16.2 MB heavy is mandatory. The crossover sits
# between 0.6 and 2.3 MB, so 1 MB splits the measured points.
_MATERIALIZE_MIN_SCAN_BYTES = 1 << 20


def _pmi_lift_sql(dialect: str) -> str:
    if dialect == "spark":
        # the small-scan inline plan — big scans materialize the token
        # CTE instead (see text_pmi_cooccurrence)
        words = _PMI_SPARK_WORDS
    else:
        words = (
            "SELECT DISTINCT doc_id, word FROM ("
            "SELECT doc_id, unnest(string_split_regex(lower(text), "
            "'[^a-z]+')) AS word FROM documents) w "
            "WHERE LENGTH(word) >= 3"
        )
    return f"WITH wd AS ({words}),{_pmi_tail('wd')}"


@query(
    "text_pmi_cooccurrence",
    oracle=_pmi_lift_sql("duck"),
    tags=("text", "collocation", "pmi"),
    doc="Collocation mining: top word pairs by LIFT (the exp of PMI — "
    "n*c_ab / (c_a*c_b), reported as the exact integer ratio instead "
    "of its log so no transcendental can diverge in the last ulp "
    "cross-engine). The pair join is the classic quadratic hazard, "
    "BOUNDED the same way text_tfidf_topk_similar bounds its posting "
    "lists, twice over: a RELATIVE df band (5 <= df <= 0.95n, spelled "
    "in overflow-safe integer arithmetic) gates entry to the "
    "doc-keyed self-join, and a hard per-doc cap (the 64 rarest "
    "admitted words per doc, rarest-first so the informative tail "
    "wins) bounds fan-out at <= 64^2 pairs per doc NO MATTER what "
    "the vocabulary does — total pair volume is linear in corpus "
    "size by construction, at any df distribution (the fixture's "
    "~30-word near-universal vocabulary sails under the cap; a "
    "natural corpus' stop-words get rank-dropped). Distinct (doc, word) "
    "first so repeated mentions don't inflate support; MIN support 3 "
    "prunes flukes before ranking. The df side-table joins in "
    "broadcast-sized form at any corpus scale (mid-band vocabulary). "
    "r12: on a BIG scan the token CTE is MATERIALIZED (persist + eager "
    "count) instead of inlined — Catalyst re-expands an inlined CTE per "
    "consumer, and the scoring tail reads it SIX times (df, n x3, both "
    "self-join sides), so the sf10 plan ran the scan+regex-explode "
    "sextuple-y and BIMODALLY (10-37 s run to run — identical executed "
    "plans, the variance was six redundant explode stages racing the "
    "host). Materialized once: 10 s steady, spread gone (5 consecutive "
    "sf10 runs 9.5-10.2 s after JIT). Both the materialization AND the "
    "scan fan-out it reintroduced are GATED on the exact on-disk scan "
    "size (plan_scan_bytes >= 1 MB; rationale and per-shard A/Bs "
    "measurements at _MATERIALIZE_MIN_SCAN_BYTES): pmi is a measured "
    "fan-out NON-member at probe scale, so the small arm is the bare "
    "inline plan (1.25 s at sf0.1 vs 2.2 s fanned). At 100 TB the gate "
    "always takes the fanned+materialized arm, with persist(DISK_ONLY) "
    "or a checkpoint table.",
)
def text_pmi_cooccurrence(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.sources.io import fanout_rewrite, plan_scan_bytes

    load_fixture_tables(spark, sf_dir)
    if plan_scan_bytes(spark.table("documents")) < _MATERIALIZE_MIN_SCAN_BYTES:
        return spark.sql(_pmi_lift_sql("spark"))
    tok = spark.sql(fanout_rewrite(spark, _PMI_SPARK_WORDS, ("documents",)))
    tok = tok.persist()
    tok.count()  # eager: 6 consumers in ONE action recompute a lazy cache
    tok.createOrReplaceTempView("pmi_wd_tokens")
    out = spark.sql(f"WITH{_pmi_tail('pmi_wd_tokens')}")
    return transfer_ownership(out, tok)


_AUC_SCORED = """
      SELECT doc_id,
             CAST(CAST(lang = 'fr' AS INT) AS BIGINT) AS is_pos,
             CAST(LENGTH(text) AS DOUBLE) AS score
      FROM documents
    """


_AUC_FINAL = """
    SELECT n_pos, n_neg,
           ROUND((CAST(twice_ranksum_pos AS DOUBLE) / 2.0
                  - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1)
                    / 2.0)
                 / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
             AS auc
    FROM {sums}
    """


@query(
    "text_feature_auc_mann_whitney",
    oracle=f"""
    WITH scored AS ({_AUC_SCORED}),
    ranked AS (
      SELECT is_pos,
             RANK() OVER (ORDER BY score) AS r,
             COUNT(*) OVER (PARTITION BY score) AS tie_n
      FROM scored
    ),
    sums AS (
      SELECT CAST(SUM(CASE WHEN is_pos = 1
                           THEN r * 2 + tie_n - 1 ELSE 0 END) AS BIGINT)
               AS twice_ranksum_pos,
             CAST(SUM(is_pos) AS BIGINT) AS n_pos,
             CAST(SUM(1 - is_pos) AS BIGINT) AS n_neg
      FROM ranked
    )
    """
    + _AUC_FINAL.format(sums="sums"),
    tags=("text", "metrics", "auc", "evaluation"),
    doc="Exact ROC-AUC via the Mann-Whitney rank identity — classifier/"
    "feature evaluation WITHOUT materializing a threshold sweep: "
    "AUC = (R+ - n+(n+ + 1)/2) / (n+ n-), R+ = tied-average rank sum "
    "of positives. Ties handled exactly in INTEGER arithmetic (avg "
    "rank = min-rank + (tie_n - 1)/2, folded as 2r + tie_n - 1, so "
    "the rank sum stays a BIGINT until one final IEEE division — "
    "bit-identical cross-engine, no sort-order luck). Scores "
    "LENGTH(text) against lang='fr': a weak-but-real separator on "
    "this fixture (fr docs run ~9% longer; measured AUC ~0.557 — an "
    "honest small-signal value, the machinery is the deliverable). "
    "r10: the Spark side needs NO per-row ranking window at all — "
    "RANK's min-rank for a tie group at score s is 1 + (count of "
    "rows below s), so grouping by distinct score (cnt, pos_cnt) "
    "and prefix-summing cnt via operators/globalorder.py gives the "
    "per-group positive contribution pos_cnt*(2C + cnt + 1) "
    "(= pos_cnt rows each contributing r*2 + tie_n - 1), summed to "
    "the identical BIGINT rank sum. The prefix is one ordered window "
    "below globalorder's scanned-bytes gate; distinct scores can "
    "approach row cardinality for a continuous model score, so above "
    "it the prefix is distributed, with no single-partition window. "
    "The oracle keeps the classic two-window form, so two "
    "structurally different algorithms must agree bit-for-bit.",
)
def text_feature_auc_mann_whitney(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.operators.globalorder import with_global_order

    load_fixture_tables(spark, sf_dir)
    per_score = spark.sql(
        f"""
        SELECT score,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(is_pos) AS BIGINT) AS pos_cnt
        FROM ({_AUC_SCORED}) scored
        GROUP BY score
        """
    )
    go_res, _, _ = with_global_order(
        per_score, [F.col("score").asc()], running={"cum_cnt": "cnt"}
    )
    go_res.createOrReplaceTempView("__go_auc_scores")
    out = spark.sql(
        """
        WITH sums AS (
          SELECT CAST(SUM(pos_cnt * (2 * (cum_cnt - cnt) + cnt + 1))
                      AS BIGINT) AS twice_ranksum_pos,
                 CAST(SUM(pos_cnt) AS BIGINT) AS n_pos,
                 CAST(SUM(cnt - pos_cnt) AS BIGINT) AS n_neg
          FROM __go_auc_scores
        )
        """
        + _AUC_FINAL.format(sums="sums")
    )
    return transfer_ownership(out, go_res)


def _winnowing_sql(dialect: str) -> str:
    # k = 8 char-gram, w = 4 window (guarantee: any shared run of
    # >= w + k - 1 = 11 chars yields a shared fingerprint).
    if dialect == "spark":
        # ARRAY-DOMAIN winnowing (r14, from the stage profile in
        # SCALE.md): the explode->window form shuffled the full 250M-row
        # gram stream on doc_id and sorted it by position — at sf10 that
        # was 2.5 GB of shuffle and 17.9 GB of sort spill across the two
        # dominant stages. Grams, window mins, and the per-doc distinct
        # all live inside one document row, so compute them as
        # higher-order functions over the text: ZERO shuffle until the
        # already-winnowed fingerprint stream (~2/(w+1) of the grams)
        # enters the rare-fp COUNT window, whose minh exchange the
        # self-join needs anyway. Only docs with >= 4 grams (length >=
        # 11) can produce a complete window — same set the old plan's
        # p <= n_grams - 3 filter kept. Per-doc memory is O(text length)
        # longs (a 1 MB doc is an 8 MB lane array — bounded by the max
        # document size, not the corpus).
        return f"""
    WITH docs AS (
      SELECT doc_id, text, LENGTH(text) - 7 AS n
      FROM documents WHERE LENGTH(text) >= 11
    ),
    lanes AS (
      SELECT doc_id, n,
             transform(sequence(1, n), p ->
               CAST(CONV(SUBSTR(md5(SUBSTR(text, p, 8)), 1, 8), 16, 10)
                    AS BIGINT)) AS hs
      FROM docs
    ),
    fp AS (
      SELECT doc_id,
             explode(array_distinct(transform(sequence(1, n - 3), p ->
               LEAST(element_at(hs, p), element_at(hs, p + 1),
                     element_at(hs, p + 2), element_at(hs, p + 3)))))
               AS minh
      FROM lanes
    ),
    rare_fp AS (
      SELECT doc_id, minh FROM (
        SELECT doc_id, minh,
               COUNT(*) OVER (PARTITION BY minh) AS fp_df
        FROM fp
      ) f WHERE fp_df <= 10
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM rare_fp a
      JOIN rare_fp b ON b.minh = a.minh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 5
    )
    SELECT doc_a, doc_b, n_shared
    FROM shared
    ORDER BY n_shared DESC, doc_a, doc_b
    LIMIT 50
    """
    # DuckDB oracle keeps the declarative explode->window form (it
    # cannot take a column bound in lateral generate_series; unroll a
    # constant upper bound — fixture max text length is 874 — guarded
    # by the WHERE).
    pos = (
        "SELECT doc_id, text, CAST(p AS BIGINT) AS p "
        "FROM documents, GENERATE_SERIES(1, 1024) t(p) "
        "WHERE LENGTH(text) >= 8 AND p <= LENGTH(text) - 7"
    )
    h = "CAST('0x' || SUBSTR(md5(SUBSTR(text, CAST(p AS INT), 8)), 1, 8) AS BIGINT)"
    return f"""
    WITH pos AS ({pos}),
    grams AS (
      SELECT doc_id, p, {h} AS h FROM pos
    ),
    spans AS (
      SELECT doc_id, p,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS minh,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
               AS n_grams
      FROM grams
    ),
    fp AS (
      SELECT DISTINCT doc_id, minh
      FROM spans WHERE p <= n_grams - 3
    ),
    rare_fp AS (
      SELECT doc_id, minh FROM (
        SELECT doc_id, minh,
               COUNT(*) OVER (PARTITION BY minh) AS fp_df
        FROM fp
      ) f WHERE fp_df <= 10
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM rare_fp a
      JOIN rare_fp b ON b.minh = a.minh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 5
    )
    SELECT doc_a, doc_b, n_shared
    FROM shared
    ORDER BY n_shared DESC, doc_a, doc_b
    LIMIT 50
    """


sql_query(
    "text_winnowing_fingerprints",
    _winnowing_sql("spark"),
    oracle=_winnowing_sql("duck"),
    tags=("text", "fingerprint", "winnowing", "dedup"),
    doc="WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the "
    "MOSS algorithm — public): hash every 8-char gram, slide a "
    "4-position window, keep each window's MINIMUM hash — the "
    "guarantee is that any shared substring of >= 11 chars yields a "
    "shared fingerprint, while storage drops to ~2/(w+1) of the gram "
    "stream. Selection by window-min of hash VALUES makes the "
    "fingerprint set independent of tie-position conventions, so the "
    "SQL oracle matches exactly (md5 lanes, the MinHash convention). "
    "The cross-doc join goes through a RARE-fingerprint gate "
    "(doc-frequency <= 10) — boilerplate grams that appear "
    "everywhere never enter the pair join, the same linearity bound "
    "as every other candidate stage in this repo; the gate is a "
    "COUNT window over the minh partitioning (NOT a df side-table "
    "join: at sf10 Catalyst mis-sized that table and tried to "
    "broadcast tens of millions of hashes into the driver — the "
    "window reuses the partitioning the self-join needs anyway). "
    "Output: top "
    "plagiarism-suspect pairs by shared fingerprint count (the "
    "fixture's near-dup pairs dominate). Windows are per-doc "
    "partitions (narrow shuffle on doc_id); grams never leave their "
    "partition before the window min.",
)
