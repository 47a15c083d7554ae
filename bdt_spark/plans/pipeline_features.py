"""Feature/quality/pipeline-composition family: curation pipelines,
quantile binning, drift tests (KS/chi2), constraint reports, mergeable
sketches, bloom-filter join pruning, fuzzy blocked joins, table profiling,
and delete propagation.

Split from plans/pipeline.py (round 11) — registration names, oracles,
and SQL byte-identical to the pre-split module.
"""


from __future__ import annotations

from pyspark.sql import functions as F

from bdt_spark.plans.registry import query, sql_query
from bdt_spark.sources.io import load_fixture_tables
from bdt_spark.plans._pipecommon import _shingle_stream, _shingles, _word_stream


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (quality filter -> exact dedup -> accounting)
# ---------------------------------------------------------------------------


def _curation_sql(dialect: str) -> str:
    spark = dialect == "spark"
    if spark:
        nwords = "size(split(text, ' '))"
        norm_hash = "md5(regexp_replace(lower(text), '[^a-z0-9 ]', ''))"
        ws_tokens = "size(split(text, ' +'))"
    else:
        nwords = "len(string_split(text, ' '))"
        norm_hash = "md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))"
        ws_tokens = "len(string_split_regex(text, ' +'))"
    return f"""
    WITH scored AS (
      SELECT doc_id, source, lang, text,
             length(text) AS n_chars_m,
             {nwords} AS n_words,
             {norm_hash} AS norm_hash
      FROM documents
    ),
    quality AS (
      SELECT * FROM scored
      WHERE n_chars_m >= 50 AND n_words >= 10
        AND n_chars_m / CAST(n_words AS DOUBLE) BETWEEN 2.0 AND 12.0
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_hash
                                     ORDER BY doc_id) AS copy_rank
        FROM quality) t
      WHERE copy_rank = 1
    )
    SELECT source,
           COUNT(*) AS docs_kept,
           CAST(SUM({ws_tokens}) AS BIGINT) AS tokens_kept,
           CAST(SUM(n_chars_m) AS BIGINT) AS chars_kept,
           COUNT(DISTINCT lang) AS langs_present
    FROM deduped
    GROUP BY source
    ORDER BY source
    """


sql_query(
    "pipeline_curation_end_to_end",
    _curation_sql("spark"),
    oracle=_curation_sql("duck"),
    tags=("pipeline", "curation", "dedup", "quality"),
    doc="The composed training-data curation pass: quality gate (length / "
    "word-count / word-length band) -> exact dedup on normalized text "
    "(first-writer-wins via ranking window) -> per-source token accounting. "
    "One scan, one window shuffle on the hash, one agg shuffle on source.",
)


sql_query(
    "scalar_nondeterministic_bounds",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           bool_and(u RLIKE
             '^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$'
           ) AS uuid_v4_ok,
           bool_and(r >= 0 AND r < 1) AS rand_in_unit,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS uuid_distinct
    FROM (SELECT uuid() AS u, rand() AS r FROM range(1000))
    """,
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           bool_and(regexp_matches(CAST(u AS VARCHAR),
             '^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$'
           )) AS uuid_v4_ok,
           bool_and(r >= 0 AND r < 1) AS rand_in_unit,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS uuid_distinct
    FROM (SELECT uuid() AS u, random() AS r FROM range(1000))
    """,
    tags=("scalar", "nondeterministic"),
    doc="uuid()/rand() (B8) oracled by PROPERTY, not value: v4-format "
    "regex, uniqueness, and unit-interval bounds reduce to deterministic "
    "booleans both engines agree on. (Raw values are nondeterministic by "
    "definition; Spark requires them projected in a subquery before "
    "aggregating.)",
)


def _curation_v2_sql(dialect: str) -> str:
    """Round-2 curation: repetition filter + decontamination + per-lang
    packing stats on top of the v1 quality/dedup gates."""
    spark = dialect == "spark"
    shingles = _shingles(dialect)
    expl = _shingle_stream(dialect)
    words = _word_stream(dialect)
    if spark:
        ws_tokens = "size(split(text, ' '))"
    else:
        ws_tokens = "len(string_split(text, ' '))"
    return f"""
    WITH rep AS (
      SELECT doc_id,
             CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_ratio
      FROM (
        SELECT doc_id, word, COUNT(*) AS n
        FROM (SELECT doc_id, {words} AS word FROM documents) w
        GROUP BY doc_id, word
      ) wc
      GROUP BY doc_id
    ),
    ex AS (
      SELECT doc_id, {expl} AS shingle
      FROM (SELECT doc_id, {shingles} AS shingles FROM documents)
    ),
    kept AS (
      SELECT d.doc_id, d.lang, {ws_tokens} AS tokens
      FROM documents d
      JOIN rep r ON d.doc_id = r.doc_id
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_hits
                 FROM (SELECT c.doc_id FROM ex c
                       JOIN (SELECT DISTINCT shingle FROM ex
                             WHERE doc_id < 10) b
                         ON c.shingle = b.shingle
                       WHERE c.doc_id >= 10) h
                 GROUP BY doc_id) cont ON d.doc_id = cont.doc_id
      WHERE d.doc_id >= 10
        AND r.top_ratio <= 0.10
        AND COALESCE(cont.n_hits, 0) < 5
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(tokens) AS BIGINT) AS tokens_kept,
           CAST(CEIL(SUM(tokens) / 2048.0) AS BIGINT) AS min_packs_needed
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """


sql_query(
    "pipeline_curation_v2",
    _curation_v2_sql("spark"),
    oracle=_curation_v2_sql("duck"),
    tags=("pipeline", "curation", "repetition", "decontamination"),
    doc="Round-2 curation composition: repetition gate (top-term ratio "
    "<= 0.10) + benchmark decontamination (< 5 shared shingles with the "
    "held-out set) -> per-lang token accounting with a lower bound on "
    "2048-token packs. One shingle pass feeds both the contamination "
    "join and (via word counts) the repetition gate.",
)


sql_query(
    "join_fuzzy_blocked_levenshtein",
    """
    WITH corpus_names AS (
      SELECT p_name AS name, MIN(p_partkey) AS canonical_key,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM part GROUP BY p_name
    ),
    probe_names AS (
      SELECT substr(p_name, 1, length(p_name) - 1) AS name,
             MIN(p_partkey + 5000000) AS probe_key
      FROM part WHERE p_partkey % 199 = 0
      GROUP BY substr(p_name, 1, length(p_name) - 1)
    )
    SELECT pr.probe_key, c.canonical_key, c.n_rows,
           CAST(levenshtein(pr.name, c.name) AS INT) AS edit_distance
    FROM probe_names pr
    JOIN corpus_names c
      ON split_part(pr.name, ' ', 1) = split_part(c.name, ' ', 1)
     AND length(c.name) BETWEEN length(pr.name) - 2 AND length(pr.name) + 2
    WHERE levenshtein(pr.name, c.name) <= 2
    ORDER BY probe_key, canonical_key
    """,
    tags=("join", "fuzzy", "entity-resolution"),
    doc="Blocked fuzzy join (entity resolution): probe strings matched "
    "against a corpus under edit distance <= 2, NEVER all-pairs AND "
    "never on raw rows — both sides first collapse to DISTINCT names "
    "carrying multiplicities (one partial+final agg each; the realistic "
    "shape, since entity resolution operates on the distinct-string "
    "table, which is orders of magnitude smaller than the corpus — "
    "this fixture: 64 distinct names over up to 2.2 M part rows, so a "
    "raw-row fuzzy join would emit ~400 M pairs at sf10 while the "
    "distinct-name join emits <= 64 x 64). The equi block key (first "
    "token) turns the cross of distinct names into a hash join, the "
    "length band prunes the block (edit distance <= 2 implies length "
    "delta <= 2), and exact levenshtein verifies only block-local "
    "candidates — the block-then-verify shape of the MinHash/sign-LSH "
    "dedups with a string-metric verifier. Probes are every-199th part "
    "name with the last char dropped (distance 1 to their source, "
    "guaranteed non-vacuous). Common-subset SQL, oracle is the same "
    "text.",
)


_CONSTRAINT_REPORT_ORACLE = """
    WITH uniq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
      FROM orders
    ),
    nulls AS (
      SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_custkey,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_price,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nonpositive_price,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
      FROM orders
    ),
    orphans AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphan_lineitems
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    ),
    childless AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS childless_orders
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_orderkey = o.o_orderkey)
    )
    SELECT u.n_rows, u.n_keys,
           u.n_rows = u.n_keys AS pk_unique,
           n.null_custkey, n.null_price, n.nonpositive_price, n.bad_status,
           o.orphan_lineitems,
           o.orphan_lineitems = 0 AS fk_lineitem_orders_ok,
           c.childless_orders
    FROM uniq u CROSS JOIN nulls n CROSS JOIN orphans o CROSS JOIN childless c
    """

# r16 Spark arm (guide §2.3/§2.4): the declarative report's four legs
# executed as FOUR orders scans + TWO lineitem scans (uniq, nulls, and
# one side of each NOT EXISTS each re-scan orders; both FK probes scan
# lineitem). Every check is a function of the per-orderkey rollups of
# the two tables, so one scan of each + one FULL OUTER join on the key
# computes the whole report: per-key aggs have unique keys (no row
# multiplication), a NULL key never equi-joins (matching the NOT
# EXISTS null-semantics — a NULL-key lineitem row is an orphan, a
# NULL-key orders row is childless), orphan/childless sides are
# recognized by the other side's COUNT being NULL (COUNT >= 1 on every
# real group), n_keys counts non-NULL key groups exactly like
# COUNT(DISTINCT), and row-level counts re-weight by the group sizes
# (duplicate keys multiply exactly as the scans did). COALESCE pins
# the empty-table case to the legs' COUNT(*) = 0.
_CONSTRAINT_REPORT_SPARK = """
    WITH o_per AS (
      SELECT o_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS np,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS npp,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM orders GROUP BY o_orderkey
    ),
    l_per AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS ln
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey, o.n, o.nc, o.np, o.npp, o.nb, l.ln
      FROM o_per o FULL OUTER JOIN l_per l ON o.o_orderkey = l.l_orderkey
    )
    SELECT
      CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
      CAST(COUNT(CASE WHEN n IS NOT NULL AND o_orderkey IS NOT NULL
                      THEN 1 END) AS BIGINT) AS n_keys,
      COALESCE(SUM(n), 0) =
        COUNT(CASE WHEN n IS NOT NULL AND o_orderkey IS NOT NULL
                   THEN 1 END) AS pk_unique,
      CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS null_custkey,
      CAST(COALESCE(SUM(np), 0) AS BIGINT) AS null_price,
      CAST(COALESCE(SUM(npp), 0) AS BIGINT) AS nonpositive_price,
      CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS bad_status,
      CAST(COALESCE(SUM(CASE WHEN n IS NULL THEN ln END), 0) AS BIGINT)
        AS orphan_lineitems,
      COALESCE(SUM(CASE WHEN n IS NULL THEN ln END), 0) = 0
        AS fk_lineitem_orders_ok,
      CAST(COALESCE(SUM(CASE WHEN ln IS NULL THEN n END), 0) AS BIGINT)
        AS childless_orders
    FROM j
    """

sql_query(
    "quality_constraint_report",
    _CONSTRAINT_REPORT_SPARK,
    oracle=_CONSTRAINT_REPORT_ORACLE,
    tags=("quality", "validation", "constraints"),
    doc="Data-contract validation report — the expectation-suite shape "
    "(null counts, domain checks, PK uniqueness, FK referential "
    "integrity both directions) a production pipeline runs before "
    "promoting an ingest batch. Booleans make the report "
    "self-asserting: pk_unique and fk_lineitem_orders_ok must be TRUE "
    "on a healthy batch; the counts quantify any violation for triage. "
    "r16 (guide §2.3/§2.4): the Spark arm computes every check from "
    "per-orderkey rollups met in ONE full-outer join — orders scans "
    "4 -> 1, lineitem scans 2 -> 1, the anti-join shuffles replaced by "
    "two keyed aggregations (see _CONSTRAINT_REPORT_SPARK for the "
    "null-semantics proof sketch). Oracle keeps the declarative "
    "four-leg text; rows identical.",
)


_MG_K = 12


_MG_ITEMS_SQL = """
    SELECT CAST(user_id % 8 AS BIGINT) AS shard,
           CAST(user_id % (user_id % 31 + 1) AS BIGINT) AS item
    FROM events
"""


# The merge/prune/assert tail is IDENTICAL in both dialects; only how the
# per-shard summaries are produced differs (applyInPandas vs window SQL).
_MG_TAIL_SQL = """
    WITH merged AS (
      SELECT item, CAST(SUM(est) AS BIGINT) AS m
      FROM {summaries} WHERE item >= 0 GROUP BY item
    ),
    t2 AS (
      SELECT COALESCE(MAX(CASE WHEN rk = {k1} THEN m END), 0) AS t
      FROM (SELECT m, ROW_NUMBER() OVER (ORDER BY m DESC, item) AS rk
            FROM merged) r
    ),
    survivors AS (
      SELECT item, merged.m - t2.t AS est
      FROM merged CROSS JOIN t2 WHERE merged.m - t2.t > 0
    ),
    err AS (
      SELECT CAST((SELECT SUM(est) FROM {summaries} WHERE item = -1)
                  + t2.t AS BIGINT) AS err_bound
      FROM t2
    ),
    exact AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS c
      FROM ({items}) i GROUP BY item
    ),
    scored AS (
      -- survivors is <= k+1 rows by construction; the local-relation
      -- summaries give Catalyst no stats, so without the hint this
      -- planned as a sort-merge join (r11 explain_audit flag). DuckDB
      -- lexes the hint away as a comment, so the shared tail stays one
      -- text.
      SELECT /*+ BROADCAST(s) */ e.item, e.c, s.est,
             CAST(SUM(e.c) OVER () AS BIGINT) AS n
      FROM exact e LEFT JOIN survivors s ON e.item = s.item
    ),
    final AS (
      SELECT item, c, est, n,
             CAST(SUM(CASE WHEN c * {k1} > n AND est IS NULL
                           THEN 1 ELSE 0 END) OVER () AS BIGINT) AS hm
      FROM scored
    )
    SELECT f.item, CAST(f.est AS BIGINT) AS est_count,
           f.c AS exact_count, e.err_bound,
           CAST(f.est <= f.c AS BOOLEAN) AS lower_ok,
           CAST(f.c <= f.est + e.err_bound AS BOOLEAN) AS upper_ok,
           CAST(f.hm = 0 AS BOOLEAN) AS all_heavy_present
    FROM final f CROSS JOIN err e
    WHERE f.est IS NOT NULL
    ORDER BY est_count DESC, f.item
"""


def _mg_oracle_sql() -> str:
    k, k1 = _MG_K, _MG_K + 1
    summaries = f"""(
      WITH counts AS (
        SELECT shard, item, CAST(COUNT(*) AS BIGINT) AS c
        FROM ({_MG_ITEMS_SQL}) i GROUP BY shard, item
      ),
      ranked AS (
        SELECT shard, item, c,
               ROW_NUMBER() OVER (PARTITION BY shard
                                  ORDER BY c DESC, item) AS rk
        FROM counts
      ),
      sh_t AS (
        SELECT shard, COALESCE(MAX(CASE WHEN rk = {k1} THEN c END), 0) AS t
        FROM ranked GROUP BY shard
      )
      SELECT c.shard, c.item, c.c - t.t AS est
      FROM counts c JOIN sh_t t ON c.shard = t.shard
      WHERE c.c - t.t > 0
      UNION ALL
      SELECT shard, CAST(-1 AS BIGINT) AS item, t AS est FROM sh_t
    )"""
    return _MG_TAIL_SQL.format(summaries=summaries, items=_MG_ITEMS_SQL, k1=k1)


@query(
    "agg_frequent_items_mergeable",
    oracle=_mg_oracle_sql(),
    tags=("agg", "approx", "sketch", "mergeable", "grouped-map"),
    doc="Mergeable Misra-Gries frequent-items summaries — the bounded-"
    "state heavy-hitter pattern for 100 TB streams: each shard reduces "
    "its items to at most k=12 weighted counters (offline-canonical MG "
    "prune: subtract the (k+1)-th largest count, keep positives — the "
    "prune operation from Agarwal et al.'s Mergeable Summaries), only "
    "those tiny summaries cross shard boundaries, and merging is "
    "counter addition followed by one more prune. The shard pass runs "
    "as applyInPandas with per-group state bounded by the DISTINCT "
    "items of one shard's counts (never raw rows: the exact per-item "
    "count feeding the prune is itself a partial-aggregated groupBy); "
    "a sentinel row (item=-1) carries each shard's subtracted "
    "threshold so the global error bound err <= sum(t_s) + t2 is "
    "exact. EXACTLY oracled, not property-oracled: the prune is "
    "deterministic integer arithmetic ((k+1)-th largest is a multiset "
    "statistic, independent of tie order), so DuckDB reproduces the "
    "identical summary via window SQL. Self-asserting columns pin the "
    "MG guarantees cross-checked against exact counts: est <= true <= "
    "est + err_bound, and every item above n/(k+1) survives — the "
    "exact-count cross-check re-reads the corpus exactly ONCE (total "
    "and heavy-miss fold into the per-item pass as global windows "
    "over the <= |items|-row table, rather than per-CTE rescans). "
    "The item "
    "key is integer-only zipf-ish skew (user_id % (user_id % 31 + 1)) "
    "— no transcendental whose last-ulp could diverge across engines.",
)
def agg_frequent_items_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    load_fixture_tables(spark, sf_dir)
    k, k1 = _MG_K, _MG_K + 1
    items = spark.sql(_MG_ITEMS_SQL)

    def mg_prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cnt = (
            pdf.groupby("item").size().sort_values(ascending=False)
        )
        t = int(cnt.iloc[k]) if len(cnt) > k else 0
        surv = cnt - t
        surv = surv[surv > 0]
        shard = int(pdf["shard"].iloc[0])
        out = pd.DataFrame(
            {
                "shard": shard,
                "item": surv.index.to_numpy(dtype="int64"),
                "est": surv.to_numpy(dtype="int64"),
            }
        )
        sentinel = pd.DataFrame({"shard": [shard], "item": [-1], "est": [t]})
        return pd.concat([out, sentinel], ignore_index=True)

    summaries = items.groupBy("shard").applyInPandas(
        mg_prune, "shard bigint, item bigint, est bigint"
    )
    # Materialize the summaries as a LOCAL relation: the tail SQL
    # consumes them from several CTE branches, and an inlined CTE would
    # re-run the whole shard pass per branch. Driver-size by
    # construction — that is the entire point of a mergeable summary:
    # <= shards x (k+1) rows (104 here; 130k even at 10k shards),
    # regardless of corpus size.
    rows = summaries.collect()
    from bdt_spark.operators.localrel import local_relation

    # A JVM LocalRelation, not a pickled Python RDD: the tail SQL reads
    # this view from several CTE branches — a pickled-RDD scan would pay
    # a Python-worker round per branch per action (guide §4.1).
    local_relation(
        spark, rows, "shard bigint, item bigint, est bigint"
    ).createOrReplaceTempView("mg_summaries")
    return spark.sql(
        _MG_TAIL_SQL.format(
            summaries="mg_summaries", items=_MG_ITEMS_SQL, k1=k1
        )
    )


_BLOOM_WORDS = 65536  # 32-bit words -> 2,097,152-bit filter


def _bloom_semi_join_sql(dialect: str) -> str:
    nb = _BLOOM_WORDS * 32
    if dialect == "spark":
        def lane(col: str, lo: int) -> str:
            return (
                f"CAST(CONV(SUBSTR(md5(CAST({col} AS STRING)), {lo}, 8), "
                f"16, 10) AS BIGINT) % {nb}"
            )

        wdiv = "DIV"
        mask = "SHIFTLEFT(CAST(1 AS BIGINT), CAST({b} AS INT))"
    else:
        def lane(col: str, lo: int) -> str:
            return (
                f"CAST('0x' || SUBSTR(md5(CAST({col} AS VARCHAR)), {lo}, 8) "
                f"AS BIGINT) % {nb}"
            )

        wdiv = "//"
        mask = "(CAST(1 AS BIGINT) << CAST({b} AS INT))"
    def wb(col: str, lo: int, pfx: str) -> str:
        p = lane(col, lo)
        return (
            f"CAST(({p}) {wdiv} 32 AS BIGINT) AS {pfx}w, "
            f"CAST(({p}) % 32 AS INT) AS {pfx}b"
        )

    return f"""
    WITH build_keys AS (
      SELECT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    ),
    build_bits AS (
      SELECT {wb('k', 1, 'h1')}, {wb('k', 9, 'h2')}, {wb('k', 17, 'h3')}
      FROM build_keys
    ),
    bloom AS (
      SELECT w, CAST(BIT_OR(m) AS BIGINT) AS word FROM (
        SELECT h1w AS w, {mask.format(b='h1b')} AS m FROM build_bits
        UNION ALL
        SELECT h2w AS w, {mask.format(b='h2b')} AS m FROM build_bits
        UNION ALL
        SELECT h3w AS w, {mask.format(b='h3b')} AS m FROM build_bits
      ) bits GROUP BY w
    ),
    probe AS (
      SELECT DISTINCT l_orderkey AS pk FROM lineitem
    ),
    probe_bits AS (
      SELECT pk, {wb('pk', 1, 'h1')}, {wb('pk', 9, 'h2')}, {wb('pk', 17, 'h3')}
      FROM probe
    ),
    candidates AS (
      SELECT p.pk
      FROM probe_bits p
      JOIN bloom g1 ON g1.w = p.h1w
                    AND (g1.word & {mask.format(b='p.h1b')}) <> 0
      JOIN bloom g2 ON g2.w = p.h2w
                    AND (g2.word & {mask.format(b='p.h2b')}) <> 0
      JOIN bloom g3 ON g3.w = p.h3w
                    AND (g3.word & {mask.format(b='p.h3b')}) <> 0
    ),
    truth AS (
      SELECT p.pk FROM probe p
      WHERE EXISTS (SELECT 1 FROM build_keys b WHERE b.k = p.pk)
    ),
    counts AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM build_keys) AS n_build_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM candidates) AS n_candidates,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
         WHERE t.pk NOT IN (SELECT pk FROM candidates)) AS n_missed
    )
    SELECT n_build_keys, n_probe_keys, n_candidates, n_true,
           n_candidates - n_true AS n_false_pos,
           ROUND(CAST(n_candidates - n_true AS DOUBLE)
                 / (n_probe_keys - n_true), 8) AS fpr,
           CAST(n_missed = 0 AS BOOLEAN) AS no_false_negatives,
           CAST(CAST(n_candidates - n_true AS DOUBLE)
                / (n_probe_keys - n_true) < 0.05 AS BOOLEAN) AS fpr_ok,
           ROUND({nb} / CAST(n_build_keys AS DOUBLE), 2) AS bits_per_key
    FROM counts
    """


sql_query(
    "join_bloom_filter_pruning",
    _bloom_semi_join_sql("spark"),
    oracle=_bloom_semi_join_sql("duck"),
    tags=("join", "bloom", "runtime-filter", "pruning"),
    doc="Bloom-filter semi-join pruning built IN SQL and measured against "
    "the exact semi-join — the runtime-filter pattern that turns a "
    "100 TB fact-scan x selective-dim join into 'ship a 256 KB bitmap "
    "to every task, drop non-candidates before the shuffle'. The "
    "filter is a TABLE of 65536 32-bit words (bit 31 max keeps every "
    "shifted mask positive — no BIGINT overflow in either engine): "
    "build keys fan out to 3 md5 lanes (the same 8-hex-char lane "
    "convention as MinHash), BIT_OR folds them per word, and the probe "
    "side re-derives its 3 (word, bit) coordinates and survives only "
    "if all three broadcast joins find their bit set. Self-asserting: "
    "no_false_negatives MUST be true (Bloom guarantee — a dropped true "
    "match would be a correctness bug, not a tuning miss), fpr_ok pins "
    "the measured false-positive rate under 5% (2M bits vs ~45k keys "
    "even at sf10 -> theoretical fpr ~2e-4), and the exact fpr value "
    "hash-matches cross-engine because the whole filter is "
    "deterministic integer arithmetic. Dialect split: CONV vs '0x' "
    "cast for hex lanes, DIV vs //, SHIFTLEFT vs <<.",
)


def _profile_sql(dialect: str) -> str:
    cols = [
        ("o_orderkey", "CAST(o_orderkey AS STRING)"),
        ("o_custkey", "CAST(o_custkey AS STRING)"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_totalprice",
         "CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS STRING)"),
        # via DATE: a tz-tagged parquet TIMESTAMP (the scaled fixtures
        # surface as TIMESTAMPTZ in DuckDB) would stringify with a
        # '+00' suffix on one engine only
        ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS STRING)"),
        ("o_orderpriority", "o_orderpriority"),
    ]
    if dialect == "spark":
        args = ", ".join(f"'{n}', {e}" for n, e in cols)
        long_form = (
            f"SELECT col, val FROM orders "
            f"LATERAL VIEW stack({len(cols)}, {args}) s AS col, val"
        )
    else:
        legs = " UNION ALL ".join(
            f"SELECT '{n}' AS col, {e.replace('AS STRING', 'AS VARCHAR')} "
            f"AS val FROM orders"
            for n, e in cols
        )
        long_form = legs
    return f"""
    WITH long_form AS ({long_form}),
    base AS (
      SELECT col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(val) AS BIGINT) AS n_filled,
             CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
             MIN(val) AS min_str, MAX(val) AS max_str
      FROM long_form GROUP BY col
    ),
    vc AS (
      SELECT col, val, CAST(COUNT(*) AS BIGINT) AS c,
             ROW_NUMBER() OVER (PARTITION BY col
                                ORDER BY COUNT(*) DESC, val) AS rk
      FROM long_form WHERE val IS NOT NULL GROUP BY col, val
    )
    SELECT b.col, b.n_rows, b.n_rows - b.n_filled AS n_nulls,
           b.n_distinct, b.min_str, b.max_str,
           v.val AS top_value, v.c AS top_count
    FROM base b JOIN vc v ON b.col = v.col AND v.rk = 1
    ORDER BY b.col
    """


sql_query(
    "catalog_table_profile",
    _profile_sql("spark"),
    oracle=_profile_sql("duck"),
    tags=("catalog", "profiling", "quality"),
    doc="One-pass column profiler (the stats panel behind a `schema`/"
    "`describe` CLI: null count, distinct count, min/max, modal value) "
    "in LONG form — stack/UNPIVOT the table to (column, value-as-"
    "string) rows and profile all columns through ONE aggregation "
    "pipeline instead of N per-column scans; a naive SELECT with six "
    "COUNT(DISTINCT col_i) would plan a 6-way Expand (6x the scan "
    "rows through the shuffle — the Expand hazard test_plans pins "
    "elsewhere), while the long form shuffles each value exactly "
    "once. Values stringify through engine-stable reprs (DECIMAL for "
    "the double column, native for strings/ints/timestamps); min/max "
    "are therefore lexicographic — documented profile semantics, "
    "deterministic everywhere. Modal value tie-breaks (count DESC, "
    "value ASC). Dialect split: stack() vs UNION ALL legs (DuckDB's "
    "UNPIVOT types conflict across mixed columns).",
)


_QUANTILE_BIN_TAIL = """
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_in_bin
    FROM {binned}
    GROUP BY decile
    ORDER BY decile
    """


@query(
    "features_quantile_binning",
    oracle="""
    WITH binned AS (
      SELECT o_orderkey, o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    """
    + _QUANTILE_BIN_TAIL.format(binned="binned"),
    tags=("features", "binning", "quantile"),
    doc="Equi-depth decile binning of a continuous feature — the "
    "feature-engineering discretizer AND the boundary planner behind "
    "repartitionByRange (the lo/hi fences of each bin are exactly the "
    "range-partition split points that balance a skewed write). NTILE "
    "over a TOTAL order (price, orderkey) is deterministic down to the "
    "row — identical bin populations, not just similar fences. The "
    "Spark side takes its global row number from "
    "operators/globalorder.py (one ordered window below the module's "
    "scanned-bytes gate; above it a range partition on the total "
    "order, per-partition row numbers and broadcast offsets, with no "
    "single-partition window) and derives NTILE arithmetically from "
    "it (exact same tiling as the oracle's NTILE by the standard "
    "first-r-tiles-get-one-extra rule). The bin aggregation tail is "
    "the same SQL text the oracle runs. Bin means decimal-pinned.",
)
def features_quantile_binning(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.operators.globalorder import (
        ntile_from_index,
        with_global_order,
    )

    t = load_fixture_tables(spark, sf_dir)
    base = t["orders"].select("o_orderkey", "o_totalprice")
    ordered, _, n = with_global_order(
        base,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        index_col="__rn",
    )
    binned = ordered.withColumn("decile", ntile_from_index("__rn", n, 10))
    binned.createOrReplaceTempView("__go_quantile_binned")
    out = spark.sql(_QUANTILE_BIN_TAIL.format(binned="__go_quantile_binned"))
    return transfer_ownership(out, ordered)


_DELETE_PROP_ORACLE = """
    WITH tombstones AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 499 = 0
    ),
    affected AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS event_rows_hit,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users_hit
      FROM events e JOIN tombstones t ON e.user_id = t.user_id
    ),
    survivors AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS rows_after,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_after
      FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM tombstones t
                        WHERE t.user_id = e.user_id)
    ),
    total AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS rows_before FROM events
    ),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaked
      FROM events e JOIN tombstones t ON e.user_id = t.user_id
      WHERE NOT EXISTS (SELECT 1 FROM tombstones t2
                        WHERE t2.user_id = e.user_id)
    )
    SELECT t.rows_before, a.event_rows_hit, a.users_hit,
           s.rows_after, s.users_after,
           CAST(t.rows_before = a.event_rows_hit + s.rows_after
                AS BOOLEAN) AS partition_exact,
           CAST(l.leaked = 0 AS BOOLEAN) AS no_leak
    FROM total t CROSS JOIN affected a CROSS JOIN survivors s
    CROSS JOIN leak l
    """

# r16 Spark arm (guide §2.3/§2.4): the declarative report inlines the
# tombstone CTE into four counting legs — EIGHT events scans in the
# executed plan. But tombstone membership of an event row is a
# function of its OWN user_id (tombstones = DISTINCT user_id FROM
# events WHERE user_id % 499 = 0, joined back on equality — the
# equi-join succeeds iff e.user_id % 499 = 0 AND e.user_id IS NOT
# NULL, and every such user_id is in the list by construction), so
# the whole report folds into ONE scan + one per-user aggregation:
# per_user has exactly one row per distinct user_id (plus one NULL
# group), making COUNT(CASE ...) over it the COUNT(DISTINCT ...) of
# the legs. NULL semantics preserved: a NULL user_id never joins and
# never matches EXISTS, so it is a survivor row ('tomb IS NOT TRUE'
# covers NULL % 499 = NULL) and is excluded from both user counts
# (the CASE yields NULL user_id, which COUNT skips). COALESCE pins
# the empty-table case to the legs' COUNT(*)=0. The leak invariant
# stays structurally zero (tomb AND NOT tomb).
_DELETE_PROP_SPARK = """
    WITH per_user AS (
      SELECT user_id, user_id % 499 = 0 AS tomb,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    )
    SELECT
      CAST(COALESCE(SUM(n), 0) AS BIGINT) AS rows_before,
      CAST(COALESCE(SUM(CASE WHEN tomb THEN n END), 0) AS BIGINT)
        AS event_rows_hit,
      CAST(COUNT(CASE WHEN tomb THEN user_id END) AS BIGINT) AS users_hit,
      CAST(COALESCE(SUM(CASE WHEN tomb IS NOT TRUE THEN n END), 0)
           AS BIGINT) AS rows_after,
      CAST(COUNT(CASE WHEN tomb IS NOT TRUE THEN user_id END) AS BIGINT)
        AS users_after,
      CAST(COALESCE(SUM(n), 0) =
             COALESCE(SUM(CASE WHEN tomb THEN n END), 0)
           + COALESCE(SUM(CASE WHEN tomb IS NOT TRUE THEN n END), 0)
           AS BOOLEAN) AS partition_exact,
      CAST(COALESCE(SUM(CASE WHEN tomb AND tomb IS NOT TRUE THEN n END), 0)
           = 0 AS BOOLEAN) AS no_leak
    FROM per_user
    """

sql_query(
    "pipeline_delete_propagation",
    _DELETE_PROP_SPARK,
    oracle=_DELETE_PROP_ORACLE,
    tags=("pipeline", "deletion", "compliance"),
    doc="Right-to-be-forgotten propagation audit — the report a "
    "deletion pipeline emits before and after applying a tombstone "
    "list: rows/users hit, rows/users surviving the NOT EXISTS "
    "anti-join (the null-safe delete semantics), and two "
    "self-asserting invariants — hit + survivors partitions the table "
    "EXACTLY (nothing dropped or double-counted) and the leak probe "
    "(tombstoned rows that would survive) is structurally zero. At "
    "100 TB the tombstone list broadcasts (it is always tiny relative "
    "to the corpus) and the delete is one anti-join scan; with the "
    "versioned-table writer (operators/versioned.py) the rewrite "
    "commits atomically. All counts exact cross-engine.",
)


sql_query(
    "quality_split_drift_chi2",
    """
    WITH tagged AS (
      SELECT o_orderpriority AS category,
             CAST(o_orderkey % 2 AS INT) AS split
      FROM orders
    ),
    cells AS (
      SELECT category, split, CAST(COUNT(*) AS BIGINT) AS n
      FROM tagged GROUP BY category, split
    ),
    margins AS (
      SELECT c.category, c.split, c.n,
             CAST(SUM(c.n) OVER (PARTITION BY c.category) AS BIGINT)
               AS cat_total,
             CAST(SUM(c.n) OVER (PARTITION BY c.split) AS BIGINT)
               AS split_total,
             CAST(SUM(c.n) OVER () AS BIGINT) AS grand
      FROM cells c
    ),
    terms AS (
      SELECT category, split, n,
             CAST(cat_total AS DOUBLE) * split_total / grand AS expected
      FROM margins
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT category) - 1 AS BIGINT) AS dof,
           ROUND(CAST(SUM(CAST((n - expected) * (n - expected) / expected
                               AS DECIMAL(30,12))) AS DOUBLE), 6)
             AS chi2,
           CAST(CAST(SUM(CAST((n - expected) * (n - expected) / expected
                              AS DECIMAL(30,12))) AS DOUBLE)
                < 15.09 AS BOOLEAN) AS no_drift_at_1pct
    FROM terms
    """,
    tags=("quality", "drift", "statistics"),
    doc="Train/test split drift check via the chi-square homogeneity "
    "statistic — the pre-training gate that catches a broken split "
    "(a hash-split must NOT correlate with any feature; here the "
    "o_orderpriority distribution across an orderkey%2 split). "
    "Contingency cells, margins and expected counts come from one "
    "groupBy plus window margins (one pass over the tiny cell "
    "table); chi2 terms are decimal-pinned before the fold so "
    "accumulation order cannot flip the rounded value. "
    "no_drift_at_1pct compares against the chi-square 99th "
    "percentile at dof=4 (15.09, Wilson-Hilferty table value "
    "inlined as a constant: a sound split stays under it; at 100 TB "
    "the statistic's power grows with n, exactly what you want for "
    "a contamination gate). Common-subset SQL, oracle is the same "
    "text.",
)


_KS_PTS = """
      SELECT v,
             CAST(SUM(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(SUM(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d2
      FROM (SELECT o_totalprice AS v, CAST(o_orderkey % 2 AS INT) AS split
            FROM orders) tagged
      GROUP BY v
    """


_KS_TAIL = """
    WITH gaps AS (
      SELECT n1, n2,
             ABS(c1 * n2 - c2 * n1) AS gap_num
      FROM {cdf}
    )
    SELECT MAX(n1) AS n1, MAX(n2) AS n2,
           ROUND(CAST(MAX(gap_num) AS DOUBLE) / (MAX(n1) * MAX(n2)), 8)
             AS ks_d,
           CAST(CAST(MAX(gap_num) AS DOUBLE) / (MAX(n1) * MAX(n2))
                < 1.628 * SQRT((MAX(n1) + MAX(n2))
                               / (CAST(MAX(n1) AS DOUBLE) * MAX(n2)))
                AS BOOLEAN) AS no_drift_at_1pct
    FROM gaps
    """


@query(
    "quality_split_drift_ks",
    oracle=f"""
    WITH pts AS ({_KS_PTS}),
    cdf AS (
      SELECT v,
             CAST(SUM(d1) OVER (ORDER BY v) AS BIGINT) AS c1,
             CAST(SUM(d2) OVER (ORDER BY v) AS BIGINT) AS c2,
             CAST(SUM(d1) OVER () AS BIGINT) AS n1,
             CAST(SUM(d2) OVER () AS BIGINT) AS n2
      FROM pts
    ),
    """
    + _KS_TAIL.format(cdf="cdf").lstrip().removeprefix("WITH"),
    tags=("quality", "drift", "statistics", "ks-test"),
    doc="Two-sample Kolmogorov-Smirnov drift check on a CONTINUOUS "
    "feature across the hash split — the companion to the chi-square "
    "gate (which needs categories): D = max |F1(x) - F2(x)|, computed "
    "EXACTLY as integer cross-multiplied cumulative counts "
    "(|c1*n2 - c2*n1|, no per-row divisions to accumulate error; one "
    "final IEEE division). The CDFs come from per-value grouped "
    "counts + ONE ordered window over distinct values (bounded by "
    "distinct prices, not rows; evaluating D only at sample points "
    "is exact — the CDF gap is constant between them). "
    "no_drift_at_1pct uses the standard large-sample critical value "
    "c(0.01)=1.628 (Smirnov asymptotic, public tables). A sound "
    "orderkey%2 split must pass at any sf. The Spark side's "
    "cumulative counts and n1/n2 totals come from "
    "operators/globalorder.py: one ordered window below its "
    "scanned-bytes gate, range-partitioned prefix sums with literal "
    "totals above it (distinct prices can approach row cardinality "
    "on a continuous feature, where one ordered window would be a "
    "corpus-sized single partition). The oracle keeps the classic "
    "windowed form.",
)
def quality_split_drift_ks(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.operators.globalorder import with_global_order

    load_fixture_tables(spark, sf_dir)
    pts = spark.sql(f"SELECT * FROM ({_KS_PTS})")
    go_res, totals, _ = with_global_order(
        pts, [F.col("v").asc()], running={"c1": "d1", "c2": "d2"}
    )
    cdf = (
        go_res.withColumn("c1", F.col("c1").cast("bigint"))
        .withColumn("c2", F.col("c2").cast("bigint"))
        .withColumn("n1", totals["c1"].cast("bigint"))
        .withColumn("n2", totals["c2"].cast("bigint"))
    )
    cdf.createOrReplaceTempView("__go_ks_cdf")
    out = spark.sql(_KS_TAIL.format(cdf="__go_ks_cdf"))
    return transfer_ownership(out, go_res)
