"""Shared per-dialect SQL fragment builders for the pipeline_* family
modules (split from plans/pipeline.py in round 11, zero functional change:
all 211 registered oracle/spark SQL strings byte-identical before/after).

Shingle/word streams, MD5 hash lanes, and embedding dot/norm fragments are
emitted in BOTH the Spark and DuckDB dialects from one definition each, so
the engine under test and its oracle cannot drift apart. See the original
module docstring in plans/pipeline.py for the cross-engine determinism and
100 TB scale-design contracts that every family module inherits.
"""


from __future__ import annotations

from bdt_spark.operators.dedup import shingle_expr

# ---------------------------------------------------------------------------
# helpers: per-dialect SQL fragments
# ---------------------------------------------------------------------------


def _duck_shingles(src: str = "text") -> str:
    """DuckDB twin of operators/dedup.shingle_expr (the Spark side)."""
    w = f"string_split(lower({src}), ' ')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({w}) - 2, 1) + 1),"
        f" i -> {w}[i] || ' ' || {w}[i + 1] || ' ' || {w}[i + 2]))"
    )


def _shingles(dialect: str) -> str:
    return shingle_expr() if dialect == "spark" else _duck_shingles()


def _shingle_stream(dialect: str) -> str:
    """explode_OUTER, not explode: plain explode implies a size(arr)>0
    filter that Catalyst pushes into the scan — re-evaluating the whole
    interpreted shingle expression a second time per row (measured 2x
    the query cost at sf1). The outer form's empty-array NULL rows never
    survive the downstream equi joins, so results are identical."""
    return "explode_outer(shingles)" if dialect == "spark" else "unnest(shingles)"


def _word_stream(dialect: str) -> str:
    """Lower-cased, space-split word-stream expression (one row per word
    occurrence) — the whitespace tokenizer shared by every word-level
    text query. One definition per dialect so a query and its oracle can
    never tokenize differently (r10 consolidation of 7 inline copies)."""
    if dialect == "spark":
        return "explode(split(lower(text), ' '))"
    return "unnest(string_split(lower(text), ' '))"


# --- embedding cosine (near-dup + ANN) --------------------------------------


EMB_DIM = 64  # fixture embedding dimensionality (TESTDATA.md contract);


# the flat unrolled expressions below are generated for this length.
# CAUTION: out-of-range array indexing yields NULL identically in both
# engines, so a regenerated fixture with a different dim would fail
# SILENTLY AND SYMMETRICALLY (oracle still matches while both engines
# compute truncated dots). tests/test_queries.py pins every fixture sf's
# actual embedding length to EMB_DIM so that drift is caught loudly.


def _dot(dialect: str, a: str, b: str) -> str:
    """Deterministic double-precision dot product — delegates to the ONE
    unrolled-chain generator in operators/dedup.py (flat_dot_sql) so the
    oracle's cosine and the Spark operator's cosine cannot drift in IEEE
    accumulation order (see flat_dot_sql for the codegen rationale)."""
    from bdt_spark.operators.dedup import flat_dot_sql

    return flat_dot_sql(a, b, EMB_DIM, one_based=dialect != "spark")


def _norm(dialect: str, e: str) -> str:
    """Euclidean norm — same shared generator (see _dot).

    The similarity queries project this ONCE per vector row before any
    pair-building join, so it runs O(n) times instead of O(pairs)."""
    from bdt_spark.operators.dedup import flat_norm_sql

    return flat_norm_sql(e, EMB_DIM, one_based=dialect != "spark")


def _cos_pre(dialect: str, a: str, b: str, a_nrm: str, b_nrm: str) -> str:
    """Cosine from a fresh dot product and two PREcomputed norm columns."""
    return f"({_dot(dialect, a, b)} / ({a_nrm} * {b_nrm}))"
