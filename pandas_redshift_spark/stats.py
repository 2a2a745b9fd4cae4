"""Session-memoized table statistics (VERDICT r8 items 4 + 8).

Several operators size themselves from the corpus row count — the PQ
re-rank shortlist (``pq_shortlist``), the LSH band-width schedule
(``lsh_band_width``), and the SemDeDup K schedule all take N as input.
Before this module each call site ran its own eager ``.count()`` job,
twice per cold session for the embeddings table and — worse — once per
INVOCATION for ``dedup_embedding_cosine``, which counted the
normalized (scanned + filtered + transformed) frame instead of the raw
table (ADVICE r8).

:func:`table_rows` consolidates them: one count job per
``(application, sf_dir, table)`` for the whole session, always against
the RAW parquet scan (pure row-count, no compute pulled in), cached in
the session memo (``session.memo``, families ``table_rows`` and
``column_minmax``).

100 TB note: even a raw-scan count is a job; on a real cluster this
lookup belongs to the catalog (``ANALYZE TABLE``-maintained stats, or
parquet footer row counts via aggregate pushdown).  The memo keeps the
local cost to one job per table per session, and the single
choke-point makes the future catalog swap a one-function change.

Oracle alignment: every sizing formula that feeds a DuckDB-oracled
query computes from ``count(*)`` of the SAME raw table on the SQL side
(e.g. ``FROM embeddings``, not the zero-norm-filtered CTE), so the two
engines always agree on N.  The driver fixtures contain no zero-norm
vectors at any SF (checked r9), so this raw/filtered alignment changes
no current hash.
"""

from __future__ import annotations

from pandas_redshift_spark.session import Tables, memo


def table_rows(t: Tables, name: str) -> int:
    """Raw row count of ``{sf_dir}/{name}.parquet``, one count job per
    session per table."""
    return memo(
        t.spark, "table_rows", (t.sf_dir, name), lambda: t.load(name).count()
    )


def column_minmax(t: Tables, name: str, cols: tuple[str, ...]) -> dict:
    """Per-column ``{col: (min, max)}`` of raw numeric columns as
    DOUBLES, one agg job per session per (table, cols) — the same
    catalog-statistics class as :func:`table_rows` (r14: the z-order
    layout sink re-ran this 1-row agg on every invocation; on a real
    lake these bounds come from ANALYZE/footer stats).  The agg casts
    to double BEFORE min/max, exactly like the inline form it
    replaces, so the downstream normalization arithmetic is
    bit-identical."""
    import pyspark.sql.functions as F

    def build() -> dict:
        row = t.load(name).agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
        ).first()
        return {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}

    return memo(t.spark, "column_minmax", (t.sf_dir, name, tuple(cols)), build)
