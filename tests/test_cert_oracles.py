"""Big-SF certification oracles (registry.QuerySpec.cert_oracle,
VERDICT r12 item 3) must agree with BOTH the primary SQL oracle and
the Spark result at a small SF where all three are runnable — that
triangle is what licenses swapping the cert oracle in at sf10+ where
the primary replay is sandbox-infeasible."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from pandas_redshift_spark.operators import all_queries  # noqa: E402
from tools.driver_sim import TABLES, canon_hash  # noqa: E402


def _cert_specs():
    return [s for s in all_queries().values() if s.cert_oracle is not None]


def test_cert_oracle_coverage():
    """Exactly the documented big-SF oracle-replay orphans carry a
    cert oracle (update this list deliberately when adding one)."""
    assert sorted(s.name for s in _cert_specs()) == [
        "dedup_cluster_components",
        "dedup_semantic_ivf",
        "pipe_dedup_cascade",
    ]


@pytest.mark.parametrize(
    "name",
    ["dedup_semantic_ivf", "pipe_dedup_cascade", "dedup_cluster_components"],
)
def test_cert_oracle_triangle(spark, sf_dir, name):
    spec = all_queries()[name]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    sdf = spec.fn(spark, sf_dir).toPandas()
    primary = con.sql(spec.oracle).df()
    cert_sql = spec.cert_oracle(spark, sf_dir, con)
    cert = con.sql(cert_sql).df()
    assert sorted(cert.columns) == sorted(primary.columns) == sorted(sdf.columns)
    h_spark, h_primary, h_cert = (
        canon_hash(sdf.copy()),
        canon_hash(primary.copy()),
        canon_hash(cert.copy()),
    )
    assert h_cert == h_primary, f"{name}: cert oracle != primary oracle"
    assert h_cert == h_spark, f"{name}: cert oracle != Spark result"


def test_semdedup_cert_oracle_sanity_rejects_bad_export(spark, sf_dir, monkeypatch):
    """The inline training sanity must fail loudly on a corrupted
    codebook export (a silent pass would certify garbage).  The
    corruption targets only the query-SF export so the earlier
    trainer drift pin (which trains on the canonical low-rung
    fixture) passes and the INLINE layer is the one exercised."""
    import pandas_redshift_spark.operators.similarity as sim

    real = sim.train_kmeans_centroid_values

    def corrupt(*a, **kw):
        cents = [(c, list(v)) for c, v in real(*a, **kw)]
        key = kw.get("cache_key") or (a[3] if len(a) > 3 else None)
        if key and key[1] == sim.KMEANS_DRIFT_FIXTURE:
            return cents  # leave the drift-pin training honest
        cents[0] = (cents[0][0], [x * 2.0 for x in cents[0][1]])  # non-unit
        return cents

    monkeypatch.setattr(sim, "train_kmeans_centroid_values", corrupt)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    with pytest.raises(AssertionError, match="training sanity"):
        sim._semdedup_cert_oracle(spark, sf_dir, con)


def test_semdedup_cert_oracle_hierarchical_regime(spark, sf_dir, monkeypatch):
    """VERDICT r13 item 5: the hierarchical-trainer regime used to be
    a NotImplementedError boundary in the cert oracle; now it is a
    full independent SQL replay (_hier_replay_ctes).  With the flat
    ceiling forced below the fixture's K, the Spark side routes
    through train_kmeans_hierarchical + _assign_two_level and
    the cert oracle must hash-match it end to end — the same triangle
    contract the flat regime holds (no primary-oracle leg here: the
    static primary replays the flat schedule by construction)."""
    import pandas_redshift_spark.operators.similarity as sim
    from tests.conftest import drop_memo

    monkeypatch.setattr(sim, "KMEANS_FLAT_TRAIN_MAX_K", 8)
    drop_memo("persist", "frame")

    spec = all_queries()["dedup_semantic_ivf"]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    cert_sql = spec.cert_oracle(spark, sf_dir, con)
    assert "child0" in cert_sql  # really the hierarchical replay
    sdf = spec.fn(spark, sf_dir).toPandas()
    cert = con.sql(cert_sql).df()
    assert sorted(cert.columns) == sorted(sdf.columns)
    assert canon_hash(sdf.copy()) == canon_hash(cert.copy()), (
        "hierarchical-regime Spark result != hierarchical SQL replay"
    )
    drop_memo("persist", "frame")


def test_trainer_drift_check_grounds_the_pinned_codebook(spark, monkeypatch):
    """ADVICE r13: the big-SF cert pins a codebook from the same
    trainer the query uses — self-referential.  The drift check must
    (a) pass for the live trainer (bit-exact vs the independent
    DuckDB replay on the canonical fixture) and (b) fail loudly on a
    wrong-but-VALID regression that the inline sanity cannot see
    (unit-norm, on-stratum centroids that simply aren't the schedule's
    output — here: two seed centroids swapped)."""
    import pandas_redshift_spark.operators.similarity as sim

    sim._trainer_codebook_drift_check(spark)  # live trainer: grounded

    real = sim.train_kmeans_centroid_values

    def swapped(*a, **kw):
        cents = [(c, list(v)) for c, v in real(*a, **kw)]
        # swap the vectors behind the first two cell ids: still
        # unit-norm, still on-stratum ids — invisible to the inline
        # sanity, visible only against the independent replay
        cents[0], cents[1] = (
            (cents[0][0], cents[1][1]),
            (cents[1][0], cents[0][1]),
        )
        return cents

    monkeypatch.setattr(sim, "train_kmeans_centroid_values", swapped)
    with pytest.raises(AssertionError, match="trainer drift"):
        sim._trainer_codebook_drift_check(spark)


def test_super_train_ctes_is_prefix_of_full():
    """_super_train_ctes must stay byte-identical to the training
    portion of _super_ctes (the cert oracle pairs it with the skinny
    assignment; a drift here would silently fork the replayed super
    codebook)."""
    from pandas_redshift_spark.operators.similarity import (
        _super_ctes,
        _super_train_ctes,
    )

    assert _super_ctes().startswith(_super_train_ctes())
