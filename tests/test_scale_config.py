"""Config and session guards: the spark-submit master resolution order
and the bucket-cap invariant."""

from __future__ import annotations


def test_resolve_master_order(monkeypatch):
    """Deployment-path regression (r5): spark-submit's --master must
    win over the env override and the local[*] default — before the
    fix build_session hijacked every spark-submit into local[*] unless
    the app-level --master flag was ALSO passed."""
    from destor_spark import session as S

    # explicit argument always wins
    monkeypatch.setattr(S, "_submitted_master", lambda: "yarn")
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[4]")
    assert S.resolve_master("local[2]") == "local[2]"
    # launcher-provided master outranks the env override
    assert S.resolve_master(None) == "yarn"
    # no launcher: env override applies
    monkeypatch.setattr(S, "_submitted_master", lambda: None)
    assert S.resolve_master(None) == "local[4]"
    # bare python, nothing set: local[*]
    monkeypatch.delenv("SPARK_GRAFT_MASTER")
    assert S.resolve_master(None) == "local[*]"


def test_inverted_bucket_caps_rejected():
    """bucket_hard_cap < bucket_cap would label (and ALL-PAIR) buckets
    above the hard cap as all_pairs — the exact blow-up the caps exist
    to prevent — and leave the star_hot inventory silently empty."""
    import pytest

    from destor_spark.config import DedupConfig

    with pytest.raises(ValueError, match="bucket_hard_cap"):
        DedupConfig(bucket_cap=200_000, bucket_hard_cap=100_000)
