"""Plan-shape audits of the near-dup dedup and curation queries: the
``tools/make_plans.py`` AUDITS entries (must / must-not operators,
and the SRP check that no Generate carries the embedding) built at
sf0.01 in make_plans' own session, so a plan regression fails here
and not only when PLANS.md is regenerated by hand."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import make_plans  # noqa: E402

QUERIES = ["dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
           "embedding_srp_lsh", "semantic_dedup", "dedup_clusters",
           "curate_web", "curate_full"]


@pytest.fixture(scope="module")
def spark():
    s = make_plans.plan_session()
    yield s
    s.catalog.clearCache()
    s.stop()


@pytest.mark.parametrize("name", QUERIES)
def test_plan_audit(spark, name):
    _, failures = make_plans.audit(spark, name)
    assert failures == []
