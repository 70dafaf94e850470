"""Registry invariants: the verification window leads the registry,
the plan waiver lists only shrink and name live queries, and the
scale oracles shadow real oracle-gated entries."""

from __future__ import annotations


def test_verify_first_is_fifty_unique_registry_names():
    from mapreducego_spark.registry import _VERIFY_FIRST, QUERIES

    assert len(_VERIFY_FIRST) == 50
    assert len(set(_VERIFY_FIRST)) == 50
    assert set(_VERIFY_FIRST) <= set(QUERIES), (
        sorted(set(_VERIFY_FIRST) - set(QUERIES))
    )


def test_queries_lead_with_verify_first():
    """Each round's correctness run verifies the first 50 entries of
    queries() in insertion order; that window is _VERIFY_FIRST, in
    its order."""
    import __spark_entry__
    from mapreducego_spark.registry import _VERIFY_FIRST, QUERIES

    assert list(QUERIES)[:50] == _VERIFY_FIRST
    assert list(__spark_entry__.queries())[:50] == _VERIFY_FIRST


# The r8-verdict-frozen waiver sets. A waiver list may only SHRINK;
# growing one requires (a) adding the name BOTH here and in the live
# dict, (b) a bounding argument in the live dict's reason string —
# i.e. a deliberate two-file edit a reviewer sees, never a drive-by.
_FROZEN_BNLJ_WAIVERS = {
    "dedup_embedding",
    "tfidf_top_terms",
    "perplexity_score",
    "q22_cold_customers",
    "tfidf_cosine_pairs",
    "active_users_rolling",
    "sketch_active_users",
    "nb_classify",
    "ab_test_lift",
    "perplexity_bigram",
    "bm25_topk",
    # r10 deliberate addition: hybrid_rerank's lexical arm IS
    # bm25_topk, so it inherits that entry's already-frozen 1-row
    # corpus-stats broadcast BNLJ verbatim; the fusion layer itself
    # adds only a full-outer SortMergeJoin over two bounded
    # (<= |queries| * depth rows) ranked lists — no new unbounded
    # nested-loop surface.
    "hybrid_rerank",
    # r11 deliberate addition: hybrid_rerank_ann shares that exact
    # same lexical arm (bm25_topk verbatim), so the identical 1-row
    # corpus-stats broadcast BNLJ appears in its plan too; its dense
    # arm (IVF-PQ) contributes a broadcast cell-routing hash join
    # and a shortlist re-rank — no nested-loop surface of its own.
    "hybrid_rerank_ann",
}
_FROZEN_WINDOW_WAIVERS = {"rrf_fusion", "skyline_offers"}


def test_bnlj_waiver_list_only_shrinks():
    from tools.plan_audit import WAIVED, _WAIVABLE_FLAGS

    grown = set(WAIVED) - _FROZEN_BNLJ_WAIVERS
    assert not grown, (
        f"plan_audit.WAIVED grew beyond the r8-frozen set: {sorted(grown)}"
        " — waivers require a bounding argument AND a deliberate update"
        " of tests/test_registry.py's frozen set"
    )
    # the waiver scope must stay BNLJ-only: a broader flag set would
    # let a waiver clear cartesians or row-at-a-time Python
    assert _WAIVABLE_FLAGS == {"BroadcastNestedLoopJoin"}
    for name, reason in WAIVED.items():
        assert len(reason) >= 30, f"waiver {name} lacks a real argument"


def test_window_waiver_list_only_shrinks():
    from tests.test_scale_plans import _UNPARTITIONED_WINDOW_WAIVERS

    grown = set(_UNPARTITIONED_WINDOW_WAIVERS) - _FROZEN_WINDOW_WAIVERS
    assert not grown, (
        "unpartitioned-window waivers grew beyond the r8-frozen set: "
        f"{sorted(grown)}"
    )
    for name, reason in _UNPARTITIONED_WINDOW_WAIVERS.items():
        assert len(reason) >= 30, f"waiver {name} lacks a real argument"


def test_stream_plan_waivers_stay_empty():
    from tools.stream_plans import WAIVED

    assert WAIVED == {}, (
        "stream_plans.WAIVED is expected empty; additions need a"
        " bounding argument and an update here"
    )


def test_all_waived_names_exist_in_registry():
    """A waiver for a renamed/deleted query is dead weight that hides
    a hole: the flag it waived would bite under the new name."""
    from mapreducego_spark.registry import QUERIES
    from tests.test_scale_plans import _UNPARTITIONED_WINDOW_WAIVERS
    from tools.plan_audit import WAIVED

    for name in [*WAIVED, *_UNPARTITIONED_WINDOW_WAIVERS]:
        assert name in QUERIES, f"waiver names unknown query {name!r}"


def test_scale_oracles_shadow_real_entries():
    """Every SCALE_ORACLES key must shadow an existing naive oracle
    (the swap mechanism in verify_local only makes sense for queries
    the driver gate checks hash-exactly), and the driver-facing
    ORACLES dict must NOT contain the scale variants — independence
    of the sf0.01 gate is the design."""
    from mapreducego_spark.registry import ORACLES, QUERIES, SCALE_ORACLES

    for name, sql in SCALE_ORACLES.items():
        assert name in QUERIES, name
        assert name in ORACLES, (
            f"{name}: scale oracle without a naive driver-gate oracle"
        )
        assert sql.strip() and sql != ORACLES[name]
