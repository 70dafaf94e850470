"""Snapshot/time-travel catalog tier: commit protocol, as-of reads,
rollback lineage, vacuum retention, and crash/corruption loudness."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mapreducego_spark.sources.snapshots import (
    commit_snapshot,
    current_version,
    merge_into_snapshot,
    read_snapshot,
    rollback,
    snapshots,
    vacuum,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def test_commit_read_and_listing_round_trip(spark, tmp_path):
    table = str(tmp_path / "t")
    assert current_version(table) is None
    v0 = commit_snapshot(_mk(spark, [(1, "a"), (2, "b")]), table)
    v1 = commit_snapshot(_mk(spark, [(1, "a2"), (2, "b"), (3, "c")]), table)
    assert (v0, v1) == (0, 1)
    assert current_version(table) == 1
    assert {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()} \
        == {1: "a2", 2: "b", 3: "c"}
    # as-of v0 is the ORIGINAL table, untouched by the later commit
    assert {r["k"]: r["val"]
            for r in read_snapshot(spark, table, 0).collect()} \
        == {1: "a", 2: "b"}
    log = snapshots(table)
    assert [(e["action"], e["version"], e["parent"]) for e in log] == [
        ("commit", 0, -1), ("commit", 1, 0),
    ]
    with pytest.raises(ValueError, match="never committed"):
        read_snapshot(spark, table, 9)


def test_rollback_preserves_history_and_sets_lineage(spark, tmp_path):
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a")]), table)             # v0
    commit_snapshot(_mk(spark, [(1, "b")]), table)             # v1
    rollback(table, 0)                                         # seq 2
    assert current_version(table) == 0
    assert read_snapshot(spark, table).collect()[0]["val"] == "a"
    # v1 stays readable after the rollback — history is not destroyed
    assert read_snapshot(spark, table, 1).collect()[0]["val"] == "b"
    v3 = commit_snapshot(_mk(spark, [(1, "c")]), table)        # seq/v 3
    log = snapshots(table)
    assert log[2]["action"] == "rollback" and log[2]["to"] == 0
    assert log[3]["parent"] == 0  # lineage shows the rollback
    assert v3 == 3  # the rollback consumed sequence 2
    with pytest.raises(ValueError, match="uncommitted"):
        rollback(table, 2)


def test_merge_into_snapshot_is_update_or_insert(spark, tmp_path):
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a"), (2, "b")]), table)
    merge_into_snapshot(
        spark, table, _mk(spark, [(2, "B"), (3, "C")]), "k"
    )
    assert {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()} \
        == {1: "a", 2: "B", 3: "C"}


def test_vacuum_drops_old_versions_loudly_never_current(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(4):
        commit_snapshot(_mk(spark, [(1, f"v{i}")]), table)
    removed = vacuum(table, keep_last=2)
    assert removed == [0, 1]
    with pytest.raises(ValueError, match="vacuumed"):
        read_snapshot(spark, table, 0)
    with pytest.raises(ValueError, match="vacuumed"):
        rollback(table, 1)
    # survivors still read; the vacuum is itself a logged action
    assert read_snapshot(spark, table, 2).collect()[0]["val"] == "v2"
    assert snapshots(table)[-1]["action"] == "vacuum"
    # rollback then vacuum: the now-OLD current version is always
    # kept (it is outside the newest-1 window yet survives), and the
    # newest version survives by the retention window itself
    rollback(table, 2)
    removed = vacuum(table, keep_last=1)
    assert removed == []
    assert read_snapshot(spark, table).collect()[0]["val"] == "v2"
    assert read_snapshot(spark, table, 3).collect()[0]["val"] == "v3"
    # a later commit moves the window: now both old versions drop
    commit_snapshot(_mk(spark, [(1, "v6")]), table)
    assert sorted(vacuum(table, keep_last=1)) == [2, 3]
    assert read_snapshot(spark, table).collect()[0]["val"] == "v6"
    with pytest.raises(ValueError, match=">= 1"):
        vacuum(table, keep_last=0)


def test_crash_mid_commit_leaves_table_readable_and_retry_clean(
    spark, tmp_path
):
    """The commit order is data -> log -> pointer: simulate a crash
    after the data write (an orphan token-suffixed dir, no log entry,
    pointer on v0). Readers must still see v0; the retried commit
    reuses sequence 1 under a FRESH token, the orphan stays invisible
    (no log entry ever names it), and vacuum sweeps it."""
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a")]), table)
    # crash: a staged data dir for the next version exists, its log
    # entry (which would record the name) was never published
    orphan = os.path.join(table, "v1-00dead00dead")
    _mk(spark, [(1, "PARTIAL")]).write.parquet(orphan)
    assert current_version(table) == 0
    assert read_snapshot(spark, table).collect()[0]["val"] == "a"
    assert len(snapshots(table)) == 1  # orphan is invisible to the log
    with pytest.raises(ValueError, match="never committed"):
        read_snapshot(spark, table, 1)
    # retry commits the same sequence number under its own dir
    v = commit_snapshot(_mk(spark, [(1, "b")]), table)
    assert v == 1
    assert read_snapshot(spark, table, 1).collect()[0]["val"] == "b"
    # the crash orphan is unreachable and vacuum garbage-collects it
    assert os.path.isdir(orphan)
    vacuum(table, keep_last=5)
    assert not os.path.exists(orphan)
    assert read_snapshot(spark, table, 1).collect()[0]["val"] == "b"


def test_losing_concurrent_committer_never_touches_winner_files(
    spark, tmp_path, monkeypatch
):
    """The r15 ADVICE race: two committers compute the same sequence;
    the winner publishes first. The loser must (a) raise the
    collision, (b) leave every winner byte untouched — with fixed
    d{seq}/x{seq}/manifest names the loser used to overwrite the
    winner's committed data BEFORE failing at the log — and (c)
    clean up its own staged artifacts."""
    import mapreducego_spark.sources.snapshots as S

    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a"), (2, "b")]), table)  # v0
    S.commit_snapshot(
        _mk(spark, [(3, "w")]), table, mode="append"
    )  # v1: the winner
    before = _all_files(table)
    # the loser read the log BEFORE the winner published seq 1:
    # simulate its stale view by hiding the last entry
    real = S.snapshots
    monkeypatch.setattr(S, "snapshots", lambda td: real(td)[:-1])
    with pytest.raises(ValueError, match="sequence collision"):
        S.commit_snapshot(_mk(spark, [(4, "l")]), table, mode="append")
    monkeypatch.setattr(S, "snapshots", real)
    # winner's files: same paths, same mtimes; loser's staging: gone
    assert _all_files(table) == before
    got = {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()}
    assert got == {1: "a", 2: "b", 3: "w"}
    # same property on the merge path (delete dir + manifest staged)
    S.commit_snapshot(
        _mk(spark, [(2, "W2")]), table, mode="merge", key="k"
    )  # v2
    before = _all_files(table)
    monkeypatch.setattr(S, "snapshots", lambda td: real(td)[:-1])
    with pytest.raises(ValueError, match="sequence collision"):
        S.commit_snapshot(
            _mk(spark, [(2, "L2")]), table, mode="merge", key="k"
        )
    monkeypatch.setattr(S, "snapshots", real)
    assert _all_files(table) == before
    got = {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()}
    assert got == {1: "a", 2: "W2", 3: "w"}


def test_log_gap_and_corrupt_pointer_refuse(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(3):
        commit_snapshot(_mk(spark, [(1, f"v{i}")]), table)
    os.remove(os.path.join(table, "_LOG", "00000001.json"))
    with pytest.raises(ValueError, match="log gap"):
        snapshots(table)
    table2 = str(tmp_path / "t2")
    commit_snapshot(_mk(spark, [(1, "a")]), table2)
    with open(os.path.join(table2, "_CURRENT"), "w") as f:
        f.write("garbage")
    with pytest.raises(ValueError, match="corrupt _CURRENT"):
        current_version(table2)


def test_snapshot_time_travel_entry_versions_and_lineage(spark, sf_dir):
    """The registry entry end to end: versions [0,1,2,4] (3 is the
    rollback's sequence number), v4's parent is 1, and the v4 state
    reflects u3 applied to v1 — not to v2."""
    from mapreducego_spark.sources.snapshots import snapshot_time_travel

    rows = snapshot_time_travel(spark, sf_dir).collect()
    versions = sorted({r["version"] for r in rows})
    assert versions == [0, 1, 2, 4]
    parents = {r["version"]: r["parent"] for r in rows}
    assert parents == {0: -1, 1: 0, 2: 1, 4: 1}
    # v4 carries X1 leftovers only on keys %10==0 that are NOT %5==0
    # — there are none (10 | k implies 5 | k), so X1 must vanish at v4
    v4_status = {r["status"] for r in rows if r["version"] == 4}
    assert "X3" in v4_status and "X1" not in v4_status
    # and no X2 at v4: the rollback discarded u2
    assert "X2" not in v4_status


def test_snapshot_changes_classifies_and_filters_carried_rows(spark, tmp_path):
    from mapreducego_spark.sources.snapshots import snapshot_changes

    table = str(tmp_path / "t")
    commit_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "k long, val string"
        ),
        table,
    )
    commit_snapshot(
        spark.createDataFrame(
            # 1 carried (must NOT appear), 2 updated, 3 null->value
            # update, 4 inserted; no row for a delete yet
            [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "k long, val string"
        ),
        table,
    )
    rows = {r["k"]: r for r in snapshot_changes(spark, table, 0, 1, "k").collect()}
    assert set(rows) == {2, 3, 4}
    assert rows[2]["change_type"] == "update" and rows[2]["old_val"] == "b"
    # null-safe diff: NULL -> 'c' is an update, not a carried row
    assert rows[3]["change_type"] == "update" and rows[3]["old_val"] is None
    assert rows[4]["change_type"] == "insert" and rows[4]["old_val"] is None
    # a delete shows the before payload with null afters
    commit_snapshot(
        spark.createDataFrame([(2, "B")], "k long, val string"), table
    )
    d = {r["k"]: r for r in snapshot_changes(spark, table, 1, 2, "k").collect()}
    assert d[1]["change_type"] == "delete" and d[1]["new_val"] is None
    assert d[1]["old_val"] == "a"
    import pytest

    with pytest.raises(ValueError, match="from < to"):
        snapshot_changes(spark, table, 2, 2, "k")
    with pytest.raises(ValueError, match="never committed"):
        snapshot_changes(spark, table, 0, 9, "k")


def test_crash_after_log_before_repoint_commit_is_durable(spark, tmp_path):
    """The log entry is the COMMIT POINT (r14 ADVICE): simulate a
    crash between log publish and pointer repoint by rewinding the
    _CURRENT file after a commit. Readers must see the COMMITTED
    version (the log wins over the stale cache), the retried commit
    must get the NEXT sequence with the completed commit as its
    parent, and the write must repair the pointer."""
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a")]), table)  # v0
    commit_snapshot(_mk(spark, [(1, "b")]), table)  # v1
    # crash window: log + data for v1 landed, pointer still on v0
    with open(os.path.join(table, "_CURRENT"), "w") as f:
        f.write("v0")
    assert current_version(table) == 1  # log wins
    assert read_snapshot(spark, table).collect()[0]["val"] == "b"
    # the retry is a NEW commit on top of the durable one, never a
    # clobber of it
    v = commit_snapshot(_mk(spark, [(1, "c")]), table)
    assert v == 2
    log = snapshots(table)
    assert (log[-1]["version"], log[-1]["parent"]) == (2, 1)
    assert read_snapshot(spark, table, 1).collect()[0]["val"] == "b"
    with open(os.path.join(table, "_CURRENT")) as f:
        assert f.read().strip() == "v2"  # pointer repaired


def test_crash_lagged_pointer_after_rollback_log_wins(spark, tmp_path):
    """Same crash window on the ROLLBACK path: rollback's log entry
    landed but the repoint did not — the log-derived current version
    is the rollback target."""
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a")]), table)  # v0
    commit_snapshot(_mk(spark, [(1, "b")]), table)  # v1
    rollback(table, 0)
    with open(os.path.join(table, "_CURRENT")) as f:
        assert f.read().strip() == "v0"
    # crash window: rollback logged, pointer still on v1
    with open(os.path.join(table, "_CURRENT"), "w") as f:
        f.write("v1")
    assert current_version(table) == 0
    assert read_snapshot(spark, table).collect()[0]["val"] == "a"
    # vacuum repairs the lagging cache as part of its write
    vacuum(table, keep_last=5)
    with open(os.path.join(table, "_CURRENT")) as f:
        assert f.read().strip() == "v0"


def test_log_sequence_collision_refuses_not_clobbers(spark, tmp_path):
    """A concurrent committer (or a retry racing its crashed twin)
    that lands on an already-published sequence number must raise,
    not silently overwrite the committed entry (r14 ADVICE)."""
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a")]), table)  # seq 0
    # hand-publish seq 1, as a racing committer would
    entry = {"seq": 1, "action": "commit", "version": 1, "parent": 0}
    with open(os.path.join(table, "_LOG", "00000001.json"), "w") as f:
        json.dump(entry, f, sort_keys=True)
    os.makedirs(os.path.join(table, "v1"), exist_ok=True)
    with pytest.raises(ValueError, match="sequence collision"):
        # the loser computed seq=1 before the winner published; its
        # own publish must refuse
        from mapreducego_spark.sources.snapshots import _write_log_entry

        _write_log_entry(table, 1, {"action": "commit", "version": 1,
                                    "parent": 0})


def _all_files(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _art_dirs(table, prefix):
    """Token-suffixed artifact dirs for a commit, e.g. d1-<token>:
    the names are unique per attempt, so tests match by prefix."""
    return [
        os.path.join(table, n)
        for n in os.listdir(table)
        if n.startswith(prefix + "-")
    ]


def test_manifest_append_commit_cost_is_o_delta_files(spark, tmp_path):
    """The 100 TB property itself (r14 verdict #3): an append commit
    writes ONLY the delta dir + one manifest + one log entry +
    pointer — every pre-existing data file is untouched (same path,
    same mtime), no matter how large the table already is."""
    table = str(tmp_path / "t")
    big = spark.range(0, 10_000).selectExpr(
        "id AS k", "id * 3 AS cents", "'B' AS status"
    ).repartition(8)
    commit_snapshot(big, table)  # v0 full, 8 data files
    before = _all_files(table)
    delta = spark.createDataFrame(
        [(10_001, 1, "A")], "k long, cents long, status string"
    ).coalesce(1)
    from mapreducego_spark.sources.snapshots import commit_snapshot as cs

    cs(delta, table, mode="append")  # v1
    after = _all_files(table)
    # nothing pre-existing was rewritten or removed (the _CURRENT
    # pointer repoint is the protocol, not a data rewrite)
    cur = os.path.join(table, "_CURRENT")
    assert all(
        after.get(p) == t for p, t in before.items() if p != cur
    )
    new = {p for p in after if p not in before}
    # new files live ONLY under d1-*/, _MANIFESTS/, _LOG/, _CURRENT
    (d1,) = _art_dirs(table, "d1")
    allowed = (
        d1,
        os.path.join(table, "_MANIFESTS"),
        os.path.join(table, "_LOG"),
        os.path.join(table, "_CURRENT"),
    )
    assert new and all(p.startswith(allowed) for p in new)
    # and the delta dir holds O(|delta|) parquet, not a table copy
    d1_parquet = [
        p for p in new
        if p.startswith(allowed[0]) and p.endswith(".parquet")
    ]
    assert len(d1_parquet) == 1
    # both versions read correctly
    assert read_snapshot(spark, table, 0).count() == 10_000
    assert read_snapshot(spark, table, 1).count() == 10_001


def test_manifest_merge_on_read_delete_sequencing(spark, tmp_path):
    """Equality deletes apply only to data committed BEFORE them: a
    merge's delete set must not swallow a LATER re-append of the
    same key, and the merge upserts without rewriting old dirs."""
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    from mapreducego_spark.sources.snapshots import commit_snapshot as cs

    cs(_mk(spark, [(2, "B2"), (4, "d")]), table, mode="merge", key="k")
    got = {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # re-append a key the seq-1 delete set contains: it must survive
    cs(_mk(spark, [(2, "B3")]), table, mode="append")
    got = {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()}
    assert got[2] in ("B3",) or sorted(
        r["val"] for r in read_snapshot(spark, table).collect()
        if r["k"] == 2
    ) == ["B2", "B3"]
    # the as-of read of the MERGE version is unchanged by the append
    got1 = {r["k"]: r["val"]
            for r in read_snapshot(spark, table, 1).collect()}
    assert got1 == {1: "a", 2: "B2", 3: "c", 4: "d"}
    with pytest.raises(ValueError, match="needs a key"):
        cs(_mk(spark, [(9, "z")]), table, mode="merge")
    with pytest.raises(ValueError, match="unknown commit mode"):
        cs(_mk(spark, [(9, "z")]), table, mode="sideways")


def test_manifest_vacuum_keeps_shared_dirs_alive(spark, tmp_path):
    """Vacuuming a manifest chain removes only manifests nothing
    reaches and delta dirs no live version references; a full v-dir
    a kept manifest builds on survives even when its own version
    leaves the retention window."""
    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a")]), table)  # v0 full
    from mapreducego_spark.sources.snapshots import commit_snapshot as cs

    cs(_mk(spark, [(2, "b")]), table, mode="append")  # v1
    cs(_mk(spark, [(3, "c")]), table, mode="append")  # v2
    removed = vacuum(table, keep_last=1)
    # v1's manifest goes; v0's FULL dir is referenced by v2's
    # manifest, so v0 cannot actually be vacuumed and is not claimed
    assert removed == [1]
    assert read_snapshot(spark, table, 2).count() == 3
    with pytest.raises(ValueError, match="vacuumed"):
        read_snapshot(spark, table, 1)
    # v1's delta dir d1-* is still referenced by v2 -> alive
    assert len(_art_dirs(table, "d1")) == 1
    assert len(_art_dirs(table, "v0")) == 1


def test_compact_snapshot_bounds_manifest_chain(spark, tmp_path):
    """Compaction rewrites the merge-on-read state as a full commit:
    state identical, later vacuum reclaims the old delta chain, and
    a post-compaction append builds its manifest on the compacted
    full dir."""
    from mapreducego_spark.sources.snapshots import (
        commit_snapshot as cs,
        compact_snapshot,
    )

    table = str(tmp_path / "t")
    commit_snapshot(_mk(spark, [(1, "a"), (2, "b")]), table)      # v0
    cs(_mk(spark, [(3, "c")]), table, mode="append")              # v1
    cs(_mk(spark, [(2, "B"), (4, "d")]), table, mode="merge", key="k")  # v2
    v = compact_snapshot(spark, table)                            # v3 full
    assert v == 3
    want = {1: "a", 2: "B", 3: "c", 4: "d"}
    got = {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()}
    assert got == want
    (v3,) = _art_dirs(table, "v3")  # full dir
    assert os.path.isdir(v3)
    # an append on top of the compacted version references v3 only;
    # the manifest file name is recorded in the commit's log entry
    cs(_mk(spark, [(5, "e")]), table, mode="append")              # v4
    e4 = next(e for e in snapshots(table)
              if e["action"] == "commit" and e["version"] == 4)
    m = json.load(open(os.path.join(table, "_MANIFESTS", e4["manifest"])))
    dirs = {e["dir"] for e in m["data"]}
    assert len(dirs) == 2
    assert any(d.startswith("v3-") for d in dirs)
    assert any(d.startswith("d4-") for d in dirs)
    assert m["deletes"] == []
    # vacuum now reclaims the whole pre-compaction delta chain
    removed = vacuum(table, keep_last=2)
    assert sorted(removed) == [0, 1, 2]
    for name in ("d1", "d2", "x2"):
        assert _art_dirs(table, name) == [], name
    got = {r["k"]: r["val"] for r in read_snapshot(spark, table).collect()}
    assert got == {**want, 5: "e"}


def test_manifest_stats_prune_selective_read_opens_fewer_files(
    spark, tmp_path
):
    """Data skipping (r15 verdict #6): a selective read consults the
    per-file min/max stats the manifest recorded at commit time and
    OPENS fewer files (observed via .inputFiles()), while returning
    exactly the unpruned read filtered by the same predicate."""
    from mapreducego_spark.sources.snapshots import (
        commit_snapshot as cs,
        read_snapshot as rs,
    )

    table = str(tmp_path / "t")
    base = spark.range(0, 8000).selectExpr(
        "id AS k", "id * 2 AS cents", "'B' AS status"
    ).repartitionByRange(8, "k")
    commit_snapshot(base, table)  # v0 full, 8 range-disjoint files
    delta = spark.range(20000, 24000).selectExpr(
        "id AS k", "id AS cents", "'A' AS status"
    ).repartitionByRange(4, "k")
    cs(delta, table, mode="append")  # v1 manifest: v0 stats + d1
    full = rs(spark, table)
    assert len(full.inputFiles()) == 12
    # point lookup in the delta: exactly one file survives
    hit = rs(spark, table, prune=[("k", "==", 21_000)])
    assert len(hit.inputFiles()) == 1
    assert [(r["k"], r["cents"]) for r in hit.collect()] == [(21_000, 21_000)]
    # range predicate across the base: a strict subset of files
    lo = rs(spark, table, prune=[("k", "<", 1_000)])
    assert 1 <= len(lo.inputFiles()) < 12
    assert lo.count() == 1_000
    # string-stats prune: the base is all 'B', the delta all 'A'
    a_only = rs(spark, table, prune=[("status", "==", "A")])
    assert len(a_only.inputFiles()) == 4
    assert a_only.count() == 4_000
    # prune-invariance: pruned == unpruned.filter(pred), exactly
    want = sorted(
        (r["k"], r["cents"]) for r in
        full.filter("k >= 3000 AND k < 21000").collect()
    )
    got = sorted(
        (r["k"], r["cents"]) for r in
        rs(spark, table,
           prune=[("k", ">=", 3_000), ("k", "<", 21_000)]).collect()
    )
    assert got == want
    # every file pruned away: empty result, real schema
    none = rs(spark, table, prune=[("k", ">", 10**9)])
    assert none.count() == 0
    assert none.columns == ["k", "cents", "status"]
    # a merge version still applies its equality deletes to the
    # surviving files (pruning composes with merge-on-read)
    upd = spark.createDataFrame(
        [(21_000, 7, "M")], "k long, cents long, status string"
    )
    cs(upd, table, mode="merge", key="k")  # v2
    m = rs(spark, table, prune=[("k", "==", 21_000)])
    assert [(r["cents"], r["status"]) for r in m.collect()] == [(7, "M")]
    # full (non-manifest) versions prune via on-demand footer stats
    p0 = rs(spark, table, 0, prune=[("k", "==", 5)])
    assert len(p0.inputFiles()) == 1
    assert p0.count() == 1


def test_snapshot_random_op_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: random sequences of full / append / merge
    commits, rollbacks, and a final compaction replay against a
    plain-dict model; every committed version's as-of read must
    equal the model's remembered state. Deterministic seeds (Spark
    createDataFrame per op is ~100 ms, so this is a few focused
    walks, not volume)."""
    import random

    from mapreducego_spark.sources.snapshots import (
        commit_snapshot as cs,
        compact_snapshot,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        table = str(tmp_path / f"t{seed}")
        model: dict[int, str] = {}
        states: dict[int, dict[int, str]] = {}
        commit_snapshot(_mk(spark, [(1, "base")]), table)
        model = {1: "base"}
        states[0] = dict(model)
        committed = [0]
        for step in range(6):
            op = rng.choice(["full", "append", "merge", "rollback"])
            if op == "rollback" and len(committed) > 1:
                target = rng.choice(committed[:-1])
                rollback(table, target)
                model = dict(states[target])
                continue
            rows = [
                (rng.randrange(1, 9), f"s{seed}.{step}.{n}")
                for n in range(rng.randrange(1, 4))
            ]
            if op == "full":
                new = dict(model)
                new.update({k: v for k, v in rows})
                v = cs(_mk(spark, list(new.items())), table)
                model = new
            elif op == "append":
                # appends may duplicate keys; keep model keys fresh
                # by appending only unseen keys
                rows = [(k, v) for k, v in rows if k not in model]
                if not rows:
                    continue
                v = cs(_mk(spark, rows), table, mode="append")
                model.update({k: v2 for k, v2 in rows})
            else:
                dedup = {k: v2 for k, v2 in rows}
                v = cs(_mk(spark, list(dedup.items())), table,
                       mode="merge", key="k")
                model.update(dedup)
            states[v] = dict(model)
            committed.append(v)
        v = compact_snapshot(spark, table)
        states[v] = dict(model)
        committed.append(v)
        for ver in committed:
            got = {
                r["k"]: r["val"]
                for r in read_snapshot(spark, table, ver).collect()
            }
            assert got == states[ver], (seed, ver)


# ------------------------------------------------- vacuum manifests


def test_vacuum_sweeps_orphan_manifests_keeps_referenced(
    spark, tmp_path
):
    """A crash between the manifest write and the log publish leaves
    a token-suffixed manifest no log entry names; vacuum removes it
    (and stray .tmp files) while keeping every log-named manifest."""
    import os

    from mapreducego_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot,
        vacuum,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["k", "val"]
    )
    commit_snapshot(df, table)                       # v0 full
    commit_snapshot(
        spark.createDataFrame([(3, "c")], ["k", "val"]),
        table,
        mode="append",
    )                                                # v1 manifest
    mdir = os.path.join(table, "_MANIFESTS")
    live = set(os.listdir(mdir))
    assert live, "append commit should have written a manifest"
    orphan = os.path.join(mdir, "00000002-00dead00dead.json")
    with open(orphan, "w") as f:
        f.write("{}")
    tmp_leak = os.path.join(mdir, "00000002-00dead00dead.json.tmp")
    with open(tmp_leak, "w") as f:
        f.write("{}")
    removed = vacuum(table, keep_last=5)
    assert removed == []  # retention never touched
    assert not os.path.exists(orphan)
    assert not os.path.exists(tmp_leak)
    assert set(os.listdir(mdir)) == live
    got = {
        (r["k"], r["val"]) for r in read_snapshot(spark, table).collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}
