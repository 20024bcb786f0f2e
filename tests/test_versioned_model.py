"""Model-based random walk over the full VersionedTable surface.

A pure-Python model (a row multiset + per-url replace rules) steps
through a SEEDED random sequence of commit / delete_where / merge_into
/ rewrite_files / expire_snapshots, and after EVERY op the table's
latest view must equal the model exactly — including a seeded
file-skipped read (read(where=...) on a stats-carrying table, the
property enabled by the walk's first commit and inherited through
every maintenance op) checked against the model filtered in Python. Alongside, one mid-walk
snapshot is pinned and must read byte-stably until expiry truncates
past it — the time-travel contract under arbitrary op interleavings.
This is the cross-feature test the per-feature suites can't express:
e.g. a merge over a partition that a delete tombstoned and a rewrite
then compacted.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.io import (VersionedTable, _transform_py,
                                  _validate_transform)

COLS = ["drop_id", "url", "score"]

_BUCKET_TF = {"kind": "bucket", "n": 4}


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "drop_id INT, url STRING, score INT")


def _read(vt, snapshot_id=None):
    return sorted((r.drop_id, r.url, r.score)
                  for r in vt.read(snapshot_id=snapshot_id).collect())


@pytest.mark.parametrize("seed,layout", [
    (7, "drop"), (23, "drop"), (91, "drop"),
    # hidden partitioning: the SAME walk over a bucket(4, url) layout —
    # every op's partition membership goes through the transform, and
    # commit/stage/publish replacement happens at BUCKET grain
    (11, "bucket"), (37, "bucket")])
def test_versioned_table_random_walk_matches_model(spark, tmp_path, seed,
                                                   layout):
    rnd = random.Random(seed)
    # the spec is WALK STATE now: the "evolve" op toggles between the
    # identity and hidden-bucket layouts mid-walk, and every later op
    # must keep matching the model under the new spec
    spec = [("drop_id", None) if layout == "drop"
            else ("url", ("bucket", 4))]
    evolve_ids: set[int] = set()
    pinned_any = [False]

    def key_of(r):
        pc, t = spec[0]
        v = r[0] if pc == "drop_id" else r[1]
        return _transform_py(_validate_transform(t), v)
    vt = VersionedTable(spark, str(tmp_path / f"t{seed}"))
    model: list[tuple] = []          # latest-view row multiset
    pins: dict[int, list] = {}       # snapshot id -> expected rows
    staged_pending: dict[int, list] = {}   # staged id -> its rows
    audit_expect: dict[int, list] = {}     # staged id -> audit view
    model_at: dict[int, list] = {}   # published id -> model rows then
    spec_of: dict[int, tuple] = {}   # published id -> spec active then

    def fresh_rows(n):
        return [(rnd.randint(1, 4), f"u{rnd.randint(0, 9)}",
                 rnd.randint(0, 99)) for _ in range(n)]

    # op 0 is always a commit so every later op has a table to act on
    for step in range(18):
        op = "commit" if step == 0 else rnd.choice(
            ["commit", "commit", "delete", "merge", "rewrite", "expire",
             "apply", "stage", "publish", "evolve", "rollback"])
        if op == "publish" and not staged_pending:
            op = "commit"
        if op == "commit":
            rows = fresh_rows(rnd.randint(1, 5))
            sid = vt.commit(_df(spark, rows), spec[0][0],
                            note=f"step {step}",
                            stats_cols=(["score", "url"] if step == 0
                                        else None),
                            partition_transform=(spec[0][1] if step == 0
                                                 else None))
            parts = {key_of(r) for r in rows}
            model = [r for r in model if key_of(r) not in parts] + rows
        elif op == "delete":
            cut = rnd.randint(0, 99)
            # rotate spellings: Column CoW, structured CoW (routes the
            # affected-partition probe through the file-skipped read),
            # and merge-on-read (metadata-only; reads apply the
            # predicate to the predating affected partitions) — all
            # three must be logically IDENTICAL to the model
            spell = step % 3
            if spell == 0:
                sid, _ = vt.delete_where(F.col("score") < cut)
            elif spell == 1:
                sid, _ = vt.delete_where([("score", "<", cut)])
            else:
                sid, _ = vt.delete_where([("score", "<", cut)],
                                         mode="merge_on_read")
            model = [r for r in model if not r[2] < cut]
        elif op == "apply":
            sid, _ = vt.apply_deletes()      # logical no-op
        elif op == "stage":
            # write-audit-publish: the staged commit must change
            # NOTHING observable (the generic post-op checks below),
            # while its own pin reads the frozen audit view — live at
            # stage time with the staged partitions replaced
            rows = fresh_rows(rnd.randint(1, 4))
            aid = vt.commit(_df(spark, rows), spec[0][0],
                            note=f"staged {step}", staged=True)
            staged_pending[aid] = rows
            parts = {key_of(r) for r in rows}
            audit_expect[aid] = sorted(
                [r for r in model if key_of(r) not in parts] + rows)
            sid = None   # never pin a staged id against the live model
        elif op == "publish":
            pick = rnd.choice(sorted(staged_pending))
            rows = staged_pending.pop(pick)
            try:
                sid = vt.publish(pick)
            except ValueError:
                # conflicted (a later op changed a staged partition) or
                # compacted — the quarantine is simply abandoned; live
                # must be untouched (generic checks below)
                audit_expect.pop(pick, None)
                sid = None
            else:
                parts = {key_of(r) for r in rows}
                model = [r for r in model
                         if key_of(r) not in parts] + rows
        elif op == "merge":
            # unique urls in the source (MERGE cardinality contract)
            srcs = {}
            for r in fresh_rows(rnd.randint(1, 4)):
                srcs[r[1]] = r
            rows = list(srcs.values())
            sid, _ = vt.merge_into(_df(spark, rows), ["url"],
                                   note=f"step {step}")
            keys = set(srcs)
            model = [r for r in model if r[1] not in keys] + rows
        elif op == "rewrite":
            sid, _ = vt.rewrite_files()      # logical no-op
        elif op == "evolve":
            # partition-spec evolution: toggle identity <-> bucket(4).
            # Rows are preserved exactly; the walk keeps checking the
            # SAME model while every later op runs under the new spec
            # (and a staged snapshot predating it can no longer
            # publish — exercised by the publish branch's except).
            new = (("url", ("bucket", 4))
                   if spec[0][0] == "drop_id" else ("drop_id", None))
            sid = vt.evolve_partition_spec(new[0], new[1])
            spec[0] = new
            evolve_ids.add(sid)
        elif op == "rollback":
            # restore a random earlier recorded state: the model (and
            # the walk's spec tracking) jump back with it — rolled-past
            # pins/audits must stay readable (generic checks below)
            latest = vt.snapshots()[-1]["id"]
            targets = [i for i in sorted(model_at) if i != latest]
            if not targets:
                sid = None
            else:
                tgt = rnd.choice(targets)
                sid = vt.rollback_to(tgt)
                model = list(model_at[tgt])
                spec[0] = spec_of[tgt]
        else:
            keep = rnd.randint(2, 4)
            vt.expire_snapshots(keep)
            # eviction is ALIVE-set based, not oldest-id based: the
            # newest published entry survives a staged tail, which
            # leaves HOLES in the id line
            alive = {s["id"] for s in vt.snapshots()}
            for old in [p for p in pins if p not in alive]:
                pins.pop(old)
            # truncated staged snapshots are gone (quarantine GC'd);
            # a staged entry SURVIVING as the compacted base must keep
            # reading its audit view, so it stays checked
            for old in [a for a in staged_pending if a not in alive]:
                staged_pending.pop(old)
                audit_expect.pop(old, None)
            for old in [a for a in audit_expect if a not in alive]:
                audit_expect.pop(old)
            for old in [m for m in model_at if m not in alive]:
                model_at.pop(old)
            sid = None
        if sid is not None:
            model_at[sid] = list(model)
            spec_of[sid] = spec[0]

        assert _read(vt) == sorted(model), f"seed {seed} step {step} {op}"
        # CDC changelog between a seeded pair of surviving published
        # ids (0 = the empty pre-table) must equal the model multiset
        # diff — insert/delete rows, updates as delete+insert pairs
        endpoints = [0] + sorted(model_at)
        i, j = sorted((rnd.choice(endpoints), rnd.choice(endpoints)))
        from collections import Counter
        ci = Counter(model_at[i]) if i else Counter()
        cj = Counter(model_at[j]) if j else Counter()
        expect = sorted(
            [(r, "insert") for r in (cj - ci).elements()]
            + [(r, "delete") for r in (ci - cj).elements()])
        try:
            got = sorted(((r.drop_id, r.url, r.score), r._change_type)
                         for r in vt.read_changes(i, j).collect())
        except ValueError as err:
            # a range mixing a spec evolution with data changes refuses
            # with ordered split points — anything else is a real bug
            assert "sub-ranges" in str(err) and any(
                i < e <= j for e in evolve_ids), (
                f"seed {seed} step {step} {op}: read_changes({i},{j}) "
                f"raised unexpectedly: {err}")
        else:
            assert got == expect, (
                f"seed {seed} step {step} {op}: read_changes({i},{j}) "
                f"diverged from the model diff")
        # seeded file-skipped read vs the model filtered in Python
        lo = rnd.randint(0, 99)
        hi = rnd.randint(lo, 99)
        got = sorted((r.drop_id, r.url, r.score) for r in
                     vt.read(where=[("score", "between", (lo, hi))])
                     .collect())
        assert got == sorted(r for r in model if lo <= r[2] <= hi), (
            f"seed {seed} step {step} {op}: where-read diverged")
        # pin one committing step's view and check every surviving pin
        if sid is not None and len(pins) < 2:
            pins[sid] = _read(vt)
            pinned_any[0] = True
        for pid, expected in pins.items():
            assert _read(vt, snapshot_id=pid) == expected, (
                f"seed {seed} step {step}: pinned snapshot {pid} drifted "
                f"after {op}")
        # every surviving staged snapshot's AUDIT view is frozen at
        # stage time — byte-stable under arbitrary later ops, published
        # or not, including survival as the expiry-compacted base
        for aid, expected in audit_expect.items():
            assert _read(vt, snapshot_id=aid) == expected, (
                f"seed {seed} step {step}: staged audit view {aid} "
                f"drifted after {op}")

    # the walk must have exercised time travel at least once (pins may
    # have been dropped by a late expiry — the checks still ran)
    assert pinned_any[0]

