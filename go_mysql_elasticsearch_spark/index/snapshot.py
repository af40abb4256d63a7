"""Index snapshot / restore — the ES ``_snapshot`` API analog
(the reference's operational story relies on ES snapshots for backup;
river/river.go only ever creates indices, recovery is ES-side).

An index generation is IMMUTABLE once written except for appended
tombstone parquet files and new segment dirs, and every segment is
sealed by its atomically-written manifest — so a consistent snapshot
is: (1) pin the current generation root, (2) copy the segment dirs
whose manifests exist (a manifest is the segment's commit point; a
half-built segment has none and is correctly excluded), (3) copy
tombstones + settings, (4) write the snapshot manifest LAST
(atomically) — its existence is the snapshot's commit point, mirroring
the segment-manifest convention.

Concurrent-writer race (step 3): apply_changes writes an upsert's
tombstone BEFORE committing its replacement segment, and tombstones
are copied AFTER the segment set is pinned — so the copy can capture a
tombstone whose replacement segment is NOT in the snapshot, silently
dropping a live doc from the restored index. Step 3 therefore FILTERS
tombstone rows: an upsert tombstone (is_delete=false) is kept only if
its replacement segment (upto_seg + 1) had COMMITTED by pin time —
replacement ≤ max(pinned id), NOT set membership, because a
replacement that was merged away still has committed content inside a
pinned merged segment and dropping its tombstone would resurrect the
old version beside it; a delete tombstone (is_delete=true) references
no segment and is always kept.
Rows from pre-marker parquet files (is_delete column absent) are
copied UNFILTERED — the race above can only produce is_delete-bearing
rows going forward, and filtering legacy rows would silently drop a
legacy delete-only tombstone targeting the newest segment (the doc
would resurrect on restore; ADVICE r5). Worst case of the unfiltered
copy is a harmless extra tombstone, never a lost one.

Restore materializes the snapshot as a fresh standalone index dir; an
IndexReader over it serves the exact pinned view. At object-store
scale the file copies become server-side copies and the recipe is
unchanged — correctness rests only on manifest-last ordering, not on
copy atomicity.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from .build import gen_root

SNAP_MANIFEST = "snapshot.json"


def _copy_tombstones_filtered(src: str, dst: str, pinned: set[int]) -> None:
    """Copy tombstone parquet files, dropping upsert tombstones whose
    replacement segment (upto_seg + 1) has NOT YET COMMITTED — i.e.
    replacement > max(pinned) (module doc: the concurrent-upsert
    race). The rule is a comparison against the pinned MAX, not set
    membership: segment ids are monotonic and commit in order (single
    writer), so replacement ≤ max(pinned) means the replacement
    committed even when its id is no longer listed — a merged-away
    segment's docs live on in a pinned merged segment, and dropping
    its tombstone would resurrect the OLD version beside them
    (duplicate doc). Streams per file via pyarrow — never loads the
    whole tombstone set — so the copy stays file-local at object-store
    scale just like the segment copies."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    if not files:
        return
    os.makedirs(dst, exist_ok=True)
    max_pinned = max(pinned) if pinned else -1
    for i, f in enumerate(files):
        t = pq.read_table(f)
        replacement = pc.add(pc.cast(t["upto_seg"], pa.int64()), 1)
        keep_upsert = pc.fill_null(
            pc.less_equal(replacement, pa.scalar(max_pinned, pa.int64())), False
        )
        if "is_delete" in t.column_names:
            mask = pc.or_(pc.fill_null(t["is_delete"], False), keep_upsert)
            t = t.filter(mask)
        # legacy files (pre is_delete) copy UNFILTERED (ADVICE r5): the
        # concurrent-upsert race this filter guards against can only
        # produce is_delete-bearing rows going forward, and applying
        # the committed-replacement rule to legacy rows silently
        # dropped any legacy delete-only tombstone targeting the newest
        # segment — restores then resurrected deleted docs. Unfiltered
        # copy is the pre-existing no-data-loss behavior.
        if t.num_rows:
            pq.write_table(t, os.path.join(dst, f"part-{i:05d}.parquet"))


def snapshot_index(index_dir: str, snap_dir: str) -> dict:
    """Copy the CURRENT generation's committed state into ``snap_dir``.
    Returns the snapshot manifest. Fails if ``snap_dir`` already holds
    a committed snapshot (snapshots are immutable; use a new name)."""
    if os.path.exists(os.path.join(snap_dir, SNAP_MANIFEST)):
        raise ValueError(f"snapshot already exists: {snap_dir}")
    root = gen_root(index_dir)
    os.makedirs(snap_dir, exist_ok=True)
    seg_ids = []
    pinned: set[int] = set()
    for mp in sorted(glob.glob(os.path.join(root, "segments", "seg=*", "manifest.json"))):
        seg_src = os.path.dirname(mp)
        seg_id = os.path.basename(seg_src)
        shutil.copytree(
            seg_src, os.path.join(snap_dir, "segments", seg_id), dirs_exist_ok=True
        )
        seg_ids.append(seg_id)
        with open(mp) as fh:
            pinned.add(int(json.load(fh)["segment_id"]))
    _copy_tombstones_filtered(
        os.path.join(root, "tombstones.parquet"),
        os.path.join(snap_dir, "tombstones.parquet"),
        pinned,
    )
    for f in ("settings.json",):
        for src_root in (root, index_dir):
            src = os.path.join(src_root, f)
            if os.path.isfile(src):
                shutil.copy2(src, os.path.join(snap_dir, f))
                break
    manifest = {
        "source": os.path.abspath(index_dir),
        "generation_root": os.path.abspath(root),
        "segments": seg_ids,
        "created_unix": time.time(),
    }
    tmp = os.path.join(snap_dir, SNAP_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, os.path.join(snap_dir, SNAP_MANIFEST))  # commit point
    return manifest


def restore_index(snap_dir: str, dest_dir: str) -> str:
    """Materialize a committed snapshot as a standalone index dir
    (refuses an uncommitted/partial snapshot or a dest that already
    looks like an index). Returns ``dest_dir``."""
    mp = os.path.join(snap_dir, SNAP_MANIFEST)
    if not os.path.exists(mp):
        raise ValueError(f"no committed snapshot at {snap_dir}")
    if os.path.exists(os.path.join(dest_dir, "segments")):
        raise ValueError(f"destination already holds an index: {dest_dir}")
    os.makedirs(dest_dir, exist_ok=True)
    for name in os.listdir(snap_dir):
        if name.startswith(SNAP_MANIFEST):
            continue
        src = os.path.join(snap_dir, name)
        dst = os.path.join(dest_dir, name)
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy2(src, dst)
    return dest_dir
