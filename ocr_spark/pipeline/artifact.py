"""The artifact store: the one crash contract every persisted artifact
(ann_index, bloom_filter, classifier, corpus_stats, dedup_index,
tokenizer, maintenance's compaction) and the ingest_refresh ledger
commit through.

- A manifest is written atomically — tmp file + rename, the same
  commit-after-data contract as the reference's draft write
  (RunStore.php:20-31) — and only AFTER the data it describes is
  committed. A crash inside the write leaves the previous manifest (or
  none), never a torn one.
- A missing manifest reads as "no committed artifact"
  (FileNotFoundError); one whose pinned fields disagree with the code
  reading it is refused (ValueError).
- A rebuild in place invalidates the stale manifest BEFORE the overwrite
  starts, so a crashed rebuild never leaves the old manifest pointing at
  half-rewritten data.
- An append or compaction writes the new data into `<data>.<kind>-tmp`
  and swaps it in with two renames (current data aside to
  `<data>.<kind>-old`, tmp into place). A crash between the renames is
  rolled back on the next read, while the manifest still describes the
  old data.

A crashed write therefore leaves orphan files, never a
readable-but-partial artifact. (On object stores the swap becomes a
manifest flip — the bucket-manifest pattern pipeline/extract.py uses.)
"""

from __future__ import annotations

import json
import os
import shutil


def write_manifest(path: str, manifest) -> None:
    """Atomically write `manifest` as JSON to `path` (tmp + rename)."""
    head, name = os.path.split(path)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, f"_{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def read_manifest(path: str, what: str, **required) -> dict:
    """The committed manifest at `path`; every `required` field must
    hold exactly the given value."""
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no committed {what} at {os.path.dirname(path)} "
            f"(missing {os.path.basename(path)})")
    with open(path) as f:
        m = json.load(f)
    if any(m.get(k) != v for k, v in required.items()):
        raise ValueError(f"incompatible {what} manifest: {m}")
    return m


def invalidate(path: str) -> None:
    """Remove a stale manifest before its data is rewritten in place."""
    if os.path.exists(path):
        os.remove(path)


def _sibling(target: str, kind: str, role: str) -> str:
    return f"{target.rstrip('/')}.{kind + '-' if kind else ''}{role}"


def rewrite_dir(target: str, kind: str = "append") -> str:
    """The emptied `<target>.<kind>-tmp` directory a new version of
    `target` is written into before swap_in promotes it."""
    tmp = _sibling(target, kind, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def swap_in(target: str, kind: str = "append") -> None:
    """Promote the fully written rewrite_dir(target, kind) to `target`:
    the current data is renamed aside, the new data into place, and the
    aside copy deleted. Without current data the one rename publishes
    the new directory whole."""
    target = target.rstrip("/")
    old = _sibling(target, kind, "old")
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(target):
        os.replace(target, old)
    # a crash here is rolled back by recover_swap on the next read
    os.replace(_sibling(target, kind, "tmp"), target)
    shutil.rmtree(old, ignore_errors=True)


def recover_swap(target: str, kind: str = "append") -> bool:
    """Roll back a crash inside swap_in's two-rename window (data renamed
    aside, new data not yet promoted): restore the aside copy, which the
    committed manifest still describes. Returns True if it recovered."""
    target = target.rstrip("/")
    old = _sibling(target, kind, "old")
    if not os.path.exists(target) and os.path.exists(old):
        os.replace(old, target)
        return True
    return False
