"""The staged-action crash protocol both persisted index families share.

Every action that rewrites an index — the lexical upsert, split, merge
and compact (``operators/retrieval.py``) and the IVF upsert, split,
merge and retrain (``operators/similarity.py``) — runs the same three
steps:

1. stage its final content PARTITIONED under its own staging directory
   (``<index>/_<action>_staging/``), and compute the complete new
   descriptor;
2. write its intent manifest, strictly after every staging write
   returned (manifest ⇒ staging complete);
3. ``commit``: promote every staged table into the live index by
   per-directory delete+rename (``fsutil.promote_dirs``), write the
   descriptor, then delete the manifest and the staging directory.

The manifest layout, one for every action:

- ``staging: true``;
- ``promote``: ``{dir, key, touched, live}`` entries in commit order —
  ``dir`` the table's directory under the index root (``""`` is the
  root itself, where the IVF keeps its ``cell=`` directories; those
  stage under ``data/``), ``key`` its partition column, ``touched`` the
  keys the action rewrote (a touched key with no staged directory was
  emptied and is deleted), ``live`` the staged directory names;
- ``descriptor``: the complete new descriptor;
- the action's own fields (cells, shard ids, the trained codebook ...),
  which ``pending`` hands back to monitoring and resume callers.

Because the descriptor is computed before the manifest exists, a commit
re-run after a crash at ANY step writes the same bytes: promotion is
idempotent against the recorded ``live`` lists, and the descriptor is
copied, never recomputed. Resuming a torn action is therefore just
committing its manifest (``finish_torn``), which every action does at
entry before it reads a directory a torn commit may have holed. At most
one manifest exists per index, because each action finishes any torn one
before staging its own."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from .. import fsutil


@dataclass(frozen=True)
class Family:
    """One index family's protocol files: the descriptor file name and
    each action's manifest file name mapped to its staging directory."""
    descriptor: str
    actions: dict


def entry(staging: str, dir: str, key: str, touched=(),
          spark=None) -> dict:
    """The ``promote`` entry for the table staged at ``staging``/``dir``
    (``data`` for the root table), listing its staged ``key=`` dirs."""
    names = fsutil.list_names(os.path.join(staging, dir or "data"),
                              spark=spark)
    return {"dir": dir, "key": key,
            "touched": sorted(int(t) for t in touched),
            "live": [n for n in names if n.startswith(key + "=")]}


def pending(path: str, manifest: str, spark=None) -> dict | None:
    """The pending ``manifest`` of the index at ``path`` (its action
    fields beside ``promote``/``descriptor``), or None when that action
    last committed cleanly. Works without a SparkSession on a local
    path (``fsutil``'s python-IO fallback)."""
    p = os.path.join(path, manifest)
    if not fsutil.exists(p, spark=spark):
        return None
    return json.loads(fsutil.read_text(p, spark=spark))


def run(spark, path: str, family: Family, manifest: str,
        doc: dict) -> dict:
    """Write ``doc`` as the action's manifest, then ``commit`` it. Call
    only after every staging write has returned."""
    doc = {"staging": True, **doc}
    fsutil.write_text(os.path.join(path, manifest), json.dumps(doc),
                      spark=spark)
    return commit(spark, path, family, manifest, doc)


def commit(spark, path: str, family: Family, manifest: str,
           doc: dict) -> dict:
    """The destructive phase: promote each staged table in manifest
    order, write the descriptor, delete the manifest, then the staging
    directory. Idempotent; returns the descriptor."""
    staging = os.path.join(path, family.actions[manifest])
    for e in doc["promote"]:
        fsutil.promote_dirs(
            os.path.join(staging, e["dir"] or "data"),
            os.path.join(path, e["dir"]) if e["dir"] else path,
            e["key"], e["touched"], e["live"], spark=spark)
    fsutil.write_text(os.path.join(path, family.descriptor),
                      json.dumps(doc["descriptor"]), spark=spark)
    fsutil.delete(os.path.join(path, manifest), spark=spark)
    fsutil.delete(staging, spark=spark)
    return doc["descriptor"]


def finish_torn(spark, path: str, family: Family) -> dict | None:
    """Commit the index's pending manifest, if any (there is at most
    one); returns the descriptor it wrote, or None."""
    names = set(fsutil.list_names(path, spark=spark))
    for manifest in family.actions:
        if manifest in names:
            doc = pending(path, manifest, spark=spark)
            if doc is not None:
                return commit(spark, path, family, manifest, doc)
    return None


def read_descriptor(path: str, family: Family, keys, table: str,
                    rebuild: str, spark=None) -> dict:
    """The descriptor of the index at ``path``, checked against the one
    layout today's writers produce: it carries every key in ``keys``,
    the ``table`` membership directory exists, and every pending
    manifest has the layout above. An index any older writer left
    behind fails here with a ValueError naming ``rebuild`` — it is
    never migrated in place."""
    def reject(why: str):
        raise ValueError(
            f"index at {path} {why}: not the current on-disk format — "
            f"rebuild it with {rebuild} over the replica's final state")

    try:
        meta = json.loads(fsutil.read_text(
            os.path.join(path, family.descriptor), spark=spark))
    except Exception as e:                   # noqa: BLE001
        if not fsutil.is_not_found(e):
            raise
        meta = None
    if meta is None:
        reject(f"has no {family.descriptor} descriptor")
    missing = [k for k in keys if k not in meta]
    if missing:
        reject(f"has a descriptor without {missing}")
    names = set(fsutil.list_names(path, spark=spark))
    if table not in names:
        reject(f"has no {table}/ membership table")
    for manifest in family.actions:
        if manifest not in names:
            continue
        try:
            doc = json.loads(fsutil.read_text(
                os.path.join(path, manifest), spark=spark, retries=0))
        except Exception as e:               # noqa: BLE001
            if not fsutil.is_not_found(e):
                raise
            continue                         # committed since the listing
        if doc.get("staging") is not True or "promote" not in doc \
                or "descriptor" not in doc:
            reject(f"has a pending {manifest} without a staged snapshot")
    return meta
