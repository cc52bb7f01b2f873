"""The shared staged-action protocol (operators/staged.py) on a tiny local
directory tree: a commit torn after ANY filesystem mutation — the
manifest write, each promotion's delete and rename, the descriptor
write, the manifest delete — is finished by ``finish_torn`` into the
same tree and the same descriptor as an untorn commit."""

from __future__ import annotations

import json
import os

import pytest

from mysql_ch_replicator_spark import fsutil
from mysql_ch_replicator_spark.operators import staged

FAMILY = staged.Family("_d.json", {"_a_pending.json": "_a_staging"})


def _seed(root) -> dict:
    """Live tables t/ (keys 1..3) and u/ (key 7), an old descriptor, and
    a complete staged snapshot: t keys 1, 2 rewritten and 3 emptied, u
    key 7 rewritten and key 8 added. Returns the manifest doc."""
    def put(rel, text):
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)

    for k in (1, 2, 3):
        put(f"t/k={k}/part-0", f"old t{k}")
    put("u/k=7/part-0", "old u7")
    put("_d.json", json.dumps({"v": 1}))
    for k in (1, 2):
        put(f"_a_staging/t/k={k}/part-0", f"new t{k}")
    put("_a_staging/u/k=7/part-0", "new u7")
    put("_a_staging/u/k=8/part-0", "new u8")
    stage = str(root / "_a_staging")
    return {"promote": [staged.entry(stage, "t", "k", [1, 2, 3]),
                        staged.entry(stage, "u", "k", [7])],
            "descriptor": {"v": 2, "rows": {"1": 5, "2": 6}},
            "shard": 3}


def _tree(root) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = open(p).read()
    return out


def _instrument(monkeypatch, tear: int | None = None) -> list[int]:
    """Count fsutil's filesystem mutations; raise right after mutation
    number ``tear`` completes."""
    n = [0]
    for name in ("write_text", "rename", "delete"):
        real = getattr(fsutil, name)

        def wrapped(*a, _real=real, **kw):
            out = _real(*a, **kw)
            n[0] += 1
            if n[0] == tear:
                raise RuntimeError("injected crash")
            return out
        monkeypatch.setattr(fsutil, name, wrapped)
    return n


def test_entry_lists_only_staged_key_dirs(tmp_path):
    (tmp_path / "s" / "t" / "k=1").mkdir(parents=True)
    (tmp_path / "s" / "t" / "_SUCCESS").write_text("")
    (tmp_path / "s" / "data" / "cell=4").mkdir(parents=True)
    assert staged.entry(str(tmp_path / "s"), "t", "k", {2, 1}) == \
        {"dir": "t", "key": "k", "touched": [1, 2], "live": ["k=1"]}
    # the root table ("" — the IVF's cell dirs) stages under data/
    assert staged.entry(str(tmp_path / "s"), "", "cell")["live"] == \
        ["cell=4"]
    assert staged.entry(str(tmp_path / "s"), "v", "k")["live"] == []


def test_commit_torn_at_every_step_finishes_identically(monkeypatch,
                                                        tmp_path):
    want_root = tmp_path / "want"
    staged.run(None, str(want_root), FAMILY, "_a_pending.json",
               _seed(want_root))
    want = _tree(want_root)
    assert want["_d.json"] == json.dumps({"v": 2, "rows": {"1": 5,
                                                           "2": 6}})
    assert "t/k=3/part-0" not in want            # emptied key swept
    assert want["u/k=8/part-0"] == "new u8"
    assert not any(p.startswith("_a_") for p in want)

    root = tmp_path / "count"
    doc = _seed(root)
    n = _instrument(monkeypatch)
    staged.run(None, str(root), FAMILY, "_a_pending.json", doc)
    monkeypatch.undo()
    # manifest write; per promoted key a delete + rename (u/k=8's
    # delete finds no live twin); the emptied key's delete; descriptor
    # write; manifest and staging deletes
    total = n[0]
    assert total == 13
    for tear in range(1, total):
        root = tmp_path / f"torn{tear}"
        doc = _seed(root)
        _instrument(monkeypatch, tear)
        with pytest.raises(RuntimeError, match="injected crash"):
            staged.run(None, str(root), FAMILY, "_a_pending.json", doc)
        monkeypatch.undo()

        torn_manifest = staged.pending(str(root), "_a_pending.json")
        got_desc = staged.finish_torn(None, str(root), FAMILY)
        got = _tree(root)
        if torn_manifest is None:
            # torn after the manifest delete: nothing left to commit,
            # and the orphaned staging dir is inert
            assert got_desc is None
            got = {p: v for p, v in got.items()
                   if not p.startswith("_a_staging")}
        else:
            assert torn_manifest["shard"] == 3
            assert got_desc == {"v": 2, "rows": {"1": 5, "2": 6}}
        assert got == want, f"torn after mutation {tear}"
        # a second finish is a no-op
        assert staged.finish_torn(None, str(root), FAMILY) is None
