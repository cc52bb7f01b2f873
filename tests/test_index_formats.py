"""On-disk format of the persisted index families: each family has ONE
supported layout — the one ``write_ivf_index`` / ``write_lexical_index``
and the staged actions produce. An index in any other shape (no
descriptor, a descriptor missing a key the readers need, no membership
table, a pending manifest without a staged snapshot) is rejected with a
ValueError naming the path and the rebuild call; it is never migrated
in place."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from mysql_ch_replicator_spark import fsutil
from mysql_ch_replicator_spark.operators.retrieval import (
    bm25_indexed_topk, read_lex_meta, upsert_lexical_index,
    write_lexical_index,
)
from mysql_ch_replicator_spark.operators.similarity import (
    ivf_index_topk, read_ivf_meta, upsert_ivf_index, write_ivf_index,
)

IVF_REBUILD = "rebuild it with write_ivf_index"
LEX_REBUILD = "rebuild it with write_lexical_index"


def _vec(i: int) -> list[float]:
    return [float(i % 4) * 2.0, float(i % 7) - 3.0, 1.0 + float(i % 3)]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame([(i, _vec(i)) for i in range(24)],
                                 "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} gamma") for i in range(24)],
        "doc_id long, text string")


@pytest.fixture(scope="module")
def ivf_template(vecs, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("fmt_ivf") / "idx")
    write_ivf_index(vecs, p, n_cells=4)
    return p


@pytest.fixture(scope="module")
def lex_template(docs, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("fmt_lex") / "idx")
    write_lexical_index(docs, p, shards=4, span_width=8)
    return p


def _copy(template: str, tmp_path) -> str:
    dst = str(tmp_path / "idx")
    shutil.copytree(template, dst)
    return dst


def _edit_descriptor(path: str, name: str, drop: str) -> None:
    doc = json.loads(fsutil.read_text(os.path.join(path, name)))
    del doc[drop]
    fsutil.write_text(os.path.join(path, name), json.dumps(doc))


def _write_manifest(path: str, name: str, doc: dict) -> None:
    fsutil.write_text(os.path.join(path, name), json.dumps(doc))


def test_current_layouts_read(spark, ivf_template, lex_template):
    assert "schemas" in read_ivf_meta(ivf_template)
    meta = read_lex_meta(lex_template, spark)
    assert {"schemas", "spans", "shard_rows"} <= set(meta)


# -- IVF ---------------------------------------------------------------


def test_ivf_without_descriptor_rejected(spark, vecs, ivf_template,
                                         tmp_path):
    path = _copy(ivf_template, tmp_path)
    os.remove(os.path.join(path, "_ivf_meta.json"))
    with pytest.raises(ValueError, match=IVF_REBUILD) as e:
        read_ivf_meta(path)
    assert path in str(e.value)
    queries = vecs.limit(2).withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match=IVF_REBUILD):
        ivf_index_topk(spark, path, queries, k=3)


def test_ivf_descriptor_without_schemas_rejected(spark, vecs,
                                                 ivf_template, tmp_path):
    path = _copy(ivf_template, tmp_path)
    _edit_descriptor(path, "_ivf_meta.json", "schemas")
    with pytest.raises(ValueError, match=IVF_REBUILD):
        upsert_ivf_index(spark, path, adds=vecs.limit(2))


def test_ivf_without_membership_table_rejected(spark, vecs, ivf_template,
                                               tmp_path):
    path = _copy(ivf_template, tmp_path)
    shutil.rmtree(os.path.join(path, "_vecmeta"))
    with pytest.raises(ValueError, match=IVF_REBUILD):
        upsert_ivf_index(spark, path, adds=vecs.limit(2))


@pytest.mark.parametrize("name,doc", [
    ("_ivf_upsert_pending.json", {"cells": [1], "vspans": [0]}),
    ("_ivf_upsert_pending.json",
     {"cells": [1], "vspans": [0], "staging": True}),
    ("_ivf_split_pending.json",
     {"cell": 1, "new_cell": 5, "sub": [[0.0] * 3] * 2, "spans": [0],
      "staging": True, "live_cells": ["cell=1"]}),
    ("_ivf_retrain_pending.json", {"centroids": [[0.0] * 3] * 4}),
])
def test_ivf_manifest_without_staged_snapshot_rejected(
        spark, vecs, ivf_template, tmp_path, name, doc):
    path = _copy(ivf_template, tmp_path)
    _write_manifest(path, name, doc)
    with pytest.raises(ValueError, match=IVF_REBUILD) as e:
        upsert_ivf_index(spark, path, adds=vecs.limit(2))
    assert name in str(e.value)


# -- lexical -----------------------------------------------------------


def test_lex_without_descriptor_rejected(spark, lex_template, tmp_path):
    path = _copy(lex_template, tmp_path)
    os.remove(os.path.join(path, "_lex_meta.json"))
    with pytest.raises(ValueError, match=LEX_REBUILD) as e:
        bm25_indexed_topk(spark, path, ["alpha"], k=3)
    assert path in str(e.value)


@pytest.mark.parametrize("key", ["schemas", "spans", "shard_rows"])
def test_lex_descriptor_without_key_rejected(spark, docs, lex_template,
                                             tmp_path, key):
    path = _copy(lex_template, tmp_path)
    _edit_descriptor(path, "_lex_meta.json", key)
    with pytest.raises(ValueError, match=LEX_REBUILD) as e:
        upsert_lexical_index(spark, path, adds=docs.limit(2))
    assert key in str(e.value)


def test_lex_without_docmeta_rejected(spark, lex_template, tmp_path):
    path = _copy(lex_template, tmp_path)
    shutil.rmtree(os.path.join(path, "docmeta"))
    with pytest.raises(ValueError, match=LEX_REBUILD):
        bm25_indexed_topk(spark, path, ["alpha"], k=3)


@pytest.mark.parametrize("name,doc", [
    ("_lex_upsert_pending.json", {"shards": [0], "dspans": [0]}),
    ("_lex_upsert_pending.json",
     {"shards": [0], "dspans": [0], "staging": True}),
    ("_lex_merge_pending.json",
     {"src": 0, "dst": 1, "spans": [0], "total": 3, "staging": True,
      "live_postings": ["shard=1"], "live_positions": []}),
    ("_lex_compact_pending.json", {"shards": 4, "staging": True}),
])
def test_lex_manifest_without_staged_snapshot_rejected(
        spark, docs, lex_template, tmp_path, name, doc):
    path = _copy(lex_template, tmp_path)
    _write_manifest(path, name, doc)
    with pytest.raises(ValueError, match=LEX_REBUILD) as e:
        upsert_lexical_index(spark, path, adds=docs.limit(2))
    assert name in str(e.value)
