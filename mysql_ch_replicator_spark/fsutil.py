"""Small-file + directory operations routed through the JVM Hadoop
``FileSystem`` API — the storage layer Spark itself writes through.

The persisted-index operators (``operators/similarity.upsert_ivf_index``,
``operators/retrieval.upsert_lexical_index``) keep tiny JSON descriptors
(meta + crash-intent manifests) NEXT TO parquet data Spark writes via
Hadoop. Managing those with python ``open()``/``os.remove``/
``shutil.rmtree`` silently breaks the moment the index path is not a
local filesystem (``s3a://``, ``hdfs://``): the parquet write succeeds
but the manifest write fails — or worse, the emptied-partition cleanup
no-ops and stale shards survive an upsert that promised to clear them
(ADVICE r7). Routing every side-file and delete through
``Path.getFileSystem`` makes the operators correct on ANY scheme the
Spark cluster can reach, at zero extra cost on ``file://``.

Helpers take an explicit ``spark`` or fall back to the active session.
A SCHEME-LESS path with NO active session falls back to plain python
file IO (ADVICE r8: sessionless monitoring/recovery code probing a
local index dir — ``read_ivf_meta``/``staged.pending`` — must not
need a JVM); a schemed path without a session still raises, because
only the JVM can reach it.

``write_text`` is temp-file + rename, never create-in-place: a crash
mid-write must not leave a truncated descriptor that fails JSON parsing
on the next probe (ADVICE r8). Hadoop ``FileSystem.rename`` refuses an
existing destination, so the overwrite is delete-then-rename — atomic
on the rename itself (HDFS), best-effort on object stores; the crash
window shrinks from "any byte of the payload" to "between two metadata
ops", and a reader can never observe a HALF-written file —
``read_text`` retries briefly through that not-found gap so concurrent
descriptor probes see old-or-new content, never a spurious miss."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_form(path: str) -> str | None:
    """The local-filesystem form of ``path`` when python IO can serve it
    (no scheme, or an explicit ``file:`` URI), else None."""
    if path.startswith("file:"):
        from urllib.parse import urlparse
        return urlparse(path).path
    if "://" not in path:
        return path
    return None


def _fs(path: str, spark: SparkSession | None = None):
    """(fs, jpath, jvm) via the session's JVM, or ``None`` when no
    session exists but plain python IO can serve the path."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        if _local_form(path) is not None:
            return None
        raise RuntimeError(
            "fsutil needs an active SparkSession for non-local paths "
            "(Hadoop FileSystem access runs through the session's JVM)")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def write_text(path: str, text: str,
               spark: SparkSession | None = None) -> None:
    """Small-file write that can never expose a truncated file: the
    payload lands under a temp name in the same directory, then renames
    over the target (delete-then-rename where the FS refuses an
    existing destination)."""
    handle = _fs(path, spark)
    if handle is None:
        local = _local_form(path)
        tmp = local + ".__tmp__"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, local)
        return
    fs, p, jvm = handle
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".__tmp__")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"fsutil.write_text: rename {tmp} -> {p} failed")


def read_text(path: str, spark: SparkSession | None = None,
              retries: int = 5, retry_delay_s: float = 0.05) -> str:
    """Small-file read that tolerates the overwrite window of
    ``write_text``: on Hadoop FSes that refuse rename-over-existing, an
    overwrite is delete-then-rename, so a concurrent reader can observe
    the target MISSING for an instant even though a valid version exists
    before and after (ADVICE r9 — sessionless descriptor probes racing
    an index upsert). A not-found here retries briefly before raising,
    converting the metadata-op gap into a short wait; a genuinely absent
    file still raises after ``retries`` attempts. Content is never torn
    either way — the payload always lands under a temp name first."""
    import time

    for attempt in range(retries + 1):
        try:
            handle = _fs(path, spark)
            if handle is None:
                with open(_local_form(path), encoding="utf-8") as f:
                    return f.read()
            fs, p, jvm = handle
            stream = fs.open(p)
            try:
                bos = jvm.java.io.ByteArrayOutputStream()
                jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                    stream, bos, 65536, False)
                return bos.toString("UTF-8")
            finally:
                stream.close()
        except Exception as e:                   # noqa: BLE001
            if attempt >= retries or not is_not_found(e):
                raise
            time.sleep(retry_delay_s)


def is_not_found(e: Exception) -> bool:
    """True for a missing-file error from either IO stack: python's
    FileNotFoundError, or Hadoop's FileNotFoundException surfacing
    through py4j (whose message embeds the Java class name)."""
    if isinstance(e, FileNotFoundError):
        return True
    return "FileNotFoundException" in str(e)


def exists(path: str, spark: SparkSession | None = None) -> bool:
    handle = _fs(path, spark)
    if handle is None:
        return os.path.exists(_local_form(path))
    fs, p, _ = handle
    return bool(fs.exists(p))


def delete(path: str, recursive: bool = True,
           spark: SparkSession | None = None) -> bool:
    """Delete a file or directory tree; False when the path was already
    absent (the ``ignore_errors`` idempotence the callers rely on), but
    a real backend failure still raises instead of silently leaking."""
    handle = _fs(path, spark)
    if handle is None:
        local = _local_form(path)
        if not os.path.exists(local):
            return False
        if os.path.isdir(local):
            if not recursive:
                os.rmdir(local)
            else:
                import shutil
                shutil.rmtree(local)
        else:
            os.remove(local)
        return True
    fs, p, _ = handle
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def rename(src: str, dst: str,
           spark: SparkSession | None = None) -> None:
    """Move a file or directory to an ABSENT destination (callers delete
    the target first — the write_text overwrite idiom, lifted to
    directories). This is the staged-commit promotion primitive: a
    directory rename is atomic on POSIX/HDFS, and on object stores it
    degrades to the same copy semantics Spark's own output committer
    has. Raises when the filesystem refuses the move."""
    handle = _fs(src, spark)
    if handle is None:
        local_dst = _local_form(dst)
        os.makedirs(os.path.dirname(local_dst), exist_ok=True)
        os.rename(_local_form(src), local_dst)
        return
    fs, p_src, jvm = handle
    p_dst = jvm.org.apache.hadoop.fs.Path(dst)
    parent = p_dst.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(p_src, p_dst):
        raise IOError(f"fsutil.rename: {src} -> {dst} failed")


def promote_dirs(staged_root: str, live_root: str, key: str, touched,
                 live_names, spark: SparkSession | None = None) -> None:
    """Commit staged ``key=value`` partition directories into a live
    table by per-directory delete+rename — the cheap half of the staged
    crash protocol the index operators share (``operators/staged.py``):
    the data was already
    written ONCE (partitioned, into staging), so promotion is pure
    filesystem metadata, never a second write+decode pass. Idempotent
    against the manifest's ``live_names`` list: a named directory
    absent from staging was already promoted by a torn earlier pass
    (its rename completed — the only way the staged dir disappears); a
    named directory still staged has its live twin deleted then
    renamed into place (a crash between the two re-runs safely — the
    staged dir is untouched until its own rename). ``touched`` keys
    NOT in ``live_names`` were emptied by the action: their live dirs
    are deleted — the dynamic-overwrite-never-clears-empty rule."""
    promoted: set[int] = set()
    for name in live_names:
        src = os.path.join(staged_root, name)
        dst = os.path.join(live_root, name)
        if exists(src, spark=spark):
            delete(dst, spark=spark)
            rename(src, dst, spark=spark)
        promoted.add(int(name.split("=", 1)[1]))
    for k in set(touched) - promoted:
        delete(os.path.join(live_root, f"{key}={k}"), spark=spark)


def list_names(path: str, spark: SparkSession | None = None) -> list[str]:
    """Names of the directory's direct children, [] when absent — the
    bounded listing partition-emptiness checks need (a directory of
    partition subdirs is metadata-cardinality, never data)."""
    handle = _fs(path, spark)
    if handle is None:
        local = _local_form(path)
        try:
            return sorted(os.listdir(local))
        except (FileNotFoundError, NotADirectoryError):
            return []
    fs, p, _ = handle
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def read_parquet_or_empty(spark: SparkSession, root: str,
                          schema_json: str | None):
    """Read a partition-directory parquet table that may have had EVERY
    partition deleted: a remove-everything CDC window legitimately
    sweeps all ``key=value`` subdirs, and parquet schema inference then
    dies on the bare root ('Unable to infer schema'), permanently
    wedging every later upsert and probe. When no partition subdir
    remains, the table reads as an EMPTY frame with the schema the index
    descriptor captured at build time (``staged.read_descriptor`` rejects
    a descriptor without one); with no schema to fall back on it raises
    a named rebuild error instead of the inference crash."""
    import json as _json

    # readable content = partition subdirs or plain data files; metadata
    # side-files (_SUCCESS, _vecmeta, .crc) don't count
    if any(not n.startswith(("_", "."))
           for n in list_names(root, spark=spark)):
        if schema_json:
            # schema-pinned read: the descriptor's captured schema is
            # maintained at every schema-changing event (build, the
            # positions twin appearing), so
            # re-inferring it here costs a footer-read Spark job per
            # call for an answer that cannot differ — O(files)
            # driver+task work on EVERY descriptor-table read at scale
            # (the same argument as the engine's live-read schema
            # cache). Parquet columns resolve by NAME under an explicit
            # schema, so file-internal column order is irrelevant, and
            # partition columns (declared at the end, exactly as the
            # build's read-back captured them) still resolve from the
            # directory names.
            from pyspark.sql.types import StructType
            return spark.read.schema(
                StructType.fromJson(_json.loads(schema_json))) \
                .parquet(root)
        return spark.read.parquet(root)
    if not schema_json:
        raise ValueError(
            f"read_parquet_or_empty: {root} has no partition directories "
            f"left (every row was removed) and no captured schema to read "
            f"it by — rebuild the index from the replica's final state")
    from pyspark.sql.types import StructType
    return spark.createDataFrame(
        [], StructType.fromJson(_json.loads(schema_json)))


def cluster_by_dir(df, part_col: str, id_col: str,
                   n_dirs: int | None = None):
    """Cluster a frame by its output partition directory before a
    ``partitionBy`` write (guide: hash write-distribution — the Iceberg
    ``write.distribution-mode=hash`` shape).

    An unclustered partitioned write emits up to tasks x dirs files:
    every writer task opens one file per directory value it happens to
    hold (measured at sf0.1: 416 files for a 16-shard positions table,
    160 for a 5-span docmeta — each later read/copy/promote pays per
    file). Clustering by the partition column makes files-per-dir a
    function of the SECONDARY key count instead of the task count.

    ``n_dirs`` — expected live directory count. The secondary key
    splits each directory across ``shuffle.partitions // n_dirs``
    writer tasks so one huge directory (an IVF cell at 100 TB) keeps
    write parallelism; with ``n_dirs`` None (bounded-size dirs: doc/vec
    spans, whose row count the span width caps by design) each
    directory becomes exactly one file. The secondary key derives from
    the row id (deterministic under task retry — never ``rand()``,
    SPARK-38388), and ``shuffle.partitions`` is the per-deploy scale
    knob, so the same code lands sane layouts at sf0.001 and at
    cluster scale."""
    from pyspark.sql import functions as F

    sess = df.sparkSession
    try:
        shuffle_n = int(sess.conf.get("spark.sql.shuffle.partitions",
                                      "200"))
    except (TypeError, ValueError):
        # deployments can set the conf non-numeric ("auto" on some
        # AQE-managed platforms) — any clustered write would then die in
        # int(); fall back to the stock default instead (ADVICE r13)
        shuffle_n = 200
    sub = max(1, shuffle_n // max(int(n_dirs), 1)) if n_dirs else 1
    if sub <= 1:
        return df.repartition(F.col(part_col))
    return df.repartition(
        F.col(part_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(sub)))
