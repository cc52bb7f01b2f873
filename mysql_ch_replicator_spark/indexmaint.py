"""Coalescing maintenance for persisted secondary indexes — the answer
to the 1 s CDC-cadence frontier (r9 verdict #1b).

The replica applies CDC micro-batches on the reference's 1 s flush
cadence (reference db_replicator_realtime.py:22–23); the persisted
lexical/IVF indexes' upserts, however cheap per datum, carry a fixed
multi-second action cost (see upsert_lexical_index's latency-shape
note), so maintaining them inline per micro-batch would stall the apply
loop — the index would structurally lag the replica anyway, just with
the replica dragged down too. This module makes the lag an EXPLICIT,
bounded, monitored contract instead:

- CDC batches flow to the REPLICA at full cadence, untouched.
- A ``MaintainedIndex`` binds one index to its source table and
  remembers the replica version it last absorbed
  (``_maint_state.json`` in the index directory, atomic via fsutil).
- On the scheduler cadence (``ReplicaOptimizer.maybe_maintain_indexes``
  — the reference's periodic db_optimizer loop, db_optimizer.py:71–80,
  is exactly this shape) the maintainer coalesces EVERYTHING the
  replica committed since that watermark into ONE upsert: the fixed
  action cost is paid once per maintenance window, not once per second.

Staleness contract: between applies, probes against the index see the
replica's FINAL state as of ``applied_version`` — never a torn or
partial batch, possibly an old one. ``due()`` bounds how old: the
maintainer catches up whenever the index has been stale longer than
``max_lag_seconds`` or is more than ``max_versions_behind`` CDC batches
behind, both decided from table METADATA (no scan). ``status()`` (and
``monitoring.index_freshness``) exposes the actual lag beside
``event_log_lag``.

Delta derivation is O(changes), never O(table): replica rows carry a
monotone ``_version``, the store is append-only, and parquet keeps
min/max column statistics per file — so ``_version > applied_version``
prunes to the files the recent batches appended. Any PK touched after
the watermark necessarily has its globally-newest row inside that
delta (versions are monotone), so latest-wins over the delta alone
yields the touched keys' final state: live winners re-add (the upserts'
re-add-replaces semantics make updates free), REMOVE winners delete.

One rewrite hazard: ``engine.optimize`` (compaction) collapses
tombstones away, so a delete committed after the watermark can vanish
from the raw read before the maintainer sees it. Every history rewrite
— compaction, schema swap, repair — publishes a NEW generation name, so
the state file records the generation it applied against; when the
current generation differs, the maintainer falls back to RECONCILE
deletes: index ids ∖ replica live ids, an ids-only anti-join (index
membership listing vs one replica id column — never a re-tokenize /
re-embed of anything), while adds still come from the version delta
(live rows keep their ``_version`` through a rewrite).

Crash contract: the upserts are idempotent and state-based; the
watermark commits strictly AFTER the upsert. A crash in between means
the next ``apply`` re-derives a superset delta from the old watermark
and re-runs the same upsert to the same final state (pinned by
tests/test_indexmaint.py). The reconcile path is idempotent for the
same reason — already-deleted ids simply stop appearing in the
anti-join.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import fsutil
from .operators import staged
from .operators.replica import (OP_COL, OP_REMOVE, VERSION_COL,
                                dedup_final_agg)

MAINT_STATE = "_maint_state.json"


class MaintainedIndex:
    """One persisted index (lexical or IVF) bound to one replica table,
    maintained by coalescing CDC windows — see the module docstring for
    the staleness and crash contracts.

    ``payload_expr`` optionally transforms the replica column into the
    indexed payload (e.g. ``from_json(col, 'array<float>')`` for an
    embedding stored as a JSON string — MySQL-shaped tables have no
    array type); default is the raw column. ``index_opts`` pass through
    to ``write_*_index`` at build time (shards, span_width, positions,
    n_cells...). ``split_load_factor`` arms ``maybe_split`` — hot IVF
    cells and hot lexical term shards alike (None = never split)."""

    def __init__(self, engine, db: str, table: str, index_path: str,
                 kind: str, payload_col: str,
                 id_col: str | None = None,
                 payload_expr=None,
                 max_lag_seconds: float = 30.0,
                 max_versions_behind: int | None = None,
                 split_load_factor: float | None = None,
                 split_min_rows: int = 256,
                 merge_load_factor: float | None = None,
                 retrain_after: int | None = None,
                 target_partition_rows: int | None = None,
                 geometry_band: float = 2.0,
                 retrain_trains_pq: bool = False,
                 clock=time.time,
                 **index_opts):
        if kind not in ("lexical", "ivf"):
            raise ValueError(f"MaintainedIndex: unknown kind {kind!r}")
        if (split_load_factor is not None and merge_load_factor is not None
                and 2 * float(merge_load_factor) > float(split_load_factor)):
            # ping-pong guard (ADVICE r11): merging two partitions each
            # just under merge_load_factor × mean yields up to
            # 2·merge_load_factor × mean — if that exceeds the split
            # threshold, the next poll splits the merged partition, whose
            # halves can re-trip the merge: an O(partition) rewrite every
            # poll, forever. With 2·merge ≤ split the combined size stays
            # strictly under split × post-merge mean (the mean only grows
            # when the live count shrinks), so the cycle cannot start.
            raise ValueError(
                f"MaintainedIndex: merge_load_factor={merge_load_factor} "
                f"and split_load_factor={split_load_factor} can ping-pong "
                f"(a merge of two <{merge_load_factor}x-mean partitions "
                f"can exceed the split trigger); require "
                f"2*merge_load_factor <= split_load_factor")
        if retrain_after is not None and int(retrain_after) < 1:
            # ADVICE r12: retrain_after=0 makes the chain>=0 trigger
            # always true while the rebuild no-ops on an undrifted
            # index — maybe_rebalance would return 'retrain:None' every
            # poll and permanently preempt split/merge
            raise ValueError(
                f"MaintainedIndex: retrain_after={retrain_after} must be "
                f">= 1 (0 would fire the rebuild trigger on every poll "
                f"and preempt split/merge forever)")
        if target_partition_rows is not None \
                and int(target_partition_rows) < 1:
            raise ValueError(
                f"MaintainedIndex: target_partition_rows="
                f"{target_partition_rows} must be >= 1")
        if not float(geometry_band) > 1.0:
            # band == 1 retrains on ANY deviation from the exact target
            # (every poll after every apply — the retrain_after=0
            # pathology with extra steps)
            raise ValueError(
                f"MaintainedIndex: geometry_band={geometry_band} must be "
                f"> 1 (the band is a multiplicative dead zone around "
                f"target_partition_rows)")
        st = engine.structure(db, table)
        if id_col is None:
            if len(st.primary_keys) != 1:
                raise ValueError(
                    f"MaintainedIndex: {db}.{table} has composite PK "
                    f"{st.primary_keys} — pass id_col explicitly")
            id_col = st.primary_keys[0]
        self.engine = engine
        self.db = db
        self.table = table
        self.index_path = index_path
        self.kind = kind
        self.id_col = id_col
        self.payload_col = payload_col
        self.payload_expr = payload_expr
        self.max_lag_seconds = float(max_lag_seconds)
        self.max_versions_behind = max_versions_behind
        self.split_load_factor = split_load_factor
        self.split_min_rows = int(split_min_rows)
        self.merge_load_factor = merge_load_factor
        self.retrain_after = retrain_after
        self.target_partition_rows = target_partition_rows
        self.geometry_band = float(geometry_band)
        # policy rebuilds retrain the PQ (fine) quantization layer too —
        # inert on a lexical or raw-vector index
        self.retrain_trains_pq = bool(retrain_trains_pq)
        self.clock = clock
        self.index_opts = dict(index_opts)
        # version the load-factor check last ran against: the hottest
        # partition can only change when an apply or split mutates the
        # index, so idle polls skip the O(partition-stats) scan entirely
        self._split_checked_version: int | None = None
        self._merge_checked_version: int | None = None
        self._geom_checked_version: int | None = None

    # -- state ----------------------------------------------------------

    @property
    def _state_path(self) -> str:
        return os.path.join(self.index_path, MAINT_STATE)

    def _state(self) -> dict:
        spark = self.engine.spark
        if not fsutil.exists(self._state_path, spark=spark):
            raise ValueError(
                f"MaintainedIndex: no {MAINT_STATE} at {self.index_path} "
                f"— call build() once before apply()/due()")
        return json.loads(fsutil.read_text(self._state_path, spark=spark))

    def _write_state(self, version: int, seq: int, generation: str) -> None:
        fsutil.write_text(
            self._state_path,
            json.dumps({"applied_version": int(version),
                        "applied_seq": int(seq),
                        "applied_ts": float(self.clock()),
                        "generation": generation}),
            spark=self.engine.spark)

    def _generation(self) -> str:
        from .engine import load_gen_manifest
        return load_gen_manifest(
            self.engine._table_dir(self.db, self.table))["current"]

    def _payload(self):
        e = self.payload_expr if self.payload_expr is not None \
            else F.col(self.payload_col)
        return e.alias(self.payload_col)

    # -- lifecycle ------------------------------------------------------

    def build(self) -> None:
        """Initial index build from the replica's FINAL state, then stamp
        the watermark. One full scan — everything after is O(changes)."""
        meta = self.engine.load_meta(self.db, self.table)
        gen = self._generation()
        frame = (self.engine.read_final(self.db, self.table)
                 .select(F.col(self.id_col), self._payload()))
        if self.kind == "lexical":
            from .operators.retrieval import write_lexical_index
            write_lexical_index(frame, self.index_path,
                                id_col=self.id_col,
                                text_col=self.payload_col,
                                **self.index_opts)
        else:
            from .operators.similarity import write_ivf_index
            write_ivf_index(frame, self.index_path,
                            id_col=self.id_col,
                            vec_col=self.payload_col,
                            **self.index_opts)
        self._write_state(int(meta["last_version"]),
                          int(meta.get("last_seq", -1)), gen)

    def status(self) -> dict:
        """The staleness contract, as numbers: what the index reflects vs
        where the replica is — metadata reads only, no scan."""
        st = self._state()
        meta = self.engine.load_meta(self.db, self.table)
        now = float(self.clock())
        out = {
            "db": self.db, "table": self.table, "kind": self.kind,
            "index_path": self.index_path,
            "applied_version": int(st["applied_version"]),
            "replica_version": int(meta["last_version"]),
            "versions_behind": (int(meta["last_version"])
                                - int(st["applied_version"])),
            "applied_seq": int(st["applied_seq"]),
            "replica_seq": int(meta.get("last_seq", -1)),
            "age_seconds": max(0.0, now - float(st["applied_ts"])),
        }
        out.update(self._geometry())
        return out

    def _geometry(self) -> dict:
        """Geometry-drift accounting (r11 verdict #6): dead slots and
        split/merge chain length — the two signals the retrain trigger
        thresholds on and an operator watches. Descriptor-only reads."""
        if self.kind == "ivf":
            from .operators.similarity import read_ivf_meta
            imeta = read_ivf_meta(self.index_path)
            return {
                "n_dead_cells": len(imeta.get("dead", [])),
                "chain_length": int(imeta.get("geometry_actions", 0)),
                "retrains": int(imeta.get("retrains", 0)),
            }
        from .operators.retrieval import _live_shards, read_lex_meta
        lmeta = read_lex_meta(self.index_path, self.engine.spark)
        chain = lmeta.get("splits", [])
        live = _live_shards(int(lmeta["shards"]), chain)
        splits = sum(1 for e in chain if e.get("salt") is not None)
        return {
            # shards ever created (base + one per split) minus live =
            # merged-away placement-chain slots
            "n_dead_cells": int(lmeta["shards"]) + splits - len(live),
            "chain_length": len(chain),
            # rebuild history, symmetric with the IVF arm's 'retrains'
            # (ADVICE r12: /status showed it for one family only)
            "compactions": int(lmeta.get("compactions", 0)),
        }

    def due(self) -> bool:
        s = self.status()
        if s["versions_behind"] <= 0:
            return False
        if (self.max_versions_behind is not None
                and s["versions_behind"] >= self.max_versions_behind):
            return True
        return s["age_seconds"] >= self.max_lag_seconds

    # -- the coalesced apply ---------------------------------------------

    def apply(self) -> dict:
        """Absorb every replica version in (applied_version, last_version]
        with ONE index upsert. Returns what happened."""
        st = self._state()
        meta = self.engine.load_meta(self.db, self.table)
        w = int(st["applied_version"])
        target_v = int(meta["last_version"])
        target_seq = int(meta.get("last_seq", -1))
        if target_v <= w:
            return {"applied": False, "versions": 0}
        gen_now = self._generation()
        spark = self.engine.spark

        raw = self.engine.read_raw(self.db, self.table)
        # file-level minmax stats on the monotone _version prune the
        # append-only store to the windows' own files — O(delta) IO
        delta = raw.where(F.col(VERSION_COL) > F.lit(w))
        final = dedup_final_agg(delta, [self.id_col]) \
            .localCheckpoint(eager=True)
        adds = (final.where(F.col(OP_COL) != OP_REMOVE)
                .select(F.col(self.id_col), self._payload()))
        reconciled = gen_now != st.get("generation")
        if not reconciled:
            removes = (final.where(F.col(OP_COL) == OP_REMOVE)
                       .select(self.id_col))
        else:
            # history was rewritten since the last apply (compaction /
            # schema swap / repair): tombstones in the window may be
            # collapsed away — reconcile deletes as index ids ∖ replica
            # live ids. Ids-only: the index membership listing against
            # one replica id column, never a re-tokenize/re-embed.
            live = self.engine.read_final(self.db, self.table) \
                .select(F.col(self.id_col))
            # checkpointed: this frame reads the index's OWN membership
            # table, which the upsert below rewrites — hand the upsert
            # materialized ids, not a plan over its write target
            removes = (self._index_ids()
                       .join(live, self.id_col, "left_anti")
                       .localCheckpoint(eager=True))

        if self.kind == "lexical":
            from .operators.retrieval import upsert_lexical_index
            upsert_lexical_index(spark, self.index_path, adds=adds,
                                 removes=removes, id_col=self.id_col,
                                 text_col=self.payload_col)
        else:
            from .operators.similarity import upsert_ivf_index
            upsert_ivf_index(spark, self.index_path, adds=adds,
                             removes=removes, id_col=self.id_col,
                             vec_col=self.payload_col)
        # watermark strictly AFTER the upsert: a crash in between re-runs
        # the same (idempotent) upsert from the old watermark
        self._write_state(target_v, target_seq, gen_now)
        return {"applied": True, "versions": target_v - w,
                "reconciled": reconciled}

    def built(self) -> bool:
        return fsutil.exists(self._state_path, spark=self.engine.spark)

    def maybe_apply(self) -> dict:
        if not self.built():
            # a registered-but-unbuilt index must not crash the
            # scheduler poll; the build (a full corpus scan) stays an
            # EXPLICIT call, never an implicit side effect of a 1 s loop
            return {"applied": False, "versions": 0, "unbuilt": True}
        if not self.due():
            return {"applied": False, "versions": 0}
        return self.apply()

    def _index_ids(self) -> DataFrame:
        """The ids the index currently holds, from its membership table
        (a listing-scale 1-column read — docmeta / _vecmeta; empty-safe
        via the descriptor schema, so a reconcile after a
        remove-everything window cannot wedge on schema inference)."""
        spark = self.engine.spark
        if self.kind == "lexical":
            from .operators.retrieval import read_lex_meta
            meta = read_lex_meta(self.index_path, spark)
            return (fsutil.read_parquet_or_empty(
                spark, os.path.join(self.index_path, "docmeta"),
                meta["schemas"].get("docmeta"))
                .select(F.col("doc_id").alias(self.id_col)))
        from .operators.similarity import _IVF_MEMBERS, read_ivf_meta
        meta = read_ivf_meta(self.index_path)
        return (fsutil.read_parquet_or_empty(
            spark, os.path.join(self.index_path, _IVF_MEMBERS),
            meta["schemas"].get("members"))
            .select(F.col("vec_id").alias(self.id_col)))

    # -- IVF load-factor policy (r9 verdict #6) ---------------------------

    def maybe_rebalance(self) -> str | None:
        """The scheduler-facing geometry action: one retrain OR split OR
        merge per poll, as a labeled string for the optimizer's action
        log (``retrain:k`` / ``split:a->b`` / ``merge:b->a``), or None
        when the load factors are healthy. Retrain (the escalation — see
        ``maybe_retrain``) preempts both incremental actions: once the
        chain is long enough to trigger it, another local action would
        only drift the codebook further before the rebuild. Below the
        threshold, split wins over merge — a hot partition hurts every
        probe touching it, a sparse pair only wastes probe slots."""
        r = self.maybe_retrain()
        if r is not None:
            return r
        s = self.maybe_split()
        if s is not None:
            return f"split:{s[0]}->{s[1]}"
        m = self.maybe_merge()
        if m is not None:
            return f"merge:{m[0]}->{m[1]}"
        return None

    def maybe_retrain(self) -> str | None:
        """Geometry-REBUILD escalation ABOVE split/merge (r11 verdict
        #3): every split and merge drifts the index's global geometry a
        little — IVF splits seed LOCAL sub-codebooks and merges leave
        dead centroid slots; lexical splits freeze their skew into the
        chain and merges retire ids forever — and nothing in the
        one-action-per-poll policy ever revisits it. Once the chain
        length reaches ``retrain_after`` the maintainer rebuilds:
        ``retrain_ivf_index`` (fresh exact-Lloyd codebook) for IVF,
        ``compact_lexical_index`` (fresh uniform base placement) for
        lexical — each the index's OPTIMIZE FINAL analog (reference
        db_optimizer.py:71–80, the periodic full pass behind the
        incremental actions). The trigger is descriptor-only (no scan);
        a torn rebuild left by a crash is resumed first and counts as
        this poll's action. Returns the action label
        (``retrain:k`` / ``compact:k``) or None.

        AUTO-GEOMETRY arming (r12 verdict #4): with
        ``target_partition_rows`` set, the maintainer also watches the
        index's own row accounting — a corpus that grew 10× since the
        build otherwise keeps its undersized base geometry forever
        (splits patch hot partitions one per poll, never the base).
        When the mean rows-per-live-partition leaves the
        ``geometry_band`` dead zone around the target (mean > band ×
        target, or mean × band < target), the rebuild fires with an
        EXPLICIT target of ``total_rows // target_partition_rows``
        partitions; a chain-triggered rebuild on an armed index uses
        the same computed target, so every policy rebuild lands at the
        right size for the CURRENT corpus. Cost of the armed check:
        the lexical arm reads the descriptor's ``shard_rows`` map
        (metadata-only); the IVF arm the 2-int membership table (one
        bounded row-per-cell aggregate — the same snapshot the split/
        merge triggers already pay for)."""
        if not self.built() or (self.retrain_after is None
                                and self.target_partition_rows is None):
            return None
        spark = self.engine.spark
        if self.kind == "ivf":
            from .operators.similarity import (_IVF_RETRAIN_PENDING,
                                               read_ivf_meta,
                                               retrain_ivf_index)

            if staged.pending(self.index_path, _IVF_RETRAIN_PENDING,
                              spark) is not None:
                return f"retrain:{retrain_ivf_index(spark, self.index_path)}"
            imeta = read_ivf_meta(self.index_path)
            if self.retrain_after is not None \
                    and int(imeta.get("geometry_actions", 0)) \
                    >= int(self.retrain_after):
                k = retrain_ivf_index(spark, self.index_path,
                                      n_cells=self._geometry_target(),
                                      train_pq=self.retrain_trains_pq)
                return f"retrain:{k}"
            t = self._geometry_target()
            if t is not None:
                k = retrain_ivf_index(spark, self.index_path, n_cells=t,
                                      train_pq=self.retrain_trains_pq)
                return f"retrain:{k}"
            return None
        from .operators.retrieval import (_LEX_COMPACT_PENDING,
                                          compact_lexical_index,
                                          read_lex_meta)

        if staged.pending(self.index_path, _LEX_COMPACT_PENDING,
                          spark) is not None:
            return f"compact:{compact_lexical_index(spark, self.index_path)}"
        lmeta = read_lex_meta(self.index_path, spark)
        if self.retrain_after is not None \
                and len(lmeta.get("splits", [])) >= int(self.retrain_after):
            k = compact_lexical_index(spark, self.index_path,
                                      shards=self._geometry_target())
            return f"compact:{k}"
        t = self._geometry_target()
        if t is not None:
            k = compact_lexical_index(spark, self.index_path, shards=t)
            return f"compact:{k}"
        return None

    def _geometry_target(self) -> int | None:
        """The armed rebuild target: ``total_rows //
        target_partition_rows`` partitions when the mean rows-per-live-
        partition has left the ``geometry_band`` dead zone (and the
        target actually differs from the live count), else None. A
        just-built, in-band, or unarmed index returns None — the
        rebuild's own no-op guard stays in charge of those. Floors at 2
        partitions: a 1-partition index degenerates every probe into a
        full scan (the merge policy refuses the same floor).

        Idle polls stay metadata-only (the split/merge triggers'
        checked-version rule): the band can only move when an apply
        grows/shrinks the corpus, so an in-band verdict is cached
        against ``applied_version`` and re-checked only after the next
        apply. (A same-version split/merge shifts the mean slightly by
        changing the live count — bounded by one partition — and any
        drift that matters re-enters through the chain trigger.)"""
        if self.target_partition_rows is None:
            return None
        applied_v = int(self._state()["applied_version"])
        if self._geom_checked_version == applied_v:
            return None
        counts = self._ivf_load() if self.kind == "ivf" \
            else self._lexical_load()
        live, total = len(counts), sum(counts.values())
        if not live or not total:
            return None
        tpr = int(self.target_partition_rows)
        mean = total / live
        if mean <= self.geometry_band * tpr \
                and mean * self.geometry_band >= tpr:
            self._geom_checked_version = applied_v
            return None                     # inside the dead zone
        target = max(2, total // tpr)
        if target == live:
            self._geom_checked_version = applied_v
            return None
        # a rebuild fires: deliberately NOT marked checked, so residual
        # drift re-checks on the next poll
        return int(target)

    def maybe_split(self) -> tuple[int, int] | None:
        """Split the index's hottest partition when its row count exceeds
        ``split_load_factor`` × the mean partition size (and
        ``split_min_rows``) — the reference's periodic OPTIMIZE shape
        applied to index geometry, for BOTH index families: IVF cells
        (``split_ivf_cell``) and lexical term shards
        (``split_lexical_shard``). Bounded to ONE split per poll so a
        skewed index rebalances incrementally across maintenance windows
        instead of stalling one. A torn split left by a crash is resumed
        first (the split with no target resumes the pending manifest);
        that resume counts as this poll's split. A hot-but-unsplittable
        partition (identical vectors / a single hot term) is left alone
        rather than wedging the poll. Cost per poll: the IVF trigger
        reads the 2-int membership table; the lexical trigger the
        descriptor's incrementally-maintained ``shard_rows`` map (no
        data scan — ADVICE r10) — both on the scheduler's optimize
        cadence, never the CDC path. Mean load is over LIVE partitions
        only (merged-away cells/shards excluded)."""
        from .operators import UnsplittablePartition

        if self.split_load_factor is None or not self.built():
            return None
        spark = self.engine.spark
        applied_v = int(self._state()["applied_version"])
        if self.kind == "ivf":
            from .operators.similarity import (_IVF_SPLIT_PENDING,
                                               split_ivf_cell)
            if staged.pending(self.index_path, _IVF_SPLIT_PENDING,
                              spark) is not None:
                return split_ivf_cell(spark, self.index_path)
            if self._split_checked_version == applied_v:
                # nothing mutated the index since the last load check —
                # an idle poll stays metadata-only
                return None
            counts = self._ivf_load()
            action = split_ivf_cell
        else:
            from .operators.retrieval import (_LEX_SPLIT_PENDING,
                                              split_lexical_shard)
            if staged.pending(self.index_path, _LEX_SPLIT_PENDING,
                              spark) is not None:
                return split_lexical_shard(spark, self.index_path)
            if self._split_checked_version == applied_v:
                return None
            counts = self._lexical_load()
            action = split_lexical_shard
        if not counts:
            self._split_checked_version = applied_v
            return None
        total = sum(counts.values())
        hottest = max(counts, key=lambda c: (counts[c], -c))
        mean = total / max(1, len(counts))
        if (counts[hottest] >= self.split_min_rows
                and counts[hottest] >= self.split_load_factor * mean):
            try:
                return action(spark, self.index_path, int(hottest))
                # NB: after a split fires, the checked-version mark is
                # deliberately NOT set — residual skew re-checks on the
                # next poll (one split per poll stays the bound)
            except UnsplittablePartition:
                # hot but un-rebalanceable (identical vectors / a single
                # hot term): leave it rather than wedge the poll, and
                # mark checked so idle polls stop re-paying the scan
                self._split_checked_version = applied_v
                return None
        self._split_checked_version = applied_v
        return None

    def _ivf_load(self) -> dict[int, int]:
        """Rows per LIVE cell (dead/merged cells excluded; empty live
        cells report 0) from the 2-int membership table — the bounded
        load snapshot both policy branches share."""
        from .operators.similarity import _IVF_MEMBERS, read_ivf_meta

        spark = self.engine.spark
        meta = read_ivf_meta(self.index_path)
        dead = {int(c) for c in meta.get("dead", [])}
        counts = {c: 0 for c in range(1, int(meta["n_cells"]) + 1)
                  if c not in dead}
        for r in (fsutil.read_parquet_or_empty(
                spark, os.path.join(self.index_path, _IVF_MEMBERS),
                meta["schemas"].get("members"))
                .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
                .collect()):     # bounded: one row per cell
            if int(r.cell) in counts:
                counts[int(r.cell)] = int(r.n)
        return counts

    def _lexical_load(self) -> dict[int, int]:
        """Posting rows per LIVE shard, descriptor-only: ``shard_rows``
        is maintained incrementally by upsert/split/merge (ADVICE r10:
        the old per-poll postings groupBy was O(index rows))."""
        from .operators.retrieval import _live_shards, read_lex_meta

        meta = read_lex_meta(self.index_path, self.engine.spark)
        live = _live_shards(int(meta["shards"]),
                            meta.get("splits", []))
        counts = {c: 0 for c in sorted(live)}
        for k, v in meta["shard_rows"].items():
            if int(k) in counts:
                counts[int(k)] = int(v)
        return counts

    def maybe_merge(self) -> tuple[int, int] | None:
        """Merge the two COLDEST live partitions when BOTH hold fewer
        than ``merge_load_factor`` × the mean — the shrink half of the
        load-factor policy (r10 verdict #3): without it a delete-heavy
        window fragments the index monotonically (splits only add
        partitions; emptied ones drop, half-empty ones accumulate)
        until a full rebuild. One merge per poll, same incremental-
        rebalance bound as the split; a torn merge left by a crash is
        resumed first and counts as this poll's action. The same
        checked-version mark keeps idle polls metadata-only. Cost: the
        IVF trigger reads the 2-int membership table; the lexical
        trigger reads the descriptor's shard_rows map — no data scan
        on either family."""
        from .operators import UnsplittablePartition

        if self.merge_load_factor is None or not self.built():
            return None
        spark = self.engine.spark
        applied_v = int(self._state()["applied_version"])
        if self.kind == "ivf":
            from .operators.similarity import (_IVF_MERGE_PENDING,
                                               merge_ivf_cells)
            if staged.pending(self.index_path, _IVF_MERGE_PENDING,
                              spark) is not None:
                return merge_ivf_cells(spark, self.index_path)
            if self._merge_checked_version == applied_v:
                return None
            counts, action = self._ivf_load(), merge_ivf_cells
        else:
            from .operators.retrieval import (_LEX_MERGE_PENDING,
                                              merge_lexical_shards)
            if staged.pending(self.index_path, _LEX_MERGE_PENDING,
                              spark) is not None:
                return merge_lexical_shards(spark, self.index_path)
            if self._merge_checked_version == applied_v:
                return None
            counts, action = self._lexical_load(), merge_lexical_shards
        if len(counts) > 2:
            total = sum(counts.values())
            mean = total / max(1, len(counts))
            a, b = sorted(counts, key=lambda c: (counts[c], c))[:2]
            if (counts[a] < self.merge_load_factor * mean
                    and counts[b] < self.merge_load_factor * mean):
                try:
                    # the operator re-derives the same two coldest from
                    # the same snapshot — no argument plumbing to drift
                    return action(spark, self.index_path)
                    # checked-version deliberately NOT set after a
                    # merge fires: residual sparsity re-checks next poll
                except UnsplittablePartition:
                    self._merge_checked_version = applied_v
                    return None
        self._merge_checked_version = applied_v
        return None
