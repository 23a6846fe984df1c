"""Maintainer #24 — the incremental SESSION STORE.

The reference's whole purpose is session windows over a stream
(flink_stream_task1.py:30-41); its Flink jobs keep the session state
inside the engine and emit closed sessions once. This maintainer is the
materialized-view form of the same computation: the full session table
(10-minute gap, exact BIGINT cents) kept up to date across micro-batches
by TAIL MERGE — each batch's raw events are fused with the store's
per-user tail as session atoms (operators/session_store.py:
resessionize_atoms — the same gaps-and-islands pass the
``incremental_session_merge`` catalog entry certifies against a
full-recompute DuckDB oracle, and the dead-letter drain uses).

Correctness precondition — and the one thing the tail merge cannot
absorb — is PER-USER EVENT-TIME MONOTONICITY across batches: every
event in batch N+1 must be at/after every stored event of its user
(the reference's own monotonic-watermark assumption,
flink_stream_task1.py:23-28). A violating user's batch slice is a LATE
arrival; the correct response is the ``late_event_session_repair`` path
(re-sessionize the touched users from raw events), which a state-only
maintainer cannot run. ``merge_batch`` therefore flags a user whose
earliest batch event precedes their stored session end and either
fails fast (default) or — when a ``dead_letter_dir`` is configured, as
the continuous jobs/maintain_analytics_job.py wiring does —
QUARANTINES the late users' raw batch events to versioned parquet
(``b=<batch_id>``, overwrite-mode ⇒ replay-idempotent) and merges the
rest, so one late file can never wedge the whole job in a crash loop.

Scale (the one-shuffle merge): per batch the work is ONE plan over
{previous tail} ∪ {batch events as atoms}, shuffled once by user_id
(late flag, atom fusion and newest-first rank share the partitioning)
and materialized once; the late count, the quarantine, the frozen
increment and the tail version all read that materialization — four
Spark jobs for a clean merge. State is the session table itself — a
maintained OUTPUT — split in two:

- ``frozen/inc=<batch_id>`` — append-only increments of sessions that
  can never change again. Under the per-user monotonicity
  precondition a batch can merge only with its user's NEWEST-ending
  session (every earlier one ends > gap before it starts), so every
  session that is not its user's newest at write time is immutable.
  Each increment is one batch's newly-closed sessions (batch-sized),
  with the versioned-index commit discipline (``_SUCCESS`` per leaf,
  overwrite-on-replay ⇒ replay-idempotent).
- the TAIL — exactly one row per user (their newest session), a
  ``_VersionedState`` snapshot ``v=<batch_id>`` (shared replay/crash
  semantics). The tail write is the COMMIT POINT: the frozen
  increment is written first, so a crash between them leaves an
  orphan ``frozen/inc=K`` with no ``v=K`` that the re-delivered batch
  deterministically overwrites; reads scope frozen leaves to
  ``inc <= newest tail version``, which is always a consistent
  snapshot (the orphan is invisible until its tail commits).

Per-batch write cost is O(batch + #users) — previously the WHOLE
session table was rewritten every batch (O(all sessions ever), the
"runs at sf0.1, dies at uptime" write-amplification risk). Frozen
reads grow with the increment count; ``compact_every=N`` folds all
frozen leaves except the newest into ``inc=00000`` in-stream
(operators/versioned_index.py — the same count trigger as maintainers
#25/#26), bounding read amplification on a long-running stream. At
100 TB the frozen component becomes time-partitioned parquet; the
layout is already append-only, so nothing about the protocol changes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
    event_atoms,
    resessionize_atoms,
)
from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (
    compact_components,
)
from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
    _VersionedState,
)


class IncrementalSessionStoreMaintainer:
    """Maintains the full 10-minute-gap session table by per-batch tail
    merge. ``current()`` equals sessionizing every merged event from
    scratch (stream==batch bit-identical, asserted in
    tests/test_session_store_stream.py).

    ``dead_letter_dir=None`` (default) fails fast on a late-arrival
    batch; a configured dir quarantines the late users' raw events to
    ``dead_letter_dir/b=<batch_id>`` and merges the rest.

    ``compact_every=N`` folds the frozen increments whenever their
    count reaches N (in-stream, inside the foreachBatch thread — the
    single writer, so the compaction quiescence contract holds); None
    disables the trigger (restart-only compaction via
    ``compact_frozen``)."""

    _SCHEMA = ("user_id BIGINT, session_start TIMESTAMP, "
               "session_end TIMESTAMP, sum_cents BIGINT, "
               "event_count BIGINT")
    _FROZEN = "frozen"
    #: The drain's staging dir for the repaired frozen component —
    #: deliberately NOT ``compact_tmp`` so compact_components' own
    #: resume logic never adopts a drain-staged tmp (and vice versa).
    _REPAIR_TMP = "repair_tmp"

    def __init__(self, spark: SparkSession, state_dir: str,
                 dead_letter_dir: str | None = None,
                 compact_every: int | None = None):
        self.spark = spark
        self.state = _VersionedState(spark, state_dir, self._SCHEMA)
        self.dead_letter_dir = dead_letter_dir
        self.compact_every = compact_every

    # -- frozen component -------------------------------------------------

    def _frozen_dir(self) -> str:
        return os.path.join(self.state.state_dir, self._FROZEN)

    def _repair_tmp(self) -> str:
        return os.path.join(self._frozen_dir(), self._REPAIR_TMP)

    def _frozen_leaves(self, scope: int | None = None) -> list[str]:
        """COMMITTED ``inc=`` leaves under the frozen component, in
        increment order, optionally scoped to batch ids <= ``scope``.
        An uncommitted (torn) leaf is invisible — its batch's tail
        never committed, so the stream re-delivers and overwrites it."""
        d = self._frozen_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for x in os.listdir(d):
            if not x.startswith("inc="):
                continue
            if scope is not None and int(x.split("=")[1]) > scope:
                continue
            if os.path.exists(os.path.join(d, x, "_SUCCESS")):
                out.append(x)
        return sorted(out)

    def _frozen_frame(self, scope: int | None) -> DataFrame | None:
        leaves = self._frozen_leaves(scope)
        if not leaves:
            return None
        return self.spark.read.schema(self._SCHEMA).parquet(
            *[os.path.join(self._frozen_dir(), x) for x in leaves])

    def _split_ranked(self, sessions: DataFrame) -> DataFrame:
        """Rank each user's sessions newest-first: ``_rn == 1`` is the
        tail (the only row a future batch can merge with), ``_rn > 1``
        is immutable and freezes."""
        w = Window.partitionBy("user_id").orderBy(
            F.desc("session_end"), F.desc("session_start"))
        return sessions.withColumn("_rn", F.row_number().over(w))

    def _write_state(self, batch_id: int, ranked: DataFrame) -> None:
        """Persist a batch's materialized, ranked session set: frozen
        increment FIRST, tail version second (the commit point — see
        module docstring for the orphan-increment argument), then the
        count-triggered fold."""
        (ranked.where(F.col("_rn") > 1).drop("_rn", "_late")
         .write.mode("overwrite")
         .parquet(os.path.join(self._frozen_dir(),
                               f"inc={batch_id:05d}")))
        self.state.write(batch_id, ranked.where(F.col("_rn") == 1)
                         .drop("_rn", "_late"))
        if self.compact_every \
                and len(self._frozen_leaves()) >= self.compact_every \
                and not os.path.isdir(self._repair_tmp()):
            self.compact_frozen()

    def compact_frozen(self) -> int:
        """Fold all frozen increments except the newest into
        ``inc=00000`` (operators/versioned_index.py discipline: tmp →
        manifest → delete-manifested → rename, every crash point
        re-entrant). Returns the number of leaves folded."""
        return compact_components(
            self.spark, self.state.state_dir, {self._FROZEN: ()},
            "session_store")

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.state.guard(batch_id)
        if batch_id in self.state.versions():
            # Replay of a batch whose state version COMMITTED but whose
            # streaming checkpoint did not (the crash landed between
            # state.write(batch_id) and the checkpoint commit). The
            # replay carries identical source data, and the committed
            # v=batch_id may since have become the REPAIRED version a
            # startup drain folded dead letters into — recomputing from
            # latest_before(batch_id) here would overwrite that repair
            # and permanently lose every letter b=K (K < batch_id) the
            # drain already deleted (r15 ADVICE, high). The existing
            # version IS this batch's (possibly repaired) result: skip.
            return
        # One materialization; its own job observes the late count.
        late_users = F.col("_late") & (F.col("_rn") == 1)
        obs = Observation()
        ranked = (self._merge_ranked(self.state.latest_before(batch_id),
                                     batch_df)
                  .observe(obs, F.count_if(late_users).alias("late"))
                  .localCheckpoint())
        n_late = obs.get["late"]
        if n_late:
            if self.dead_letter_dir is None:
                raise ValueError(
                    f"{n_late} user(s) in this batch have events BEFORE "
                    "their stored sessions end — a late arrival, which "
                    "the tail merge cannot absorb; configure a "
                    "dead_letter_dir to quarantine such slices, or route "
                    "the batch through the late_event_session_repair "
                    "path (re-sessionize touched users from raw events)")
            # Quarantine the late users' ENTIRE raw batch slice (the
            # repair path needs raw events, and a partial merge of a
            # late user would corrupt the store); overwrite per batch_id
            # keeps the quarantine replay-idempotent.
            (batch_df.join(ranked.where(late_users).select("user_id"),
                           "user_id", "left_semi")
             .write.mode("overwrite")
             .parquet(os.path.join(self.dead_letter_dir, f"b={batch_id}")))
            # Surface the quarantine (r14 ADVICE: silently-stale store
            # rows otherwise degrade the served table with no signal):
            # the continuous job reads dead_letter_backlog() and alerts
            # / schedules repair_from_dead_letter() on non-empty. Log
            # only this batch's count here — the full backlog is an
            # O(backlog) disk scan that does not belong on the per-batch
            # hot path (r15 ADVICE); the startup drain computes it.
            print(f"session_store: batch {batch_id} quarantined "
                  f"{n_late} late user(s); run dead_letter_backlog() / "
                  "repair_from_dead_letter() to inspect and drain")
        self._write_state(batch_id, ranked)

    def _merge_ranked(self, prev: DataFrame | None,
                      batch_df: DataFrame) -> DataFrame:
        """The batch merge as one plan partitioned by user_id: the
        previous TAIL (one row per user — exactly the rows a monotone
        batch can touch; frozen rows are never re-read) and the batch's
        raw events as atoms. A user is LATE when their earliest batch
        event precedes their stored session end (strict: an event AT
        the end merges); a late user's batch atoms drop and their
        stored tail survives unchanged. The rest fuse by
        gaps-and-islands, then rank newest-first (``_split_ranked``).
        Output: the session rows plus per-user ``_late`` and ``_rn``."""
        atoms = event_atoms(batch_df).withColumn("_batch", F.lit(True))
        if prev is not None:
            atoms = prev.withColumn("_batch", F.lit(False)) \
                .unionByName(atoms)
        user = Window.partitionBy("user_id")
        late = (F.min(F.when(F.col("_batch"), F.col("session_start")))
                .over(user)
                < F.max(F.when(~F.col("_batch"), F.col("session_end")))
                .over(user))
        kept = (atoms.withColumn("_late", F.coalesce(late, F.lit(False)))
                .where(~(F.col("_late") & F.col("_batch")))
                .drop("_batch"))
        return self._split_ranked(resessionize_atoms(kept, carry=("_late",)))

    def _dead_letter_batches(self) -> list[str]:
        if not self.dead_letter_dir \
                or not os.path.isdir(self.dead_letter_dir):
            return []
        # COMMITTED quarantine dirs only: a crash mid-quarantine leaves
        # a torn b=<id> (no _SUCCESS, possibly no readable footer at
        # all) that the re-delivered batch will overwrite — reading it
        # here would crash-loop the job at startup, the exact wedge the
        # dead-letter path exists to prevent (r15 review finding).
        return sorted(
            d for d in os.listdir(self.dead_letter_dir)
            if d.startswith("b=") and os.path.exists(
                os.path.join(self.dead_letter_dir, d, "_SUCCESS")))

    def _drainable_batches(self) -> list[str]:
        """Committed quarantine dirs SAFE to fold: only batches whose
        state version committed (``b=K`` with ``v=K`` on disk, i.e.
        K <= newest). A letter newer than the newest version belongs to
        a batch whose foreachBatch never completed — the stream will
        RE-DELIVER it, and a batch replayed after its letters were
        folded re-quarantines the same users (their folded events
        extend the stored tails, so the guard re-flags them), which a
        second drain would then double-count (r15 review finding).
        Deferring the letter one restart closes that window: by the
        next drain, v=K exists and the letter is safe."""
        versions = self.state.versions()
        newest = versions[-1] if versions else None
        dirs = self._dead_letter_batches()
        if newest is None:
            return dirs  # no committed batch can re-deliver over these
        return [d for d in dirs if int(d.split("=")[1]) <= newest]

    def dead_letter_backlog(self) -> int:
        """Quarantined event rows pending repair (committed quarantine
        dirs only) — derived from DISK, so a restarted job still sees
        the backlog; 0 when no dead letters exist. The serving-health
        signal to alert on alongside ``current()``."""
        dirs = self._dead_letter_batches()
        if not dirs:
            return 0
        return self.spark.read.parquet(
            *[os.path.join(self.dead_letter_dir, d) for d in dirs]).count()

    _PRE_DRAIN = "pre_drain_v"
    _FOLDED = "_folded.txt"

    def _pre_drain_leaf(self) -> str | None:
        names = [n for n in os.listdir(self.state.state_dir)
                 if n.startswith(self._PRE_DRAIN + "=")]
        return names[0] if names else None

    def repair_from_dead_letter(self) -> int:
        """Drain the quarantine back into the store (run while the
        streaming query is stopped — the maintain-job-restart moment).
        Each quarantined user's stored session rows are re-sessionized
        TOGETHER with their quarantined raw events as interval atoms
        (operators/session_store.py:resessionize_atoms — equivalent to
        re-sessionizing the user's full raw history, because stored
        sessions are maximal > gap-separated runs and a late event can
        only extend, open, or bridge, never split). Untouched users'
        rows are copied, never recomputed. Only DRAINABLE letters fold
        (see ``_drainable_batches``: the newest batch's letter defers
        one restart so a crash-replay can never double-count). Returns
        the number of late events drained (0 for a clean quarantine).

        Crash-safety — the repaired table REPLACES the newest state
        version in place (so the version space stays aligned with the
        stream's batch ids: the next batch's ``latest_before`` sees the
        repaired store), made safe by a rename protocol:

        1.  materialize the repaired table (localCheckpoint — no file
            dependency on the state dir), ranked newest-per-user;
        1b. stage the repaired FROZEN rows (rank > 1) to
            ``frozen/repair_tmp`` with a manifest naming the committed
            frozen leaves they replace (scoped <= the tail target, so
            a torn batch's orphan increment is never folded);
        2.  rename ``v=N`` -> ``pre_drain_v=N`` (atomic; the name does
            not start with ``v=`` so version listing never parses it;
            an empty store gets an empty sentinel backup instead);
        3.  record the letters being folded in ``_folded.txt`` INSIDE
            the backup (underscore prefix: invisible to parquet reads);
        4.  write the repaired TAIL (rank 1) to a fresh ``v=N`` (torn
            write => no ``_SUCCESS`` => invisible) — the commit point;
        5a. swap the frozen staging in (delete exactly its manifested
            leaves, rename ``repair_tmp`` -> ``inc=00000``);
        5b. delete exactly the manifested letter dirs, THEN the backup.

        Every crash point re-enters cleanly on the next drain call: a
        committed ``v=N`` beside a surviving backup+manifest means step
        5 was interrupted — finish deleting exactly the MANIFESTED
        letters (letters quarantined after the crash survive untouched;
        deleting blindly would silently drop them — r15 review
        finding); a missing/torn ``v=N`` beside a backup means step 4
        was interrupted — re-repair FROM THE BACKUP (which still
        carries its committed ``_SUCCESS`` from its life as ``v=N``),
        since ``current()`` alone would silently drop the last merged
        batch."""
        pre_leaf = self._pre_drain_leaf()
        if pre_leaf is None and os.path.isdir(self._repair_tmp()):
            # crash after staging the repaired frozen (step 1b) but
            # before the tail backup: nothing was deleted yet and the
            # staged content belongs to an attempt that never reached
            # its commit point — discard and redo fresh.
            shutil.rmtree(self._repair_tmp())
        if pre_leaf is not None:
            target = int(pre_leaf.split("=")[1])
            pre_path = os.path.join(self.state.state_dir, pre_leaf)
            manifest = os.path.join(pre_path, self._FOLDED)
            if target in self.state.versions() \
                    and os.path.exists(manifest):
                # step-5 crash: the fold committed; finish the frozen
                # swap if it was interrupted, delete exactly the
                # letters the manifest names, then the backup, then
                # fall through to drain any newer safe letters fresh.
                self._finish_frozen_swap()
                with open(manifest) as fh:
                    folded = [x for x in fh.read().split("\n") if x]
                for d in folded:
                    shutil.rmtree(os.path.join(self.dead_letter_dir, d),
                                  ignore_errors=True)
                shutil.rmtree(pre_path, ignore_errors=True)
            else:
                # step-3/4 crash: the fold never committed — the staged
                # frozen (if any) is stale and nothing was deleted, so
                # discard it and re-repair from the backup over the
                # currently-drainable letters bounded by the original
                # target.
                if os.path.isdir(self._repair_tmp()):
                    shutil.rmtree(self._repair_tmp())
                dirs = [d for d in self._dead_letter_batches()
                        if int(d.split("=")[1]) <= target]
                if not dirs:  # nothing left to fold: restore the backup
                    if os.path.exists(os.path.join(pre_path, "_SUCCESS")):
                        if os.path.exists(manifest):
                            os.remove(manifest)
                        os.rename(pre_path, os.path.join(
                            self.state.state_dir, f"v={target}"))
                    else:
                        shutil.rmtree(pre_path, ignore_errors=True)
                    return 0
                if os.path.exists(os.path.join(pre_path, "_SUCCESS")):
                    tail = self.spark.read.schema(self._SCHEMA) \
                        .parquet(pre_path)
                else:  # empty-store sentinel backup
                    tail = self.spark.createDataFrame([], self._SCHEMA)
                frozen = self._frozen_frame(scope=target)
                base = tail if frozen is None \
                    else frozen.unionByName(tail)
                return self._fold(base, target, pre_path, dirs,
                                  pre_exists=True, scope=target)

        dirs = self._drainable_batches()
        if not dirs:
            return 0
        versions = self.state.versions()
        target = versions[-1] if versions else 0
        return self._fold(self.current(), target, None, dirs,
                          pre_exists=False,
                          scope=versions[-1] if versions else -1)

    def _fold(self, base: DataFrame, target: int, pre_path: str | None,
              dirs: list[str], pre_exists: bool, scope: int) -> int:
        late = self.spark.read.parquet(
            *[os.path.join(self.dead_letter_dir, d) for d in dirs])
        n_late = late.count()
        affected = late.select("user_id").distinct()
        touched = base.join(affected, "user_id", "left_semi")
        repaired = resessionize_atoms(touched.unionByName(event_atoms(late)))
        ranked = self._split_ranked(
            base.join(affected, "user_id", "left_anti")
            .unionByName(repaired)
        ).localCheckpoint(eager=True)  # step 1: no state-file deps

        # step 1b: stage the repaired FROZEN component (everything that
        # is not its user's newest session) with a manifest naming the
        # committed leaves it replaces — scoped to <= the tail target,
        # so an orphan increment of a torn batch (which its redelivery
        # will overwrite) is never folded into the repair. Nothing is
        # deleted until after the tail commit (step 4), so a crash
        # anywhere up to there just discards this staging.
        leaves = self._frozen_leaves(scope=scope)
        tmp = self._repair_tmp()
        (ranked.where(F.col("_rn") > 1).drop("_rn")
         .write.mode("overwrite").parquet(tmp))
        with open(os.path.join(tmp, self._FOLDED), "w") as fh:
            fh.write("\n".join(leaves))

        if not pre_exists:
            pre_path = os.path.join(self.state.state_dir,
                                    f"{self._PRE_DRAIN}={target}")
            cur = os.path.join(self.state.state_dir, f"v={target}")
            if os.path.isdir(cur):
                os.rename(cur, pre_path)  # step 2: atomic backup
            else:
                os.makedirs(pre_path)  # empty-store sentinel backup
        with open(os.path.join(pre_path, self._FOLDED), "w") as fh:
            fh.write("\n".join(dirs))  # step 3: fold manifest
        self.state.write(target, ranked.where(F.col("_rn") == 1)
                         .drop("_rn"))  # step 4: commit
        self._finish_frozen_swap()  # step 5a: frozen swap
        for d in dirs:  # step 5b: manifested letters first, backup last
            shutil.rmtree(os.path.join(self.dead_letter_dir, d))
        shutil.rmtree(pre_path, ignore_errors=True)
        return n_late

    def _finish_frozen_swap(self) -> None:
        """Complete a committed frozen-repair staging: delete exactly
        the manifested leaves, rename ``repair_tmp`` to ``inc=00000``
        (the repaired frozen is by construction a fold of everything it
        replaces). Re-entrant at every crash point; a half-written
        staging (no marker/manifest) is discarded. No-op when no
        staging exists — e.g. re-entering after the rename already
        happened."""
        tmp = self._repair_tmp()
        if not os.path.isdir(tmp):
            return
        manifest = os.path.join(tmp, self._FOLDED)
        if not (os.path.exists(os.path.join(tmp, "_SUCCESS"))
                and os.path.exists(manifest)):
            shutil.rmtree(tmp)  # torn staging: nothing was deleted yet
            return
        with open(manifest) as fh:
            folded = [x for x in fh.read().split("\n") if x]
        for leaf in folded:
            try:
                shutil.rmtree(os.path.join(self._frozen_dir(), leaf))
            except FileNotFoundError:
                pass  # already deleted by a prior finish attempt
        # the manifest rides into inc=00000 through the atomic rename
        # (removing it first would open a crash window where folded
        # leaves are gone but the tmp looks torn and gets discarded)
        os.rename(tmp, os.path.join(self._frozen_dir(), "inc=00000"))
        os.remove(os.path.join(self._frozen_dir(), "inc=00000",
                               self._FOLDED))

    def current(self) -> DataFrame:
        """The full maintained session table: frozen increments (scoped
        to the newest committed tail version — an orphan increment from
        a crash between the frozen and tail writes is invisible until
        its re-delivered batch commits) unioned with the per-user
        tail."""
        tail = self.state.current()
        versions = self.state.versions()
        frozen = self._frozen_frame(versions[-1]) if versions else None
        return tail if frozen is None else frozen.unionByName(tail)

    # -- snapshot roundtrip (both components; the tail-only
    # _VersionedState export would silently drop the frozen rows) ------

    def export_to(self, path: str) -> int:
        """Snapshot the newest consistent state (tail version + scoped
        frozen leaves) to ``path``. Returns the exported version."""
        v = self.state.export_to(path)
        for leaf in self._frozen_leaves(scope=v):
            src = os.path.join(self._frozen_dir(), leaf)
            dst = os.path.join(path, self._FROZEN, leaf)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
        return v

    def import_from(self, path: str) -> int:
        """Adopt an exported snapshot (tail + frozen) into this state
        dir; the next merge_batch continues from the snapshot's batch
        version exactly as an uninterrupted run would. The target's own
        frozen component is CLEARED first: a pre-existing leaf absent
        from the snapshot (a divergent earlier run) would otherwise
        survive the copy and double-serve its rows — the snapshot is
        the complete frozen state, not a delta."""
        v = self.state.import_from(path)
        shutil.rmtree(self._frozen_dir(), ignore_errors=True)
        snap_frozen = os.path.join(path, self._FROZEN)
        if os.path.isdir(snap_frozen):
            for leaf in sorted(os.listdir(snap_frozen)):
                if not leaf.startswith("inc="):
                    continue
                shutil.copytree(os.path.join(snap_frozen, leaf),
                                os.path.join(self._frozen_dir(), leaf))
        return v


def streaming_session_store_maintenance(
        events: DataFrame, maintainer: IncrementalSessionStoreMaintainer,
        checkpoint_dir: str) -> StreamingQuery:
    return (events.writeStream
            .queryName("session_store_maintenance")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(maintainer.merge_batch)
            .start())
